package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, InSet, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{MinHash, ShingleHash}

/** Native Catalyst expressions for the graft engine.
  *
  * Lives under `org.apache.spark.sql` because the expression-authoring
  * surface (`AbstractDataType`, `ExpressionUtils.column`) is
  * `private[sql]` in Spark 4 — the standard packaging for third-party
  * Catalyst extensions.
  */

/** `rlike` for DYNAMIC patterns with a compiled-Pattern cache
  * (graft.functions.RegexCache): value-identical to `RLike` (unanchored
  * `find`), but the pattern-per-row recompilation that `RLike` pays when
  * its pattern operand is non-foldable is amortized across rows — the
  * shape of every rule-table gate (robots policy patterns evaluated per
  * URL inside an array HOF). Both eval paths route through the same
  * static kernel, so interpreted HOF-lambda evaluation and whole-stage
  * codegen agree.
  */
case class RlikeCachedExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "rlike_cached"

  override def nullSafeEval(s: Any, re: Any): Any =
    graft.functions.RegexCache.find(
      s.asInstanceOf[UTF8String], re.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, re) =>
      s"${ev.value} = graft.functions.RegexCache.find($s, $re);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RlikeCachedExpr =
    copy(left = newLeft, right = newRight)
}

/** md5 shingle/tile stream of the span-dedup family as ONE native call
  * (graft.functions.ShingleMd5): array of 32-hex md5s, one per
  * overlapping w-token position (aligned=false) or per w-aligned tile
  * (aligned=true) — value-identical to
  * `transform(positions, i => md5(array_join(slice(split(text," "),…))))`
  * but a single compiled pass hashing byte ranges of the original text.
  */
case class Md5ShingleStreamExpr(child: Expression, w: Int, aligned: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "md5_shingle_stream"

  override def nullSafeEval(input: Any): Any =
    graft.functions.ShingleMd5.stream(input.asInstanceOf[UTF8String], w, aligned)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleMd5.stream($c, $w, $aligned);")

  override protected def withNewChildInternal(newChild: Expression): Md5ShingleStreamExpr =
    copy(child = newChild)
}

/** MinHash signature as a whole-stage-codegen-friendly expression:
  * doGenCode emits a call to the static primitive-loop kernel
  * (graft.functions.MinHash.signature) — no boxing, no interpreted
  * lambdas, value-identical to the higher-order-function formulation in
  * graft.operators.Dedup.minHashSignature.
  */
case class MinHashSignatureExpr(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    MinHash.signature(input.asInstanceOf[ArrayData], k, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinHash.signature($c, $k, ${seed}L);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

/** One-permutation minhash signature with rotation densification
  * (graft.functions.MinHash.signatureOneperm): O(n + k) hashes per
  * document vs the k-permutation kernel's O(n·k) — same banding and
  * verification contract, different (incompatible) signature values.
  */
case class OnePermSignatureExpr(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "oneperm_signature"

  override def nullSafeEval(input: Any): Any =
    MinHash.signatureOneperm(input.asInstanceOf[ArrayData], k, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinHash.signatureOneperm($c, $k, ${seed}L);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): OnePermSignatureExpr =
    copy(child = newChild)
}

/** 1-bit minhash sketch of a full signature (graft.functions.MinHash
  * .oneBit): the low bit of each component packed into k/64 longs —
  * Li & König's b-bit compaction (b = 1) as one codegen'd primitive
  * loop. Null propagates (a null signature has no sketch).
  */
case class OneBitMinHashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "one_bit_minhash"

  override def nullSafeEval(input: Any): Any =
    MinHash.oneBit(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHash.oneBit($c);")

  override protected def withNewChildInternal(newChild: Expression): OneBitMinHashExpr =
    copy(child = newChild)
}

/** Distinct w-word-shingle xxhash64 hashes of a text column, as one
  * codegen-friendly kernel (graft.functions.ShingleHash.shingleHashes) —
  * replaces a lower→trim→split→transform(slice→array_join→xxhash64)→
  * array_distinct chain of interpreted higher-order functions with a
  * single pass. Value-identical to graft.operators.Dedup.shingleHashesHof.
  */
case class ShingleHashesExpr(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHash.shingleHashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHash.shingleHashes($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** Distinct MOSS winnowing fingerprints of a text column in one pass
  * (graft.functions.Winnow.fingerprints): per-position md5 with a
  * reused digest + monotonic-deque window minima — no posexplode, no
  * window shuffle, no per-position expression tree. Value-identical to
  * the window-function formulation
  * (graft.operators.TextAnalysis.winnowFingerprintsWindowed), which the
  * spec pins; md5 hex keeps the values engine-replayable.
  */
case class WinnowMd5Expr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_md5"

  override def nullSafeEval(input: Any): Any =
    graft.functions.Winnow.fingerprints(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Winnow.fingerprints($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowMd5Expr =
    copy(child = newChild)
}

/** LSH band hashes of a MinHash signature (graft.functions.MinHash
  * .bandHashes) — replaces per-band string rendering + xxhash64 with a
  * direct hash over the signature longs.
  */
case class BandHashesExpr(child: Expression, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def nullSafeEval(input: Any): Any =
    MinHash.bandHashes(input.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash.bandHashes($c, $bands)")

  override protected def withNewChildInternal(newChild: Expression): BandHashesExpr =
    copy(child = newChild)
}

/** 64-bit SimHash fingerprint of a text column in one pass
  * (graft.functions.SimHash.fingerprint) — replaces 64 per-bit
  * interpreted filter/size higher-order passes over the token hash
  * array. Value-identical to graft.operators.Dedup.simHashHof.
  */
case class SimHashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any =
    graft.functions.SimHash.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.fingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

/** md5-keyed SimHash fingerprint as `[fp_hi, fp_lo]` 32-bit halves in one
  * pass (graft.functions.SimHashMd5.fingerprint) — the cross-engine-
  * auditable sibling of SimHashExpr (md5 is reproducible in any engine;
  * xxhash64 is Spark-internal). Value-identical to
  * graft.operators.Dedup.simHashMd5Hof.
  */
case class SimHashMd5Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_md5"

  override def nullSafeEval(input: Any): Any =
    graft.functions.SimHashMd5.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashMd5.fingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expr =
    copy(child = newChild)
}

/** All six text-annotation columns in one tokenization pass
  * (graft.functions.TextProfile.profile) — replaces six independent
  * interpreted expression trees that each re-tokenize the document.
  * Field-by-field value-identical to TextAnalysis.annotateHof.
  */
case class TextProfileExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = TextProfileExpr.schema
  override def prettyName: String = "text_profile"

  override def nullSafeEval(input: Any): Any =
    graft.functions.TextProfile.profile(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextProfile.profile($c)")

  override protected def withNewChildInternal(newChild: Expression): TextProfileExpr =
    copy(child = newChild)
}

object TextProfileExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_subwords", IntegerType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("quality", DoubleType, nullable = false),
    StructField("lang_pred", StringType, nullable = false),
    StructField("fingerprint", LongType, nullable = false)))
}

/** Every Gopher repetition/quality counter in one tokenization pass
  * (graft.functions.GopherSignals.signals) — raw integer counters only;
  * the fraction columns and the pass gate derive in Column arithmetic
  * (TextAnalysis.gopherSignals) so the DuckDB oracle replays them
  * exactly. Value-identical to the explode+groupBy reference twin
  * (TextAnalysis.gopherSignalsRef, pinned by spec) but map-only: no
  * gram explosion, no shuffle.
  */
case class GopherSignalsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = GopherSignalsExpr.schema
  override def prettyName: String = "gopher_signals"

  override def nullSafeEval(input: Any): Any =
    graft.functions.GopherSignals.signals(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GopherSignals.signals($c)")

  override protected def withNewChildInternal(newChild: Expression): GopherSignalsExpr =
    copy(child = newChild)
}

object GopherSignalsExpr {
  val schema: StructType = StructType(Seq(
    StructField("word_count", IntegerType, nullable = false),
    StructField("word_chars", LongType, nullable = false),
    StructField("alpha_words", IntegerType, nullable = false),
    StructField("hash_chars", LongType, nullable = false),
    StructField("ellipses", LongType, nullable = false),
    StructField("top2_chars", LongType, nullable = false),
    StructField("top3_chars", LongType, nullable = false),
    StructField("top4_chars", LongType, nullable = false),
    StructField("dup5_chars", LongType, nullable = false)))
}

/** C4 word-blocklist hits in one byte scan
  * (graft.functions.WordBlocklist.hits): struct(bad_terms, n_bad_tokens)
  * per row against a shared per-list dictionary — value-identical to
  * the split/filter/distinct/sort HOF chain it replaces (spec-pinned),
  * without materializing the token array.
  */
case class WordBlocklistExpr(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = WordBlocklistExpr.schema
  override def prettyName: String = "word_blocklist_hits"

  @transient private lazy val dict = graft.functions.WordBlocklist.dict(words)

  override def nullSafeEval(input: Any): Any =
    graft.functions.WordBlocklist.hits(input.asInstanceOf[UTF8String], dict)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("blockDict", dict,
      classOf[java.util.HashSet[_]].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordBlocklist.hits($c, $dictRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordBlocklistExpr =
    copy(child = newChild)
}

object WordBlocklistExpr {
  val schema: StructType = StructType(Seq(
    StructField("bad_terms", StringType, nullable = false),
    StructField("n_bad_tokens", LongType, nullable = false)))
}

/** Unicode-script profile in one code-point pass
  * (graft.functions.ScriptProfile.profile) — disjoint per-script
  * counters summing to the code-point length; dominant-script and
  * fraction columns derive in Column arithmetic so the DuckDB oracle
  * replays them from RE2 `\p{Script}` counts exactly.
  */
case class ScriptProfileExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ScriptProfileExpr.schema
  override def prettyName: String = "script_profile"

  override def nullSafeEval(input: Any): Any =
    graft.functions.ScriptProfile.profile(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScriptProfile.profile($c)")

  override protected def withNewChildInternal(newChild: Expression): ScriptProfileExpr =
    copy(child = newChild)
}

object ScriptProfileExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_latin", LongType, nullable = false),
    StructField("n_cyrillic", LongType, nullable = false),
    StructField("n_greek", LongType, nullable = false),
    StructField("n_arabic", LongType, nullable = false),
    StructField("n_cjk", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_space", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false)))
}

/** Common type handling for binary vector expressions over
  * array<float|double> children with double output.
  */
trait VectorBinaryExpr extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }
}

/** Cosine similarity of two vectors in one fused pass
  * (graft.functions.VectorKernels.cosine) — replaces three
  * aggregate(zip_with(...)) interpreted folds per row pair.
  * Bit-identical to VectorFunctions.cosineHof.
  */
case class CosineSimExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.cosine(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArray(left), isFloatArray(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.cosine($a, $b, ${isFloatArray(left)}, ${isFloatArray(right)})")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

/** Squared L2 distance, same fused-kernel treatment. */
case class L2SqExpr(left: Expression, right: Expression) extends VectorBinaryExpr {
  override def prettyName: String = "l2_sq"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.l2Sq(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArray(left), isFloatArray(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.l2Sq($a, $b, ${isFloatArray(left)}, ${isFloatArray(right)})")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqExpr =
    copy(left = l, right = r)
}

/** Levenshtein distance with a PER-ROW cap: exact distance when
  * ≤ cap, −1 when provably greater (UTF8String's banded DP with early
  * exit — O(len·cap) cells instead of O(len²), and far less on
  * dissimilar rows). The built-in 3-arg `levenshtein` only takes a
  * literal threshold; record-linkage scoring
  * (graft.operators.EntityResolution) needs the cap to scale with the
  * pair's own max field length, which is what makes the band tight:
  * at threshold 0.85 / weight 0.6 only ~25% of the DP table can ever
  * matter for a pair that clears the score gate.
  */
case class LevWithinExpr(left: Expression, right: Expression, cap: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = cap
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "lev_within"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    a.asInstanceOf[UTF8String].levenshteinDistance(
      b.asInstanceOf[UTF8String], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"$a.levenshteinDistance($b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LevWithinExpr =
    copy(left = f, right = s, cap = t)
}

/** Random-hyperplane LSH signature: nPlanes dot products + sign bits in
  * one kernel call; the plane matrix rides inside the expression (a
  * per-task constant, registered once in the codegen context), not as a
  * literal array column tree.
  */
case class HyperplaneSigExpr(child: Expression, planes: Array[Double], count: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  private def isFloatArray: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.hyperplaneSig(
      v.asInstanceOf[ArrayData], planes, count, isFloatArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorKernels.hyperplaneSig($v, $planesRef, $count, $isFloatArray)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
}

/** Quantized dot product against a constant component vector
  * (graft.functions.VectorKernels.quantDot): the projection kernel of
  * graft.operators.Embeddings — Σ floor(x_i·scale)·c_i in one fused
  * codegen call, the component a per-task reference object. The floor
  * quantization makes the score a bit-deterministic function of the
  * vector in any IEEE engine (the engine's fixed-point determinism
  * device), so PCA projections carry a full SQL oracle.
  */
case class QuantDotExpr(child: Expression, comp: Array[Double], scale: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quant_dot"

  private def isFloatArray: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.quantDot(
      v.asInstanceOf[ArrayData], comp, scale, isFloatArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val compRef = ctx.addReferenceObj("comp", comp, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorKernels.quantDot($v, $compRef, $scale, $isFloatArray)")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantDotExpr =
    copy(child = newChild)
}

/** The nprobe nearest IVF cells of a vector
  * (graft.functions.VectorKernels.nearestCells): the whole
  * centroid-matrix scan is ONE kernel call with the matrix as a
  * per-task reference object — replacing a C-wide literal expression
  * tree (C l2Sq subtrees + array_min + array_position) whose size grew
  * with the corpus when C tracks n. Element 0 is the owner cell (exact
  * argmin, ties to the lowest cell), identical to the literal
  * formulation it replaces (same accumulation order, same (d, cell)
  * tie order — spec-pinned in SimilaritySpec).
  */
case class NearestCellsExpr(child: Expression, cents: Array[Double], c: Int, nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  private def isFloatArray: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.nearestCells(
      v.asInstanceOf[ArrayData], cents, c, nprobe, isFloatArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[]")
    defineCodeGen(ctx, ev, v =>
      s"graft.functions.VectorKernels.nearestCells($v, $centsRef, $c, $nprobe, $isFloatArray)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

/** 64-bit DCT perceptual hash of image bytes
  * (graft.multimodal.Multimodal.ImageCodec.pHash) on the SQL surface:
  * undecodable bytes hash to NULL. The codec is the same black-box
  * kernel the batch path uses (Multimodal.pHashes), so `phash(content)`
  * in a config SQL and the Dataset pipeline agree bit for bit.
  */
case class PHashExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "phash"

  override def nullSafeEval(input: Any): Any =
    graft.multimodal.Multimodal.ImageCodec.pHashOrNull(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // freshName: with a non-nullable child, nullSafeCodeGen emits this
    // block unwrapped, so a fixed identifier would collide when two
    // phash() calls land in one generated function (janino failure ->
    // silent interpreted fallback).
    val ph = ctx.freshName("graftPh")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Long $ph = graft.multimodal.Multimodal.ImageCodec.pHashOrNull($c);
         |if ($ph == null) { ${ev.isNull} = true; } else { ${ev.value} = $ph.longValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PHashExpr =
    copy(child = newChild)
}

/** Unicode normalization (UAX #15, graft.functions.TextNorm): the
  * canonicalization pass before any text fingerprinting. `form` is the
  * TextNorm form index (0=NFC, 1=NFD, 2=NFKC, 3=NFKD), resolved once
  * at construction; the kernel's isNormalized fast path returns the
  * input untouched for already-normal text (the overwhelming case).
  */
case class UnicodeNormalizeExpr(child: Expression, form: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(form >= 0 && form <= 3, s"form index $form out of range")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def nullSafeEval(input: Any): Any =
    graft.functions.TextNorm.normalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNorm.normalize($c, $form)")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalizeExpr =
    copy(child = newChild)
}

/** Mojibake repair (graft.functions.MojibakeRepair): segment-wise
  * cp1252-inverse → strict-UTF-8 re-decode of maximal non-ASCII runs —
  * the fix half of the q191 encoding-noise gate. ASCII input returns
  * the same buffer (scan-only fast path), genuine accented text
  * survives (its bytes are not valid UTF-8), and un-mappable runs
  * (U+FFFD, CJK) never block repairing their neighbors.
  */
case class FixMojibakeExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "fix_mojibake"

  override def nullSafeEval(input: Any): Any =
    graft.functions.MojibakeRepair.repair(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MojibakeRepair.repair($c)")

  override protected def withNewChildInternal(newChild: Expression): FixMojibakeExpr =
    copy(child = newChild)
}

/** Repetition ratio (1 − distinct/total word n-grams) in one pass
  * (graft.functions.RepetitionRatio.ratio) — replaces an interpreted
  * transform(sequence…)→array_join→array_distinct chain that allocates a
  * string per gram window. Value-identical to
  * TextAnalysis.repetitionRatioHof.
  */
case class RepetitionRatioExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "repetition_ratio"

  override def nullSafeEval(input: Any): Any =
    graft.functions.RepetitionRatio.ratio(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionRatio.ratio($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionRatioExpr =
    copy(child = newChild)
}

/** Broadcast bloom-filter membership probe as a codegen'd predicate —
  * keeps ScaleOps.bloomSemiJoin's fact-side pre-filter inside whole-stage
  * codegen instead of crossing the codegen/JVM-object boundary through a
  * per-row Scala UDF. The filter ships via its torrent Broadcast handle
  * (the codegen reference), unwrapped ONCE per generated-class instance
  * into a mutable-state field — not re-fetched per row, and never
  * serialized into the plan itself. Probes mightContainBinary over the
  * UTF8String's UTF-8 bytes, byte-identical to the build side's
  * putString (both delegate to the same UTF-8 byte encoding), so the
  * probe decision matches the UDF twin exactly.
  */
case class BloomMightContainExpr(child: Expression, bfBc: Broadcast[BloomFilter])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(input: Any): Any =
    bfBc.value.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfClass = classOf[BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", bfBc, classOf[Broadcast[_]].getName)
    val bfVar = ctx.addMutableState(bfClass, "graftBloom",
      v => s"$v = ($bfClass) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$bfVar.mightContainBinary($c.getBytes())")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

/** Per-row char-ngram LM score with the model riding as a broadcast
  * (graft.functions.LmScore.score) — the map-only, shuffle-free twin of
  * TextAnalysis.ngramLogProbScore, which is what lets the perplexity
  * gate run inside Structured Streaming with no watermark or state.
  * Same broadcast-unwrap-once discipline as BloomMightContainExpr.
  */
case class LmScoreExpr(
    child: Expression,
    modelBc: Broadcast[java.util.HashMap[String, java.lang.Long]],
    n: Int,
    defaultMicro: Long)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "lm_score"

  override def nullSafeEval(input: Any): Any =
    graft.functions.LmScore.score(
      input.asInstanceOf[UTF8String], modelBc.value, n, defaultMicro)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("lmModelBc", modelBc, classOf[Broadcast[_]].getName)
    val mapVar = ctx.addMutableState("java.util.HashMap", "graftLmModel",
      v => s"$v = (java.util.HashMap) $bcRef.value();")
    val r = ctx.freshName("graftLmR")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.Double $r = graft.functions.LmScore.score($c, $mapVar, $n, ${defaultMicro}L);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LmScoreExpr =
    copy(child = newChild)
}

/** Greedy-by-priority BPE encoding against a broadcast merge-rank table
  * (graft.functions.BpeEncode.encode) — the codegen twin of
  * graft.operators.Bpe.encodeUdf, removing the ScalaUDF
  * encoder-roundtrip from the hot map stage when a trained vocabulary
  * is applied corpus-wide. Value parity is pinned by BpeSpec.
  */
case class BpeEncodeExpr(
    child: Expression,
    ranksBc: Broadcast[graft.functions.BpeEncode.RankModel])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bpe_encode"

  override def nullSafeEval(input: Any): Any =
    graft.functions.BpeEncode.encode(
      input.asInstanceOf[UTF8String], ranksBc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bpeRanksBc", ranksBc, classOf[Broadcast[_]].getName)
    val ranksVar = ctx.addMutableState(
      "graft.functions.BpeEncode.RankModel", "graftBpeRanks",
      v => s"$v = (graft.functions.BpeEncode.RankModel) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeEncode.encode($c, $ranksVar);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

/** Unigram-LM (Kudo 2018) Viterbi encoding against a broadcast
  * (piece, logprob) table (graft.functions.UnigramEncode.encode) — the
  * second tokenizer family next to BpeEncodeExpr, same codegen shape:
  * max-log-prob segmentation per whitespace word over frozen scores,
  * deterministic earliest-start tie-break, single-symbol unk fallback.
  * Segmentation parity with the driver-side trainer's DP is by shared
  * kernel (UnigramEncode.segmentWord), pinned in UnigramSpec.
  */
case class UnigramEncodeExpr(
    child: Expression,
    piecesBc: Broadcast[graft.functions.UnigramEncode.PieceModel])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "unigram_encode"

  override def nullSafeEval(input: Any): Any =
    graft.functions.UnigramEncode.encode(
      input.asInstanceOf[UTF8String], piecesBc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("unigramPiecesBc", piecesBc, classOf[Broadcast[_]].getName)
    val piecesVar = ctx.addMutableState(
      "graft.functions.UnigramEncode.PieceModel", "graftUnigramPieces",
      v => s"$v = (graft.functions.UnigramEncode.PieceModel) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnigramEncode.encode($c, $piecesVar);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramEncodeExpr =
    copy(child = newChild)
}

/** One-pass Naive Bayes scoring against a broadcast micro-unit model
  * (graft.functions.NbScore.score) — the map-only, shuffle-free twin of
  * graft.operators.Classify.nbScore, which is what lets the classifier
  * gate run inside Structured Streaming with no watermark or state.
  * Returns (pred STRING, score DOUBLE); never null on non-null input
  * (token-less text scores on priors).
  */
case class NbScoreExpr(
    child: Expression,
    modelBc: Broadcast[graft.functions.NbScore.MicroModel])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("pred", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "nb_score"

  override def nullSafeEval(input: Any): Any =
    graft.functions.NbScore.score(
      input.asInstanceOf[UTF8String], modelBc.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("nbModelBc", modelBc, classOf[Broadcast[_]].getName)
    val modelVar = ctx.addMutableState("graft.functions.NbScore.MicroModel", "graftNbModel",
      v => s"$v = (graft.functions.NbScore.MicroModel) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NbScore.score($c, $modelVar);")
  }

  override protected def withNewChildInternal(newChild: Expression): NbScoreExpr =
    copy(child = newChild)
}

object NativeExprs {
  /** Column-level entry for RlikeCachedExpr. */
  def rlikeCached(str: Column, pattern: Column): Column =
    ExpressionUtils.column(RlikeCachedExpr(
      ExpressionUtils.expression(str), ExpressionUtils.expression(pattern)))

  /** Column-level entry for Md5ShingleStreamExpr. */
  def md5ShingleStream(text: Column, w: Int, aligned: Boolean): Column =
    ExpressionUtils.column(
      Md5ShingleStreamExpr(ExpressionUtils.expression(text), w, aligned))

  /** Column-level entry for RepetitionRatioExpr. */
  def repetitionRatio(text: Column, n: Int): Column =
    ExpressionUtils.column(RepetitionRatioExpr(ExpressionUtils.expression(text), n))

  /** Column-level entry for WinnowMd5Expr. */
  def winnowMd5(text: Column, k: Int, w: Int): Column =
    ExpressionUtils.column(WinnowMd5Expr(ExpressionUtils.expression(text), k, w))

  /** Column-level entry for MinHashSignatureExpr. */
  def minhashSignature(shingles: Column, k: Int, seed: Long): Column =
    ExpressionUtils.column(
      MinHashSignatureExpr(ExpressionUtils.expression(shingles), k, seed))

  /** Column-level entry for ShingleHashesExpr. */
  def shingleHashes(text: Column, w: Int): Column =
    ExpressionUtils.column(ShingleHashesExpr(ExpressionUtils.expression(text), w))

  /** Column-level entry for SimHashExpr. */
  def simHash(text: Column): Column =
    ExpressionUtils.column(SimHashExpr(ExpressionUtils.expression(text)))

  /** Column-level entry for SimHashMd5Expr. */
  def simHashMd5(text: Column): Column =
    ExpressionUtils.column(SimHashMd5Expr(ExpressionUtils.expression(text)))

  /** Column-level entry for TextProfileExpr. */
  def textProfile(text: Column): Column =
    ExpressionUtils.column(TextProfileExpr(ExpressionUtils.expression(text)))

  /** Column-level entry for GopherSignalsExpr. */
  def gopherSignals(text: Column): Column =
    ExpressionUtils.column(GopherSignalsExpr(ExpressionUtils.expression(text)))

  /** Column-level entry for BandHashesExpr. */
  def bandHashes(sig: Column, bands: Int): Column =
    ExpressionUtils.column(BandHashesExpr(ExpressionUtils.expression(sig), bands))

  /** Column-level entry for OneBitMinHashExpr. */
  def oneBitMinHash(sig: Column): Column =
    ExpressionUtils.column(OneBitMinHashExpr(ExpressionUtils.expression(sig)))

  /** Column-level entry for OnePermSignatureExpr. */
  def onepermSignature(shingles: Column, k: Int, seed: Long): Column =
    ExpressionUtils.column(
      OnePermSignatureExpr(ExpressionUtils.expression(shingles), k, seed))

  /** Column-level entry for WordBlocklistExpr. */
  def wordBlocklistHits(text: Column, words: Seq[String]): Column =
    ExpressionUtils.column(
      WordBlocklistExpr(ExpressionUtils.expression(text), words))

  /** Column-level entry for NearestCellsExpr (cents row-major c × dim). */
  def nearestCells(vec: Column, cents: Array[Double], c: Int, nprobe: Int): Column =
    ExpressionUtils.column(
      NearestCellsExpr(ExpressionUtils.expression(vec), cents, c, nprobe))

  /** Column-level entry for LevWithinExpr. */
  def levWithin(a: Column, b: Column, cap: Column): Column =
    ExpressionUtils.column(LevWithinExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b),
      ExpressionUtils.expression(cap)))

  /** Column-level entry for CosineSimExpr. */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level entry for L2SqExpr. */
  def l2Sq(a: Column, b: Column): Column =
    ExpressionUtils.column(
      L2SqExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level entry for HyperplaneSigExpr (planes flattened row-major). */
  def hyperplaneSig(v: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.size <= 63, "1..63 hyperplanes")
    val dim = planes.head.length
    require(planes.forall(_.length == dim), "planes must share a dimension")
    ExpressionUtils.column(
      HyperplaneSigExpr(ExpressionUtils.expression(v), planes.flatten.toArray, planes.size))
  }

  /** Column-level entry for QuantDotExpr (constant component vector). */
  def quantDot(v: Column, comp: Array[Double], scale: Double): Column =
    ExpressionUtils.column(QuantDotExpr(ExpressionUtils.expression(v), comp, scale))

  /** Column-level entry for UnicodeNormalizeExpr. */
  def unicodeNormalize(text: Column, form: String): Column = {
    val idx = graft.functions.TextNorm.formIndex(form)
    require(idx >= 0, s"unknown normalization form '$form' (NFC/NFD/NFKC/NFKD)")
    ExpressionUtils.column(UnicodeNormalizeExpr(ExpressionUtils.expression(text), idx))
  }

  /** Column-level entry for FixMojibakeExpr. */
  def fixMojibake(text: Column): Column =
    ExpressionUtils.column(FixMojibakeExpr(ExpressionUtils.expression(text)))

  /** Column-level entry for ScriptProfileExpr. */
  def scriptProfile(text: Column): Column =
    ExpressionUtils.column(ScriptProfileExpr(ExpressionUtils.expression(text)))

  /** Column-level entry for PHashExpr. */
  def phash(imageBytes: Column): Column =
    ExpressionUtils.column(PHashExpr(ExpressionUtils.expression(imageBytes)))

  /** Column-level entry for BloomMightContainExpr. */
  def bloomMightContain(key: Column, bf: Broadcast[BloomFilter]): Column =
    ExpressionUtils.column(BloomMightContainExpr(ExpressionUtils.expression(key), bf))

  /** The rows a left anti-join on `key` against `keys` keeps: `key` is
    * NULL or none of `keys` (values of type `dt` as a collected Row
    * holds them, NULLs skipped). Spark's `InSet` holds the set, so the
    * planner walks no literal list; the set ships in the stage's task
    * binary, once per executor, and each task deserializes a copy.
    * Float and double keys compare as join keys do: -0.0 is 0.0 and NaN
    * is NaN.
    */
  def notInKeys(key: Column, dt: DataType, keys: Iterator[Any]): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val set = keys.filter(_ != null).map(v => toCatalyst(v) match {
      case d: Double if d == 0 => 0.0d
      case f: Float if f == 0 => 0.0f
      case k => k
    }).toSet
    val k = ExpressionUtils.expression(key)
    val probe = dt match {
      case FloatType | DoubleType => NormalizeNaNAndZero(k)
      case _ => k
    }
    key.isNull || !ExpressionUtils.column(InSet(probe, set))
  }

  /** Column-level entry for LmScoreExpr. */
  def lmScore(
      text: Column,
      model: Broadcast[java.util.HashMap[String, java.lang.Long]],
      n: Int,
      defaultMicro: Long): Column =
    ExpressionUtils.column(
      LmScoreExpr(ExpressionUtils.expression(text), model, n, defaultMicro))

  /** Column-level entry for NbScoreExpr. */
  def nbScore(
      text: Column,
      model: Broadcast[graft.functions.NbScore.MicroModel]): Column =
    ExpressionUtils.column(NbScoreExpr(ExpressionUtils.expression(text), model))

  /** Column-level entry for BpeEncodeExpr. */
  def bpeEncode(
      text: Column,
      ranks: Broadcast[graft.functions.BpeEncode.RankModel]): Column =
    ExpressionUtils.column(BpeEncodeExpr(ExpressionUtils.expression(text), ranks))

  /** Column-level entry for UnigramEncodeExpr. */
  def unigramEncode(
      text: Column,
      pieces: Broadcast[graft.functions.UnigramEncode.PieceModel]): Column =
    ExpressionUtils.column(UnigramEncodeExpr(ExpressionUtils.expression(text), pieces))
}
