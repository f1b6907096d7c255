package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Barrier, Fence}
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is a distributed aggregation/join — no
  * driver-side state. The near-dup variants follow the standard two-phase
  * shape: (1) cheap signature → bucket (map-only), (2) candidate generation
  * by equi-join on bucket (shuffle on bucket key — sparse, skew-resistant
  * because buckets are hash-random), (3) exact verification only on
  * candidates. At 100 TB the verification join is the only quadratic-ish
  * term and it is bounded by bucket collision rate, not corpus size.
  *
  * A projection computing a kernel (shingle hashes, signature, md5
  * shingle stream, cosine) that a filter reads sits below a
  * [[graft.Fence]] named after its operator; THE GATE RULE in Fence's
  * doc says why.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on a subset of columns (generalizes the reference's
    * full-row `dropDuplicates`, `scripts/...pyspark.py:103`).
    * Hash-aggregate on the key columns; map-side partial aggregation is
    * automatic.
    */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df.dropDuplicates() else df.dropDuplicates(cols)

  /** EXACT SUBSTRING dedup at w-token tile granularity: remove every
    * w-token tile whose exact text occurred earlier in the corpus
    * (global (doc, tile) order), keeping first occurrences and each
    * document's sub-tile tail. The tractable tiling restriction of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): repeated spans ≥ 2w
    * tokens are guaranteed to lose at least one full tile regardless of
    * alignment; north-star EXTENSION, no reference citation.
    *
    * Scale design — text NEVER crosses a shuffle:
    *  1. map-only: explode tile hashes as (md5, doc, tile_no) — md5 so
    *     any engine can replay the assignment (house auditability rule);
    *  2. one aggregation on the hash finds each tile text's first
    *     occurrence (min over the composite doc*100000+tile_no — exact
    *     while tiles/doc < 100000, enforced);
    *  3. join back on the hash emits only (doc, dropped tile_nos) —
    *     both shuffles carry 32-hex + two ints per tile;
    *  4. the drop-list (non-empty only for docs that lost a tile) joins
    *     the original table on id and the text is rebuilt MAP-SIDE by an
    *     indexed higher-order filter over the token array.
    *
    * Returns (idCol, n_tiles, n_dup_tiles, text_dedup).
    */
  def substringDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 20): DataFrame = {
    require(w >= 2, "tile width must be >= 2 tokens")
    val tiled = tileStream(docs, idCol, textCol, w)
    val key = firstOccKey(col("tile_no"))
    val firsts = tiled
      .groupBy("h")
      .agg(min(key).as("__first"), count(lit(1)).as("__c"))
    val droppedTiles = tiled
      .join(firsts, Seq("h"))
      .where(col("__c") > 1 && key =!= col("__first"))
    rebuild(docs, droppedTiles, idCol, textCol, w)
  }

  /** Exact global first-occurrence ordering over (doc, position): a
    * lexicographic struct-min. Unlike the arithmetic composite
    * `id·K + pos` it has no per-doc position bound and cannot overflow,
    * so a 100 TB corpus with book-length documents needs no runtime
    * guard. The persisted stores keep their compact `first_key` long —
    * presence is all the incremental joins test, and the key only
    * orders store MERGES (min across unions), where any total order
    * over occurrences gives the same merged set. The DuckDB oracles
    * replay the composite form, which agrees with this ordering exactly
    * while positions stay under the composite's K (always true of the
    * fixtures); the struct is correct beyond it.
    */
  private def firstOccKey(posCol: Column): Column =
    struct(col("__id").as("d"), posCol.as("p"))

  /** (doc, tile_no, md5) stream — the map-only tiling stage shared by
    * the batch and incremental substring dedup paths.
    */
  private def tileStream(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    // aligned-tile arm of the ShingleMd5 kernel — the shingleStreamPos
    // rationale (no token-array copy per generated row, compiled pass)
    Fence(docs
      .select(col(idCol).as("__id"),
        org.apache.spark.sql.graft.NativeExprs
          .md5ShingleStream(col(textCol), w, aligned = true).as("__hs")), "Dedup.tileStream")
      .select(col("__id"), posexplode(col("__hs")).as(Seq("tile_no", "h")))

  /** Map-side text reconstruction from a (__id, tile_no) dropped-tile
    * stream: collapse to per-doc drop-lists (id-width shuffle), join the
    * source table, and cut dropped tiles with an indexed higher-order
    * filter over the token array.
    */
  private def rebuild(
      docs: DataFrame,
      droppedTiles: DataFrame,
      idCol: String,
      textCol: String,
      w: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val nTiles = floor(size(toks) / w).cast("int")
    val dropped = droppedTiles
      .groupBy(col("__id"))
      .agg(collect_set(col("tile_no")).as("__drop"),
        count(lit(1)).as("n_dup_tiles"))
    docs
      .join(dropped, docs(idCol) === dropped("__id"), "left")
      .select(
        col(idCol),
        nTiles.cast("long").as("n_tiles"),
        coalesce(col("n_dup_tiles"), lit(0L)).as("n_dup_tiles"),
        when(col("__drop").isNull, col(textCol)).otherwise(
          array_join(
            filter(toks, (x, i) => !array_contains(col("__drop"), (i / w).cast("int"))),
            " ")).as("text_dedup"))
  }

  /** Persistable tile-hash store for INCREMENTAL substring dedup: one
    * row per distinct tile text ever seen. Merge-associative — unioning
    * two stores (or a store with a fresh [[tileStream]]) and re-taking
    * min(first_key) gives the same store as building from the combined
    * corpus (pinned in DedupSpec).
    */
  def tileHashStore(docs: DataFrame, idCol: String, textCol: String, w: Int = 20): DataFrame =
    tileStream(docs, idCol, textCol, w)
      .groupBy("h")
      .agg(min(col("__id") * 100000L + col("tile_no")).as("first_key"))

  /** Incremental substring dedup of a NEW batch against a persisted
    * [[tileHashStore]]: a batch tile is cut if its exact text exists in
    * the store (history is always earlier) or occurred earlier within
    * the batch itself. History TEXT is never re-read — the batch joins
    * 32-hex hashes only — and history documents are never re-emitted:
    * the O(day), not O(corpus), daily-pipeline shape, mirroring
    * [[minHashNearDupsIncremental]]. With every history id below every
    * batch id this equals running [[substringDedup]] over the combined
    * corpus and keeping the batch's rows (the q146 oracle replays that
    * equivalence exhaustively).
    */
  def substringDedupIncremental(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 20): DataFrame = {
    require(w >= 2, "tile width must be >= 2 tokens")
    val tiled = tileStream(batch, idCol, textCol, w)
    val key = firstOccKey(col("tile_no"))
    val firsts = tiled
      .groupBy("h")
      .agg(min(key).as("__first"), count(lit(1)).as("__c"))
    val droppedTiles = tiled
      .join(firsts, Seq("h"))
      .join(store.select(col("h"), lit(1).as("__hist")), Seq("h"), "left")
      .where(col("__hist").isNotNull || (col("__c") > 1 && key =!= col("__first")))
    rebuild(batch, droppedTiles, idCol, textCol, w)
  }

  // ------------------------------------------------------- duplicate spans

  /** (doc, pos, md5) stream of OVERLAPPING w-token shingles — one shingle
    * at every token position (vs [[tileStream]]'s aligned, disjoint
    * tiles). Map-only; md5 so any engine replays the assignment.
    */
  private def shingleStreamPos(
      docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    // hash every position INSIDE the row (one native kernel call per
    // doc — ShingleMd5 md5s byte ranges of the original text), then
    // explode only (pos, 32-hex). The previous explode-then-hash shape
    // carried the FULL token array through the Generate, copying it
    // into every position's UnsafeRow — O(tokens²) bytes per doc
    // (guide §2.3 "project before the exchange", applied to the
    // generator); an array-HOF formulation instead pays interpreted
    // per-element lambda evaluation. Values identical (kernel doc
    // proves byte-range equivalence); posexplode's 0-based pos == the
    // old sequence pos.
    Fence(docs
      .select(col(idCol).as("__id"),
        org.apache.spark.sql.graft.NativeExprs
          .md5ShingleStream(col(textCol), w, aligned = false).as("__hs")), "Dedup.shingleStreamPos")
      .select(col("__id"), posexplode(col("__hs")).as(Seq("pos", "h")))

  /** Duplicated shingle occurrences: (doc, pos) whose w-shingle TEXT
    * occurred earlier in the corpus (global (doc, pos) order — the first
    * occurrence is kept). One hash-aggregation + one hash-width join.
    */
  private def duplicatedPositions(sh: DataFrame): DataFrame = {
    val key = firstOccKey(col("pos"))
    val firsts = sh
      .groupBy("h")
      .agg(min(key).as("__first"), count(lit(1)).as("__c"))
    sh.join(firsts, Seq("h"))
      .where(col("__c") > 1 && key =!= col("__first"))
      .select(col("__id"), col("pos"))
  }

  /** Gaps-and-islands merge of duplicated positions into MAXIMAL spans:
    * positions whose w-windows overlap or touch (next ≤ prev + w) fuse
    * into one [start_tok, end_tok] (0-based, inclusive). The window runs
    * per-doc over ONLY the duplicated positions — a vanishing fraction
    * of the token stream — never over the corpus.
    */
  private def mergeSpans(dup: DataFrame, idCol: String, w: Int): DataFrame = {
    val byDoc = Window.partitionBy("__id").orderBy("pos")
    val prev = lag(col("pos"), 1).over(byDoc)
    val brk = when(prev.isNull || col("pos") > prev + w, 1).otherwise(0)
    val isl = sum(brk).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    dup
      .withColumn("__isl", isl)
      .groupBy(col("__id"), col("__isl"))
      .agg(
        min(col("pos")).as("start_tok"),
        (max(col("pos")) + (w - 1)).as("end_tok"),
        count(lit(1)).as("n_shingles"))
      .withColumn("span_no",
        row_number().over(Window.partitionBy("__id").orderBy("start_tok")))
      .select(col("__id").as(idCol), col("span_no"),
        col("start_tok"), col("end_tok"), col("n_shingles"))
  }

  /** MAXIMAL duplicated-span detection with overlapping w-token shingles —
    * the alignment-free refinement of [[substringDedup]]'s tiling. The
    * tile pass only removes duplicated content covering a full ALIGNED
    * tile (repeats ≥ 2w tokens guaranteed, shorter ones only by luck);
    * sliding a w-token window at EVERY position finds every repeated run
    * of ≥ w tokens exactly, and merging overlapping duplicated positions
    * per document yields maximal spans — the distributed formulation of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") with match threshold w
    * tokens. North-star EXTENSION, no reference citation.
    *
    * Scale design — text never crosses a shuffle:
    *  1. map-only shingling emits (md5, doc, pos): w× the rows of the
    *     tile pass — the price of alignment freedom — but each shuffle
    *     row carries only 32 hex chars + two ints;
    *  2. one aggregation finds each shingle text's first occurrence
    *     (lexicographic struct-min over (doc, pos) — exact at any
    *     document length, same discipline as the tile path);
    *  3. the join back emits duplicated (doc, pos) only;
    *  4. span merge is a per-doc window over only those positions.
    *
    * Returns one row per span: (idCol, span_no, start_tok, end_tok,
    * n_shingles), span_no 1-based in start order.
    */
  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 2, "shingle width must be >= 2 tokens")
    mergeSpans(duplicatedPositions(shingleStreamPos(docs, idCol, textCol, w)), idCol, w)
  }

  /** Cut every [[duplicateSpans]] span out of its document — span-level
    * substring dedup that removes ONLY the repeated run, preserving the
    * surrounding text (the tile path rounds the cut to tile boundaries).
    * Span lists per doc are tiny (duplicated regions only), so the cut is
    * a map-side indexed filter over the token array after one id-width
    * join.
    *
    * Returns (idCol, n_spans, n_dup_tokens, text_dedup) — one row per
    * input document.
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame =
    cutSpans(docs, duplicateSpans(docs, idCol, textCol, w), idCol, textCol)

  /** The cut stage shared by [[removeDuplicateSpans]] and its
    * incremental twin: token-indexed filter of each doc against its
    * span list (tiny — duplicated regions only) after one id-width
    * join.
    */
  private def cutSpans(
      docs: DataFrame,
      spans: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val perDoc = spans
      .groupBy(idCol)
      .agg(
        collect_list(struct(col("start_tok"), col("end_tok"))).as("__spans"),
        count(lit(1)).as("n_spans"),
        sum(col("end_tok") - col("start_tok") + 1).as("n_dup_tokens"))
    val toks = split(col(textCol), " ")
    docs
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("__spans").isNull, col(textCol)).otherwise(
          array_join(
            filter(toks, (_, i) =>
              !exists(col("__spans"), sp =>
                i >= sp("start_tok") && i <= sp("end_tok"))),
            " ")).as("text_dedup"))
  }

  /** Cut every [[contaminationSpans]] span out of its training
    * document — the REMOVAL arm of span-level decontamination (q200
    * names the ranges; this excises them and keeps the surrounding
    * text, the [[removeDuplicateSpans]] shape pointed at a held-out
    * benchmark instead of at the corpus itself). Returns one row per
    * training document: (idCol, n_spans, n_dup_tokens, text_dedup) —
    * documents with no contaminated span pass through unchanged.
    *
    * Scale: inherits both parents' shapes — the only data shuffles
    * carry (hash, id, pos), the held-out shingle set semi-joins
    * (broadcast when benchmark-sized), and the cut is a map-side
    * indexed filter after one id-width join.
    */
  def decontaminateSpans(
      train: DataFrame,
      heldOut: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame =
    cutSpans(train, contaminationSpans(train, heldOut, idCol, textCol, w),
      idCol, textCol)

  /** [[removeDuplicateSpans]] against a persisted [[spanHashStore]]:
    * cut every batch span that [[duplicateSpansIncremental]] detects
    * (history shingle or earlier-in-batch), keep the surrounding text.
    * One row per batch document — the streaming span-dedup twin's
    * per-batch body (StreamingCorpus.spanDedupStream).
    */
  def removeDuplicateSpansIncremental(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame =
    cutSpans(batch,
      duplicateSpansIncremental(batch, store, idCol, textCol, w), idCol, textCol)

  /** Persistable shingle-hash store for INCREMENTAL duplicate-span
    * detection: one row per distinct w-shingle text ever seen, with its
    * global first-occurrence key. Merge-associative like
    * [[tileHashStore]] — union two stores (or a store with a fresh
    * [[shingleStreamPos]] day) and re-take min(first_key).
    */
  def spanHashStore(docs: DataFrame, idCol: String, textCol: String, w: Int = 8): DataFrame =
    shingleStreamPos(docs, idCol, textCol, w)
      .groupBy("h")
      .agg(min(col("__id") * 1000000L + col("pos")).as("first_key"))

  /** Incremental [[duplicateSpans]] of a NEW batch against a persisted
    * [[spanHashStore]]: a batch position is duplicated if its shingle
    * text exists in the store (history is always earlier) or occurred
    * earlier within the batch itself. History TEXT is never re-read —
    * the batch joins 32-hex hashes only — and history documents are
    * never re-scanned: the O(day) daily-pipeline shape of
    * [[substringDedupIncremental]], at span granularity. With every
    * history id below every batch id this equals running
    * [[duplicateSpans]] over the combined corpus and keeping the
    * batch's spans (the q202 oracle replays that equivalence).
    */
  def duplicateSpansIncremental(
      batch: DataFrame,
      store: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 2, "shingle width must be >= 2 tokens")
    val sh = shingleStreamPos(batch, idCol, textCol, w)
    val key = firstOccKey(col("pos"))
    val firsts = sh
      .groupBy("h")
      .agg(min(key).as("__first"), count(lit(1)).as("__c"))
    val dup = sh
      .join(firsts, Seq("h"))
      .join(store.select(col("h"), lit(1).as("__hist")), Seq("h"), "left")
      .where(col("__hist").isNotNull || (col("__c") > 1 && key =!= col("__first")))
      .select(col("__id"), col("pos"))
    mergeSpans(dup, idCol, w)
  }

  /** The persistable held-out shingle set for store-driven
    * decontamination: one row per distinct w-shingle hash of the
    * benchmark corpus. Built ONCE when the benchmark is frozen;
    * [[decontaminateSpansVsStore]] reads it per batch so the daily
    * pipeline never re-shingles benchmark text.
    */
  def heldOutShingles(
      heldOut: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame =
    shingleStreamPos(heldOut, idCol, textCol, w).select("h").distinct()

  /** [[decontaminateSpans]] against a persisted [[heldOutShingles]]
    * store — the daily-ingest form: per batch, the only non-batch data
    * touched is the (broadcast-sized) benchmark hash set. Identical
    * output to the docs-frame form by construction (the span report is
    * a function of the hash set alone), so the q272-family oracles
    * carry over unchanged.
    */
  def decontaminateSpansVsStore(
      train: DataFrame,
      heldHashes: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 2, "shingle width must be >= 2 tokens")
    val trainSh = shingleStreamPos(train, idCol, textCol, w)
    val hits = trainSh
      .join(heldHashes.select("h"), Seq("h"), "left_semi")
      .select("__id", "pos")
    cutSpans(train, mergeSpans(hits, idCol, w), idCol, textCol)
  }

  /** SPAN-LEVEL decontamination report: maximal runs (≥ w tokens) of
    * `train` documents whose text also appears anywhere in the `heldOut`
    * corpus. [[contaminationScore]] grades documents; this names the
    * exact token ranges, so a pipeline can CUT the contaminated span and
    * keep the document — the surgical variant a 100 TB corpus needs when
    * whole-doc dropping is too lossy.
    *
    * Scale: held-out benchmark suites are small next to the corpus, so
    * the hash semi-join broadcasts (AQE); train-side text never shuffles.
    * Same output shape as [[duplicateSpans]].
    */
  def contaminationSpans(
      train: DataFrame,
      heldOut: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    require(w >= 2, "shingle width must be >= 2 tokens")
    val trainSh = shingleStreamPos(train, idCol, textCol, w)
    val heldSh = shingleStreamPos(heldOut, idCol, textCol, w).select("h").distinct()
    val hits = trainSh.join(heldSh, Seq("h"), "left_semi").select("__id", "pos")
    mergeSpans(hits, idCol, w)
  }

  /** Rows whose `bucketCol` bucket holds more than `cap` rows are dropped.
    *
    * Implemented as aggregate + left-anti join rather than a count window:
    * partial (map-side) aggregation collapses a hot bucket to one count per
    * task before the shuffle, whereas `count().over(Window.partitionBy(b))`
    * must buffer the entire hot bucket inside a single task before it can
    * drop it — the exact failure mode the cap exists to prevent. The
    * over-cap list has at most |rows|/cap entries, so AQE plans the
    * anti-join as a broadcast at any realistic cap.
    *
    * Precondition: `bucketCol` must be non-null. NULL bucket keys never
    * match the anti-join key, so an over-cap NULL bucket would be silently
    * KEPT (the window formulation counted NULLs as one partition). All
    * in-repo callers bucket on non-null hash/band columns.
    */
  private[operators] def dropHotBuckets(df: DataFrame, bucketCol: String, cap: Int): DataFrame = {
    val over = df.groupBy(bucketCol).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > cap)
      .select(bucketCol)
    df.join(over, Seq(bucketCol), "left_anti")
  }

  /** Deterministic exact dedup: keep the row with the smallest `keep`
    * value per key (dropDuplicates keeps an arbitrary first row — fine for
    * semantics, bad for reproducible tests/oracles).
    */
  def exactKeepMin(df: DataFrame, keyCols: Seq[String], keep: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col).toIndexedSeq: _*)
      .orderBy(col(keep).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ----------------------------------------------------- shingles/minhash

  /** w-word shingles of the lowercased text, hashed to 64-bit via xxhash64.
    * Returns array<long> (distinct). Native single-pass kernel
    * (ShingleHashesExpr); value-identical to [[shingleHashesHof]], which
    * the spec pins.
    */
  def shingleHashes(text: Column, w: Int = 3): Column =
    graft.functions.ShingleHashesExpr(text, w)

  /** Reference formulation of [[shingleHashes]] with built-in higher-order
    * functions only — kept as the semantic spec for the native kernel.
    */
  def shingleHashesHof(text: Column, w: Int = 3): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val n = size(toks)
    val starts = when(n < w, array().cast("array<int>"))
      .otherwise(sequence(lit(1), n - (w - 1))) // slice() is 1-based
    array_distinct(
      transform(starts, i => xxhash64(array_join(slice(toks, i, lit(w)), " "))))
  }

  /** MinHash signature: k permutations of the shingle hash space via the
    * classic (aᵢ·h + bᵢ) mod p family with fixed seeds — deterministic
    * across executors/runs. Returns array<long> length k (or null-free
    * sentinel for shingle-less docs).
    *
    * Pure higher-order expressions: one pass over shingles per permutation.
    */
  def minHashSignature(shingles: Column, k: Int = 128, seed: Long = 42L): Column = {
    val p = 2305843009213693951L // 2^61 − 1, Mersenne prime
    val rng = new scala.util.Random(seed)
    val abs_ = (x: Long) => if (x < 0) -x else x
    val params = Seq.fill(k)((abs_(rng.nextLong()) % (p - 1) + 1, abs_(rng.nextLong()) % p))
    val mins = params.map { case (a, b) =>
      // (a*h + b) mod p over 64-bit wraparound is fine for a hash family:
      // we only need determinism + spread, not exact modular arithmetic.
      array_min(transform(shingles, h => pmod(lit(a) * h + lit(b), lit(p))))
    }
    when(size(shingles) === 0, lit(null).cast("array<bigint>"))
      .otherwise(array(mins.toIndexedSeq: _*))
  }

  /** Shingle hashes with document frequency ≥ minDf — the "stop
    * shingles" of a corpus (boilerplate headers, license blocks,
    * common short phrases). One distributed agg; the result is
    * driver-bounded by maxCollect (hottest first), suitable for
    * broadcasting back as a literal filter.
    */
  def hotShingles(
      df: DataFrame,
      textCol: String,
      w: Int = 3,
      minDf: Long = 1000L,
      maxCollect: Int = 10000): Array[Long] =
    df.select(explode(shingleHashes(col(textCol), w)).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(desc("df"), col("sh"))
      .limit(maxCollect)
      .collect().map(_.getLong(0))

  /** Reusable signature store for INCREMENTAL near-dup dedup:
    * `(id, sh, sig)` for every document, computed by the same native
    * kernels as [[minHashNearDups]]. Persist this (parquet) once per
    * corpus; daily batches then dedup against it WITHOUT re-reading or
    * re-shingling historical text — the 100 TB ingestion pattern where
    * history is touched only through its (small) signature columns.
    * Parameters must match between store build and incremental use
    * (same k/w/seed/excludeShingles, or signatures don't align).
    */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      w: Int = 3,
      seed: Long = 42L,
      excludeShingles: Array[Long] = Array.empty): DataFrame = {
    val rawSh = shingleHashes(col(textCol), w)
    val sh =
      if (excludeShingles.isEmpty) rawSh
      else array_except(rawSh, array(excludeShingles.map(lit).toIndexedSeq: _*))
    Fence(df.select(col(idCol).as("id"), sh.as("sh"))
      .withColumn("sig", graft.functions.MinHashSignatureExpr(col("sh"), k, seed)),
      "Dedup.minHashSignatures")
      .filter(col("sig").isNotNull)
  }

  /** Incremental near-dup pairs: a NEW batch against an existing
    * [[minHashSignatures]] store (plus within the batch itself).
    * Emits (id_a, id_b, jaccard) where AT LEAST ONE side is new —
    * history×history pairs are already known and never recomputed.
    * Ids must be unique across batch and store (the DedupLedger
    * convention).
    *
    * Scale shape: identical to [[minHashNearDups]]'s id-only band join
    * — the store contributes (id, band-hash) rows, its text is never
    * read; the hot-bucket cap applies to the COMBINED bucket population
    * so a boilerplate bucket spanning history and batch is still
    * bounded.
    *
    * `screenMargin` enables the 1-bit-sketch screen of
    * [[minHashNearDupsBBit]] between banding and verification: sketches
    * derive from the already-stored signatures (two ops per component —
    * nothing new persists), and rejected candidates then cost a 16-byte
    * compare instead of hauling the STORE's shingle arrays — on the
    * daily-ingest path that shingle join is history's only non-metadata
    * exchange. Same conservative-miss accounting as the batch operator.
    */
  def minHashNearDupsIncremental(
      newDocs: DataFrame,
      historySigs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = 1024,
      excludeShingles: Array[Long] = Array.empty,
      screenMargin: Option[Double] = None): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val newSigs = Barrier(
      minHashSignatures(newDocs, idCol, textCol, k, w, seed, excludeShingles),
      "Dedup.minHashNearDupsIncremental")
    val tagged = newSigs.withColumn("__new", lit(1))
      .unionByName(historySigs.select(col("id"), col("sh"), col("sig"))
        .withColumn("__new", lit(0)))
    val banded = dropHotBuckets(
      tagged.select(col("id"), col("__new"),
        explode(graft.functions.BandHashesExpr(col("sig"), bands)).as("bh")),
      "bh", maxBucket)
    val a = banded.select(col("bh"), col("id").as("id_a"), col("__new").as("__new_a"))
    val b = banded.select(col("bh"), col("id").as("id_b"), col("__new").as("__new_b"))
    val pairIds = a.join(b, Seq("bh"))
      .filter(col("id_a") < col("id_b") &&
        (col("__new_a") === 1 || col("__new_b") === 1))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val screened = screenMargin match {
      case Some(m) =>
        val sketches = tagged.select(col("id"),
          graft.functions.OneBitMinHashExpr(col("sig")).as("bb"))
        pairIds
          .join(sketches.select(col("id").as("id_a"), col("bb").as("bb_a")), Seq("id_a"))
          .join(sketches.select(col("id").as("id_b"), col("bb").as("bb_b")), Seq("id_b"))
          .filter(oneBitJaccardEst(col("bb_a"), col("bb_b"), k) >= lit(threshold - m))
          .select("id_a", "id_b")
      case None => pairIds
    }
    val shingles = tagged.select(col("id"), col("sh"))
    val candidates = screened
      .join(shingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    candidates
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate-generation stage of [[minHashNearDups]], exposed so the
    * candidate-count bound — THE quantity the hot-bucket cap and
    * stop-shingle exclusion exist to control — is directly testable.
    * Returns (signatures frame `(id, sh, sig)` shared lazily,
    * candidate pair ids `(id_a, id_b)` pre-verification).
    */
  private[graft] def minHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int,
      w: Int,
      seed: Long,
      maxBucket: Int,
      excludeShingles: Array[Long],
      oneperm: Boolean = false): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    // Native codegen'd signature kernel (MinHashSignatureExpr) — value-
    // identical to minHashSignature() but one tight primitive loop.
    // Shared lazily because BOTH sides of the candidate self-join and the
    // shingle re-attach scan it: without block sharing the 128-permutation
    // signature would be computed four times.
    // `oneperm` swaps in the O(n + k) one-permutation kernel
    // (OnePermSignatureExpr) — same banding/verification contract,
    // value-INCOMPATIBLE signatures (don't mix kernels across a store).
    val rawSh = shingleHashes(col(textCol), w)
    val sh =
      if (excludeShingles.isEmpty) rawSh
      else array_except(rawSh, array(excludeShingles.map(lit).toIndexedSeq: _*))
    val sigCol =
      if (oneperm) graft.functions.OnePermSignatureExpr(col("sh"), k, seed)
      else graft.functions.MinHashSignatureExpr(col("sh"), k, seed)
    val withSig = Barrier(Fence(df
      .select(col(idCol).as("id"), sh.as("sh"))
      .withColumn("sig", sigCol), "Dedup.minHashCandidates")
      .filter(col("sig").isNotNull), "Dedup.minHashCandidates")

    // (id, band_hash) pairs — ids ONLY: the banded self-join must not
    // carry the shingle arrays (that would shuffle |corpus|×bands×|sh|
    // bytes; ids shuffle |corpus|×bands×16 bytes). Band hashes come from
    // the native kernel (no per-band string rendering).
    val rawBanded = withSig.select(
      col("id"),
      explode(graft.functions.BandHashesExpr(col("sig"), bands)).as("bh"))
    // hot-bucket guard: map-side partial aggregation collapses even a
    // pathological hot bucket before the shuffle (see dropHotBuckets)
    val banded = dropHotBuckets(rawBanded, "bh", maxBucket)

    // candidate pairs: id-only self-join on band hash, dedup pair ids,
    // THEN attach each side's shingles from the (persisted) signature
    // frame — two joins against |candidates| rows, not |corpus|×bands.
    val a = banded.select(col("bh"), col("id").as("id_a"))
    val b = banded.select(col("bh"), col("id").as("id_b"))
    val pairIds = a
      .join(b, Seq("bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    (withSig, pairIds)
  }

  /** Band/row auto-tuning for the MinHash banding (Leskovec–Rajaraman–
    * Ullman, "Mining of Massive Datasets" ch. 3.4): among divisor
    * pairs b·r = k, pick the banding whose S-curve
    * P(s) = 1 − (1 − s^r)^b minimizes the weighted error integral
    * fpWeight·∫₀ᵗ P(s) ds + fnWeight·∫ₜ¹ (1 − P(s)) ds — false
    * positives cost verification work, false negatives cost recall;
    * equal weights by default (raise fnWeight when dedup misses are
    * worse than wasted verify joins, the usual 100 TB posture).
    * Driver-side algebra over the ≤ d(k) divisor candidates, midpoint
    * integration at 1e-3; deterministic (ties break to the smallest
    * band count — the cheaper join). Pass the result's bands into
    * [[minHashNearDups]].
    */
  def lshParamsFor(
      threshold: Double,
      k: Int = 128,
      fpWeight: Double = 0.5,
      fnWeight: Double = 0.5): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(k >= 2, s"signature length must be >= 2, got $k")
    require(fpWeight >= 0 && fnWeight >= 0 && fpWeight + fnWeight > 0,
      "error weights must be non-negative and not both zero")
    def err(b: Int, r: Int): Double = {
      val step = 0.001
      var fp = 0.0; var fn = 0.0
      var s = step / 2 // midpoint rule
      while (s < 1.0) {
        val pCollide = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < threshold) fp += pCollide * step
        else fn += (1.0 - pCollide) * step
        s += step
      }
      fpWeight * fp + fnWeight * fn
    }
    (1 to k).filter(k % _ == 0).map(b => (b, k / b))
      .minBy { case (b, r) => err(b, r) }
  }

  /** Near-duplicate PAIRS via MinHash LSH.
    *
    * @param df        input
    * @param idCol     unique id column
    * @param textCol   text column
    * @param k         signature length
    * @param bands     LSH bands (rows-per-band = k/bands); more bands →
    *                  higher recall, more candidates. [[lshParamsFor]]
    *                  sizes this from the target Jaccard threshold.
    * @param threshold exact-Jaccard verification threshold on shingle sets
    * @param maxBucket candidate-bucket size cap: band buckets larger than
    *                  this are dropped from candidate generation. This
    *                  bounds the join's quadratic term (≤ bands·Σcap² per
    *                  bucket) against hot-shingle skew — a shingle shared
    *                  by x% of a 100 TB corpus would otherwise create
    *                  (x·N)² candidates. Genuine near-dup GROUPS larger
    *                  than the cap still pair through their other
    *                  (unsaturated) bands; only pathological hot buckets
    *                  saturate all 32.
    * @param excludeShingles corpus-wide "stop shingles" (from
    *                  [[hotShingles]]) removed from every document before
    *                  signatures — attacks hot-shingle skew at the cause
    *                  where maxBucket treats the symptom. Jaccard is then
    *                  computed over the REDUCED sets (boilerplate no
    *                  longer counts as similarity — usually the wanted
    *                  semantics for training-data dedup). Docs left with
    *                  zero shingles drop out of near-dup detection.
    * @param oneperm   swap the k-permutation signature kernel for
    *                  ONE-PERMUTATION hashing with rotation densification
    *                  ([[graft.functions.MinHash.signatureOneperm]]) —
    *                  O(n + k) hashes per document instead of O(n·k)
    *                  multiply-mods, with the same banding S-curve and the
    *                  same exact-verified output contract. Signatures are
    *                  value-incompatible across kernels: a store built one
    *                  way cannot be probed the other way.
    * @return (id_a, id_b, jaccard) with id_a < id_b, verified
    */
  def minHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = 1024,
      excludeShingles: Array[Long] = Array.empty,
      oneperm: Boolean = false): DataFrame = {
    val (withSig, pairIds) = minHashCandidates(
      df, idCol, textCol, k, bands, w, seed, maxBucket, excludeShingles, oneperm)
    val shingles = withSig.select(col("id"), col("sh"))
    val candidates = pairIds
      .join(shingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    // exact Jaccard verification on the shingle sets (arrays already distinct)
    candidates
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Jaccard estimate from two 1-bit minhash sketches (Li & König,
    * WWW 2010, b = 1): each packed bit matches with probability
    * C + (1−C)·J (C = ½ for b = 1), so Ĵ = 2·P̂ − 1 with P̂ = the
    * matching-bit fraction — computed from 2×(k/64) longs with XOR +
    * popcount, no shingle set on either side. Standard deviation
    * ≈ 2·√(p(1−p)/k) ≈ 0.09 at k = 128 around J ≈ 0.8 — an ESTIMATE
    * for screening and monitoring, not a verification. (C = ½ assumes
    * the permutation domain is large relative to the sets — exact for
    * this engine's 2⁶¹-space permutations.)
    */
  def oneBitJaccardEst(a: Column, b: Column, k: Int = 128): Column =
    lit(1.0) - lit(2.0) * aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, e) => acc + e).cast("double") / lit(k.toDouble)

  /** [[minHashNearDups]] with a 1-bit-sketch SCREEN between banding and
    * exact verification — same output SHAPE (verified exact-Jaccard
    * pairs) at a bounded recall epsilon: every emitted pair is exact
    * and ≥ threshold, but a true pair can be screened out with the
    * small probability quantified below, so output equality with
    * [[minHashNearDups]] is statistical, not an invariant (DedupSpec's
    * set-equality assertion holds on its fixture, by margin, not by
    * contract). The banded candidate set
    * includes false positives (hot-band collisions, sub-threshold
    * near-misses) and plain [[minHashNearDups]] hauls BOTH shingle
    * arrays through the verification join for every one of them — the
    * widest exchange in the operator. Here candidates first join the
    * 16-byte packed sketches ([[graft.functions.MinHash.oneBit]]),
    * pairs estimating below `threshold − screenMargin` drop, and only
    * the survivors haul shingle arrays for the exact verify.
    *
    * The screen is conservative, not exact: a true pair at J = t is
    * dropped iff its estimate misses LOW by more than the margin —
    * P(Ĵ < t − m) with sd ≈ 0.09 at k = 128, so the default m = 0.3
    * (≈ 3.3 sd) bounds the per-pair miss rate near 5e-4 at the
    * threshold and ≪ 1e-9 for the J ≥ 0.9 mass that dominates real
    * duplicate clusters; m ≥ threshold + 1 disables the screen (Ĵ
    * ranges in [−1, 1]). Screening trades that recall epsilon for
    * shuffling 16 bytes instead of two shingle arrays per rejected
    * candidate.
    */
  def minHashNearDupsBBit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucket: Int = 1024,
      excludeShingles: Array[Long] = Array.empty,
      screenMargin: Double = 0.3): DataFrame = {
    val (withSig, pairIds) = minHashCandidates(
      df, idCol, textCol, k, bands, w, seed, maxBucket, excludeShingles)
    val sketches = withSig.select(col("id"),
      graft.functions.OneBitMinHashExpr(col("sig")).as("bb"))
    val screened = pairIds
      .join(sketches.select(col("id").as("id_a"), col("bb").as("bb_a")), Seq("id_a"))
      .join(sketches.select(col("id").as("id_b"), col("bb").as("bb_b")), Seq("id_b"))
      .filter(oneBitJaccardEst(col("bb_a"), col("bb_b"), k) >=
        lit(threshold - screenMargin))
      .select("id_a", "id_b")
    val shingles = withSig.select(col("id"), col("sh"))
    val candidates = screened
      .join(shingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    candidates
      .withColumn("jaccard", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Dedup (not just pairs): keep one representative per near-dup cluster —
    * the minimum id of each connected component approximated by "drop any
    * doc that has a near-dup with a smaller id" (one LSH pass; exact
    * transitive closure needs iterative connected components, overkill for
    * a dedup filter and this greedy rule is the industry-standard choice).
    *
    * Fully lazy: composes into the caller's job as one AQE-planned plan
    * (the loser list is a distinct aggregate AQE broadcasts at runtime).
    * `df` is scanned by two branches (signatures + the keep side of the
    * anti-join); callers whose `df` is an expensive derived frame should
    * pass it through a [[graft.Barrier]] first so both branches share
    * one materialization (see CorpusPipeline.clean).
    */
  def minHashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1024,
      excludeShingles: Array[Long] = Array.empty): DataFrame = {
    val dupPairs = minHashNearDups(
      df, idCol, textCol, k, bands, w, threshold,
      maxBucket = maxBucket, excludeShingles = excludeShingles)
    val losers = dupPairs.select(col("id_b").as("__loser")).distinct()
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Benchmark DECONTAMINATION: drop every corpus document that shares
    * at least `minShared` distinct w-word shingles with ANY document of
    * an evaluation set — the standard guard against test-set leakage
    * into training data (long shingles, w ≈ 8–13, so only verbatim
    * overlapping runs count, not topical similarity).
    *
    * Scale shape: the eval side collapses to its DISTINCT shingle hashes
    * (benchmarks are small — thousands of docs — so this is a
    * broadcast-sized frame AQE broadcast-joins); the corpus side
    * explodes to (id, shingle) pairs ONLY — no payload rides the join —
    * and the contaminated-id list comes back as a left-anti join on id.
    * Corpus text is scanned once, shuffles carry ids and 8-byte hashes.
    */
  def decontaminate(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    val evalSh = evalDocs
      .select(explode(shingleHashes(col(textCol), w)).as("sh"))
      .distinct()
    val corpusSh = corpus
      .select(col(idCol).as("__cid"), explode(shingleHashes(col(textCol), w)).as("sh"))
    // minShared = 1 (the default): ANY shared shingle contaminates, so a
    // distinct of the join's ids suffices — no countDistinct aggregate on
    // the hot path. The counting aggregate only runs for stricter bars.
    val contaminated =
      if (minShared == 1)
        corpusSh.join(evalSh, Seq("sh")).select("__cid").distinct()
      else
        corpusSh
          .join(evalSh, Seq("sh"))
          .groupBy("__cid")
          .agg(countDistinct(col("sh")).as("__shared"))
          .filter(col("__shared") >= minShared)
          .select("__cid")
    corpus.join(contaminated, corpus(idCol) === col("__cid"), "left_anti")
  }

  /** Graded decontamination: per-document CONTAMINATION SCORE — the
    * fraction of the doc's distinct w-shingles present in the eval set —
    * for threshold/reporting policies where [[decontaminate]]'s binary
    * drop is too blunt (e.g. "flag ≥ 5% overlap, drop ≥ 50%"). Docs
    * with fewer than w tokens carry no shingles and are absent.
    *
    * Output: (idCol, n_shingles, n_shared, contamination[6dp]).
    *
    * Scale: the eval shingle set is distinct-collapsed and broadcast
    * (benchmark corpora are small by construction); per-doc counting is
    * one broadcast left join + an id-keyed aggregate — shingle hashes
    * and ids ride the shuffle, text never leaves the map stage.
    */
  def contaminationScore(
      corpus: DataFrame,
      evalDocs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    val evalSh = evalDocs
      .select(explode(shingleHashes(col(textCol), w)).as("sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    corpus
      .select(col(idCol), explode(shingleHashes(col(textCol), w)).as("sh"))
      .join(broadcast(evalSh), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_shared"))
      .withColumn("contamination",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** Contamination ATTRIBUTION by source: [[contaminationScore]]'s
    * per-document eval-overlap fractions aggregated to the ingest
    * pipeline that produced them — "which source leaks the benchmark"
    * is the decontamination decision a corpus owner actually makes
    * (drop the source, scrub it, or renegotiate its crawl). Mean
    * contamination sums the 6dp per-doc fractions in DECIMAL so the
    * average is engine-exact (the q153/q235 discipline).
    *
    * Scale: the score's cost (batch shingles semi-probed against the
    * broadcast eval shingle set) + one id-keyed join against the
    * (id, group) projection + a \|groups\|-bounded aggregate. Documents
    * with zero shingles are outside the scored population (same
    * contract as [[contaminationScore]]).
    */
  def contaminationAttribution(
      df: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      w: Int = 8): DataFrame = {
    val scored = contaminationScore(df, evalSet, idCol, textCol, w)
    scored.join(df.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("docs_contaminated"),
        round(
          sum(col("contamination").cast("decimal(18,6)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_contamination"),
        max(col("contamination")).as("max_contamination"))
  }

  /** Eval-side LEAKAGE: for each BENCHMARK document, the fraction of
    * its shingles present anywhere in the training corpus — the flip
    * side of [[contaminationScore]] (which scores train docs against
    * the eval set). "Which benchmark items are burned and need
    * re-drawing" is an eval-owner's question; per-source drop decisions
    * are [[contaminationAttribution]]'s.
    *
    * Scale shape differs from the contamination direction ON PURPOSE:
    * there the EVAL shingle set is small and broadcasts; here the
    * train side is the whole corpus, so train shingles DISTINCT-
    * aggregate (map-side partials) and the join shuffles 8-byte hashes
    * keyed by hash — text never crosses the wire, and the eval side is
    * tiny. Broadcasting the corpus (roles naively swapped) would OOM.
    */
  def evalLeakage(
      evalSet: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    val trainSh = corpus
      .select(explode(shingleHashes(col(textCol), w)).as("__h")).distinct()
      .withColumn("__hit", lit(1))
    val evalSh = evalSet
      .select(col(idCol), explode(shingleHashes(col(textCol), w)).as("__h"))
    evalSh.join(trainSh, Seq("__h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_leaked"))
      .withColumn("leakage",
        round(col("n_leaked").cast("double") / col("n_shingles"), 6))
  }

  /** EXACT near-dup clustering, and the engine's one connected-components
    * kernel: input (id_a, id_b) pairs, output (id, cluster) for every id
    * that appears in a pair, cluster = the component's minimum id (an id
    * seen only in self-pairs is its own component).
    *
    * Alternating star contraction (the large-star/small-star algorithm
    * of Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) over canonical edges (l, g), l < g. With m(u) = the least
    * of u and its neighbors, a round is:
    *
    *  - large-star: every node u points each GREATER neighbor at m(u);
    *  - small-star: every node u points each smaller neighbor, and
    *    itself, at m(u).
    *
    * Each step swaps an edge for edges through m(u), a neighbor of u,
    * so components never change, and no node is ever dropped. The round
    * count grows with log(component size), not with the diameter: a
    * 2,000-node path with shuffled ids closes in about 9 rounds, where
    * label propagation needs hundreds. Near-dup and ER components are
    * mostly shallow, and a clique-plus-star forest closes in one round.
    *
    * The loop stops as soon as the edges form a star forest: every node
    * that is a g has one distinct neighbor. Why that is exact: such a
    * node's one neighbor is an l, and an l that is no g has only g
    * neighbors. So every component is one l (its center) joined to its
    * g's, and the center is the least of them since l < g. Contraction
    * keeps the input's components and nodes, so each node's m(u) is its
    * component's minimum: the (id, cluster) contract.
    *
    * One window over the edge list, partitioned by node, gives every
    * node its m(u), whether it breaks the star-forest shape, and one
    * row to stand for it. That table is lazily local-checkpointed: the
    * check (a scalar count, the one action of a round), the next
    * contraction and the output all read its blocks, the output is a
    * projection of it, and a round's plan starts from the last table,
    * not from the input. Nothing deduplicates the edges: each
    * edge becomes one edge per step, so their number never grows, and
    * the checks compare neighbors, not counts. If `maxRounds` runs out
    * first, the labels would be local minima, so the kernel throws
    * rather than return them.
    */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 60): DataFrame = {
    val ab = Barrier(pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b")),
      "Dedup.nearDupClusters.edges")
    val selfs = ab.filter(col("a") === col("b")).select(col("a").as("u"), col("b").as("v"))
    // one row per node and neighbor (both ways of each edge, plus the
    // self-pairs), with the node's m, its "breaks the star forest" flag
    // (it has a smaller neighbor and a second one), and one row per node
    // flagged first
    def nodes(e: DataFrame): DataFrame = {
      val byNode = Window.partitionBy("u").orderBy("v")
      val all = byNode.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val nb = when(col("v") =!= col("u"), col("v"))
      Barrier(e.select(col("l").as("u"), col("g").as("v"))
        .union(e.select(col("g").as("u"), col("l").as("v")))
        .union(selfs)
        .select(col("u"), col("v"), min(nb).over(all).as("lo"), max(nb).over(all).as("hi"),
          (row_number().over(byNode) === 1).as("first"))
        .select(col("u"), col("v"), col("first"), least(col("u"), col("lo")).as("m"),
          (col("lo") < col("u") && col("hi") > col("lo")).as("broken")),
        "Dedup.nearDupClusters.nodes")
    }
    // large-star then small-star: every edge (u, v > u) becomes (m(u), v);
    // grouped by g, every edge of g is one of its smaller neighbors
    def contract(n: DataFrame): DataFrame =
      n.filter(col("v") > col("u")).select(col("m").as("l"), col("v").as("g"))
        .withColumn("m", min("l").over(Window.partitionBy("g")))
        .select(col("m").as("l"),
          when(col("l") === col("m"), col("g")).otherwise(col("l")).as("g"))
    var table = nodes(ab.filter(col("a") =!= col("b")).select(col("a").as("l"), col("b").as("g")))
    var rounds = 0
    var broken = 0L
    while ({ broken = table.filter(col("first") && col("broken")).count(); broken > 0 }) {
      if (rounds == maxRounds)
        throw new IllegalStateException(
          s"nearDupClusters did not reach a star forest in maxRounds = $maxRounds " +
            s"rounds ($broken nodes still break it)")
      table = nodes(contract(table))
      rounds += 1
    }
    table.filter(col("first")).select(col("u").as("id"), col("m").as("cluster"))
  }

  /** Exact-transitive-closure variant of [[minHashDedup]]: one
    * representative (the minimum id) survives per CONNECTED COMPONENT of
    * the near-dup graph. Differs from the greedy rule when a doc with no
    * smaller direct partner is still transitively linked to a smaller
    * id — e.g. pairs (1,3),(2,3): greedy keeps {1,2}, this keeps {1}.
    * Costs the iterative clustering over the pair list; use when mixing
    * decisions need true cluster identities, greedy when a cheap
    * one-pass filter suffices.
    */
  def minHashDedupExact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1024,
      excludeShingles: Array[Long] = Array.empty): DataFrame = {
    val pairs = minHashNearDups(
      df, idCol, textCol, k, bands, w, threshold,
      maxBucket = maxBucket, excludeShingles = excludeShingles)
    val losers = nearDupClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Pick one surviving document per near-dup cluster by an explicit
    * POLICY (keep the highest `rankCol`, ties to the smallest id) instead
    * of [[minHashDedupExact]]'s fixed min-id rule — production pipelines
    * keep the longest / highest-quality member, not an arbitrary one.
    *
    * Output: (cluster, survivor_id, n_members) — one row per cluster;
    * every cluster has ≥ 2 members by construction (ids enter via pairs).
    *
    * Scale: `pairs` (and hence the cluster frame) covers only near-dup
    * MEMBERS — a small fraction of the corpus — so the rank join and the
    * per-cluster window both run on the reduced set; nothing touches the
    * full corpus beyond the id/rank projection of `docs`.
    */
  def nearDupSurvivors(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      rankCol: String): DataFrame = {
    val clusters = nearDupClusters(pairs)
    val ranked = clusters.join(
      docs.select(col(idCol).cast("long").as("id"), col(rankCol).as("__rank")),
      "id")
    val pick = Window.partitionBy("cluster").orderBy(col("__rank").desc, col("id"))
    ranked
      .withColumn("__rn", row_number().over(pick))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("id").as("survivor_id"),
        col("n_members").cast("long").as("n_members"))
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash over word tokens: bit j of the fingerprint is the sign
    * of Σ over tokens of (±1 depending on bit j of xxhash64(token)).
    * Native one-pass kernel (SimHashExpr); value-identical to
    * [[simHashHof]], which the spec pins.
    */
  def simHash(text: Column): Column =
    graft.functions.SimHashExpr(text)

  /** Reference formulation of [[simHash]] with built-in higher-order
    * functions only (64 per-bit passes) — kept as the semantic spec.
    */
  def simHashHof(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val hashes = transform(toks, t => xxhash64(t))
    val bits = (0 until 64).map { j =>
      // count of tokens with bit j set, minus count with bit j unset
      val set = size(filter(hashes, h => (shiftright(h, j) % 2) =!= 0))
      val total = size(hashes)
      when(set * 2 >= total && total > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, candidates via
    * the pigeonhole principle: split 64 bits into (maxDist+1) chunks — any
    * pair within maxDist must agree exactly on ≥1 chunk → equi-join per
    * chunk, verify hamming on candidates.
    */
  def simHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    val chunks = maxDist + 1
    val chunkBits = 64 / chunks
    val withFp = df.select(col(idCol).as("id"), simHash(col(textCol)).as("fp"))

    val chunkCols = (0 until chunks).map { c =>
      concat(
        lit(s"$c:"),
        shiftright(col("fp"), c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).cast("string"))
    }
    // hot-bucket guard: aggregate + anti-join (map-side partial agg), not
    // a count window that buffers the hot bucket in one task
    val banded = dropHotBuckets(
      withFp.select(
        col("id"),
        col("fp"),
        explode(array(chunkCols.toIndexedSeq: _*)).as("chunk")),
      "chunk", maxBucket)

    val a = banded.select(col("chunk"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = banded.select(col("chunk"), col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", hamming(col("fp_a"), col("fp_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** md5-keyed SimHash fingerprint as `[fp_hi, fp_lo]` 32-bit halves —
    * the cross-engine-auditable sibling of [[simHash]]: md5 is
    * reproducible in any engine, so the fingerprint (and the near-dup
    * pairs derived from it) carries a DuckDB oracle, which xxhash64
    * cannot. Native one-pass kernel (SimHashMd5Expr); value-identical to
    * [[simHashMd5Hof]], which the spec pins.
    */
  def simHashMd5(text: Column): Column =
    graft.functions.SimHashMd5Expr(text)

  /** Reference formulation of [[simHashMd5]] with built-in functions only
    * (64 per-bit passes over `conv(substring(md5(tok),…),16,10)` hashes) —
    * kept as the semantic spec; the same arithmetic is what the DuckDB
    * oracle replays.
    */
  def simHashMd5Hof(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    def half(start: Int): Column =
      transform(toks, t => conv(substring(md5(t), start, 8), 16, 10).cast("long"))
    def vote(hashes: Column): Column = {
      val total = size(hashes)
      (0 until 32).map { j =>
        val set = size(filter(hashes, h => (shiftright(h, j) % 2) =!= 0))
        when(set * 2 >= total && total > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    array(vote(half(1)), vote(half(9)))
  }

  /** The persistable SimHash fingerprint grain: (id, fp_hi, fp_lo) —
    * what a daily-ingest pipeline stores per document so history text
    * is never re-fingerprinted ([[simHashMd5NearDupsVsStore]], the
    * q134 signature-store discipline at simhash granularity).
    */
  def simHashMd5Fingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"), simHashMd5(col(textCol)).as("fp"))
      .select(
        col("id"),
        element_at(col("fp"), 1).as("fp_hi"),
        element_at(col("fp"), 2).as("fp_lo"))

  /** SimHash near-dup pairs over the md5-keyed fingerprint — same
    * pigeonhole banding as [[simHashNearDups]] (split 64 bits into
    * maxDist+1 chunks; any pair within maxDist agrees exactly on ≥1
    * chunk), but every step is replayable in an external engine, so the
    * result is oracle-checkable end to end (q148). Exact given no
    * hot-bucket drop: set `maxBucket` above the corpus row count when
    * auditing.
    */
  def simHashMd5NearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    val chunks = maxDist + 1
    val chunkBits = 64 / chunks
    val withFp = simHashMd5Fingerprints(df, idCol, textCol)
    // both halves are < 2^32, so hi<<32 | lo reassembles the 64-bit
    // pattern losslessly (sign bit only matters past bit 63 of hi)
    val full = shiftleft(col("fp_hi"), 32).bitwiseOR(col("fp_lo"))

    val chunkCols = (0 until chunks).map { c =>
      concat(
        lit(s"$c:"),
        shiftrightunsigned(full, c * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).cast("string"))
    }
    val banded = dropHotBuckets(
      withFp.select(
        col("id"),
        col("fp_hi"),
        col("fp_lo"),
        explode(array(chunkCols.toIndexedSeq: _*)).as("chunk")),
      "chunk", maxBucket)

    val a = banded.select(col("chunk"), col("id").as("id_a"),
      col("fp_hi").as("hi_a"), col("fp_lo").as("lo_a"))
    val b = banded.select(col("chunk"), col("id").as("id_b"),
      col("fp_hi").as("hi_b"), col("fp_lo").as("lo_b"))
    a.join(b, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Batch-touching SimHash near-dup pairs from PRE-COMPUTED
    * fingerprint frames ([[simHashMd5Fingerprints]] grain): pairs
    * (id_a, id_b, dist) with id_b in the BATCH and id_a anywhere in
    * store ∪ batch — history text is never re-fingerprinted, history-
    * history pairs never re-materialize (the q134/q182 incremental-
    * linkage contract, simhash flavor).
    *
    * PRECONDITION — monotone ids (the StreamingNovelty argument):
    * every batch id must exceed every store id, so "pairs with a
    * smaller id" is exactly "pairs with history or earlier-in-batch"
    * and dropping each batch pair's id_b replays the full-corpus
    * min-id-survives rule: run-over-batches ≡ one full
    * [[simHashMd5NearDups]] pass, spec-pinned.
    */
  def simHashMd5NearDupsVsStore(
      batchFps: DataFrame,
      storeFps: DataFrame,
      maxDist: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    val chunks = maxDist + 1
    val chunkBits = 64 / chunks
    def banded(fps: DataFrame): DataFrame = {
      val full = shiftleft(col("fp_hi"), 32).bitwiseOR(col("fp_lo"))
      val chunkCols = (0 until chunks).map { c =>
        concat(
          lit(s"$c:"),
          shiftrightunsigned(full, c * chunkBits)
            .bitwiseAND(lit((1L << chunkBits) - 1)).cast("string"))
      }
      fps.select(col("id"), col("fp_hi"), col("fp_lo"),
        explode(array(chunkCols.toIndexedSeq: _*)).as("chunk"))
    }
    // hot-bucket policy must see the COMBINED bucket population (the
    // full pass's view) or the cap would differ between the two runs
    val all = Barrier(dropHotBuckets(
      banded(storeFps.unionByName(batchFps)), "chunk", maxBucket),
      "Dedup.simHashMd5NearDupsVsStore") // both join sides read it
    val b = all.join(
      batchFps.select(col("id")), Seq("id"), "left_semi")
    all.select(col("chunk"), col("id").as("id_a"),
        col("fp_hi").as("hi_a"), col("fp_lo").as("lo_a"))
      .join(b.select(col("chunk"), col("id").as("id_b"),
        col("fp_hi").as("hi_b"), col("fp_lo").as("lo_b")), Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Word n-gram Jaccard similarity of two text columns (set semantics). */
  /** Split-leakage audit: near-dup pairs whose members landed in
    * DIFFERENT splits — the contamination a group-level split
    * ([[graft.operators.ScaleOps.splitByGroup]]) cannot prevent when
    * near-identical text exists ACROSS groups (mirrored articles on
    * two domains, syndicated boilerplate). Empty output = the split is
    * leak-free under the pair set; non-empty rows name exactly which
    * eval docs are compromised by which training docs.
    *
    * Compositional: `pairs` is any (id_a, id_b, …) frame — MinHash,
    * SimHash, or embedding near-dups — so the audit inherits the
    * producing operator's recall; `assignments` is (id, split). Two
    * broadcast-sized joins (the assignment frame is id → split, tiny
    * next to the corpus) keep the audit map-side at any corpus scale.
    */
  def splitLeakage(
      pairs: DataFrame,
      assignments: DataFrame,
      idCol: String = "doc_id",
      splitCol: String = "split"): DataFrame = {
    val a = assignments.select(col(idCol).as("id_a"), col(splitCol).as("split_a"))
    val b = assignments.select(col(idCol).as("id_b"), col(splitCol).as("split_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(pairs.columns.map(col) ++ Seq(col("split_a"), col("split_b")): _*)
  }

  /** Leakage-FREE split construction — the prevention twin of the
    * [[splitLeakage]] audit: assign every near-dup CLUSTER (not every
    * row) to one split, so two near-identical documents can never land
    * on opposite sides of a train/eval boundary. `pairs` is any
    * (id_a, id_b) near-dup frame (MinHash, SimHash, embedding — the
    * audit's compositional contract); rows untouched by any pair are
    * their own singleton cluster. The cluster representative (component
    * minimum id from [[nearDupClusters]]) becomes the split-hash key,
    * reusing `ScaleOps.splitByGroup`'s md5 hex-prefix boundaries — the
    * assignment is engine-replayable given the pair set.
    *
    * Scale shape: the closure runs over the PAIR list (collision-rate
    * bounded, far smaller than the corpus); the corpus itself sees one
    * left join against the (id, cluster) map plus a map-only hash —
    * no window, no corpus shuffle beyond that join.
    */
  def splitByCluster(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    val clusters = nearDupClusters(pairs)
      .select(col("id").as(idCol), col("cluster"))
    val withRep = df.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("cluster"), col(idCol).cast("long")))
      .drop("cluster")
    graft.operators.ScaleOps.splitByGroup(withRep, "cluster_rep", splits)
  }

  /** Incremental advance of [[splitByCluster]]'s assignment store —
    * split STABILITY under corpus growth: an already-assigned document
    * never moves splits (a doc that served in an eval set must stay
    * eval forever, or every benchmark number before the move is
    * contaminated), while new documents join cluster-consistently.
    *
    * `store` is (idCol, cluster_rep, split) — [[splitByCluster]]'s
    * output projection; `pairs` are the batch-touching near-dup pairs
    * only (batch↔store ∪ batch↔batch — store-internal pairs never
    * re-materialize, the `linkPairsIncremental` contract). The pair
    * endpoints map to their current ENTITY (store rows → cluster_rep,
    * batch rows → own id) and the entity-level graph — orders of
    * magnitude smaller than the row graph — closes transitively
    * (the `goldenRecordAdvance` shape).
    *
    * Per merged component:
    *  - store members KEEP their split unconditionally (stability);
    *    their `cluster_rep` re-keys to the component canon so future
    *    advances see one entity;
    *  - batch members inherit the component's store split when the
    *    component touches EXACTLY ONE store split;
    *  - a batch-only component hashes its canon through
    *    `ScaleOps.splitByGroup`'s boundaries — bit-identical to what
    *    [[splitByCluster]] would assign from scratch;
    *  - a component BRIDGING store clusters of different splits is a
    *    CONFLICT: stability forbids re-assigning either side, so its
    *    batch members get a NULL split (quarantine — the caller must
    *    not train on them) and the component is reported in the
    *    returned `conflicts` frame (canon, n_splits).
    *
    * Returns (advancedStore, conflicts). Entity canon = the component's
    * minimum id: store reps are their components' minima, so the
    * entity-graph minimum equals the row-graph minimum and repeated
    * advances agree with one batch closure over the union.
    */
  def splitByClusterIncremental(
      store: DataFrame,
      batch: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): (DataFrame, DataFrame) = {
    // replay guard: an already-assigned id re-arriving in a batch is the
    // store's row, not a new document — advancing twice with the same
    // batch must be a no-op (the q208 incremental discipline)
    val newBatch = batch.join(store.select(col(idCol)), Seq(idCol), "left_anti")
    val idToEnt = store.select(col(idCol).cast("long").as("__id"),
        col("cluster_rep").cast("long").as("__e"))
      .unionByName(newBatch.select(col(idCol).cast("long").as("__id"),
        col(idCol).cast("long").as("__e")))
    val entPairs = entityPairGraph(pairs, idToEnt)
    // tiny entity graph; consumed by the store re-key, the batch canon,
    // and the inheritance aggregate — share the closure's blocks
    val entToCanon = Barrier(nearDupClusters(entPairs)
      .select(col("id").as("__e"), col("cluster").as("__canon")), "Dedup.splitByClusterIncremental")
    val storeAdv = store
      .join(entToCanon, store("cluster_rep") === col("__e"), "left")
      .withColumn("cluster_rep",
        coalesce(col("__canon"), col("cluster_rep").cast("long")))
      .drop("__e", "__canon")
    // splits present per canonical component, over the ADVANCED store
    // (one row per old cluster × split — bounded by the store's cluster
    // count, not its row count, once distinct)
    val canonSplits = storeAdv
      .select(col("cluster_rep").as("__c"), col("split")).distinct()
      .groupBy("__c")
      .agg(countDistinct("split").as("__n"), min("split").as("__s"))
    val batchCanon = newBatch
      .join(entToCanon, newBatch(idCol).cast("long") === col("__e"), "left")
      .withColumn("cluster_rep", coalesce(col("__canon"), col(idCol).cast("long")))
      .drop("__e", "__canon")
    val batchAssigned = graft.operators.ScaleOps
      .splitByGroup(batchCanon, "cluster_rep", splits)
      .join(canonSplits, col("cluster_rep") === col("__c"), "left")
      .withColumn("split",
        when(col("__n").isNull, col("split"))     // batch-only component
          .when(col("__n") === 1, col("__s"))     // inherit the one store split
          .otherwise(lit(null).cast("string")))   // bridging conflict
      .drop("__c", "__n", "__s")
    val conflicts = canonSplits.filter(col("__n") > 1)
      .select(col("__c").as("cluster_rep"), col("__n").as("n_splits"))
    (storeAdv.unionByName(batchAssigned.select(storeAdv.columns.map(col): _*)),
      conflicts)
  }

  /** Contract row-level pairs to their ENTITY graph before closure:
    * endpoints map through `idToEnt` (__id, __e), edges canonicalize as
    * (least, greatest), self-loops drop, duplicates collapse. Shared by
    * [[splitByClusterIncremental]] and
    * [[graft.operators.EntityResolution.goldenRecordAdvance]]: the
    * iterative closure then runs over ENTITIES — bounded by the number
    * of clusters the batch touches, not by how many rows those clusters
    * contain — which is what keeps the advance's fixpoint stage
    * independent of corpus size (contraction pinned in PlanShapeSpec).
    */
  private[graft] def entityPairGraph(pairs: DataFrame, idToEnt: DataFrame): DataFrame =
    pairs
      .join(idToEnt.select(col("__id").as("id_a"), col("__e").as("ent_a")), Seq("id_a"))
      .join(idToEnt.select(col("__id").as("id_b"), col("__e").as("ent_b")), Seq("id_b"))
      .select(
        least(col("ent_a"), col("ent_b")).as("id_a"),
        greatest(col("ent_a"), col("ent_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * w-word shingles whose FIRST occurrence (by minimum id) is the
    * document itself — the memorization-risk / contribution profile of
    * a corpus. novelty ≈ 1 means the document adds genuinely new text;
    * novelty ≈ 0 means everything in it already exists earlier, even
    * when no single document matches it (the cross-document remix that
    * whole-doc and near-dup dedup both miss). Curation uses it to rank
    * what to keep when trimming to a token budget, and as the
    * before/after metric for span-level dedup (q198/q209).
    *
    * Deterministic tie rule: "first" = smallest id — the exact-dedup
    * keep-min convention, so repeated runs and the oracle agree.
    *
    * Scale shape: shingles hash to 64-bit map-side
    * ([[shingleHashes]] — the native kernel) and the heavy exploded
    * frame is consumed by exactly ONE aggregation chain: per-hash
    * min-id (map-side partial), then a per-WINNER count — the novel
    * count of doc d is |{hashes whose min id is d}|, so no join back
    * onto the shingle stream is ever needed (the first formulation
    * re-joined the 50M-row exploded frame and measured exp 0.95 at the
    * sf10 rehearsal; this one moves each shingle once). Per-doc totals
    * are map-only (`size` of the shingle array). Novelty counts are
    * hash-invariant (counts of DISTINCT strings), so the DuckDB oracle
    * replays on the shingle STRINGS — the q81 recall argument applied
    * to counting.
    */
  def ngramNovelty(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame = {
    val totals = Fence(df
      .select(col(idCol),
        size(shingleHashes(col(textCol), w)).cast("long").as("n_shingles")), "Dedup.ngramNovelty")
      .filter(col("n_shingles") > 0)
    val novel = df
      .select(col(idCol), explode(shingleHashes(col(textCol), w)).as("__h"))
      .groupBy("__h").agg(min(col(idCol)).as("__first"))
      .groupBy(col("__first").as(idCol))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  /** Persisted state for [[ngramNoveltyIncremental]]: one (hash,
    * first_id) row per distinct shingle — the smallest owner id seen so
    * far. 16 bytes a row, and MERGEABLE by construction: min is
    * associative/commutative, so the store of a union is the per-hash
    * min of the sub-stores, exactly (not approximately).
    */
  def noveltyStore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8): DataFrame =
    df.select(col(idCol), explode(shingleHashes(col(textCol), w)).as("__h"))
      .groupBy("__h").agg(min(col(idCol)).as("__first"))

  /** Daily-ingest advance of [[ngramNovelty]]: score the BATCH against
    * history ∪ batch without re-reading history — history is touched
    * only through its (hash, first_id) store rows. Merged minima are
    * exact (see [[noveltyStore]]), so batch novelty here ==
    * [[ngramNovelty]] over the full corpus side-filtered to the batch
    * (spec-pinned; q237 makes it driver-gated), and replaying the same
    * batch is a no-op on the store (min-merge is idempotent).
    *
    * Returns (newStore, batchNovelty). Same one-chain shape as the
    * batch operator: each batch shingle moves once, the winner count
    * semi-joins to batch ids, totals stay map-only.
    *
    * PRECONDITION — monotone ids: every batch id must be strictly
    * greater than every id already in the store. "First owner" is
    * encoded as min(id), so min-merge equals arrival order ONLY under
    * monotone ids; a batch id SMALLER than a historical owner would
    * silently steal first-ownership (the new doc gets novelty credit
    * for text history already had, and the historical doc's committed
    * score goes stale — the ledger then double-credits those shingles).
    * Natural ingest ids (timestamps, sequence numbers) satisfy this for
    * free; pass `checkMonotoneIds = true` to enforce it with one small
    * two-sided aggregate (an extra job — off by default because the
    * check reads the whole store's __first column).
    */
  def ngramNoveltyIncremental(
      store: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8,
      checkMonotoneIds: Boolean = false,
      batchStore: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    if (checkMonotoneIds) {
      // Engine-side comparison (id type agnostic); 1×1 frames, one job.
      val viol = store.agg(max(col("__first")).as("__hi"))
        .crossJoin(batch.agg(min(col(idCol)).as("__lo")))
        .filter(col("__hi") >= col("__lo"))
        .head(1)
      if (viol.nonEmpty)
        throw new IllegalArgumentException(
          s"ngramNoveltyIncremental: batch min id ${viol.head.get(1)} <= " +
            s"stored max first-owner ${viol.head.get(0)} — ids must be " +
            "monotone across batches or min-merge rewrites history ownership")
    }
    // a caller that also needs the batch's (hash, min-id) frame for its
    // own store maintenance (StreamingNovelty's touched-hash slice)
    // passes it in pre-materialized, so the batch is shingled once, not
    // once here and again for the slice
    val merged = Barrier(store
      .unionByName(batchStore.getOrElse(noveltyStore(batch, idCol, textCol, w)))
      .groupBy("__h").agg(min(col("__first")).as("__first")),
      "Dedup.ngramNoveltyIncremental") // feeds the persisted store AND the winner count
    val batchIds = batch.select(col(idCol))
    val novel = merged
      .groupBy(col("__first").as(idCol))
      .agg(count(lit(1)).as("n_novel"))
      .join(batchIds, Seq(idCol), "left_semi")
    val totals = Fence(batch
      .select(col(idCol),
        size(shingleHashes(col(textCol), w)).cast("long").as("n_shingles")),
      "Dedup.ngramNoveltyIncremental")
      .filter(col("n_shingles") > 0)
    val result = totals.join(novel, Seq(idCol), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
    (merged, result)
  }

  /** Cross-source duplication ATTRIBUTION: the near-dup pair mass
    * aggregated to an unordered source×source matrix — which pipelines
    * copy from which (mirror detection, license-laundering audits, and
    * the "should source X even be ingested" call). Diagonal rows are
    * within-source duplication. Pairs come from [[minHashNearDups]]
    * under the caller's parameterization; the per-cell mean Jaccard
    * sums the 6dp-rounded pair values in DECIMAL so the average is
    * engine-exact (the q153 discipline).
    *
    * Scale: the pair list is the near-dup operator's output (id/hash
    * shuffles only); attribution adds two id-keyed joins against the
    * (id, source) projection and one |sources|²-bounded aggregate.
    */
  def crossSourceDupMatrix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1024): DataFrame = {
    val pairs = minHashNearDups(df, idCol, textCol, k, bands, w, threshold,
      maxBucket = maxBucket)
    val src = df.select(col(idCol), col(groupCol))
    pairs
      .join(src.select(col(idCol).as("id_a"), col(groupCol).as("__sa")), Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"), col(groupCol).as("__sb")), Seq("id_b"))
      .groupBy(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(
          sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
            count(lit(1)).cast("double"), 4).as("avg_jaccard"))
  }

  /** Containment DIRECTION for near-dup pairs: is the pair a mutual
    * duplicate, or does one document CONTAIN the other (a superset page
    * vs its excerpt, an article vs its quoted fragment)? Doc-level
    * survivor policies that ignore direction keep the excerpt and drop
    * the superset half the time; this classifies each pair and
    * recommends the drop side.
    *
    * The intersection size is RECOVERED from the pair's (rounded)
    * Jaccard and the two distinct-shingle counts — |A∩B| =
    * J·(|A|+|B|)/(1+J) — so no shingle array is ever re-attached: the
    * operator is the pair list plus one id-keyed join against the
    * (id, count) projection. With J rounded at 6dp the recovered value
    * sits within 5e-7·(|A|+|B|) of the true integer, so the round-trip
    * is EXACT for documents under ~10⁵ distinct shingles (far beyond
    * web-document size at w=3) and the classification thresholds are
    * insensitive to the residual at any size.
    *
    * Output per pair: counts, jaccard, both containments (4dp),
    * `relation` ∈ duplicate | a_in_b | b_in_a | overlap, and `drop_id` —
    * duplicates drop the larger id (keep-first), containments drop the
    * contained side, plain overlaps drop nothing (null).
    *
    * Scope (honest limit): the pair list comes from MinHash banding at
    * `threshold`, so only containments whose JACCARD clears it are
    * classified — at t=0.5 that is "the contained doc is at least ~half
    * the superset" (J = i/(a+b−i)). A small excerpt inside a much larger
    * page has low Jaccard BY DESIGN of doc-level near-dup; finding those
    * is the winnowing passage family's job ([[TextAnalysis.winnowNearDups]],
    * q172/q173), not a doc-level pair scan.
    */
  def nearDupContainment(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Int = 1024,
      containAt: Double = 0.9): DataFrame = {
    val pairs = minHashNearDups(df, idCol, textCol, k, bands, w, threshold,
      maxBucket = maxBucket)
    val sizes = df.select(col(idCol),
      size(shingleHashes(col(textCol), w)).cast("long").as("__n"))
    val withN = pairs
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("n_b")), Seq("id_b"))
    val inter = round(
      col("jaccard") * (col("n_a") + col("n_b")).cast("double") /
        (lit(1.0) + col("jaccard")), 0).cast("long")
    val contA = round(col("__i").cast("double") / col("n_a").cast("double"), 4)
    val contB = round(col("__i").cast("double") / col("n_b").cast("double"), 4)
    withN
      .withColumn("__i", inter)
      .withColumn("containment_a", contA)
      .withColumn("containment_b", contB)
      .withColumn("relation",
        when(col("containment_a") >= containAt && col("containment_b") >= containAt,
          "duplicate")
          .when(col("containment_a") >= containAt, "a_in_b")
          .when(col("containment_b") >= containAt, "b_in_a")
          .otherwise("overlap"))
      .withColumn("drop_id",
        when(col("relation") === "duplicate", greatest(col("id_a"), col("id_b")))
          .when(col("relation") === "a_in_b", col("id_a"))
          .when(col("relation") === "b_in_a", col("id_b"))
          .otherwise(lit(null).cast("long")))
      .select("id_a", "id_b", "n_a", "n_b", "jaccard",
        "containment_a", "containment_b", "relation", "drop_id")
  }

  /** Dedup SAVINGS report: what doc-level keep-first dedup would
    * actually delete, in documents and characters, per source — the
    * number that turns the cluster-size histogram's "is dedup worth
    * it" hint into a budgetable answer ("source X is 38% duplicated
    * chars; dropping them saves N tokens of training budget").
    *
    * Keep-first = the cluster's min id, which IS the closure label from
    * [[nearDupClusters]] — so "dropped" is the map-only predicate
    * id != cluster, no survivor join needed. Scale: the pair producer's
    * cost + the closure + one per-source aggregate; the corpus frame
    * contributes only (id, group, chars)-width rows.
    */
  def dedupSavings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      charsCol: String,
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      threshold: Double = 0.8,
      maxBucket: Int = 1024): DataFrame = {
    val pairs = minHashNearDups(df, idCol, textCol, k, bands, w, threshold,
      maxBucket = maxBucket)
    val labels = nearDupClusters(pairs).withColumnRenamed("id", idCol)
    val lab = df.select(col(idCol), col(groupCol), col(charsCol).cast("long").as("__ch"))
      .join(labels, Seq(idCol), "left")
      .withColumn("__cluster", coalesce(col("cluster"), col(idCol)))
    val dropped = col(idCol) =!= col("__cluster")
    lab.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("docs_total"),
        sum(when(dropped, 1L).otherwise(0L)).as("docs_dropped"),
        sum(col("__ch")).as("chars_total"),
        sum(when(dropped, col("__ch")).otherwise(0L)).as("chars_dropped"))
      .withColumn("drop_pct",
        round(col("chars_dropped").cast("double") /
          greatest(col("chars_total"), lit(1L)).cast("double"), 4))
  }

  /** Duplicate-cluster size HISTOGRAM: how duplication mass distributes
    * across cluster sizes — the standard dedup-paper diagnostic (a few
    * giant boilerplate clusters vs a long tail of doubles decide
    * whether span-level or doc-level dedup pays). `totalDocs` (the
    * corpus size) adds the size-1 row so shares sum to 1: ids never
    * appearing in a pair are singletons by definition.
    *
    * Output: (cluster_size, n_clusters, n_docs) ascending — exact
    * closure ([[nearDupClusters]]) so the histogram is replayable.
    */
  def dupClusterHistogram(pairs: DataFrame, totalDocs: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sizes = nearDupClusters(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
    val clustered = sizes.agg(sum("cluster_size")).head()
    val inClusters = if (clustered.isNullAt(0)) 0L else clustered.getLong(0)
    val singletons = totalDocs - inClusters
    // A totalDocs smaller than the clustered-doc count is an inconsistent
    // input (pairs referencing ids outside the claimed corpus); fail loudly
    // rather than letting the n_clusters > 0 filter silently drop a
    // negative size-1 row and emit a histogram whose doc mass != corpus.
    require(singletons >= 0,
      s"dupClusterHistogram: totalDocs=$totalDocs is smaller than the " +
        s"$inClusters docs appearing in clusters — the pair list references " +
        "ids outside the claimed corpus")
    val single = Seq((1L, singletons)).toDF("cluster_size", "n_clusters")
      .filter(col("n_clusters") > 0)
    hist.unionByName(single)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
  }

  /** Dedup THRESHOLD-SENSITIVITY sweep: for each candidate Jaccard
    * threshold, the surviving pair count, the distinct documents
    * touched by any surviving pair (the upper bound on what keep-first
    * dedup can remove), and the decimal-exact mean Jaccard of the
    * retained pairs — the budget report behind "what does raising the
    * threshold from 0.8 to 0.7 actually buy" that every dedup rollout
    * wants BEFORE re-running the pipeline at a new setting.
    *
    * Consistency contract: pairs are verified EXACT Jaccards from ONE
    * [[minHashNearDups]] pass at min(thresholds) (banding is
    * threshold-independent; the verify filter is the only gate), so
    * the row for threshold T is exactly the pair set the operator
    * itself would emit at T — the sweep is a free byproduct of one
    * pass, never |grid| re-runs of the pipeline.
    *
    * Scale: the pair frame (id/jaccard width, checkpointed once —
    * both consumers read it) × |grid| is the largest frame; the
    * distinct-doc count shuffles (threshold, id) pairs. Thresholds
    * with zero survivors still get a row (the grid is the left side).
    */
  def thresholdSensitivity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholds: Seq[Double],
      k: Int = 128,
      bands: Int = 32,
      w: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t > 0.0 && t <= 1.0),
      "thresholds must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = Barrier(minHashNearDups(df, idCol, textCol, k, bands, w,
      threshold = thresholds.min, maxBucket = maxBucket),
      "Dedup.thresholdSensitivity") // pair stats + doc counts both read it
    val byT = pairs
      .select(col("id_a"), col("id_b"), col("jaccard"),
        explode(array(thresholds.sorted.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val stats = byT.groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard").cast("decimal(18,6)")).as("__js"))
    val docs = byT
      .select(col("threshold"), explode(array(col("id_a"), col("id_b"))).as("__id"))
      .distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs_in_pairs"))
    val grid = thresholds.sorted.toDF("threshold")
    grid
      .join(stats, Seq("threshold"), "left")
      .join(docs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_in_pairs"), lit(0L)).as("n_docs_in_pairs"),
        when(coalesce(col("n_pairs"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(round(col("__js").cast("double") / col("n_pairs").cast("double"), 6))
          .as("mean_jaccard"))
  }

  /** Exact Jaccard |a∩b| / |a∪b| of two DISTINCT hash arrays (shingle
    * sets), 1.0 when both are empty. Unrounded: each caller applies the
    * rounding its output contract needs.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, 1.0).otherwise(inter / union)
  }

  // ----------------------------------------- exact prefix-filtered join

  /** Candidate pairs for [[jaccardPrefixJoin]]: ids of documents whose
    * shingle-set PREFIXES (rare-first canonical order) share at least
    * one hash, with the Jaccard length filter t·sa ≤ sb ≤ sa/t applied.
    * Exposed for the pruning-effectiveness spec; `toks` is the exploded
    * ((id, tok)) shingle stream, `sizes` its per-id set sizes.
    */
  private[graft] def jaccardPrefixCandidates(
      toks: DataFrame,
      sizes: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = toks.groupBy("__tok").agg(count(lit(1)).as("__df"))
    val posW = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df").asc, col("__tok").asc)
    // Prefix length s − floor(t·s) + 1 is one token LONGER than the
    // tight s − ceil(t·s) + 1 bound, so any float rounding in t·s can
    // only lengthen a prefix — exactness never depends on it.
    val prefixes = toks.join(dfreq, "__tok")
      .withColumn("__pos", row_number().over(posW))
      .join(sizes, "__id")
      .filter(col("__pos") <= col("__sz") - floor(lit(threshold) * col("__sz")) + 1)
      .select(col("__id"), col("__tok"), col("__pos"), col("__sz"))
    val a = prefixes.select(col("__id").as("id_a"), col("__tok"),
      col("__pos").as("__pa"), col("__sz").as("__sza"))
    val b = prefixes.select(col("__id").as("id_b"), col("__tok"),
      col("__pos").as("__pb"), col("__sz").as("__szb"))
    // Both filters only PRUNE (the verify stage is exact), so every
    // float bound gets 1e-9 of slack: rounding may admit a doomed
    // candidate but can never drop a qualifying one.
    //
    // Positional filter (PPJoin): over a pair's prefix-shared tokens,
    // the row minimizing __pa also minimizes __pb (common tokens sort
    // identically in both sets under the global canonical order), and
    // any OTHER common token sits after both positions — if it preceded
    // (i, j) in either set it would precede in both AND land inside
    // both prefixes, contradicting (i, j) being first. So the overlap
    // is ≤ 1 + min(sa − i, sb − j), and pairs whose bound can't reach
    // the required α = t/(1+t)·(sa+sb) are pruned before verification.
    val alpha = lit(threshold) / (lit(1.0) + lit(threshold)) *
      (col("__sza") + col("__szb")) - 1e-9
    a.join(b, Seq("__tok"))
      .filter(col("id_a") < col("id_b") &&
        col("__szb") >= lit(threshold) * col("__sza") - 1e-9 &&
        col("__szb") <= col("__sza") / lit(threshold) + 1e-9)
      .groupBy("id_a", "id_b")
      .agg(min("__pa").as("__i"), min("__pb").as("__j"),
        first("__sza").as("__sza"), first("__szb").as("__szb"))
      .filter(lit(1) +
        least(col("__sza") - col("__i"), col("__szb") - col("__j")) >= alpha)
      .select("id_a", "id_b")
  }

  /** Exact Jaccard similarity join via AllPairs/PPJoin-style prefix
    * filtering (Bayardo et al. WWW'07, Xiao et al. WWW'08): emits every
    * pair of documents whose w-shingle-set Jaccard is ≥ `threshold`,
    * with its exact score — the SAME output as the exhaustive all-pairs
    * join (q83), but with the candidate set pruned LOSSLESSLY, so no
    * O(N²) stage exists and no `boundedExhaustive` guard is needed.
    *
    * Mechanics: shingle hashes are put in a global rare-first canonical
    * order (corpus document frequency asc, hash asc). A set of size s
    * only needs its first s − ⌈t·s⌉ + 1 tokens probed: if two sets share
    * NO prefix token, every shared token lies in both suffixes, so the
    * overlap is < t·max(sa, sb) ≤ |a ∩ b| required by J ≥ t —
    * contradiction. Candidates are prefix-sharing pairs (plus the
    * t·sa ≤ sb ≤ sa/t length filter); each is then verified EXACTLY by
    * counting shared hashes on the postings lists, never by re-reading
    * text.
    *
    * Scale shape: after the map-side shingling, every shuffle carries
    * (hash, id, size) or id-pair rows — text never crosses an exchange
    * (plan-pinned). Rare-first ordering is the built-in skew guard:
    * corpus-hot shingles (boilerplate) sort to the END of each set and
    * enter a prefix only when a document has nothing rarer, so the hot
    * postings lists stay out of the candidate join. Complements
    * [[minHashNearDups]]: banding trades recall for candidate volume,
    * this path keeps recall 1 by paying exact verification — the right
    * tool when a legal/contractual dedup needs provably complete pairs.
    *
    * Reference scope: the reference dedups exact duplicate rows only
    * (`drop_duplicates`, scripts/.../pyspark.py:61); this extends that
    * to near-duplicate pairs under the north-star charter.
    */
  def jaccardPrefixJoin(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      w: Int = 3,
      roundScale: Int = 6): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    // Exploded once, read four times (dfreq, prefix positions, both
    // verify sides) — executor-local blocks instead of recomputing the
    // shingling per branch.
    val toks = Barrier(docs.select(
      col(idCol).as("__id"),
      explode(shingleHashes(col(textCol), w)).as("__tok")), "Dedup.jaccardPrefixJoin")
    val sizes = toks.groupBy("__id").agg(count(lit(1)).as("__sz"))
    // The emitted filter is round(jac, roundScale) >= threshold, which
    // PROMOTES true Jaccards in [t − 0.5·10^−scale, t) — pairs the
    // t-threshold prefix filter is entitled to prune. Pruning at the
    // promote-window floor keeps output == exhaustive-then-round at any
    // corpus/document size, not just while unions stay under 10^scale.
    val tPrune = threshold - 0.5 * math.pow(10, -roundScale)
    val cand = jaccardPrefixCandidates(toks, sizes, tPrune)
    // Exact verification: one array_intersect per surviving candidate
    // against the id-keyed set store — candidate volume after the
    // positional filter is a small multiple of the true pair count, so
    // carrying two token arrays per pair beats exploding each pair back
    // into ~|set| postings rows (the first formulation; 3× slower at
    // sf0.1).
    val sets = toks.groupBy("__id").agg(collect_list(col("__tok")).as("__set"))
    cand
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__seta")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__setb")), "id_b")
      .withColumn("jac", round(jaccard(col("__seta"), col("__setb")), roundScale))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup pairs: cosine ≥ threshold, candidates via
    * random-hyperplane LSH buckets (exact cosine verified on candidates).
    * Vectors whose signatures agree on all `nPlanes` bits of ANY of the
    * `nTables` independently-seeded tables land in a shared bucket — the
    * same AND-of-bits / OR-of-tables structure as MinHash banding. For a
    * pair at angle θ the per-table collision probability is
    * (1 − θ/π)^nPlanes and the miss probability is
    * (1 − (1 − θ/π)^nPlanes)^nTables, so recall is tuned by nTables
    * WITHOUT growing the per-table buckets (which is what bounds the
    * quadratic candidate term). SIZE nPlanes ≈ log₂(N / target_bucket):
    * bucket count 2^nPlanes must grow with the corpus or candidates
    * explode quadratically — measured in SCALE.md (100k vectors:
    * 8 planes = 35 s, 16 planes = 2.3 s).
    *
    * `roundScale` is the decimal rounding applied ONCE to the raw cosine
    * in the output — callers matching an external oracle's rounding pass
    * it here instead of re-rounding the returned column, because
    * round(round(x, 6), 4) != round(x, 4) in a narrow window around
    * *.xxxx4999995 boundaries.
    *
    * `corpusSizeHint`, when set, OVERRIDES nPlanes with the documented
    * sizing rule [[Similarity.nPlanesFor]] (≈ log₂(N / target bucket))
    * — pass the (approximate) corpus row count and the bucket count
    * scales with it instead of being hand-tuned.
    */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nPlanes: Int = 8,
      nTables: Int = 1,
      seed: Long = 42L,
      maxBucket: Int = 4096,
      roundScale: Int = 6,
      corpusSizeHint: Option[Long] = None): DataFrame = {
    require(nTables >= 1, s"nTables=$nTables must be >= 1")
    val planesPerTable = corpusSizeHint.map(Similarity.nPlanesFor(_)).getOrElse(nPlanes)
    // one signature per table, each from its own seeded plane set; the
    // table index is prefixed so buckets never collide across tables
    val sigCols = (0 until nTables).map { t =>
      val planes = VectorFunctions.randomPlanes(dim, planesPerTable, seed + t)
      concat(
        lit(s"$t:"),
        VectorFunctions.hyperplaneSignature(col(vecCol), planes).cast("string"))
    }
    val withSig = Barrier(df.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      array(sigCols.toIndexedSeq: _*).as("sigs")), "Dedup.embeddingNearDups")

    // id-only bucket self-join (embedding vectors must not ride the
    // bucket shuffle — they are re-attached per candidate pair below).
    // Hot-bucket cap bounds the quadratic term via aggregate + anti-join
    // (map-side partial agg, never buffers the hot bucket in one task);
    // the default is higher than minhash's because dense clusters are the
    // expected signal here.
    val bucketed = dropHotBuckets(
      withSig.select(col("id"), explode(col("sigs")).as("sig")),
      "sig", maxBucket)
    val a = bucketed.select(col("sig"), col("id").as("id_a"))
    val b = bucketed.select(col("sig"), col("id").as("id_b"))
    val pairIds = a.join(b, Seq("sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val vecs = withSig.select(col("id"), col("v"))
    Fence(pairIds
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), VectorFunctions.cosine(col("v_a"), col("v_b")).as("cos")),
      "Dedup.embeddingNearDups")
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), roundScale).as("cos"))
  }

  // ------------------------------------------------------- semantic dedup

  /** SemDeDup-style candidate pairs: assign every vector to its nearest
    * centroid cell (the k-means partition IS the blocking function), then
    * compare pairs ONLY within a cell. Complements [[embeddingNearDups]]'s
    * hyperplane-LSH blocking: cells adapt to the data's density (a
    * quantizer trained on the corpus) where hyperplanes are oblivious, and
    * the same cell assignment is reusable as the IVF search index
    * ([[Similarity.ivfIndex]]) — one clustering pays for both dedup and
    * retrieval. The trade is recall at cell BOUNDARIES: a pair split
    * across cells is never compared (LSH's multi-table OR has no analogue
    * here), so production sizing keeps C modest relative to the dup scale.
    *
    * Output: (cell, id_a, id_b, cos) with id_a < id_b and
    * round(cos, roundScale) >= threshold; with probes > 1 a pair can
    * collide in several cells — the MINIMUM colliding cell is reported
    * (deterministic, and identical to the single cell at probes = 1).
    *
    * `probes` is the boundary-recall knob: each vector is blocked into
    * its `probes` nearest cells, and a candidate pair needs at least one
    * OWNER side (rank-0 cell) — so probes=2 catches pairs whose members
    * sit just across a Voronoi boundary at ~2× the candidate volume,
    * while two mutual probe-only collisions still don't pair (both
    * vectors would meet again in one of their owner cells if truly
    * close).
    *
    * Scale: the self-join shuffles (cell, id, rank) only — vectors are
    * re-attached per candidate by id, so embedding payloads never ride
    * the quadratic stage. Per-cell work is (N·probes/C)² for C cells;
    * `maxCell` caps degenerate cells (a collapsed centroid) via the same
    * aggregate + anti-join guard as the minhash path, never buffering a
    * hot cell in one task. Rounding is applied ONCE to the raw cosine.
    */
  def semanticNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      threshold: Double,
      roundScale: Int = 4,
      maxCell: Int = 65536,
      probes: Int = 1): DataFrame = {
    if (cents.isEmpty)
      // an empty quantizer blocks nothing (routine at cluster scale:
      // centroids seeded from an empty/filtered-out corpus) — empty
      // pair list with the production schema, never an analysis error
      return df.select(lit(0).as("cell"), col(idCol).as("id_a"),
        col(idCol).as("id_b"), lit(0.0).as("cos")).limit(0)
    val assigned = Barrier(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.probeCellsCol(col(vecCol), cents, probes).as("cells")),
      "Dedup.semanticNearDupPairs")
    val exploded = assigned.select(col("id"),
      posexplode(col("cells")).as(Seq("rank", "cell")))
    val ids = dropHotBuckets(
      exploded.select(col("cell"), col("id"), col("rank")), "cell", maxCell)
    val a = ids.select(col("cell"), col("id").as("id_a"), col("rank").as("rank_a"))
    val b = ids.select(col("cell"), col("id").as("id_b"), col("rank").as("rank_b"))
    val pairIds = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        (col("rank_a") === 0 || col("rank_b") === 0))
      .groupBy("id_a", "id_b")
      .agg(min(col("cell")).as("cell"))
    val vecs = assigned.select(col("id"), col("v"))
    pairIds
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", round(VectorFunctions.cosine(col("v_a"), col("v_b")), roundScale))
      .filter(col("cos") >= threshold)
      .select(col("cell"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Incremental SemDeDup: compare a NEW batch of vectors against a
    * persisted history (and within itself) under a FROZEN quantizer,
    * never re-emitting history-internal pairs — the daily-batch shape,
    * mirroring [[minHashNearDupsIncremental]]. `history` is (id, vec,
    * cell) — the IVF index layout ([[Similarity.writeIvfIndex]]), so
    * when it is read from the cell-partitioned store the semi-join on
    * the batch's touched cells becomes a dynamic partition prune:
    * untouched cells' vectors are never read, and [[Similarity.appendIvfIndex]]
    * maintains the same store, so one index serves search AND dedup.
    *
    * Output: (cell, id_a, id_b, cos) with at least one side new.
    */
  def semanticNearDupsIncremental(
      newVecs: DataFrame,
      history: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      threshold: Double,
      roundScale: Int = 4,
      maxCell: Int = 65536): DataFrame = {
    if (cents.isEmpty)
      return newVecs.select(lit(0).as("cell"), col(idCol).as("id_a"),
        col(idCol).as("id_b"), lit(0.0).as("cos")).limit(0)
    val newAssigned = Barrier(
      Similarity.ivfIndex(newVecs, idCol, vecCol, cents)
        .select(col(idCol).as("id"), col(vecCol).as("v"), col("cell"))
        .withColumn("__new", lit(1)), "Dedup.semanticNearDupsIncremental.assigned")
    val touched = newAssigned.select("cell").distinct()
    val hist = history
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("cell"))
      .join(broadcast(touched), Seq("cell"), "left_semi")
      .withColumn("__new", lit(0))
    val tagged = Barrier(newAssigned.unionByName(hist), "Dedup.semanticNearDupsIncremental.tagged")
    val ids = dropHotBuckets(
      tagged.select(col("cell"), col("id"), col("__new")), "cell", maxCell)
    val a = ids.select(col("cell"), col("id").as("id_a"), col("__new").as("__new_a"))
    val b = ids.select(col("cell"), col("id").as("id_b"), col("__new").as("__new_b"))
    val pairIds = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b") &&
        (col("__new_a") === 1 || col("__new_b") === 1))
      .select("cell", "id_a", "id_b")
    val vecs = tagged.select(col("id"), col("v"))
    pairIds
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cos", round(VectorFunctions.cosine(col("v_a"), col("v_b")), roundScale))
      .filter(col("cos") >= threshold)
      .select(col("cell"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Semantic dedup: [[semanticNearDupPairs]] edges → connected
    * components → keep the minimum id per component, drop the rest.
    * Returns the surviving rows of `df` (schema unchanged). The policy
    * variant ([[nearDupSurvivors]]) composes the same pair list with an
    * explicit rank column when "smallest id" is the wrong survivor.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      threshold: Double,
      roundScale: Int = 4,
      maxCell: Int = 65536,
      probes: Int = 1): DataFrame = {
    val pairs = semanticNearDupPairs(
      df, idCol, vecCol, cents, threshold, roundScale, maxCell, probes)
    val losers = nearDupClusters(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }
}
