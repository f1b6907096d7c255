package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeExprs

import graft.Barrier

/** Scale utilities for the shuffle-heavy shapes a 100 TB run hits:
  * key-skew joins and repeated co-located joins. North-star EXTENSION —
  * the reference's only scale knob is `spark.sql.shuffle.partitions=200`
  * (`scripts/...pyspark.py:37`); these are the techniques that knob
  * cannot express.
  *
  * AQE (on by default in GraftSession) already splits skewed SHUFFLE
  * partitions at runtime; explicit salting remains the tool when one
  * build-side key is so hot that even a split partition overwhelms a
  * task, or when AQE is unavailable (e.g. inside a cached subtree).
  */
object ScaleOps {

  /** Skew-resistant inner equi-join: salt the skewed (large, hot-keyed)
    * side with a random factor in [0, buckets), and explode the other
    * side once per bucket, so a hot key's rows spread over `buckets`
    * shuffle partitions instead of one.
    *
    * Cost model: the replicated side grows ×buckets — use when
    * |replicated| × buckets ≪ |skewed partition relief|. Salt is applied
    * to the SHUFFLE KEY only; output columns are untouched.
    */
  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      key: String,
      buckets: Int = 8): DataFrame = {
    require(buckets > 1, "buckets must be > 1")
    // rand() is per-row nondeterministic by design: distribution, not values,
    // matters for the salt. Seeded for reproducible tests.
    val salted = skewed.withColumn("__salt", (rand(42) * buckets).cast("int"))
    val replicated = other.withColumn(
      "__salt",
      explode(array((0 until buckets).map(lit).toIndexedSeq: _*)))
    salted
      .join(replicated, salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop(replicated(key))
      .drop("__salt")
  }

  /** Write both sides bucketed by the join key so subsequent joins are
    * exchange-free (bucketed scan → sort-merge join with no shuffle).
    * Spark's bucketing requires `saveAsTable` (bucket metadata lives in
    * the catalog); tables land in the session warehouse.
    *
    * At 100 TB this is the "pay the shuffle once" pattern: fact tables
    * bucketed on their most-joined key amortize every later join.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int = 32,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Join two pre-bucketed tables on their bucket key. With equal bucket
    * counts the planner elides both exchanges (asserted in the spec).
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String, key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Exact per-key distinct count as a two-level aggregate:
    * dedupe (key, value) pairs first, then count per key. Equivalent to
    * `countDistinct`, but the first level partially aggregates map-side
    * on (key, value) — so a hot key's duplicates collapse BEFORE the
    * shuffle, where the single-level expand-based plan ships every
    * occurrence of the hot key to one reducer. The standard rewrite for
    * skewed count(DISTINCT). Plain sums/counts don't need this: their
    * built-in partial aggregation already collapses map-side.
    */
  def distinctCountTwoPhase(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.select(col(key), col(valueCol))
      .distinct()
      .groupBy(key)
      .agg(count(lit(1)).as(s"distinct_$valueCol"))

  /** Deterministic hash sample: keep rows whose key hashes into
    * [lo, hi) of den buckets. Unlike `sample()`, the selection is a
    * pure function of the key — stable across runs, engines, and
    * re-partitioning; disjoint ranges give disjoint splits (the
    * train/validation/test contract for corpus building); and the same
    * row set survives incremental reruns on a grown corpus.
    */
  def hashSample(df: DataFrame, keyCol: String, lo: Int, hi: Int, den: Int = 1000): DataFrame = {
    require(0 <= lo && lo < hi && hi <= den, s"need 0 <= lo < hi <= den, got [$lo,$hi)/$den")
    val bucket = pmod(xxhash64(col(keyCol)), lit(den))
    df.filter(bucket >= lo && bucket < hi)
  }

  /** Stratified deterministic sampling — the corpus-MIXING primitive:
    * each stratum (language, source, quality band…) keeps its own
    * fraction of rows, selected by the same keyed hash as
    * [[hashSample]]. Properties that matter for training-data work, all
    * spec-pinned:
    *  - pure function of (key, stratum rate): stable across runs,
    *    partitioning, and engines running the same hash;
    *  - NESTED: raising a stratum's rate only ADDS rows (bucket <
    *    r₁·den ⊆ bucket < r₂·den for r₁ ≤ r₂) — re-weighting a mix
    *    never churns the retained set, so ablations share data;
    *  - map-only: one filter, no shuffle.
    *
    * Strata absent from `rates` keep `defaultRate`.
    */
  def stratifiedHashSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0,
      den: Int = 1000000): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    // integer per-`den` thresholds, resolved on the DRIVER: comparing the
    // integer bucket against a floating product (rate * den) would make
    // boundary buckets depend on double rounding (0.1 * 1e6 =
    // 100000.00000000001) — exactly the cross-engine instability the
    // keyed hash exists to avoid
    val bucket = pmod(xxhash64(col(keyCol)), lit(den))
    def threshold(r: Double): Long = math.round(r * den)
    val cut = rates.toSeq.sortBy(_._1).foldLeft(lit(threshold(defaultRate))) {
      case (acc, (s, r)) => when(col(strataCol) === s, lit(threshold(r))).otherwise(acc)
    }
    df.filter(bucket < cut)
  }

  /** Engine-auditable threshold for an md5 hex-prefix bucket: the first
    * 8 hex chars of md5 compare lexicographically = numerically (fixed
    * width, lowercase), so `prefix < mdHexThreshold(r)` keeps a
    * `r`-sized fraction of keys. Rate 1.0 maps to a 9-char sentinel —
    * every 8-char prefix sorts strictly below it (prefix rule), so
    * "keep all" really keeps all, including prefix `ffffffff`.
    * Same boundary formula as [[splitByGroup]].
    */
  private[graft] def mdHexThreshold(r: Double): String =
    if (r >= 1.0) "fffffffff" else f"${math.round(r * 4294967295d)}%08x"

  /** [[stratifiedHashSample]] on md5 hex-prefix buckets instead of
    * xxhash64: ~2× the hash cost, but ANY engine can replay the exact
    * per-row assignment (`substr(md5(cast(key as varchar)), 1, 8)` vs a
    * per-stratum hex constant) — so a sampled corpus is auditable
    * outside Spark, row for row, the property [[splitByGroup]] already
    * uses for split assignment. Keeps the sampler's contract: pure
    * function of (key, rates), NESTED under rate increases (same
    * bucket, higher cut ⊇ lower cut), map-only. Prefer the xxhash64
    * variant when cross-engine auditability isn't needed.
    */
  def stratifiedHashSampleMd5(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val h = substring(md5(col(keyCol).cast("string")), 1, 8)
    // driver-resolved hex constants, for the same reason the xxhash64
    // variant resolves integer thresholds: boundaries must not depend
    // on how an engine rounds rate*2^32 at runtime
    val cut = rates.toSeq.sortBy(_._1).foldLeft(lit(mdHexThreshold(defaultRate))) {
      case (acc, (s, r)) => when(col(strataCol) === s, lit(mdHexThreshold(r))).otherwise(acc)
    }
    df.filter(h < cut)
  }

  /** Per-stratum keep-rates that hit a TOKEN budget: the corpus-mixing
    * planner. One aggregate measures available tokens per stratum
    * (driver state = one row per stratum — bounded parameters, not
    * data); rate = min(1, target / available). Strata without a target
    * get rate 0 (excluded from the mix).
    */
  def tokenBudgetRates(
      df: DataFrame,
      strataCol: String,
      tokenCol: String,
      targets: Map[String, Long]): Map[String, Double] = {
    // Null strata are excluded from planning by contract: a null key
    // stringified to "null" would collide with a stratum literally named
    // "null", and stratifiedHashSample's `col === "null"` could never
    // select actual-null rows anyway — so a null-keyed budget would be
    // silently unusable. Callers mixing unlabeled rows should bucket
    // them under an explicit label first (e.g. coalesce(strata,'other')).
    val avail = df
      .filter(col(strataCol).isNotNull)
      .groupBy(strataCol)
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .toMap
    targets.map { case (s, tgt) =>
      require(tgt >= 0, s"negative token target for stratum '$s'")
      val a = avail.getOrElse(s, 0L)
      s -> (if (a <= 0L) 0.0 else math.min(1.0, tgt.toDouble / a))
    }
  }

  /** Deterministic corpus mixing to per-stratum token budgets:
    * [[tokenBudgetRates]] composed with [[stratifiedHashSample]].
    * Achieved tokens per stratum ≈ target (hash sampling selects a
    * rate-sized fraction of DOCUMENTS; per-document token variance makes
    * the hit stochastic around the budget — exact-budget packing is a
    * different operator, [[graft.operators.Packing.packConcat]] applied
    * after this gate). Selection inherits the sampler's properties:
    * pure function of (key, rates), nested under rate increases,
    * map-only after the one planning aggregate.
    */
  def mixToTokenBudget(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokenCol: String,
      targets: Map[String, Long],
      den: Int = 1000000): DataFrame =
    stratifiedHashSample(
      df, keyCol, strataCol,
      tokenBudgetRates(df, strataCol, tokenCol, targets),
      defaultRate = 0.0, den = den)

  /** Weighted (token-proportional) sampling to a per-stratum budget:
    * A-ES keyed-hash priorities (Efraimidis–Spirakis, Inf. Proc. Lett.
    * 97(5), 2006) with a cumulative cutoff instead of a fixed k.
    *
    * Each row draws a deterministic uniform u from its key
    * (md5 hex prefix → (0,1)), gets priority u^(1/w) with w = its
    * weight (token/char count), and each stratum keeps its
    * highest-priority rows until their summed weight reaches the
    * stratum's target. Properties:
    *  - token-PROPORTIONAL: heavy documents are proportionally more
    *    likely to rank high — the A-ES priority makes inclusion
    *    probability ∝ weight, the standard refinement over
    *    document-rate mixing ([[mixToTokenBudget]]);
    *  - TIGHT attainment: the cutoff is exact by construction —
    *    achieved tokens overshoot the target by at most one document
    *    (the one that crosses the line), vs. document-rate sampling
    *    whose error grows with per-document token variance;
    *  - deterministic and ENGINE-AUDITABLE: u is md5-derived, so the
    *    selection replays anywhere (same property as
    *    [[stratifiedHashSampleMd5]]).
    *
    * Cost: ONE shuffle — the per-stratum ranking window. Strata are
    * few (languages, sources), so each window partition holds a whole
    * stratum; at 100 TB pre-gate with [[stratifiedHashSampleMd5]] at
    * ~2×target/available rate first (both stages replay), which bounds
    * the window input while leaving the cutoff exact.
    * Strata without a target are dropped (as in [[tokenBudgetRates]];
    * null strata fall in that class by the same contract).
    */
  def weightedTokenSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokenCol: String,
      targets: Map[String, Long]): DataFrame = {
    require(targets.values.forall(_ >= 0), "token targets must be >= 0")
    import org.apache.spark.sql.expressions.Window
    // u in (0,1): 32-bit md5 prefix, +0.5 so u is never exactly 0
    // (pow(0, 1/w) would collapse all zero-hash rows into one priority)
    val u = (conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    val w = greatest(col(tokenCol).cast("double"), lit(1.0))
    val tgt = targets.toSeq.sortBy(_._1).foldLeft(lit(null).cast("long")) {
      case (acc, (s, t)) => when(col(strataCol) === s, lit(t)).otherwise(acc)
    }
    val byPriority = Window.partitionBy(strataCol)
      .orderBy(col("__aes").desc, col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__aes", pow(u, lit(1.0) / w))
      .withColumn("__tgt", tgt)
      .filter(col("__tgt").isNotNull)
      // tokens ABOVE this row in priority order: keep while they are
      // still under target — the crossing document is kept, so the
      // attainment error is bounded by one document's weight
      .withColumn("__cum", sum(col(tokenCol).cast("long")).over(byPriority))
      .filter(coalesce(col("__cum"), lit(0L)) < col("__tgt"))
      .drop("__aes", "__tgt", "__cum")
  }

  /** Deterministic token-budget UPSAMPLING: the missing half of
    * [[mixToTokenBudget]], whose rates cap at 1.0. Training mixtures
    * routinely oversample scarce strata (a 2.7× epoch weight on a
    * high-quality source); here rate = target/available is left
    * UNCAPPED and realized as floor(rate) full copies of every row
    * plus one extra copy for an md5-selected frac(rate)-sized slice.
    * Each output row carries `copy_no` (1-based) so downstream
    * shuffling/packing can tell repeats apart.
    *
    * Determinism and auditability: the fractional slice is chosen by
    * `substr(md5(key),1,8) < cut`, with cut = floor(frac·2³²) in hex.
    * 2³² is a power of two, so the multiply is EXACT in IEEE doubles
    * and any engine replays the same boundary — no rounding-mode
    * divergence (this is why it is not [[mdHexThreshold]]'s
    * round-based cut). Map-only after the one planning aggregate;
    * strata without a target are dropped (null strata fall in that
    * class, the [[tokenBudgetRates]] contract). Achieved tokens land
    * within one document-rate-sampling error of the target; compose
    * with [[weightedTokenSample]] on the fractional slice if tighter
    * attainment is needed.
    */
  def upsampleToTokenBudget(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokenCol: String,
      targets: Map[String, Long]): DataFrame = {
    require(targets.values.forall(_ >= 0), "token targets must be >= 0")
    val avail = df.filter(col(strataCol).isNotNull)
      .groupBy(strataCol)
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .toMap
    val rates: Map[String, Double] = targets.flatMap { case (s, tgt) =>
      avail.get(s).filter(_ > 0).map(a => s -> tgt.toDouble / a)
    }
    def chain(of: Map[String, Column], orElse: Column): Column =
      of.toSeq.sortBy(_._1).foldLeft(orElse) {
        case (acc, (s, v)) => when(col(strataCol) === s, v).otherwise(acc)
      }
    val fullCol = chain(
      rates.map { case (s, r) => s -> lit(math.floor(r).toLong) },
      lit(null).cast("long"))
    val cutCol = chain(
      rates.map { case (s, r) =>
        val frac = r - math.floor(r)
        val t = math.min(math.floor(frac * 4294967296.0).toLong, 4294967295L)
        s -> lit(f"$t%08x")
      },
      lit(null).cast("string"))
    val tagged = df
      .withColumn("__full", fullCol)
      .withColumn("__cut", cutCol)
      .filter(col("__full").isNotNull) // untargeted strata drop out
    val copies = tagged.select(df.columns.map(col) :+
      explode(when(col("__full") >= 1, sequence(lit(1L), col("__full")))
        .otherwise(array().cast("array<bigint>"))).as("copy_no"): _*)
    val extra = tagged
      .filter(substring(md5(col(keyCol).cast("string")), 1, 8) < col("__cut"))
      .select(df.columns.map(col) :+ (col("__full") + 1).as("copy_no"): _*)
    copies.unionByName(extra)
  }

  /** Temperature-scaled (exponent-α) per-stratum token targets — the
    * multilingual sampling rule of Lample & Conneau 2019 (XLM, §3.1;
    * XLM-R trains with α = 0.3): stratum l with token share
    * pₗ = nₗ / N is allocated qₗ ∝ pₗ^α of the budget, flattening the
    * head (a 60% language gets well under 60% of the mix) and lifting
    * the tail without the unbounded repetition a uniform mix would
    * force on tiny languages. α = 1 reproduces natural proportions,
    * α → 0 approaches uniform.
    *
    * One |strata|-bounded planning aggregate (the [[tokenBudgetRates]]
    * shape — driver state is one row per language, never data).
    * Determinism across engines: shares are rounded HALF_UP to 6
    * decimals and the allocation floor(budget · share₆) is computed in
    * exact BigDecimal — an oracle replays it as
    * `floor(budget * CAST(round(share, 6) AS DECIMAL(18,6)))`, where
    * the decimal multiply is exact, so no engine's float rounding can
    * move a boundary. (Residual cross-engine risk is one ulp in `pow`
    * landing a share exactly on a 5e-7 rounding boundary — the q203
    * round-then-compare discipline.)
    */
  def temperatureTargets(
      df: DataFrame,
      strataCol: String,
      tokenCol: String,
      alpha: Double,
      totalTokens: Long): Map[String, Long] = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(totalTokens >= 0, "token budget must be >= 0")
    val avail = df.filter(col(strataCol).isNotNull)
      .groupBy(strataCol)
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .filter(_._2 > 0L)
      // fixed summation order for z: collect() row order varies with
      // partitioning, and FP addition is order-sensitive — a share an
      // ulp from a 5e-7 rounding boundary must not flip across runs
      .sortBy(_._1)
    val powed = avail.map { case (s, n) => s -> math.pow(n.toDouble, alpha) }
    val z = powed.map(_._2).sum
    powed.map { case (s, p) =>
      val share6 = BigDecimal(p / z).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      s -> (BigDecimal(totalTokens) * share6)
        .setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    }.toMap
  }

  /** [[temperatureTargets]] realized with [[weightedTokenSample]]:
    * the ready-to-pack α-temperature mix. Inherits the sampler's
    * properties — token-proportional A-ES inclusion, tight attainment
    * (overshoot ≤ one document per stratum), md5-deterministic and
    * engine-replayable selection, ONE bounded per-stratum window after
    * the one planning aggregate.
    */
  def temperatureSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokenCol: String,
      alpha: Double,
      totalTokens: Long): DataFrame =
    weightedTokenSample(df, keyCol, strataCol, tokenCol,
      temperatureTargets(df, strataCol, tokenCol, alpha, totalTokens))

  /** Fail-fast guard for VERIFICATION-ONLY exhaustive operators.
    *
    * All-pairs self-joins (exact n-gram Jaccard q83, exact pairwise
    * cosine q84) are O(N²) in shuffle and compute — correct and
    * oracle-checkable at small N, a scale-killer on a real corpus. This
    * counts the input (one cheap job) and refuses to proceed past
    * `maxRows`, pointing the caller at the bucketed scale paths
    * (MinHash LSH / hyperplane LSH) whose outputs are oracle-equal.
    * To run an exhaustive pass on a slice of a big table anyway, cut it
    * first with [[hashSample]].
    */
  def boundedExhaustive(df: DataFrame, what: String, maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"$what is an exhaustive all-pairs (O(N²)) operator intended for " +
        s"verification at small N; got $n rows > $maxRows. Use the bucketed " +
        s"scale path instead (Dedup.minHashNearDups / Dedup.embeddingNearDups) " +
        s"or pre-cut with ScaleOps.hashSample.")
    df
  }

  /** Scale path for a keyed point-in-interval range join
    * (`p.key = i.key AND i.lo <= p.pt AND p.pt <= i.hi`, closed
    * interval). Spark plans the naive predicate as a join on the equi
    * part with the range as a post-filter — correct, but every (key)
    * match pair flows through the join before filtering; with no equi
    * key at all it degenerates to BroadcastNestedLoopJoin, O(|P|·|I|).
    *
    * Banding turns the range into an EQUI key: bin the point's domain
    * into `binWidth`-wide buckets, replicate each interval to every
    * bucket it overlaps (`sequence(floor(lo/w), floor(hi/w))`), map each
    * point to its single bucket, equi-join on (key…, bin), then refine
    * with the exact predicate. Shuffle is hash(key, bin) — a plain
    * exchange that AQE can split — and each point meets only intervals
    * overlapping its bucket.
    *
    * Sizing rule: replication factor = avg(hi−lo)/binWidth + 1, so set
    * `binWidth` ≈ the median interval length (×1 replication ≈ 2 copies
    * worst case). Too small → interval blow-up; too large → the bin
    * stops pruning and the post-filter does the work again.
    */
  def binnedIntervalJoin(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      ptCol: String,
      loCol: String,
      hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val p = points.withColumn("__bin", floor(col(ptCol) / binWidth))
    val i = intervals.withColumn(
      "__bin",
      explode(sequence(
        floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    p.join(i, keys :+ "__bin", "inner")
      .filter(col(loCol) <= col(ptCol) && col(ptCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Bloom-prefiltered LEFT SEMI join: build a Bloom filter over the dim
    * keys (distributed `treeAggregate` build, small fixed-size bitmap on
    * the driver), broadcast it, drop fact rows that cannot match BEFORE
    * the shuffle, then run the exact semi join on the survivors.
    *
    * Bloom filters have false POSITIVES only, so the pruned fact is a
    * superset of the true matches and the final semi join makes the
    * result exact — the filter only cuts shuffle volume. At 100 TB this
    * is the difference between shuffling the whole fact table and
    * shuffling ~selectivity·|fact|.
    *
    * Spark's own runtime bloom (`spark.sql.optimizer.runtime.bloomFilter
    * .enabled`) injects the same shape automatically, but only when its
    * size/selectivity heuristics fire and the dim side has a creation
    * filter; this operator is the explicit form for when you KNOW the
    * dim is selective. The membership probe is a Scala UDF by necessity
    * — Spark's `might_contain` expression is internal-only — and is a
    * map-side predicate on the scan, never inside the shuffle.
    *
    * Keys are compared through a canonical string cast on BOTH sides,
    * so any key type works and build/probe hashing agree.
    */
  def bloomSemiJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      expectedItems: Long,
      fpp: Double = 0.01,
      nativeProbe: Boolean = true): DataFrame = {
    val keys = dim
      .select(col(dimKey).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
    // empty build side: no fact row can match — and Spark's
    // stat.bloomFilter NPEs on a zero-row input (null agg buffer)
    if (keys.isEmpty) fact.limit(0)
    else {
      val bf = keys.stat.bloomFilter("__k", math.max(expectedItems, 1L), fpp)
      val bc = fact.sparkSession.sparkContext.broadcast(bf)
      // Probe inside whole-stage codegen via the native expression; the
      // UDF twin stays as the parity reference (ScaleOpsSpec pins that
      // both prune to the same row set — null keys drop either way:
      // the UDF returns false, the expression propagates null).
      val probe =
        if (nativeProbe) NativeExprs.bloomMightContain(col(factKey).cast("string"), bc)
        else {
          val might = udf((k: String) => k != null && bc.value.mightContainString(k))
          might(col(factKey).cast("string"))
        }
      val pruned = fact.filter(probe)
      // side-qualified references: factKey and dimKey may share a name
      pruned.join(dim, pruned(factKey) === dim(dimKey), "left_semi")
    }
  }

  /** Leakage-proof train/val/test split: every row of a GROUP (domain,
    * near-dup cluster, author, …) lands in the same split, so near-
    * identical documents can never straddle the train/eval boundary —
    * the standard contamination guard a random row-level split violates.
    *
    * Assignment hashes the group key with md5 and compares the first 8
    * hex chars against cumulative-fraction boundaries (fixed-width
    * lowercase hex compares lexicographically = numerically). md5 — not
    * xxhash64 — on purpose: any engine can reproduce the assignment,
    * so a split is auditable outside Spark. Map-only: no shuffle, no
    * state, stable under re-runs and appends.
    */
  def splitByGroup(
      df: DataFrame,
      groupCol: String,
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val h = substring(md5(col(groupCol).cast("string")), 1, 8)
    val bounds = splits.init.scanLeft(0.0) { case (cum, (_, f)) => cum + f }.tail
      .map(c => f"${(c * 4294967295d).toLong}%08x")
    val assign = splits.init.zip(bounds).foldRight(lit(splits.last._1)) {
      case (((name, _), b), rest) => when(h < lit(b), name).otherwise(rest)
    }
    // a NULL group key gets a NULL split, never a silent bucket: lumping
    // unknown-group rows into one split would bias the very boundary
    // this operator guards — the caller decides what null groups mean
    df.withColumn("split", when(col(groupCol).isNull, lit(null)).otherwise(assign))
  }

  /** Per-group mergeable cardinality sketches (Apache DataSketches HLL,
    * Spark's `hll_sketch_agg`): the pre-aggregation pattern for distinct
    * counts at 100 TB. Build sketches once per fine-grained partition
    * (e.g. per day), store them as a tiny binary column, and answer any
    * coarser rollup later by UNIONING sketches — no re-scan of the raw
    * data, and the merge is associative so it parallelizes like a sum.
    *
    * `lgK` trades size for accuracy (2^lgK buckets; 12 → ~1.6 KB,
    * ~2.5% relative standard error).
    */
  def hllRollup(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(expr(s"hll_sketch_agg(`$valueCol`, $lgK)").as("hll"))

  /** Roll sketches built by [[hllRollup]] up to a coarser key set and
    * surface the distinct-count estimate. Input rows carry an `hll`
    * binary column; output replaces it with `distinct_est` (BIGINT).
    */
  def hllMergeEstimate(parts: DataFrame, keyCols: Seq[String]): DataFrame =
    parts.groupBy(keyCols.map(col): _*)
      .agg(expr("hll_sketch_estimate(hll_union_agg(hll))").as("distinct_est"))

  /** EXACTLY-k-per-group deterministic sample (eval-subset selection,
    * per-stratum spot checks): rank rows within each group by the md5 of
    * their id and keep the first k. A hash order — not `rand()` — so the
    * pick is reproducible run-to-run, stable under partitioning, and
    * auditable from any engine (md5, like [[splitByGroup]]); unlike
    * rate-based sampling ([[stratifiedHashSample]]) the output size per
    * group is exact (min(k, |group|)).
    *
    * One shuffle on the group key; the per-group sort is bounded by
    * group size. For huge groups pre-cut with [[hashSample]] first so
    * the window sorts a sample, not the full group.
    */
  def sampleKPerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Z-order (Morton-curve) layout for multi-dimensional file skipping:
    * cluster rows so that EVERY listed column's per-file min/max range
    * is narrow — a single-column sort gives one perfectly-clustered
    * column and leaves the others spanning the full domain in every
    * file, so predicates on them prune nothing.
    *
    * Each column is normalized to 2^bits equi-width buckets between its
    * global min and max (one small agg, driver-held bounds — the same
    * bounded-parameter rule as the IVF centroids), the bucket bits are
    * interleaved into one Morton key, and rows are range-partitioned +
    * sorted by it. Equi-width buckets keep the map phase shuffle-free
    * at the cost of skew sensitivity — for heavy-tailed columns,
    * winsorize ([[graft.quality.Outliers]]) or pre-bucket by rank first.
    *
    * Write the result partitioned as-is: parquet min/max row-group
    * stats (or any format's zone maps) then prune multi-dimensionally.
    * Layout only — row content is untouched (spec-pinned, plus the
    * measured both-dims-narrow clustering property).
    */
  def zOrderBy(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 8,
      numPartitions: Int = 0): DataFrame = {
    require(cols.size >= 2, "z-ordering needs at least two columns")
    require(bits >= 1 && bits * cols.size <= 60, "bits * cols must fit a long")
    val n = 1 << bits
    val boundExprs =
      cols.flatMap(c => Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(boundExprs.head, boundExprs.tail: _*).head()
    // zero rows, or ANY all-null column, leaves some bound undefined —
    // no discriminating layout exists, return the frame unchanged
    if ((0 until cols.size * 2).exists(bounds.isNullAt)) return df
    val z = cols.zipWithIndex.map { case (c, ci) =>
      val lo = bounds.getDouble(ci * 2)
      val hi = bounds.getDouble(ci * 2 + 1)
      val span = if (hi > lo) hi - lo else 1.0
      // equi-width bucket in [0, n)
      val bucket = least(
        greatest(floor((col(c).cast("double") - lit(lo)) / lit(span) * n), lit(0)),
        lit(n - 1)).cast("long")
      // spread this column's bits to positions ci, ci+k, ci+2k, …
      (0 until bits).map { b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(1), b * cols.size + ci)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.withColumn("__z", z)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** EXACT heavy hitters (items with frequency > phi·n) without a full
    * `GROUP BY item` over the vocabulary — the two-pass sketch-then-
    * verify plan:
    *
    *   1. ONE map-side pass computes n and a Misra-Gries sketch with
    *      k = ceil(1/phi) counters (so the sketch's miss bound n/(k+1)
    *      is below the phi·n threshold — no heavy hitter can be absent,
    *      for any merge order). Driver state: one ≤k-entry map.
    *   2. A second pass exact-counts ONLY the ≤k candidates (the `isin`
    *      prune runs where the item column is born — post-explode for
    *      tokenized input — so the shuffle, not the scan, is what
    *      shrinks: ≤k distinct keys instead of the vocabulary) and
    *      keeps those strictly above phi·n.
    *
    * The result is exactly the true heavy-hitter set — deterministic
    * even though sketch contents vary with task scheduling — while the
    * shuffle carries at most k distinct keys instead of the full
    * vocabulary (billions of tokens at 100 TB).
    *
    * `sketchK` can raise the counter budget above ceil(1/phi) to shrink
    * the candidate set's false-positive tail (cost: sketch state).
    */
  def heavyHitters(
      df: DataFrame,
      itemCol: String,
      phi: Double,
      sketchK: Int = 0): DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1), got $phi")
    val k = math.max(sketchK, math.ceil(1.0 / phi).toInt)
    val head = df.agg(
      count(col(itemCol)).as("n"),
      graft.functions.MisraGries.sketch(col(itemCol), k).as("sk")).head()
    val n = head.getLong(0)
    val candidates = head.getMap[String, Long](1).keys.toSeq // bounded: ≤ k
    if (n == 0 || candidates.isEmpty) {
      return df.select(col(itemCol).as("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt")).filter(lit(false))
    }
    df.filter(col(itemCol).isin(candidates: _*))
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(phi) * lit(n.toDouble))
  }

  /** Deterministic SAMPLE quantiles: nearest-rank quantiles of the k
    * rows whose md5-derived keys are smallest — a KMV sample, so the
    * estimate is a pure function of the input SET (stable across runs,
    * partitioning, and engines replaying the same md5 order; unlike
    * `approx_percentile`, whose sketch is engine-internal and
    * merge-order-sensitive). The scale path for "give me p50/p99 of a
    * 100 TB column": TakeOrderedAndProject keeps per-partition top-k
    * and merges k-row heaps — no global sort, no quantile-summary
    * state; error is the usual sampling error of a k-row SRS (k=4096 →
    * ~1.6% rank error at 95% confidence).
    *
    * Quantile rule: nearest-rank, index = max(1, ceil(q·m)) over the
    * ascending sample — ceil of the IEEE double product, replayable
    * verbatim in SQL. Output: (q, value, sample_size).
    */
  def sampleQuantiles(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      k: Int,
      qs: Seq[Double],
      seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val h = md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string")))
    val sample = df
      .select(h.as("__h"), col(valueCol).cast("double").as("__v"))
      .orderBy("__h").limit(k)
    sample
      .agg(count(lit(1)).as("m"),
        sort_array(collect_list(col("__v"))).as("__vs"))
      .filter(col("m") > 0) // empty input: no quantile rows, not nulls
      .select(explode(array(qs.map(lit): _*)).as("q"), col("m"), col("__vs"))
      .select(col("q"),
        element_at(col("__vs"),
          greatest(lit(1L), ceil(col("q") * col("m"))).cast("int")).as("value"),
        col("m").as("sample_size"))
  }

  /** Join-SKEW advisor: the heavy keys of a prospective join/groupBy
    * key, each with its row count, corpus share, and the salt factor
    * [[saltedJoin]] needs to cap any single (key, salt) task at
    * `targetPerTask` rows — the planning report a 100 TB join runs
    * FIRST, because one hot key is the difference between a 10-minute
    * stage and a 10-hour straggler. ONE key-width aggregate (map-side
    * partial) plus a 1×1 total frame; output is bounded by the number
    * of keys above the gates.
    */
  def skewAdvisor(
      df: DataFrame,
      keyCol: String,
      targetPerTask: Long,
      minShare: Double = 0.0): DataFrame = {
    require(targetPerTask > 0, "targetPerTask must be positive")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    // the share gate only participates when a positive threshold is
    // given — minShare = 0 would otherwise admit EVERY key
    val shareGate =
      if (minShare > 0.0) col("share") >= minShare else lit(false)
    counts.crossJoin(broadcast(total)) // 1x1 planning frame, the q227 shape
      .withColumn("share", col("n").cast("double") / col("total").cast("double"))
      .filter(col("n") > targetPerTask || shareGate)
      .withColumn("salt",
        ceil(col("n").cast("double") / lit(targetPerTask.toDouble)).cast("int"))
      .select(col(keyCol), col("n"), col("share"), col("salt"))
  }

  /** [[sampleQuantiles]] PER GROUP — p50/p99 of a column for every
    * language/source/shard in ONE pass: the value-carrying KMV
    * aggregate ([[graft.functions.BottomKValues]], 2k longs of
    * mergeable state per group, map-side partials) replaces the
    * ORDER BY + LIMIT that cannot run per-group, then nearest-rank
    * indexing over each group's sorted sample. Hash keys are the
    * md5-60-bit image of `keyCol`, so any engine replays the exact
    * sample. Output: (groupCol, q, value, sample_size).
    *
    * CONTRACT: `keyCol` must be UNIQUE per row — duplicate keys hash
    * identically and at most one survives into the KMV sample with a
    * nondeterministic value (the BottomKValues caller contract). Rows
    * with a NULL key are FILTERED before hashing (concat_ws drops NULL
    * args, so they would all collapse onto md5("0")'s slot and bias
    * the sample); feed a surrogate key if NULL-keyed rows must count.
    */
  def sampleQuantilesByGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      valueCol: String,
      k: Int,
      qs: Seq[Double],
      seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val h = conv(substring(
      md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string"))),
      1, 15), 16, 10).cast("long")
    df.filter(col(keyCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.functions.BottomKValues
        .sample(h, col(valueCol).cast("double"), k).as("__vals"))
      .select(col(groupCol), sort_array(col("__vals")).as("__vs"),
        size(col("__vals")).cast("long").as("m"))
      .select(col(groupCol), col("__vs"), col("m"),
        explode(array(qs.map(lit): _*)).as("q"))
      .select(col(groupCol), col("q"),
        element_at(col("__vs"),
          greatest(lit(1L), ceil(col("q") * col("m"))).cast("int")).as("value"),
        col("m").as("sample_size"))
  }

  /** JOIN-CARDINALITY estimate BEFORE the shuffle: per-side KMV
    * sketches of the join keys (the [[kmvCorpusOverlap]] md5-60-bit
    * machinery, built through the mergeable BottomK aggregator — one
    * map-side-partial pass per side, k-long state), inclusion-exclusion
    * for the overlapping key count, row-per-distinct-key multiplicities
    * for the fan-out — so `est_join_rows ≈ |A⋈B|` is known from two
    * O(k)-state aggregates before a single data row shuffles. The
    * companion to [[skewAdvisor]]: advisor finds the hot keys, this
    * sizes the output (a 100 TB join that would emit 10^15 rows is a
    * bug you want caught at plan time).
    *
    * Every emitted number is md5-replayable arithmetic (the q201/q227
    * estimate discipline: (k−1)/kth-smallest over the 2^60 space,
    * 4dp-rounded) — full SQL oracle. Returns ONE row.
    */
  def joinCardinalityEstimate(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      k: Int = 1024): DataFrame = {
    require(k >= 2, "sketch size must be >= 2")
    val hashSpace = 1.152921504606846976e18 // 2^60
    def h(c: Column) =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    def side(df: DataFrame, key: String, n: String, sk: String) =
      df.select(h(col(key)).as("__h"))
        .agg(count(lit(1)).as(n),
          org.apache.spark.sql.functions
            .udaf(new graft.functions.BottomKSketch(k, hashInput = false))
            .apply(col("__h")).as(sk))
    def estD(sk: Column): Column =
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(round(
          lit((k - 1).toDouble) / (array_max(sk).cast("double") / hashSpace), 4))
    side(left, leftKey, "n_a", "sa")
      .crossJoin(side(right, rightKey, "n_b", "sb")) // 1x1 planning frames
      .withColumn("su", slice(array_sort(array_union(col("sa"), col("sb"))), 1, k))
      .withColumn("d_a_est", estD(col("sa")))
      .withColumn("d_b_est", estD(col("sb")))
      .withColumn("d_union_est", estD(col("su")))
      .withColumn("overlap_keys_est",
        greatest(lit(0.0),
          round(col("d_a_est") + col("d_b_est") - col("d_union_est"), 4)))
      .select(
        lit(k).cast("int").as("k"),
        col("n_a"), col("n_b"),
        size(col("su")).as("union_k"),
        col("d_a_est"), col("d_b_est"), col("d_union_est"),
        col("overlap_keys_est"),
        // an empty side has d_est = 0: the join emits nothing — surface
        // 0.0, not the NULL of a 0/0 division
        coalesce(round(col("overlap_keys_est")
          * (col("n_a").cast("double") / col("d_a_est"))
          * (col("n_b").cast("double") / col("d_b_est")), 2), lit(0.0))
          .as("est_join_rows"))
  }

  /** md5-derived shuffle key: the deterministic, ENGINE-REPLAYABLE
    * permutation every training-data emission needs — same md5
    * determinism idiom as [[stratifiedSample]]. Reading the corpus
    * `ORDER BY shuffle_key` is Spark's range-partitioned total sort
    * (sample → range exchange → local sort) — one exchange, the
    * standard scale path; a new seed is a fresh permutation with no
    * state to keep.
    */
  def corpusShuffleKey(id: Column, seed: Long): Column =
    md5(concat_ws(":", lit(seed.toString), id.cast("string")))

  /** 64-bit variant of [[corpusShuffleKey]]: the first 16 hex chars of
    * the same md5, assembled as hi·2³² + lo from two 32-bit limbs (the
    * q98/q148 convention — 64-bit wraparound, so the bit pattern
    * replays in any engine with exact integer semantics). Use THIS one
    * for the emission sort: the reader's `ORDER BY (bin, shuffle_key)`
    * compares 8-byte longs instead of 32-byte hex strings and ships
    * ~24 B/row less sort-shuffle payload at emission scale. The hex
    * form remains for systems that want a human-greppable key.
    */
  def corpusShuffleKey64(id: Column, seed: Long): Column = {
    val hex = corpusShuffleKey(id, seed)
    conv(substring(hex, 1, 8), 16, 10).cast("long") * lit(4294967296L) +
      conv(substring(hex, 9, 8), 16, 10).cast("long")
  }

  /** Token-budget SHARD assignment for training emission — the last
    * step before files: every row gets shard = start_offset div
    * budget, where start_offset is the EXACT cumulative token count of
    * all rows before it in the total `orderCol` order (unique keys —
    * [[corpusShuffleKey64]] output is the intended input). Whole
    * documents are never split, so a shard's payload overshoots the
    * budget by at most one document; `partitionBy("shard")` on the
    * writer then yields fixed-budget training files in one pass.
    *
    * Scale shape — the global running sum WITHOUT a global window:
    *  1. range-partition by orderCol (the emission sort's exchange),
    *     pinned with a lazy localCheckpoint so both passes see the
    *     same partitioning;
    *  2. ONE bounded aggregate: per-partition token totals
    *     (|partitions| rows) prefix-summed on the driver — the
    *     classic partition-offset technique;
    *  3. per-partition cumsum windows (each range partition is one
    *     window partition — parallel across partitions) plus the
    *     broadcast offset.
    * The assignment is a pure function of (order, tokens, budget) —
    * independent of the partition count because ANY contiguous range
    * split yields the same global cumsum (spec-pinned at 1/3/7
    * partitions) — and replays as one SQL window cumsum (q217's
    * oracle).
    */
  def shardByTokenBudget(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      budget: Long,
      parts: Int = 0): DataFrame = {
    require(budget >= 1, "budget must be at least one token")
    require(!df.columns.contains("shard") && !df.columns.contains("__pid"),
      "shardByTokenBudget emits shard/__pid; rename the caller's columns")
    val nPart = if (parts > 0) parts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pinned = Barrier(df
      .repartitionByRange(nPart, col(orderCol))
      .withColumn("__pid", spark_partition_id()), "ScaleOps.shardByTokenBudget")
    val sums = pinned.groupBy("__pid")
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // offset(pid) = total tokens of all partitions before pid
    val before = sums.map(_._1).map { pid =>
      pid -> sums.takeWhile(_._1 < pid).map(_._2).sum
    }.toMap
    val offExpr = if (before.isEmpty) lit(0L)
      else coalesce(element_at(
        map(before.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(lit(k), lit(v)) }: _*), col("__pid")), lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(orderCol)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pinned
      .withColumn("__cum", sum(col(tokenCol).cast("long")).over(w))
      // `div`: exact integer division — a double round-trip would drift
      // past 2^53 cumulative tokens
      .withColumn("__start", offExpr + col("__cum") - col(tokenCol).cast("long"))
      .withColumn("shard", expr(s"__start div ${budget}L"))
      .drop("__pid", "__cum", "__start")
  }

  /** Shard MANIFEST for a [[shardByTokenBudget]] emission — the
    * integrity artifact a training run ships next to its shards: one
    * row per shard with document count, exact token total, the id key
    * range, and an ORDER-INDEPENDENT 60-bit content checksum
    * (bit_xor of the md5-derived key of every member id). Any engine —
    * Spark, DuckDB, the trainer's Python loader — recomputes the same
    * checksum from the shard it actually read and catches a dropped,
    * duplicated, or misrouted document before a single step trains on
    * it.
    *
    * XOR is the right fold here: commutative/associative (so the
    * aggregation is one map-side-partial pass with CONSTANT per-shard
    * state — no per-shard id list ever materializes, unlike a
    * concatenation digest), and mergeable across partial manifests.
    * Its linearity is fine for INTEGRITY (random-corruption detection,
    * where colliding a 60-bit xor requires an exact compensating id
    * set) though not for adversarial tamper-proofing — a pipeline that
    * needs the latter signs the manifest downstream.
    *
    * Scale: [[shardByTokenBudget]]'s cost plus one aggregation whose
    * output is |shards| rows. Every emitted number is deterministic
    * md5 arithmetic — full DuckDB oracle (q233).
    */
  def shardManifest(
      df: DataFrame,
      orderCol: String,
      tokenCol: String,
      budget: Long): DataFrame = {
    val key60 = conv(substring(md5(col(orderCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    shardByTokenBudget(df, orderCol, tokenCol, budget)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("total_tokens"),
        min(col(orderCol)).as("first_id"),
        max(col(orderCol)).as("last_id"),
        bit_xor(key60).as("ids_xor60"))
  }

  /** Deterministic curriculum ordering for training emission: rows bin
    * into `nBins` equal-frequency difficulty bins on `valueCol`
    * (DISCRETE percentile boundaries — actual data values, so any
    * engine reproduces the exact bin of every row; the q135
    * `quantileBin` machinery with one global group), then shuffle
    * WITHIN each bin by [[corpusShuffleKey]]. The trainer reads
    * `ORDER BY (bin, shuffle_key)` for an easy→hard curriculum whose
    * within-bin order is reproducible and re-seedable without
    * re-binning.
    *
    * Scale: the boundary aggregate is one global percentile pass whose
    * result broadcasts (nBins−1 values); binning and the key are
    * map-only. The only data exchange is the final sort the READER
    * chooses to do — the operator itself adds none.
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      nBins: Int = 4,
      seed: Long = 42L): DataFrame = {
    // withColumn REPLACES same-named columns: silently clobbering a
    // caller's bin/shuffle_key (or the internal __all scratch column)
    // would corrupt the input undetected, so fail loudly instead.
    val reserved = Seq("bin", "shuffle_key", "shuffle_key64", "__all")
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"curriculumOrder emits columns ${reserved.mkString("/")}; " +
        s"input already has ${clash.mkString(", ")} — rename before calling")
    val binned = graft.quality.Outliers.quantileBin(
      df.withColumn("__all", lit(1)), valueCol, Seq("__all"), nBins)
    binned
      .withColumn("bin", col(s"${valueCol}_bin"))
      .withColumn("shuffle_key", corpusShuffleKey(col(idCol), seed))
      .withColumn("shuffle_key64", corpusShuffleKey64(col(idCol), seed))
      .drop("__all", s"${valueCol}_bin")
  }

  /** KMV (bottom-k) estimate of the distinct-shingle overlap between two
    * corpora: Jaccard plus per-side distinct-count estimates, from two
    * k-row sketches instead of a full distinct-set join. The sketch key
    * is the first 15 md5 hex chars of each w-token shingle (60 bits —
    * always a non-negative BIGINT), so the EXACT sketch replays in any
    * engine: unlike a seeded-hash sketch, every number this emits is
    * deterministic, oracle-checkable arithmetic at ANY k (the usual
    * sketch/oracle impasse — q25/q118 — does not apply).
    *
    * Estimators (the classic KMV identities):
    *   S  = bottom-k of (A ∪ B)   — computable from the two sketches,
    *        because bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B));
    *   Ĵ  = |S ∩ skA ∩ skB| / |S| (exact when |A ∪ B| ≤ k);
    *   n̂  = (k−1) / (kth smallest / 2⁶⁰), exact when the side has < k
    *        distinct shingles.
    *
    * Scale: each side costs one distinct (hash-width shuffle — 8 B keys)
    * and a TakeOrderedAndProject (per-partition bottom-k; k rows reach
    * one task). The combine is array math on two k-length arrays in a
    * 1×1 cross join. The k-long sketches persist naturally for
    * incremental corpus-overlap monitoring — track train/eval
    * contamination drift across snapshots without re-reading history.
    * Contrast [[Dedup.contaminationSpans]] (exact, per-span, costs a
    * corpus-wide semi-join) — this is the cheap monitoring counterpart.
    */
  def kmvCorpusOverlap(
      a: DataFrame,
      b: DataFrame,
      textCol: String,
      w: Int = 5,
      k: Int = 1024): DataFrame = {
    require(w >= 1, "shingle width must be >= 1")
    require(k >= 2, "sketch size must be >= 2")
    def sketch(df: DataFrame, name: String): DataFrame = {
      val toks = split(col(textCol), " ")
      val nSh = (size(toks) - (w - 1)).cast("int")
      df.select(toks.as("__t"), nSh.as("__n"))
        .where(col("__n") >= 1)
        .select(col("__t"), explode(sequence(lit(0), col("__n") - 1)).as("p"))
        .select(
          conv(substring(
            md5(array_join(slice(col("__t"), col("p") + 1, lit(w)), " ")),
            1, 15), 16, 10).cast("long").as("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .agg(sort_array(collect_list(col("h"))).as(name))
    }
    val hashSpace = 1.152921504606846976e18 // 2^60
    def estDistinct(sk: Column): Column =
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(round(
          lit((k - 1).toDouble) / (array_max(sk).cast("double") / hashSpace), 4))
    sketch(a, "sa").crossJoin(sketch(b, "sb"))
      .select(col("sa"), col("sb"),
        slice(array_sort(array_union(col("sa"), col("sb"))), 1, k).as("su"))
      .select(
        lit(k).cast("int").as("k"),
        size(col("su")).as("union_k"),
        estDistinct(col("sa")).as("d_a_est"),
        estDistinct(col("sb")).as("d_b_est"),
        round(
          size(filter(col("su"), x =>
            array_contains(col("sa"), x) && array_contains(col("sb"), x)))
            .cast("double") / size(col("su")).cast("double"), 6)
          .as("jaccard_est"))
  }

  /** Per-GROUP KMV overlap MATRIX — [[kmvCorpusOverlap]] generalized
    * from one (a, b) pair to every pair of groups (sources, snapshots,
    * language slices): which sources mirror each other is a mix-design
    * input (two heavily-overlapping sources shouldn't both get full
    * weight) and a dedup-planning input (route overlapping sources into
    * the same near-dup partition first).
    *
    * Scale shape, better than the pairwise operator's: the corpus is
    * scanned ONCE — per-group bottom-k sketches build through a
    * MERGEABLE Aggregator ([[graft.functions.BottomKSketch]] with
    * `hashInput = false`, map-side partial aggregation, k-long state
    * per group) instead of a per-side sort — and the pairwise stage
    * runs over |groups|² sketch pairs (parameter-bounded driver-scale
    * rows, k longs each), never over data. Same md5-60-bit hash keys
    * as [[kmvCorpusOverlap]]: every emitted estimate is replayable
    * arithmetic, and the 60-bit values are non-negative so the
    * aggregator's unsigned order, `array_sort`, and a SQL ORDER BY all
    * agree. Output one row per unordered group pair (grp_a < grp_b):
    * (grp_a, grp_b, k, union_k, d_a_est, d_b_est, jaccard_est).
    */
  def kmvOverlapMatrix(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      w: Int = 5,
      k: Int = 1024): DataFrame =
    pairwiseFromSketches(
      // both sides of the pair join read the sketch frame
      Barrier(kmvSketches(df, groupCol, textCol, w, k), "ScaleOps.kmvOverlapMatrix"), k)

  /** The |groups|²-row pairwise stage shared by [[kmvOverlapMatrix]]
    * and [[kmvOverlapMatrixAdvance]]: same estimate arithmetic as
    * [[kmvCorpusOverlap]], over a (grp, sk) sketch frame.
    */
  private def pairwiseFromSketches(sketches: DataFrame, k: Int): DataFrame = {
    val hashSpace = 1.152921504606846976e18 // 2^60
    def estDistinct(sk: Column): Column =
      when(size(sk) < k, size(sk).cast("double"))
        .otherwise(round(
          lit((k - 1).toDouble) / (array_max(sk).cast("double") / hashSpace), 4))
    val su = slice(array_sort(array_union(col("sa"), col("sb"))), 1, k)
    sketches.select(col("grp").as("grp_a"), col("sk").as("sa"))
      .join(sketches.select(col("grp").as("grp_b"), col("sk").as("sb")),
        col("grp_a") < col("grp_b"))
      .withColumn("su", su)
      .select(
        col("grp_a"), col("grp_b"),
        lit(k).cast("int").as("k"),
        size(col("su")).as("union_k"),
        estDistinct(col("sa")).as("d_a_est"),
        estDistinct(col("sb")).as("d_b_est"),
        round(
          size(filter(col("su"), x =>
            array_contains(col("sa"), x) && array_contains(col("sb"), x)))
            .cast("double") / size(col("su")).cast("double"), 6)
          .as("jaccard_est"))
  }

  /** Persistable per-group KMV sketch state for [[kmvOverlapMatrix]]:
    * (grp, sk) with sk = the bottom-k md5-60-bit shingle keys. Store
    * this (parquet) once per corpus; daily batches then advance it via
    * [[kmvOverlapMatrixAdvance]] WITHOUT re-reading history — the
    * whole point of the sketch being mergeable. Parameters (w, k) must
    * match between store build and advance.
    */
  def kmvSketches(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      w: Int = 5,
      k: Int = 1024): DataFrame = {
    require(w >= 1, "shingle width must be >= 1")
    require(k >= 2, "sketch size must be >= 2")
    val toks = split(col(textCol), " ")
    val nSh = (size(toks) - (w - 1)).cast("int")
    val bottomK = org.apache.spark.sql.functions.udaf(
      new graft.functions.BottomKSketch(k, hashInput = false))
    df.select(col(groupCol).as("grp"), toks.as("__t"), nSh.as("__n"))
      .where(col("__n") >= 1 && col("grp").isNotNull)
      .select(col("grp"), col("__t"),
        explode(sequence(lit(0), col("__n") - 1)).as("p"))
      .select(col("grp"),
        conv(substring(
          md5(array_join(slice(col("__t"), col("p") + 1, lit(w)), " ")),
          1, 15), 16, 10).cast("long").as("h"))
      .groupBy("grp")
      .agg(bottomK(col("h")).as("sk"))
  }

  /** Incremental advance of the overlap-matrix state: merge a batch's
    * sketches into the store (per-group bottom-k of the UNION — exact,
    * because a bottom-k sketch is a mergeable sub-sketch of any
    * superset) and re-emit the pairwise matrix from the merged
    * sketches. History is touched only through its k-long sketch rows;
    * the batch is scanned once. advance(store, batch) ≡
    * rebuild(history ∪ batch) EXACTLY (not approximately) — the sketch
    * of a union is the bottom-k of the two sketches' union, which the
    * equivalence spec pins. Returns (newStore, matrix).
    */
  def kmvOverlapMatrixAdvance(
      store: DataFrame,
      batch: DataFrame,
      groupCol: String,
      textCol: String,
      w: Int = 5,
      k: Int = 1024): (DataFrame, DataFrame) = {
    val batchSk = kmvSketches(batch, groupCol, textCol, w, k)
    val bottomK = org.apache.spark.sql.functions.udaf(
      new graft.functions.BottomKSketch(k, hashInput = false))
    val merged = Barrier(store.select(col("grp"), col("sk"))
      .unionByName(batchSk)
      .select(col("grp"), explode(col("sk")).as("h"))
      .groupBy("grp")
      .agg(bottomK(col("h")).as("sk")), "ScaleOps.kmvOverlapMatrixAdvance")
    (merged, pairwiseFromSketches(merged, k))
  }

  /** Mix-FEASIBILITY solver — the planning step the token-budget
    * family ([[tokenBudgetRates]]/[[weightedTokenSample]]/
    * [[upsampleToTokenBudget]]) assumes already happened: those take
    * per-stratum ABSOLUTE targets; a training run starts from mix
    * WEIGHTS ("50% web, 30% code, 20% books") and an epoch cap per
    * source. The solver computes the largest total budget T such that
    * every stratum can supply its share within `maxEpochs` passes over
    * its available tokens:
    *
    *   T* = min over strata of (maxEpochs · avail_d / w_d),  w
    *        normalized to sum 1
    *
    * (water-filling's degenerate-but-ubiquitous fixed-proportions
    * case — with hard mix ratios the scarcest source is the binding
    * constraint and caps everything else). Output, one row per
    * weighted stratum: (stratum, weight, avail_tokens, alloc_tokens,
    * epochs, binding) with alloc = floor(w·T*), epochs rounded 6dp,
    * and `binding` marking the stratum whose supply sets T*. A
    * weighted stratum ABSENT from the corpus is kept with avail 0 and
    * makes the mix infeasible (T* = 0) — the honest answer, visible as
    * every allocation zeroing with the absent stratum binding.
    *
    * Scale: one groupBy over (stratum) collected to the driver —
    * bounded by the number of mix domains (planning metadata, not
    * data, the centroids/NB-model discipline). All arithmetic is
    * deterministic and engine-replayable (q204 carries a full oracle).
    */
  def solveMixBudget(
      df: DataFrame,
      strataCol: String,
      tokenCol: String,
      weights: Map[String, Double],
      maxEpochs: Double = 1.0): DataFrame = {
    require(weights.nonEmpty, "at least one mix weight")
    require(weights.values.forall(_ > 0), "mix weights must be > 0")
    require(maxEpochs > 0, "epoch cap must be > 0")
    val spark = df.sparkSession
    // sum in sorted-key order: Map iteration order is an implementation
    // detail, and FP addition is order-sensitive — the oracle needs ONE
    // defined order (q204 additionally picks weights whose sum is exact
    // in IEEE, so any engine's summation order agrees)
    val wSum = weights.toSeq.sortBy(_._1).map(_._2).sum
    val avail = df.filter(col(strataCol).isNotNull)
      .groupBy(strataCol)
      .agg(sum(col(tokenCol).cast("long")).as("__t"))
      .collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .toMap
    val rows = weights.toSeq.sortBy(_._1).map { case (s, w) =>
      (s, w / wSum, avail.getOrElse(s, 0L))
    }
    // T* and its binding stratum; ties bind the lexicographically first
    val caps = rows.map { case (s, w, a) => (s, maxEpochs * a / w) }
    val tStar = caps.map(_._2).min
    val binding = caps.find(_._2 == tStar).get._1
    import spark.implicits._
    rows.map { case (s, w, a) =>
      val alloc = math.floor(w * tStar).toLong
      val epochs = if (a <= 0L) 0.0
        else BigDecimal(alloc.toDouble / a.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s, BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        a, alloc, epochs, s == binding)
    }.toDF("stratum", "weight", "avail_tokens", "alloc_tokens", "epochs", "binding")
  }

  /** [[solveMixBudget]] composed with the realization operators: each
    * stratum is DOWN-sampled to its allocation when it fits in one
    * epoch ([[weightedTokenSample]] — tight A-ES attainment) and
    * UP-sampled past 1.0 otherwise ([[upsampleToTokenBudget]] —
    * copy_no-numbered full + fractional copies). The output is the
    * ready-to-pack training mix at the largest feasible budget; rows
    * gain `copy_no` (1 for downsampled strata).
    */
  def mixAtMaxBudget(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokenCol: String,
      weights: Map[String, Double],
      maxEpochs: Double = 1.0): DataFrame = {
    val plan = solveMixBudget(df, strataCol, tokenCol, weights, maxEpochs)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val down = plan.filter { case (_, a, alloc) => alloc <= a }
      .map { case (s, _, alloc) => s -> alloc }.toMap
    val up = plan.filter { case (_, a, alloc) => alloc > a }
      .map { case (s, _, alloc) => s -> alloc }.toMap
    val downDf =
      if (down.isEmpty) None
      else Some(weightedTokenSample(df, keyCol, strataCol, tokenCol, down)
        .withColumn("copy_no", lit(1L)))
    val upDf =
      if (up.isEmpty) None
      else Some(upsampleToTokenBudget(df, keyCol, strataCol, tokenCol, up))
    (downDf, upDf) match {
      case (Some(d), Some(u)) => d.unionByName(u)
      case (Some(d), None) => d
      case (None, Some(u)) => u
      case (None, None) => df.withColumn("copy_no", lit(1L)).limit(0)
    }
  }

  /** DSIR-style importance resampling (Xie et al. 2023,
    * arXiv:2302.03169): select the `k` raw-corpus documents whose
    * char-n-gram distribution best matches a TARGET domain, by
    * importance weight under two bounded unigram-of-char-ngram LMs and
    * Gumbel-top-k sampling. This is the data-selection step a
    * pre-training pipeline runs between crawl and mixing: "give me the
    * 10M web documents that look most like the curated domain" — the
    * reference stops at row-level quality checks
    * (scripts/data_quality_check_pyspark.py); this selects BY
    * DISTRIBUTION MATCH.
    *
    *  - log importance weight: `n_grams · (avgLogP_target − avgLogP_raw)`
    *    with both averages from the broadcast native LM scorer
    *    ([[TextAnalysis.lmScorer]], the q153 machinery) — the total
    *    target-vs-raw log-likelihood ratio of the document under the
    *    two unigram models. Absent grams take the scorer's add-half
    *    smoothing, so out-of-vocabulary text scores low, not null.
    *  - Gumbel-top-k: sampling ∝ softmax(logw) without replacement ≡
    *    top-k by `logw + Gumbel(0,1)`. The Gumbel is DETERMINISTIC and
    *    engine-replayable: u = (md5-52-bit + 0.5) / 2⁵², g = −ln(−ln u)
    *    — 52 bits so the long→double cast is exact, the
    *    [[corpusShuffleKey64]] limb discipline applied to (0,1).
    *    A fresh seed is a fresh draw; seedless selection (pure top-k by
    *    weight) is `gumbelScale = 0`.
    *
    * Both models are bounded (char-n-gram vocabularies) so they
    * broadcast at any corpus scale; scoring is MAP-ONLY (two native
    * expressions per row, no explode, no join) and the only exchange is
    * the TakeOrdered top-k — per-partition heaps, k rows to one task.
    * Every emitted number is deterministic arithmetic, so the whole
    * selection carries a DuckDB oracle (q203) — including the sampling.
    *
    * Output: (idCol, n_grams, logw, sel_key) for the k selected rows,
    * sel_key descending; ties break on id.
    */
  def importanceResample(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      n: Int = 3,
      seed: Long = 42L,
      gumbelScale: Double = 1.0): DataFrame = {
    require(k >= 1, "selection size must be >= 1")
    val tModel = TextAnalysis.charNgramModel(target, textCol, n)
    val rModel = TextAnalysis.charNgramModel(raw, textCol, n)
    require(!tModel.isEmpty, s"target corpus has no document with >= $n chars")
    require(!rModel.isEmpty, s"raw corpus has no document with >= $n chars")
    val tScore = TextAnalysis.lmScorer(tModel, n)
    val rScore = TextAnalysis.lmScorer(rModel, n)
    val norm = lower(trim(col(textCol)))
    val nGrams = (length(norm) - (n - 1)).cast("long")
    val logw = round(
      (tScore(col(textCol)) - rScore(col(textCol))) * nGrams.cast("double"), 4)
    val hex = md5(concat_ws(":", lit(seed.toString), col(idCol).cast("string")))
    val u = (conv(substring(hex, 1, 13), 16, 10).cast("double") + lit(0.5)) /
      lit(4503599627370496.0) // 2^52 — exact long→double, exact division
    val gumbel = round(-log(-log(u)), 6)
    raw.select(col(idCol), nGrams.as("n_grams"), logw.as("logw"))
      .filter(col("n_grams") >= 1)
      .withColumn("sel_key", col("logw") + lit(gumbelScale) * gumbel)
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
  }
}
