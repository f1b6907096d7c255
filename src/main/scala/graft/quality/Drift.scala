package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Barrier

/** Distribution-drift statistics between two corpus slices (versions,
  * sources, time windows, encoder runs) — the governance gate that
  * catches "this re-crawl silently halved document lengths" or "the
  * language mix moved 20 points" before a training run consumes it.
  *
  * Both statistics are built from EXACT integer counts, so every
  * reported number is a pure function of the input sets — the engine's
  * standard cross-engine determinism contract.
  */
object Drift {

  /** Two-sample Kolmogorov–Smirnov statistic over a numeric column:
    * D = max over values of |F_A(v) − F_B(v)|, with the max located by
    * EXACT integer arithmetic — |cumA·n_B − cumB·n_A| in decimal(38,0)
    * (no float CDFs, so ties and the argmax are unambiguous and
    * engine-replayable); only the final D is surfaced as a double.
    * Returns ONE row: (n_a, n_b, d_stat, at_value) — at_value is the
    * smallest value attaining the max (deterministic tie-break).
    *
    * Scale shape: one value-keyed aggregate for per-value counts, then
    * the distributed prefix sum via the PARTITION-OFFSET technique
    * (range-repartition on value, per-partition window, per-partition
    * totals collected as a bounded |partitions|-row planning step —
    * shardByTokenBudget's idiom; NO global single-partition window),
    * then TakeOrdered(1). At 100 TB the shuffle carries (value, two
    * longs) rows — distinct values, not documents.
    */
  def ksDrift(dfA: DataFrame, dfB: DataFrame, valueCol: String): DataFrame = {
    val spark = dfA.sparkSession
    // the CDF is keyed on the ORIGINAL numeric value (widened to
    // double — exact for integers up to 2^53); an integer truncation
    // here would collapse continuous inputs (1.4 and 1.6 to one grid
    // point) and silently change the statistic
    val a = dfA.select(col(valueCol).cast("double").as("v"))
      .withColumn("__a", lit(1L)).withColumn("__b", lit(0L))
    val b = dfB.select(col(valueCol).cast("double").as("v"))
      .withColumn("__a", lit(0L)).withColumn("__b", lit(1L))
    val perValue = a.unionByName(b)
      .groupBy("v")
      .agg(sum(col("__a")).as("ca"), sum(col("__b")).as("cb"))
    val nPart = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val pinned = Barrier(perValue
      .repartitionByRange(nPart, col("v"))
      .withColumn("__pid", spark_partition_id()), "Drift.ksDrift")
    // bounded planning step: one row per partition
    val sums = pinned.groupBy("__pid")
      .agg(sum(col("ca")).as("__ta"), sum(col("cb")).as("__tb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val na = sums.map(_._2).sum
    val nb = sums.map(_._3).sum
    if (na == 0L || nb == 0L)
      return pinned.sparkSession.emptyDataFrame
        .select(lit(na).as("n_a"), lit(nb).as("n_b"),
          lit(0.0).as("d_stat"), lit(null).cast("double").as("at_value"))
        .filter(lit(false))
    def offsetExpr(totals: Map[Int, Long]) =
      if (totals.isEmpty) lit(0L)
      else coalesce(element_at(
        map(totals.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(lit(k), lit(v)) }: _*), col("__pid")), lit(0L))
    val beforeA = sums.map(_._1).map { pid =>
      pid -> sums.takeWhile(_._1 < pid).map(_._2).sum }.toMap
    val beforeB = sums.map(_._1).map { pid =>
      pid -> sums.takeWhile(_._1 < pid).map(_._3).sum }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("v")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pinned
      .withColumn("__cca", offsetExpr(beforeA) + sum(col("ca")).over(w))
      .withColumn("__ccb", offsetExpr(beforeB) + sum(col("cb")).over(w))
      // exact integer cross-products: |cumA·n_B − cumB·n_A| — decimal so
      // 100 TB counts (cum ≤ 10^12) cannot overflow the comparison
      .withColumn("__ad",
        abs(col("__cca").cast("decimal(38,0)") * lit(nb)
          - col("__ccb").cast("decimal(38,0)") * lit(na)))
      .orderBy(col("__ad").desc, col("v").asc).limit(1)
      .select(
        lit(na).as("n_a"), lit(nb).as("n_b"),
        (col("__ad").cast("double") / (lit(na.toDouble) * lit(nb.toDouble)))
          .as("d_stat"),
        col("v").as("at_value"))
  }

  /** [[ksDrift]] PER GROUP in one pass — the KS statistic of a numeric
    * column between two corpus slices for EVERY language/source/shard
    * at once, where the global statistic would hide per-slice shifts
    * (a length collapse confined to one language disappears inside the
    * corpus-wide CDF).
    *
    * Shape: per (group, side) the deterministic value-carrying KMV
    * sample ([[graft.functions.BottomKValues]], 2k longs of mergeable
    * state — the q257 machinery; hash = md5-60-bit image of `keyCol`,
    * so any engine replays the exact sample), then the EXACT two-sample
    * KS over the two samples: for every candidate value v in either
    * sample, |cntA(≤v)·m_b − cntB(≤v)·m_a| in exact integers (≤ k², no
    * floats), max located with the smallest-value tie-break. The
    * statistic is exact FOR THE SAMPLES; sampling error is the usual
    * KS-on-k-rows bound (~1.36·√(2/k) at 95%). Groups present on one
    * side only surface with `one_sided` = true and NULL d_stat — never
    * a silent drop.
    *
    * CONTRACT: `keyCol` must be UNIQUE per row within each side (the
    * [[graft.functions.BottomKValues]] sample contract — duplicate
    * keys hash identically, so at most one of them survives into the
    * KMV sample with a nondeterministic value). Rows whose `keyCol` is
    * NULL are FILTERED before hashing (they would all collapse onto
    * one hash — concat_ws drops NULL args — and silently bias the
    * sample); they are therefore excluded from n_a/n_b too, which
    * keeps the reported counts consistent with the sampled population.
    *
    * Scale: ONE (group, side)-keyed aggregate with bounded state is
    * the only data shuffle; the pivot and the [[ksBest]] sorted-merge
    * argmax (one O(m log m) pass over the two samples — no candidate
    * explode, no per-group window) run on |groups|-bounded frames
    * already partitioned by group. Output:
    * (groupCol, n_a, n_b, m_a, m_b, d_stat, at_value, one_sided).
    */
  def ksDriftByGroup(
      dfA: DataFrame,
      dfB: DataFrame,
      groupCol: String,
      keyCol: String,
      valueCol: String,
      k: Int,
      seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    def side(df: DataFrame, tag: String) =
      df.filter(col(keyCol).isNotNull)
        .select(col(groupCol).as("__g"),
          lit(tag).as("__side"),
          conv(substring(
            md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string"))),
            1, 15), 16, 10).cast("long").as("__h"),
          col(valueCol).cast("double").as("__v"))
    val samp = side(dfA, "a").unionByName(side(dfB, "b"))
      .groupBy("__g", "__side")
      .agg(count(lit(1)).as("__n"),
        graft.functions.BottomKValues.sample(col("__h"), col("__v"), k).as("__vals"))
    // pivot the two sides wide; arrays compare fine under max() and a
    // group has at most one row per side
    val wide = samp.groupBy("__g")
      .agg(
        coalesce(max(when(col("__side") === "a", col("__n"))), lit(0L)).as("n_a"),
        coalesce(max(when(col("__side") === "b", col("__n"))), lit(0L)).as("n_b"),
        coalesce(max(when(col("__side") === "a", col("__vals"))),
          array().cast("array<double>")).as("__va"),
        coalesce(max(when(col("__side") === "b", col("__vals"))),
          array().cast("array<double>")).as("__vb"))
      .withColumn("m_a", size(col("__va")).cast("long"))
      .withColumn("m_b", size(col("__vb")).cast("long"))
    wide
      // one O(m log m) sorted-merge pass per group replaces the
      // explode-candidates formulation (O(k²) interpreted HOF lambdas
      // per group — the r12 advice item); output bit-identical
      .withColumn("__best",
        ksBest(col("__va"), col("__vb"), col("m_a"), col("m_b")))
      .select(
        col("__g").as(groupCol),
        col("n_a"), col("n_b"), col("m_a"), col("m_b"),
        when(col("m_a") === 0L || col("m_b") === 0L, lit(null).cast("double"))
          .otherwise((col("__best.nad").cast("double") * -1.0)
            / (col("m_a").cast("double") * col("m_b").cast("double"))).as("d_stat"),
        when(col("m_a") === 0L || col("m_b") === 0L, lit(null).cast("double"))
          .otherwise(col("__best.v")).as("at_value"),
        (col("m_a") === 0L || col("m_b") === 0L).as("one_sided"))
  }

  /** Exact two-sample KS argmax over two samples in ONE O(m log m)
    * pass (m = m_a + m_b): merge-sort the side-tagged values, walk
    * them once with running counts, and evaluate the exact integer
    * cross-product |cumA·m_b − cumB·m_a| at every value BOUNDARY
    * (evaluating inside a run of equal values would use a partial
    * CDF — a point on neither step function, which can exceed the
    * true maximum when a-rows and b-rows interleave within the run).
    * Returns struct(nad, v): nad = −(max |·|), v the SMALLEST value
    * attaining it — bit-identical to the explode-distinct-candidates
    * formulation it replaces (struct-min over (−ad, v)), which cost
    * O(k²) interpreted HOF lambdas per group (the r12 advice item).
    * Pure stateless array expressions, so the streaming twin can run
    * it on a closed aggregate row where a second grouped argmax would
    * be a forbidden chained stateful aggregate.
    */
  private[graft] def ksBest(
      va: org.apache.spark.sql.Column,
      vb: org.apache.spark.sql.Column,
      ma: org.apache.spark.sql.Column,
      mb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val merged = array_sort(concat(
      transform(va, v => struct(v.as("v"), lit(1L).as("da"), lit(0L).as("db"))),
      transform(vb, v => struct(v.as("v"), lit(0L).as("da"), lit(1L).as("db")))))
    // state: running counts, the pending previous value, and the best
    // candidate so far (nad starts at the impossible sentinel +1; real
    // candidates are ≤ 0, so the first boundary always takes)
    val init = struct(lit(0L).as("ca"), lit(0L).as("cb"),
      lit(null).cast("double").as("prev"),
      lit(1L).as("nad"), lit(null).cast("double").as("bestv"))
    aggregate(
      merged,
      init,
      (st, e) => {
        val boundary = st("prev").isNotNull && (e("v") =!= st("prev"))
        val candNad = abs(st("ca") * mb - st("cb") * ma) * -1L
        val take = boundary && (st("bestv").isNull || candNad < st("nad"))
        struct(
          (st("ca") + e("da")).as("ca"),
          (st("cb") + e("db")).as("cb"),
          e("v").as("prev"),
          when(take, candNad).otherwise(st("nad")).as("nad"),
          when(take, st("prev")).otherwise(st("bestv")).as("bestv"))
      },
      st => {
        // the final boundary: full counts at the largest value (its ad
        // is 0 by construction — it matters only for the all-zero tie,
        // where earlier/smaller v still wins by the strict <)
        val candNad = abs(st("ca") * mb - st("cb") * ma) * -1L
        val take = st("prev").isNotNull &&
          (st("bestv").isNull || candNad < st("nad"))
        struct(
          when(take, candNad).otherwise(st("nad")).as("nad"),
          when(take, st("prev")).otherwise(st("bestv")).as("v"))
      })
  }

  /** Per-group QUANTILE drift: p50/p99-style location shifts of a
    * numeric column between two corpus slices, for every
    * language/source at once — the LOCATION companion to
    * [[ksDriftByGroup]] (shape) and [[psiDriftByGroup]] (mix): "p99
    * document length halved, but only in French". Per (group, side)
    * the deterministic value-carrying KMV sample (the q257 machinery,
    * 2k longs of mergeable state), then the nearest-rank quantile of
    * each side's sorted sample and the plain double delta. Groups
    * present on one side surface with NULLs and `one_sided` — never
    * dropped.
    *
    * Same `keyCol` CONTRACT as [[ksDriftByGroup]]: keys must be unique
    * per row within a side, and NULL-key rows are filtered before
    * hashing rather than silently collapsing onto one sample slot.
    *
    * Scale: ONE (group, side)-keyed aggregate over data is the only
    * shuffle; the pivot and quantile indexing run on |groups|-bounded
    * frames already partitioned by group. Output: (groupCol, q,
    * value_a, value_b, delta, m_a, m_b, one_sided).
    */
  def quantileDriftByGroup(
      dfA: DataFrame,
      dfB: DataFrame,
      groupCol: String,
      keyCol: String,
      valueCol: String,
      k: Int,
      qs: Seq[Double],
      seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    def side(df: DataFrame, tag: String) =
      df.filter(col(keyCol).isNotNull)
        .select(col(groupCol).as("__g"),
          lit(tag).as("__side"),
          conv(substring(
            md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string"))),
            1, 15), 16, 10).cast("long").as("__h"),
          col(valueCol).cast("double").as("__v"))
    val samp = side(dfA, "a").unionByName(side(dfB, "b"))
      .groupBy("__g", "__side")
      .agg(graft.functions.BottomKValues.sample(col("__h"), col("__v"), k).as("__vals"))
    val wide = samp.groupBy("__g")
      .agg(
        sort_array(coalesce(max(when(col("__side") === "a", col("__vals"))),
          array().cast("array<double>"))).as("__va"),
        sort_array(coalesce(max(when(col("__side") === "b", col("__vals"))),
          array().cast("array<double>"))).as("__vb"))
      .withColumn("m_a", size(col("__va")).cast("long"))
      .withColumn("m_b", size(col("__vb")).cast("long"))
    def at(vs: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
      when(m === 0L, lit(null).cast("double"))
        .otherwise(element_at(vs,
          greatest(lit(1L), ceil(col("q") * m)).cast("int")))
    wide
      .select(col("__g"), col("m_a"), col("m_b"), col("__va"), col("__vb"),
        explode(array(qs.map(lit): _*)).as("q"))
      .select(col("__g").as(groupCol), col("q"),
        at(col("__va"), col("m_a")).as("value_a"),
        at(col("__vb"), col("m_b")).as("value_b"),
        (at(col("__vb"), col("m_b")) - at(col("__va"), col("m_a"))).as("delta"),
        col("m_a"), col("m_b"),
        (col("m_a") === 0L || col("m_b") === 0L).as("one_sided"))
  }

  /** Resolve the PER-GROUP baseline samples the windowed drift twins
    * compare against (`graft.streaming.StreamOps.windowedKsDriftByGroup`
    * / `windowedQuantileDriftByGroup`): per group the population count
    * and the deterministic value-carrying KMV sample — the same
    * md5-60-bit hash and k as the batch operators, so stream-vs-
    * baseline numbers replay exactly. The collect is MODEL STATE
    * (|groups|-bounded, the k-means-centroid rationale), resolved once
    * at stream-build time and frozen into the plan as map literals.
    * Group keys are stringified (the map-literal key type); the stream
    * side looks up with the same cast and REPORTS the original column.
    * Same `keyCol` contract as [[ksDriftByGroup]] (unique per row;
    * NULL keys filtered).
    */
  def baselineSamples(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      valueCol: String,
      k: Int,
      seed: Long = 0L): Map[String, (Long, Array[Double])] = {
    require(k > 0, "k must be positive")
    df.filter(col(keyCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n"),
        graft.functions.BottomKValues.sample(
          conv(substring(
            md5(concat_ws(":", lit(seed.toString), col(keyCol).cast("string"))),
            1, 15), 16, 10).cast("long"),
          col(valueCol).cast("double"), k).as("__vals"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Double](2).toArray.sorted))
      .toMap
  }

  /** [[psiDrift]] PER GROUP: the categorical mix shift between two
    * corpus slices for every language/shard at once — the PSI
    * companion to [[ksDriftByGroup]] ("the source mix moved 20 points,
    * but only inside German"). Same exact-integer shares and 6dp-ln
    * discipline as the global operator, with shares computed against
    * the GROUP's totals; one-sided (group, category) cells flag
    * instead of clamping.
    *
    * Scale: ONE (group, cat)-keyed aggregate over data (map-side
    * partials) is checkpointed; group totals and the report both
    * derive from that bounded cell frame (the q259/q262 idiom — no
    * second corpus scan). Output: (groupCol, cat, n_a, n_b, share_a,
    * share_b, one_sided, psi). The group column keeps its ORIGINAL
    * type (like the sibling ksDriftByGroup/quantileDriftByGroup), so
    * the three per-slice drift reports join on the group key without a
    * cast; only the category is string-coerced (it is a label by
    * construction).
    */
  def psiDriftByGroup(
      dfA: DataFrame,
      dfB: DataFrame,
      groupCol: String,
      catCol: String): DataFrame = {
    def side(df: DataFrame, a: Long, b: Long) =
      df.select(col(groupCol).as("__g"),
        col(catCol).cast("string").as("cat"))
        .withColumn("__a", lit(a)).withColumn("__b", lit(b))
    val cells = Barrier(side(dfA, 1L, 0L).unionByName(side(dfB, 0L, 1L))
      .groupBy("__g", "cat")
      .agg(sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b")), "Drift.psiDriftByGroup")
    val totals = cells.groupBy("__g")
      .agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    // a group entirely absent from one side has a zero total: its
    // shares are undefined — NULL, never a 0/0 NaN (and the DuckDB
    // twin's CASE mirrors this exactly)
    def share(n: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
      when(t === 0L, lit(null).cast("double"))
        .otherwise(n.cast("double") / t.cast("double"))
    cells.join(totals, Seq("__g"))
      .withColumn("share_a", share(col("n_a"), col("__ta")))
      .withColumn("share_b", share(col("n_b"), col("__tb")))
      .withColumn("one_sided", col("n_a") === 0L || col("n_b") === 0L)
      .withColumn("psi",
        when(col("one_sided"), lit(null).cast("double"))
          .otherwise(round(
            (col("share_a") - col("share_b"))
              * round(log(col("share_a") / col("share_b")), 6), 6)))
      .select(col("__g").as(groupCol), col("cat"), col("n_a"), col("n_b"),
        col("share_a"), col("share_b"), col("one_sided"), col("psi"))
  }

  /** [[psiDrift]] for a NUMERIC column: equal-frequency bins cut on
    * side A's DISCRETE quantile boundaries (percentile_disc — actual
    * data values, so bin assignment is exact and engine-reproducible;
    * the q135 binning discipline), both sides bucketed by those same
    * boundaries, then the categorical PSI over the bin labels — the
    * standard practice for numeric PSI (bin on the baseline, score the
    * candidate). Side A is the BASELINE by contract: its boundaries
    * are the frozen artifact a monitoring pipeline reuses.
    *
    * Scale: the B−1 boundaries are a DRIVER-SIDE bounded planning step
    * (one aggregate over A collecting B−1 values — the k-means
    * centroid / ksDrift partition-offset rationale), inlined as
    * LITERALS into a map-only comparison fold per side; attaching them
    * as a 1×1 frame instead would re-execute the boundary aggregate
    * under every branch of the PSI union. Then [[psiDrift]]'s one
    * |bins|-bounded aggregate — each side is scanned exactly once.
    *
    * NULL/NaN `valueCol` rows are FILTERED from BOTH sides before
    * binning: percentile_disc ignores NULLs when cutting the baseline
    * boundaries, so a NULL row was never ranked into any bin — letting
    * it fall into bin 1 (NULL comparisons map to `otherwise(0)`) would
    * silently inflate bin 1's share on dirty columns. The PSI is a
    * statement about values the boundaries were cut from; NULL-rate
    * drift is [[graft.quality.Quality]]'s null-count surface.
    */
  def psiDriftBinned(
      dfA: DataFrame,
      dfB: DataFrame,
      valueCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val boundaryExprs = (1 until nBins).map { b =>
      val p = b.toDouble / nBins
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY `$valueCol`)").as(s"__q$b")
    }
    // NaN filtered alongside NULL: Spark ranks NaN above every double
    // (so it WOULD land in the top bin) while the boundaries coming
    // back as literals compare NaN > b to false (bin 1) — either way a
    // non-value the baseline ranking never saw
    def clean(df: DataFrame) = df.filter(
      col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
    // ONE bounded row: B−1 discrete boundary values (NULL on empty A —
    // every row then lands in bin 1 and A's emptiness surfaces through
    // psiDrift's one_sided flags, never a crash)
    val bs = clean(dfA).agg(boundaryExprs.head, boundaryExprs.tail: _*).head()
    val bin = (0 until nBins - 1)
      .map { i =>
        if (bs.isNullAt(i)) lit(0)
        else when(col(valueCol) > lit(bs.get(i)), 1).otherwise(0)
      }
      .reduce(_ + _) + 1
    def binned(df: DataFrame) = clean(df).withColumn("bin", bin.cast("int"))
    psiDrift(binned(dfA), binned(dfB), "bin")
  }

  /** Population Stability Index over a categorical column: per-category
    * shares on each side plus the PSI contribution
    * (share_a − share_b)·ln(share_a/share_b), under the engine's ln
    * discipline (q153/q241): ln rounded to 6dp at the value level, the
    * product rounded to 6dp — cross-engine-stable doubles from exact
    * integer shares. Categories present on only ONE side get a NULL
    * psi and surface via `one_sided` (their true contribution is
    * unbounded — the report shows them instead of silently clamping).
    * One value-keyed aggregate + a 1×1 totals frame; output is
    * |categories| rows.
    */
  def psiDrift(dfA: DataFrame, dfB: DataFrame, catCol: String): DataFrame = {
    val a = dfA.select(col(catCol).cast("string").as("cat"))
      .withColumn("__a", lit(1L)).withColumn("__b", lit(0L))
    val b = dfB.select(col(catCol).cast("string").as("cat"))
      .withColumn("__a", lit(0L)).withColumn("__b", lit(1L))
    val perCat = a.unionByName(b)
      .groupBy("cat")
      .agg(sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b"))
    val totals = perCat.agg(
      sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    perCat.crossJoin(broadcast(totals)) // 1x1 planning frame
      .withColumn("share_a", col("n_a").cast("double") / col("__ta").cast("double"))
      .withColumn("share_b", col("n_b").cast("double") / col("__tb").cast("double"))
      .withColumn("one_sided", col("n_a") === 0L || col("n_b") === 0L)
      .withColumn("psi",
        when(col("one_sided"), lit(null).cast("double"))
          .otherwise(round(
            (col("share_a") - col("share_b"))
              * round(log(col("share_a") / col("share_b")), 6), 6)))
      .select(col("cat"), col("n_a"), col("n_b"),
        col("share_a"), col("share_b"), col("one_sided"), col("psi"))
  }
}
