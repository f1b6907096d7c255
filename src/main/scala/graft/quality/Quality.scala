package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}

import graft.Barrier

/** Data-profile snapshot — reference validation block
  * (`scripts/...pyspark.py:86-98`): row count, column count, duplicate-row
  * count, per-column null counts. The reference logs these; we return them
  * as data so tests can assert.
  */
final case class Profile(
    rows: Long,
    cols: Int,
    dupRows: Long,
    nullCounts: Map[String, Long])

object Validator {

  /** The whole profile from ONE action over ONE scan of `df`.
    *
    * The reference computes `df.count() - df.distinct().count()`
    * (`:90-91`) and a per-column null vector (`:93-95`): three actions,
    * each re-reading the input. Here the duplicate count and the null
    * vector both come from the distinct rows with their multiplicities,
    * which [[profileRow]] folds into one row. Its rows and distinct rows
    * equal `count` and `distinct().count` exactly: grouping normalizes
    * NULL, NaN and -0.0 the same way `distinct` does.
    *
    * Column names are quoted, so dotted or backticked CSV headers
    * profile like any other.
    */
  def profile(df: DataFrame): Profile = {
    val columns = df.columns
    val r = profileRow(df).head()
    val rows = r.getLong(0)
    Profile(rows, columns.length, rows - r.getLong(1),
      columns.zipWithIndex.map { case (c, i) => c -> r.getLong(i + 2) }.toMap)
  }

  /** The one-row aggregate behind [[profile]]: `rows`, `distinct_rows`,
    * then `nulls_<i>`, the null count of the i-th input column.
    *
    * The input is grouped by all of its columns with a multiplicity `n`
    * (one shuffle, map-side partial counts), and the groups fold into one
    * row: rows = Σn, distinct = the number of groups, nulls_i =
    * Σ n·[column i IS NULL]. Only groups with n > 0 count as distinct:
    * a zero-column frame groups globally, into one group even when
    * empty. Nothing is cached; the grouped rows stream into the fold.
    */
  def profileRow(df: DataFrame): DataFrame = {
    val keys = df.columns.indices.map(i => s"__c$i")
    val n = col("__n")
    val nulls = keys.zipWithIndex.map { case (k, i) =>
      coalesce(sum(when(col(k).isNull, n)), lit(0L)).as(s"nulls_$i")
    }
    df.select(df.columns.zip(keys).map { case (c, k) => col(quoted(c)).as(k) }.toIndexedSeq: _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(n), lit(0L)).as("rows"),
        count(when(n > 0, 1)).as("distinct_rows") +: nulls: _*)
  }

  /** `name` as a column reference that resolves to exactly that column,
    * dots and backticks included.
    */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** Functional-dependency VIOLATION audit: the groups where the claimed
    * dependency lhs → rhs does NOT hold — the classic warehouse
    * consistency check ("every customer key maps to one nation", "every
    * source crawls one language") that catches merge bugs and dirty
    * ingests before they poison joins downstream.
    *
    * Output: one row per violating lhs group — the lhs values, the
    * number of DISTINCT rhs values observed (> 1 by definition of a
    * violation), the group's row count, and a deterministic sample of
    * the conflicting rhs values (sorted, capped at `sampleValues`,
    * string-imaged so any rhs type surfaces flat).
    *
    * Scale: ONE aggregate keyed by lhs (map-side partial; distinct-rhs
    * via a two-level groupBy so the per-group state is bounded by the
    * distinct values actually present, and the sample via sorted
    * `collect_set` is capped after slice). No joins, no windows.
    */
  def fdViolations(
      df: DataFrame,
      lhs: Seq[String],
      rhs: String,
      sampleValues: Int = 5): DataFrame = {
    import org.apache.spark.sql.functions._
    val perValue = df
      .groupBy((lhs :+ rhs).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    perValue
      .groupBy(lhs.map(col): _*)
      .agg(
        count(lit(1)).as("n_distinct_rhs"),
        sum(col("__c")).as("n_rows"),
        concat_ws(",",
          slice(array_sort(collect_set(col(rhs).cast("string"))), 1, sampleValues))
          .as("rhs_sample"))
      .filter(col("n_distinct_rhs") > 1)
  }

  /** Referential-integrity AUDIT between a child table's foreign key
    * and a parent table's key: orphan child rows (key present but no
    * parent), null keys (reported separately — neither orphan nor
    * matched), match mass, fan-out, and childless parents. The
    * standard pre-join health check: a broken merge or a partial
    * re-ingest shows up here before it silently drops rows from every
    * downstream inner join.
    *
    * Scale: one key-width left join (parent side is DISTINCT keys —
    * broadcastable for dimension-sized parents, hash join at scale),
    * one child-key aggregate for fan-out, one anti-join for childless
    * parents; the four result frames are 1×1 and cross-join (the q227
    * planning-frame shape). Returns ONE row.
    */
  def refIntegrity(
      child: DataFrame,
      childKey: String,
      parent: DataFrame,
      parentKey: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ck = child.select(col(childKey).as("__k"))
    val pk = parent.select(col(parentKey).as("__p")).distinct()
    val base = ck.join(pk, col("__k") === col("__p"), "left")
      .agg(
        count(lit(1)).as("n_child_rows"),
        sum(when(col("__k").isNull, 1L).otherwise(0L)).as("n_null_keys"),
        sum(when(col("__k").isNotNull && col("__p").isNull, 1L).otherwise(0L))
          .as("n_orphan_rows"),
        sum(when(col("__p").isNotNull, 1L).otherwise(0L)).as("n_matched_rows"))
    val fan = ck.filter(col("__k").isNotNull)
      .groupBy("__k").agg(count(lit(1)).as("__c"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("max_fanout"),
        count(lit(1)).as("n_distinct_child_keys"))
    val parents = pk.agg(count(lit(1)).as("n_parents"))
    val childless = pk
      .join(ck.filter(col("__k").isNotNull).distinct(),
        col("__p") === col("__k"), "left_anti")
      .agg(count(lit(1)).as("n_childless_parents"))
    base.crossJoin(fan).crossJoin(parents).crossJoin(childless)
  }

  /** Pearson CORRELATION matrix over numeric columns in ONE pass — the
    * profiling companion to [[fdViolations]] for numeric pairs
    * ("discount tracks quantity", "price is length times rate"):
    * |cols| + |cols|(|cols|+1)/2 exact DECIMAL sums accumulate in a
    * single aggregate (map-side partials, no second scan), and the
    * (col_a, col_b, corr) surface derives from that one row. All sums
    * are exact decimals, so every correlation is a pure function of the
    * input set — order/merge/engine-independent (the engine's standard
    * float discipline). Rows with a NULL in ANY profiled column are
    * dropped first (listwise deletion — documented contract; pairwise
    * deletion would need per-pair counts and gives non-PSD matrices).
    * Zero-variance columns yield NULL correlations, not division blow-ups.
    *
    * Magnitude contract, enforced LOUDLY: in non-ANSI mode a value at
    * or beyond 10^(18-scale) would overflow its decimal(18,scale) cast
    * to NULL — the sum would silently skip rows that `n` still counts
    * and every correlation would come out wrong. The same aggregate
    * therefore also tracks max(abs(value)) per column, and the result
    * derivation raise_error's when the observed magnitudes could
    * overflow the value cast (10^(18-scale)), the plain sums
    * (decimal(28,scale): max·n budget) or the product sums
    * (decimal(38,2·scale): max²·n budget) — the fail-loudly overflow
    * discipline of VectorMoments.addExact, with no second scan.
    */
  def correlationMatrix(
      df: DataFrame,
      cols: Seq[String],
      scale: Int = 6): DataFrame =
    corrCore(df, Nil, cols, scale, roundDp = None)

  /** [[correlationMatrix]] PER GROUP — the dependency audit for every
    * region/language/source slice at once ("discount tracks quantity,
    * but only in returns"): the identical exact-DECIMAL sums run as a
    * GROUPED aggregate (map-side partials, state bounded by
    * |cols|²·|groups|), and every (group, col_a, col_b, corr) row
    * derives from its group's sums with the same pinned double ops.
    * Same listwise-null and overflow contracts, gated per group: the
    * raise_error names the offending GROUP KEY alongside its max
    * magnitude and row count, so the failure localizes to a slice.
    * The gate is deliberately CONSERVATIVE — it bounds Σ|v| and Σv² by
    * max|v|·n, so it can fire on data whose actual sums would still
    * fit; lowering `scale` (or pre-scaling the hot column) clears it.
    */
  def correlationMatrixByGroup(
      df: DataFrame,
      groupCol: String,
      cols: Seq[String],
      scale: Int = 6): DataFrame =
    corrCore(df, Seq(groupCol), cols, scale, roundDp = Some(12))

  private def corrCore(
      df: DataFrame,
      groupCols: Seq[String],
      cols: Seq[String],
      scale: Int,
      // the grouped surface rounds corr to 12dp: per-slice sums hit
      // decimal->double conversion points where Spark and DuckDB differ
      // by 1 ULP (observed on the q267 fixture: ...30959730 vs ...32);
      // 12dp is far below any analytical meaning and far above the ULP.
      // The GLOBAL surface stays unrounded - q258's hash is pinned on it.
      roundDp: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    val clean = df.na.drop(cols)
    def dec(c: String) = col(c).cast(s"decimal(18,$scale)")
    // internal columns keyed by INDEX, not raw name — a profiled column
    // containing a dot or backtick must not break re-resolution
    val sums = cols.zipWithIndex.map { case (c, i) => sum(dec(c)).as(s"__s_$i") }
    val mxs = cols.zipWithIndex.map { case (c, i) =>
      max(abs(col(c).cast("double"))).as(s"__mx_$i")
    }
    val pairs = for {
      i <- cols.indices; j <- i until cols.size
    } yield (i, j)
    val prods = pairs.map { case (i, j) =>
      sum(dec(cols(i)) * dec(cols(j))).as(s"__p_${i}_$j")
    }
    // groupBy(Nil) is the global single-row aggregate — one code path
    // for both surfaces
    val agg = clean.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), (sums ++ prods ++ mxs): _*)
    val ndG = col("__n").cast("double")
    val mxAll = greatest(cols.indices.map(i => col(s"__mx_$i")): _*)
    val overflowGate = mxAll >= least(
      lit(math.pow(10, 18 - scale)),                 // the value cast itself
      lit(math.pow(10, 28 - scale)) / ndG,           // Σ|v| vs decimal(28,scale)
      sqrt(lit(math.pow(10, 38 - 2 * scale)) / ndG)) // Σ|v·v| vs decimal(38,2·scale)
    // the grouped surface names the offending group key in the error —
    // "which slice?" is the first question a per-group gate firing asks
    val groupTag =
      if (groupCols.isEmpty) lit("")
      else concat(lit(" in group ("),
        concat_ws(", ", groupCols.map(c => col(c).cast("string")): _*), lit(")"))
    val nOut = when(overflowGate, raise_error(concat(
      lit(s"correlation_matrix: max |value| "), mxAll.cast("string"),
      lit(s" over n="), col("__n").cast("string"), groupTag,
      lit(s" can overflow the decimal(18,$scale) sums (conservative max·n bound)" +
        " — lower `scale` or pre-scale the columns"))))
      .otherwise(col("__n"))
    val rows = pairs.map { case (i, j) =>
      val nd = col("__n").cast("double")
      val sx = col(s"__s_$i").cast("double")
      val sy = col(s"__s_$j").cast("double")
      val sxy = col(s"__p_${i}_$j").cast("double")
      val sxx = col(s"__p_${i}_$i").cast("double")
      val syy = col(s"__p_${j}_$j").cast("double")
      val num = nd * sxy - sx * sy
      val da = nd * sxx - sx * sx
      val db = nd * syy - sy * sy
      struct(
        lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        when(da * db <= 0.0, lit(null).cast("double"))
          .otherwise(roundDp.foldLeft(num / sqrt(da * db))((c, d) => round(c, d)))
          .as("corr"))
    }
    agg.select(groupCols.map(col) ++
        Seq(nOut.as("n"), explode(array(rows: _*)).as("e")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("e.col_a").as("col_a"), col("e.col_b").as("col_b"),
        col("e.corr").as("corr"), col("n")): _*)
  }

  /** MUTUAL INFORMATION between two categorical columns, in nats — the
    * SOFT-dependency audit completing [[fdViolations]]' hard one: FD
    * violations say "lang does not determine source"; MI says how much
    * information the columns share anyway (≈0 = independent, ≈min(H)
    * = one determines the other). Exact integer cell/margin counts;
    * each cell's term goes through the engine's ln discipline
    * (q153/q241: ln of an exact-count ratio, 6dp round, DECIMAL-exact
    * sum), so the score replays in any engine. One cell aggregate
    * (state bounded by the observed category product), two
    * margin aggregates over CELLS (not data), one output row:
    * (n, n_cells, h_a, h_b, mi).
    */
  def mutualInformation(df: DataFrame, colA: String, colB: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // ONE data scan: the cell frame (bounded by the observed category
    // product) is checkpointed, and every margin/total/MI term derives
    // from it — without this, the five consumers below would each
    // re-scan the corpus
    val cells = Barrier(df
      .select(col(colA).cast("string").as("__a"), col(colB).cast("string").as("__b"))
      .na.drop(Seq("__a", "__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__nab")), "Quality.mutualInformation")
    val ma = cells.groupBy("__a").agg(sum(col("__nab")).as("__na"))
    val mb = cells.groupBy("__b").agg(sum(col("__nab")).as("__nb"))
    val tot = cells.agg(sum(col("__nab")).as("__n"),
      count(lit(1)).as("n_cells"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val miTerm = (d(col("__nab")) / d(col("__n"))) *
      round(log((d(col("__nab")) * d(col("__n")))
        / (d(col("__na")) * d(col("__nb")))), 6)
    val mi = cells.join(ma, "__a").join(mb, "__b")
      .crossJoin(broadcast(tot)) // 1x1 planning frame
      .agg(sum(round(miTerm, 6).cast("decimal(18,6)")).as("__mi"))
    def entropy(margin: DataFrame, cnt: String, as: String) = {
      val t = (d(col(cnt)) / d(col("__n"))) *
        round(log(d(col(cnt)) / d(col("__n"))), 6)
      margin.crossJoin(broadcast(tot))
        .agg(sum(round(t, 6).cast("decimal(18,6)")).as(as))
    }
    tot
      .crossJoin(mi)
      .crossJoin(entropy(ma, "__na", "__ha"))
      .crossJoin(entropy(mb, "__nb", "__hb"))
      .select(
        col("__n").cast("long").as("n"),
        col("n_cells").cast("long").as("n_cells"),
        (lit(0.0) - col("__ha").cast("double")).as("h_a"),
        (lit(0.0) - col("__hb").cast("double")).as("h_b"),
        col("__mi").cast("double").as("mi"))
  }

  /** Snapshot DIFF between two corpus versions keyed by `idCol`: one row
    * per id with status `added` (new only), `removed` (old only),
    * `changed` (both, payload fingerprints differ) or `unchanged`, plus
    * the carried columns from whichever side has the row (new wins when
    * both do). The release-audit primitive: what did this re-crawl /
    * re-clean actually touch, before the new version is blessed.
    *
    * Scale: each side is projected to (id, md5-fingerprint, carry
    * columns) BEFORE the full-outer join — the shuffle carries 16-byte
    * fingerprints, never payload text. One join, no windows; at 100 TB
    * this is the same id/hash-width shuffle discipline as the dedup
    * ledger.
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      payloadCols: Seq[String],
      carryCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    require(payloadCols.nonEmpty, "snapshotDiff: payloadCols must be non-empty")
    def fp(df: DataFrame, as: String, carryPrefix: String): DataFrame =
      df.select(
        (col(idCol).as("__id") +:
          md5(concat_ws("\u0001", payloadCols.map(c => col(c).cast("string")): _*)).as(as) +:
          carryCols.map(c => col(c).as(s"$carryPrefix$c"))): _*)
    val o = fp(oldDf, "__fp_old", "__o_")
    val n = fp(newDf, "__fp_new", "__n_")
    val joined = o.join(n, Seq("__id"), "full_outer")
    val status = when(col("__fp_old").isNull, "added")
      .when(col("__fp_new").isNull, "removed")
      .when(col("__fp_old") =!= col("__fp_new"), "changed")
      .otherwise("unchanged")
    joined.select(
      (col("__id").as(idCol) +:
        status.as("status") +:
        carryCols.map(c => coalesce(col(s"__n_$c"), col(s"__o_$c")).as(c))): _*)
  }
}

object Cleaner {

  /** Default targeted fill — reference `fillna({"Phone": "Unknown"})`
    * (`:100`). Applied ONLY to columns that exist in the frame (fillna on a
    * missing column is a no-op in both PySpark and Scala `na.fill`).
    */
  val defaultFill: Map[String, String] = Map("Phone" -> "Unknown")

  /** Cleaning chain in the reference's EXACT order (`:100-103`):
    * 1. targeted fill (Phone → "Unknown") — runs BEFORE dropna so
    *    Phone-only-null rows survive;
    * 2. `na.drop()` — remove any row with a null in ANY column;
    * 3. `dropDuplicates()` — exact full-row dedup.
    * Inverting 1 and 2 silently drops Phone-null rows — pinned by tests.
    *
    * All three are distributed ops (fill is a projection; drop a filter;
    * dedup a hash aggregate over all columns).
    */
  def clean(df: DataFrame, fill: Map[String, String] = defaultFill): DataFrame = {
    val present = fill.filter { case (k, _) =>
      df.columns.exists(_.equalsIgnoreCase(k))
    }
    df.na.fill(present).na.drop().dropDuplicates()
  }
}

/** Distribution-based outlier treatment for numeric feature columns.
  * North-star EXTENSION: training-data pipelines clip heavy-tailed
  * features (price, duration, token counts) before statistics and
  * mixing decisions so a handful of corrupt rows cannot dominate.
  */
object Outliers {

  import org.apache.spark.sql.functions.{abs, broadcast, expr, greatest, least, when}

  /** Null-safe (`<=>`) broadcast attach of a per-group bounds frame.
    * `groupBy` puts null-keyed rows in their own group, but a plain
    * equi-join would silently DROP them on the way back — the same
    * pitfall documented at [[robustScale]]. Renaming the group columns
    * on the bounds side keeps the join unambiguous.
    */
  private def attachBounds(
      base: DataFrame,
      bounds: DataFrame,
      groupCols: Seq[String],
      valCols: Seq[String]): DataFrame = {
    val renamed = bounds.select(
      (groupCols.map(c => col(c).as(s"__g_$c")) ++ valCols.map(col)).toIndexedSeq: _*)
    val cond = groupCols.map(c => base(c) <=> renamed(s"__g_$c")).reduce(_ && _)
    base.join(broadcast(renamed), cond).drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** Per-group winsorization: clip `valueCol` into the
    * [percentile(loP), percentile(hiP)] band of its own group.
    *
    * Bounds use DISCRETE percentiles (`percentile_disc`, SQL-standard
    * smallest-value-with-cume_dist≥p), so every bound is an actual data
    * value — no interpolation arithmetic, hence bit-identical across
    * engines and exactly reproducible.
    *
    * Scale: one aggregate over the grouping key (bounds), broadcast back
    * (|groups| rows — tiny), then a map-only clip. Exact per-group
    * percentiles hold a value→count map per group in the aggregate
    * buffer — fine up to ~10⁷ distinct values per group; past that use
    * [[winsorizeApprox]], whose sketch is fixed-size and mergeable.
    *
    * Output: input columns plus `<valueCol>_w` (the clipped value).
    */
  def winsorize(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      loP: Double = 0.05,
      hiP: Double = 0.95): DataFrame = {
    require(loP >= 0 && hiP <= 1 && loP <= hiP, "need 0 <= loP <= hiP <= 1")
    val bounds = df
      .groupBy(groupCols.map(col): _*)
      .agg(
        expr(s"percentile_disc($loP) WITHIN GROUP (ORDER BY `$valueCol`)").as("__lo"),
        expr(s"percentile_disc($hiP) WITHIN GROUP (ORDER BY `$valueCol`)").as("__hi"))
    attachBounds(df, bounds, groupCols, Seq("__lo", "__hi"))
      .withColumn(s"${valueCol}_w", least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** [[winsorize]] with `approx_percentile` bounds: the sketch is
    * fixed-size and partially aggregated map-side, so this is the shape
    * for groups with unbounded distinct values. Bounds are approximate
    * (rank error ≤ 1/accuracy); clipping semantics are otherwise
    * identical.
    */
  def winsorizeApprox(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      loP: Double = 0.05,
      hiP: Double = 0.95,
      accuracy: Int = 10000): DataFrame = {
    require(loP >= 0 && hiP <= 1 && loP <= hiP, "need 0 <= loP <= hiP <= 1")
    val bounds = df
      .groupBy(groupCols.map(col): _*)
      .agg(
        expr(s"approx_percentile(`$valueCol`, $loP, $accuracy)").as("__lo"),
        expr(s"approx_percentile(`$valueCol`, $hiP, $accuracy)").as("__hi"))
    attachBounds(df, bounds, groupCols, Seq("__lo", "__hi"))
      .withColumn(s"${valueCol}_w", least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Per-group equal-frequency discretization: bin `valueCol` into
    * `nBins` quantile buckets of its own group (bin b spans
    * (percentile_disc((b−1)/B), percentile_disc(b/B)]). Discrete
    * boundaries are actual data values, so bin assignment is exact and
    * engine-reproducible; ties share a bin (equal values can never
    * straddle a boundary — the property rank-based ntile does NOT
    * give). One bounded aggregate (B−1 boundaries per group),
    * broadcast back, then a map-only comparison fold.
    *
    * Output: input columns plus `<valueCol>_bin` (1-based INT).
    */
  def quantileBin(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val boundaryExprs = (1 until nBins).map { b =>
      val p = b.toDouble / nBins
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY `$valueCol`)").as(s"__q$b")
    }
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(boundaryExprs.head, boundaryExprs.tail: _*)
    val bin = (1 until nBins)
      .map(b => when(col(valueCol) > col(s"__q$b"), 1).otherwise(0))
      .reduce(_ + _) + 1
    attachBounds(df, bounds, groupCols, (1 until nBins).map(b => s"__q$b"))
      .withColumn(s"${valueCol}_bin", bin.cast("int"))
      .drop((1 until nBins).map(b => s"__q$b"): _*)
  }

  /** Per-group robust scaling: `(x − median) / MAD` — the
    * outlier-resistant z-score (mean/stddev move with the very outliers
    * they're meant to flag; median/MAD don't). Both statistics use
    * DISCRETE medians (actual data values / actual absolute deviations),
    * so the whole computation is reproducible bit-for-bit across
    * engines from the same rows.
    *
    * Two bounded aggregates over the grouping key (median, then MAD of
    * the residuals), each broadcast back; the scaling itself is
    * map-only. Output adds `<valueCol>_rz` (null when MAD = 0 — a
    * degenerate constant-majority group has no meaningful scale).
    */
  def robustScale(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String]): DataFrame = {
    // null-keyed rows scale against their own group's median/MAD — the
    // null-safe attach is what keeps them (see attachBounds)
    def attach(base: DataFrame, agg: DataFrame, valCol: String): DataFrame =
      attachBounds(base, agg, groupCols, Seq(valCol))
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY `$valueCol`)").as("__med"))
    // shared blocks: the MAD aggregate and the final join both consume
    // this diamond — without sharing the base scan + med join run twice
    val withMed = Barrier(attach(df, med, "__med")
      .withColumn("__absdev", abs(col(valueCol) - col("__med"))), "Quality.robustScale")
    val mad = withMed.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __absdev)").as("__mad"))
    attach(withMed, mad, "__mad")
      .withColumn(s"${valueCol}_rz",
        when(col("__mad") === 0.0, lit(null))
          .otherwise((col(valueCol) - col("__med")) / col("__mad")))
      .drop("__med", "__absdev", "__mad")
  }
}
