package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Barrier, Fence}
import graft.functions.VectorFunctions
import graft.multimodal.Multimodal
import graft.operators.{Bpe, Classify, Unigram, Dedup, DedupLedger, EntityResolution, HtmlText, Packing, ScaleOps, Sessionize, Similarity, TextAnalysis, WebOps}
import graft.quality.Privacy

/** One declared operator: name, Spark implementation, optional DuckDB
  * oracle SQL over the same parquet tables. Column names MUST match
  * between the two (the driver's compare hashes values after sorting
  * columns by name).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The full declared operator inventory (SURVEY.md §2.B + §2.C).
  *
  * Cross-engine determinism rules applied throughout (SURVEY.md §5):
  *  - every aggregate over doubles goes through an exact decimal sum, then
  *    a final cast to double (order-independent, bit-identical in both
  *    engines);
  *  - every query has a total ORDER BY on a unique key prefix;
  *  - timestamps leave results as DATE or epoch-second BIGINT;
  *  - int-width alignment: counts stay BIGINT, year()/length()/etc. are
  *    cast so Spark and DuckDB agree (DuckDB's year() is BIGINT, Spark's
  *    INT, …);
  *  - `current_date` never appears (nondeterministic day-to-day);
  *  - integer typing: DuckDB sum(BIGINT) returns HUGEINT which pandas
  *    renders as float — every oracle sum feeding an integer output
  *    column is wrapped in CAST(... AS BIGINT) (q199/q205 shipped red
  *    without it; tools/check_oracle.py now hard-fails int-vs-float
  *    dtype parity so the class cannot recur);
  *  - tokenizer parity (audited r9): oracles using bare
  *    string_split(x, ' ') have Spark twins that also split on the
  *    single-space literal (q65/q67/q144/q146/q178, span family
  *    q198–q202 via Dedup's `split(col, " ")`) — symmetric by
  *    construction at any fixture. Wherever the Spark side splits on
  *    the whitespace class `[ \t\n\f\r]+` (TextAnalysis), the oracle
  *    uses string_split_regex with the same class (or '\s+', equal on
  *    these fixtures).
  */
object Inventory {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `df` repartitioned across the session's cores, ahead of a
    * map-heavy first stage (regex chains, explodes, model builds). The
    * parquet fixtures are one row group each, and a row group is
    * indivisible, so their scans run as ONE task whatever
    * maxPartitionBytes says (SCALE.md): without this the whole map
    * chain runs single-threaded. The count comes from the session
    * (local[N] → N; a cluster → its registered cores), never a literal,
    * which would cap the stage on a larger cluster. A fixture artifact:
    * real lakes have thousands of row groups and need no fan-out.
    */
  private def fannedOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Scratch directory for queries that materialize persisted-state
    * parquet (the q149–q161 lake convention, q188, q193): registered
    * for recursive deletion at JVM exit, so repeated bench/Verify runs
    * in one process don't accumulate scratch. Exit-time (not eager)
    * cleanup is required — the returned plans read these files lazily,
    * after query construction.
    */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(new Runnable {
      def run(): Unit = {
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile); ()
      }
    }))
    p.toString
  }

  /** Register tables as temp views for spark.sql pass-through queries. */
  private def viewed(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))

  /** events with ts normalized to epoch seconds. The generated table
    * has stored `ts` as TIMESTAMP(NANOS) (read as nanos BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by GraftSession)
    * in some fixture generations and as TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ) in others — branch on the read type so both work.
    * The session timezone is UTC, so NTZ→timestamp→long is the exact
    * floor-seconds epoch DuckDB's `epoch_ns(ts) // 1000000000` yields.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    val tsSec = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      case _ => expr("cast(cast(ts as timestamp) as bigint)")
    }
    df.withColumn("ts_sec", tsSec)
  }

  /** Exact decimal sum of a double expr, surfaced as double. */
  private def dsum(e: String, scale: Int = 2): Column =
    expr(s"cast(sum(cast($e as decimal(28,$scale))) as double)")

  private def davg(e: String, scale: Int = 2): Column =
    expr(s"cast(cast(sum(cast($e as decimal(28,$scale))) as double) / count(*) as double)")

  // ================================================================ §2.B

  private val projectionFilter = Seq(
    Q("q01_pricing_summary",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast("date") <= lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum("l_quantity").as("sum_qty"),
            dsum("l_extendedprice").as("sum_base_price"),
            dsum("l_extendedprice*(1-l_discount)", 6).as("sum_disc_price"),
            dsum("l_extendedprice*(1-l_discount)*(1+l_tax)", 6).as("sum_charge"),
            davg("l_quantity").as("avg_qty"),
            davg("l_discount", 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_qty,
        CAST(CAST(sum(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    Q("q02_proj_filter",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .filter(col("l_quantity") > 45)
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""")),

    Q("q03_between",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate").cast("date").as("ship_date"), col("l_quantity"))
          .filter(col("ship_date").between("1996-01-01", "1996-12-31"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, l_quantity
        FROM lineitem WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        ORDER BY l_orderkey, l_linenumber""")),

    Q("q04_in_like",
      (s, dir) =>
        t(s, dir, "part")
          .filter(
            (col("p_type").like("S%") || col("p_type").like("%ROMO%")) &&
              col("p_brand").isin("Brand#13", "Brand#19", "Brand#23"))
          .select("p_partkey", "p_name", "p_brand", "p_type")
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part
        WHERE (p_type LIKE 'S%' OR p_type LIKE '%ROMO%')
          AND p_brand IN ('Brand#13','Brand#19','Brand#23')
        ORDER BY p_partkey""")),

    Q("q05_filter_bool",
      (s, dir) =>
        t(s, dir, "customer")
          .filter(
            ((col("c_acctbal") > 5000 && col("c_mktsegment") === "BUILDING") ||
              col("c_acctbal") < 0) && col("c_name").isNotNull)
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        WHERE ((c_acctbal > 5000 AND c_mktsegment = 'BUILDING') OR c_acctbal < 0)
          AND c_name IS NOT NULL
        ORDER BY c_custkey""")),

    Q("q06_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        ORDER BY l_returnflag, l_linestatus""")))

  private val joins = Seq(
    Q("q10_join_inner",
      (s, dir) =>
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_items"),
            dsum("l_extendedprice*(1-l_discount)", 6).as("revenue"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n_items,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q("q11_join_multi5",
      (s, dir) => {
        // TPC-H Q5 shape: two broadcast dims + two fact joins, one agg.
        val nation = broadcast(t(s, dir, "nation"))
        val region = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
        t(s, dir, "customer")
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .join(region, col("n_regionkey") === col("r_regionkey"))
          .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_orderdate").cast("date").between("1996-01-01", "1997-12-31"))
          .groupBy("n_name")
          .agg(dsum("l_extendedprice*(1-l_discount)", 6).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some("""SELECT n_name,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name = 'ASIA'
          AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    Q("q12_join_left_hist",
      (s, dir) => {
        // TPC-H Q13 shape: left join + two-level aggregation.
        val perCust = t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, count(*) AS custdist FROM (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    Q("q13_join_semi",
      (s, dir) =>
        t(s, dir, "orders")
          .join(
            t(s, dir, "lineitem").filter(col("l_quantity") >= 48),
            col("o_orderkey") === col("l_orderkey"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n_orders FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q("q14_join_anti",
      (s, dir) =>
        // customers with no recent (2001+) order — non-trivial anti side
        t(s, dir, "customer")
          .join(
            t(s, dir, "orders").filter(col("o_orderdate").cast("date") >= "2001-01-01"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n_customers FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("q15_join_cross",
      (s, dir) =>
        t(s, dir, "region")
          .crossJoin(t(s, dir, "nation"))
          .agg(count(lit(1)).as("n_pairs")),
      Some("SELECT count(*) AS n_pairs FROM region CROSS JOIN nation")),

    Q("q16_join_range",
      (s, dir) => {
        val su = t(s, dir, "supplier")
        val cu = t(s, dir, "customer")
        su.join(cu, col("s_nationkey") === col("c_nationkey") && col("s_acctbal") < col("c_acctbal"))
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, count(*) AS n_pairs
        FROM supplier JOIN customer
          ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
        GROUP BY s_nationkey ORDER BY s_nationkey""")),

    Q("q17_join_asof",
      (s, dir) => {
        // As-of join: each click gets the most recent at-or-before view's
        // value per user (union-window implementation — one shuffle,
        // |L|+|R| rows; DuckDB checks with its native ASOF JOIN). Views
        // are pre-deduped to one per (user, second) so tie semantics
        // cannot differ between engines.
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts_sec")
        val vw = Window.partitionBy("user_id", "ts_sec").orderBy(col("event_id").desc)
        val views = ev.filter(col("event_type") === "view")
          .withColumn("__rn", row_number().over(vw)).filter(col("__rn") === 1)
          .select(col("user_id"), col("ts_sec").as("vts"),
            col("event_id").as("vid"), col("value").as("vvalue"))
        graft.operators.AsofJoin
          .asof(clicks, views, Seq("user_id"), "ts_sec", "vts", "vid", Seq("vvalue"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        clicks AS (
          SELECT user_id, event_id, ts_sec FROM e WHERE event_type = 'click'),
        views AS (
          SELECT user_id, ts_sec AS vts, event_id AS vid, value AS vvalue FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec
              ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type = 'view') WHERE rn = 1)
        SELECT c.user_id, c.event_id, c.ts_sec, v.vvalue AS asof_vvalue
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts_sec >= v.vts
        ORDER BY c.user_id, c.event_id""")),

    Q("q17b_join_asof_fwd",
      (s, dir) => {
        // FORWARD as-of: each click gets the EARLIEST at-or-after view —
        // same union-window machinery as q17 walked in descending ts
        // order; DuckDB checks with ASOF ... ON c.ts_sec <= v.vts
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts_sec")
        val vw = Window.partitionBy("user_id", "ts_sec").orderBy(col("event_id").desc)
        val views = ev.filter(col("event_type") === "view")
          .withColumn("__rn", row_number().over(vw)).filter(col("__rn") === 1)
          .select(col("user_id"), col("ts_sec").as("vts"),
            col("event_id").as("vid"), col("value").as("vvalue"))
        graft.operators.AsofJoin
          .asof(clicks, views, Seq("user_id"), "ts_sec", "vts", "vid",
            Seq("vvalue"), direction = "forward")
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        clicks AS (
          SELECT user_id, event_id, ts_sec FROM e WHERE event_type = 'click'),
        views AS (
          SELECT user_id, ts_sec AS vts, event_id AS vid, value AS vvalue FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec
              ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type = 'view') WHERE rn = 1)
        SELECT c.user_id, c.event_id, c.ts_sec, v.vvalue AS asof_vvalue
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts_sec <= v.vts
        ORDER BY c.user_id, c.event_id""")),

    Q("q17c_join_asof_tol",
      (s, dir) => {
        // TOLERANCE as-of: q17's backward join, but a match older than
        // one hour is nulled — the practical "latest quote, if fresh"
        // semantics. Carried as one extra slim column + a map-side
        // gate; DuckDB checks with ASOF JOIN + CASE on the gap.
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts_sec")
        val vw = Window.partitionBy("user_id", "ts_sec").orderBy(col("event_id").desc)
        val views = ev.filter(col("event_type") === "view")
          .withColumn("__rn", row_number().over(vw)).filter(col("__rn") === 1)
          .select(col("user_id"), col("ts_sec").as("vts"),
            col("event_id").as("vid"), col("value").as("vvalue"))
        graft.operators.AsofJoin
          .asof(clicks, views, Seq("user_id"), "ts_sec", "vts", "vid",
            Seq("vvalue"), tolerance = Some(3600L))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        clicks AS (
          SELECT user_id, event_id, ts_sec FROM e WHERE event_type = 'click'),
        views AS (
          SELECT user_id, ts_sec AS vts, event_id AS vid, value AS vvalue FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec
              ORDER BY event_id DESC) AS rn
            FROM e WHERE event_type = 'view') WHERE rn = 1)
        SELECT c.user_id, c.event_id, c.ts_sec,
          CASE WHEN c.ts_sec - v.vts <= 3600 THEN v.vvalue ELSE NULL END AS asof_vvalue
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts_sec >= v.vts
        ORDER BY c.user_id, c.event_id""")))

  private val aggregations = Seq(
    Q("q20_agg_stats",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            min("l_quantity").as("min_qty"),
            max("l_quantity").as("max_qty"),
            dsum("l_quantity").as("sum_qty"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
        count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("q21_count_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_linestatus")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus, count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")),

    Q("q22_rollup",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(dsum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sum_qty"), col("n_rows"))
          .orderBy("rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty, count(*) AS n_rows
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""")),

    Q("q23_cube",
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(dsum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sum_qty"), col("n_rows"))
          .orderBy("rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty, count(*) AS n_rows
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""")),

    Q("q24_having",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_suppkey")
          .agg(dsum("l_quantity").as("sum_qty"))
          .filter(col("sum_qty") > 10000)
          .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_suppkey
        HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) > 10000
        ORDER BY l_suppkey""")),

    Q("q25_approx_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .agg(
            approx_count_distinct(col("l_partkey")).as("approx_parts"),
            approx_count_distinct(col("l_orderkey")).as("approx_orders")),
      None), // HLL sketch values are engine-specific — rows-only check

    Q("q26_grouping_sets",
      (s, dir) => {
        viewed(s, dir, "lineitem")
        s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
          count(*) AS n_rows
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY rf, ls""")
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls""")),

    Q("q27_percentiles",
      (s, dir) =>
        // Exact continuous percentiles (interpolating); l_quantity values
        // are small integers so the interpolation arithmetic is exact in
        // double for both engines.
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"),
            expr("cast(max(l_quantity) as double)").as("max_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.50) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        CAST(max(l_quantity) AS DOUBLE) AS max_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("q28_collect_list",
      (s, dir) =>
        // Array aggregation; collect_list order is partition-dependent,
        // so determinism comes from sort_array. Surfaced as a joined
        // string: the driver's hash compare cannot digest array cells.
        t(s, dir, "nation")
          .groupBy("n_regionkey")
          .agg(
            array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
            count(lit(1)).as("n"))
          .orderBy("n_regionkey"),
      Some("""SELECT n_regionkey,
        array_to_string(list_sort(list(n_name)), ',') AS nations, count(*) AS n
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    Q("q29_approx_quantile",
      (s, dir) =>
        // Sketch-based quantiles (KLL/GK-style): per-engine internals
        // differ, so the check is rows-only; the spec-level guarantee is
        // the epsilon bound vs q27's exact percentiles.
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.99), 1000)").as("p"))
          .select(col("l_returnflag"),
            element_at(col("p"), 1).as("p50"), element_at(col("p"), 2).as("p99"))
          .orderBy("l_returnflag"),
      None))

  private val windows = Seq(
    Q("q30_window_rank",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rnk", "drnk", "quartile")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(rn AS INTEGER) AS rn, CAST(rnk AS INTEGER) AS rnk,
        CAST(drnk AS INTEGER) AS drnk, CAST(quartile AS INTEGER) AS quartile
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER w AS rn, rank() OVER w AS rnk,
            dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    Q("q31_window_lag",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("prev_orderkey", coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1L)))
          .withColumn("next_orderkey", coalesce(lead(col("o_orderkey"), 1).over(w), lit(-1L)))
          .withColumn(
            "days_since_prev",
            coalesce(
              datediff(col("o_orderdate").cast("date"),
                lag(col("o_orderdate"), 1).over(w).cast("date")),
              lit(-1)).cast("int"))
          .select("o_custkey", "o_orderkey", "prev_orderkey", "next_orderkey", "days_since_prev")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        COALESCE(lag(o_orderkey, 1) OVER w, -1) AS prev_orderkey,
        COALESCE(lead(o_orderkey, 1) OVER w, -1) AS next_orderkey,
        CAST(COALESCE(date_diff('day',
          CAST(lag(o_orderdate, 1) OVER w AS DATE), CAST(o_orderdate AS DATE)), -1) AS INTEGER)
          AS days_since_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        ORDER BY o_custkey, o_orderkey""")),

    Q("q32_window_running",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .withColumn(
            "running_spend",
            expr("cast(sum(cast(o_totalprice as decimal(28,2))) over (" +
              "partition by o_custkey order by o_orderdate asc, o_orderkey asc " +
              "rows between unbounded preceding and current row) as double)"))
          .select("o_custkey", "o_orderkey", "running_spend")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        FROM orders ORDER BY o_custkey, o_orderkey""")),

    Q("q33_window_firstlast",
      (s, dir) => {
        val frame = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val rank = Window.partitionBy("o_orderpriority").orderBy(col("o_orderkey").asc)
        t(s, dir, "orders")
          .filter(col("o_orderkey") <= 1000)
          .select(
            col("o_orderpriority"), col("o_orderkey"),
            first("o_orderkey").over(frame).as("first_key"),
            last("o_orderkey").over(frame).as("last_key"),
            ntile(4).over(rank).as("quartile"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
        first_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_key,
        last_value(o_orderkey) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey ASC) AS INTEGER) AS quartile
        FROM orders WHERE o_orderkey <= 1000
        ORDER BY o_orderpriority, o_orderkey""")),

    Q("q34_percent_rank",
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").asc)
        t(s, dir, "orders")
          .filter(col("o_orderkey") <= 800)
          .select(
            col("o_orderpriority"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, o_orderkey,
        round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC), 6) AS pr,
        round(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC), 6) AS cd
        FROM orders WHERE o_orderkey <= 800
        ORDER BY o_orderpriority, o_orderkey""")),

    Q("q37_ntile",
      (s, dir) => {
        // ntile bucketing + nth_value with the default running frame;
        // the order key is made unique (price, key) so RANGE == ROWS and
        // both engines agree deterministically
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .filter(col("o_orderkey") <= 800)
          .select(
            col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
          .orderBy("o_orderpriority", "o_orderkey")
      },
      // Spark's ntile is INT, DuckDB's BIGINT — cast on the oracle side
      Some("""SELECT o_orderpriority, o_orderkey,
        CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        nth_value(o_orderkey, 2) OVER w AS second_key
        FROM orders WHERE o_orderkey <= 800
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
        ORDER BY o_orderpriority, o_orderkey""")))

  private val sortLimit = Seq(
    Q("q35_window_range",
      (s, dir) => {
        // VALUE-based frame (RANGE), not row-based: peers within 1000.0
        // of the current price count toward the sum
        viewed(s, dir, "orders")
        s.sql("""SELECT o_orderkey, o_orderpriority,
          CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
            PARTITION BY o_orderpriority ORDER BY o_totalprice
            RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
          FROM orders WHERE o_orderkey <= 1000
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
          PARTITION BY o_orderpriority ORDER BY o_totalprice
          RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
        FROM orders WHERE o_orderkey <= 1000
        ORDER BY o_orderkey""")),

    Q("q40_topk",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(dsum("l_extendedprice*(1-l_discount)", 6).as("revenue"))
          .orderBy(desc("revenue"), col("l_partkey"))
          .limit(10),
      Some("""SELECT l_partkey,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_partkey ORDER BY revenue DESC, l_partkey LIMIT 10""")),

    Q("q41_topk_pergroup",
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_orderpriority", "rn")
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders)
        WHERE rn <= 2 ORDER BY o_orderpriority, rn""")),

    Q("q43_pagination",
      (s, dir) => {
        // keyset-stable pagination: ORDER BY unique key, LIMIT + OFFSET
        viewed(s, dir, "orders")
        s.sql("""SELECT o_orderkey, o_totalprice FROM orders
          ORDER BY o_orderkey LIMIT 50 OFFSET 200""")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderkey LIMIT 50 OFFSET 200""")),

    Q("q42_sort_nulls",
      (s, dir) =>
        // Explicit null placement: Spark's ASC default is NULLS FIRST,
        // DuckDB's is NULLS LAST — both spelled out so semantics match.
        t(s, dir, "orders")
          .filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey"), expr("nullif(o_orderpriority, '1-URGENT')").as("prio"))
          .orderBy(col("prio").asc_nulls_first, col("o_orderkey").asc),
      Some("""SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS prio
        FROM orders WHERE o_orderkey <= 2000
        ORDER BY prio ASC NULLS FIRST, o_orderkey ASC""")))

  private val setOps = Seq(
    Q("q50_union_all",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .unionAll(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .groupBy("nationkey")
          .agg(count(lit(1)).as("n"))
          .orderBy("nationkey"),
      Some("""SELECT nationkey, count(*) AS n FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION ALL SELECT s_nationkey FROM supplier)
        GROUP BY nationkey ORDER BY nationkey""")),

    Q("q51_union_distinct",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .distinct()
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""")),

    Q("q52_intersect",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""")),

    Q("q53_except",
      (s, dir) =>
        // orders that have no lineitems — non-empty difference set
        t(s, dir, "orders").select(col("o_orderkey").as("orderkey"))
          .except(t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey")))
          .orderBy("orderkey"),
      Some("""SELECT o_orderkey AS orderkey FROM orders
        EXCEPT SELECT l_orderkey FROM lineitem ORDER BY orderkey""")),

    Q("q54_setops_all",
      (s, dir) => {
        // bag semantics: INTERSECT ALL multiplicity = min(n_left, n_right)
        // per orderkey — here min(total lines, lines with linenumber <= 2),
        // which varies per order, unlike the DISTINCT variants
        val li = t(s, dir, "lineitem")
        val a = li.select(col("l_orderkey").as("orderkey"))
        val b = li.filter(col("l_linenumber") <= 2).select(col("l_orderkey").as("orderkey"))
        a.intersectAll(b)
          .groupBy("orderkey").agg(count(lit(1)).as("multiplicity"))
          .orderBy(desc("multiplicity"), col("orderkey")).limit(20)
      },
      Some("""SELECT orderkey, count(*) AS multiplicity FROM (
          SELECT l_orderkey AS orderkey FROM lineitem
          INTERSECT ALL
          SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2)
        GROUP BY orderkey ORDER BY multiplicity DESC, orderkey LIMIT 20""")))

  private val scalars = Seq(
    Q("q60_string_funcs",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("up_name"),
            lower(col("p_brand")).as("low_brand"),
            substring(col("p_name"), 1, 4).as("name4"),
            concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
            length(col("p_name")).as("name_len"),
            regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
            coalesce(element_at(split(col("p_name"), " "), 2), lit("")).as("second_word"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_name) AS up_name, lower(p_brand) AS low_brand,
        substring(p_name, 1, 4) AS name4, p_brand || '/' || p_type AS brand_type,
        CAST(length(p_name) AS INTEGER) AS name_len,
        regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        split_part(p_name, ' ', 2) AS second_word
        FROM part ORDER BY p_partkey""")),

    Q("q61_date_funcs",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            col("o_orderdate").cast("date").as("od"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            dayofmonth(col("o_orderdate")).as("dom"),
            quarter(col("o_orderdate")).as("qtr"),
            date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
            datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
              .as("days_since_95"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        CAST(year(o_orderdate) AS INTEGER) AS yr,
        CAST(month(o_orderdate) AS INTEGER) AS mo,
        CAST(day(o_orderdate) AS INTEGER) AS dom,
        CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
          AS days_since_95
        FROM orders ORDER BY o_orderkey""")),

    Q("q61b_date_trunc",
      (s, dir) =>
        // calendar rollup: month bucketing of a DATE column (tz-free)
        t(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            dsum("o_totalprice").as("total"))
          .orderBy("month"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY month""")),

    Q("q62_math_funcs",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            // round() over exact decimals: double-rounding differs across
            // engines (Spark rounds the shortest decimal repr, DuckDB the
            // binary value), decimal rounding is well-defined in both
            expr("cast(round(cast(l_extendedprice as decimal(18,2)) * cast(0.1 as decimal(2,1)), 2) as double)")
              .as("price_tenth"),
            abs(col("l_discount") - 0.05).as("disc_dev"),
            floor(col("l_quantity") / 7).cast("long").as("qty_div7"),
            ceil(col("l_quantity") / 7).cast("long").as("qty_div7_up"),
            round(pow(col("l_discount") + lit(1.0), 2), 6).as("pw"),
            sqrt(col("l_quantity")).as("qty_sqrt"),
            (col("l_linenumber") % 3).as("ln_mod3"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
        CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS price_tenth,
        abs(l_discount - 0.05) AS disc_dev,
        CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div7,
        CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_div7_up,
        round(power(l_discount + 1.0, 2), 6) AS pw,
        sqrt(l_quantity) AS qty_sqrt,
        CAST(l_linenumber % 3 AS INTEGER) AS ln_mod3
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    Q("q63_case_coalesce",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            when(col("o_orderstatus") === "F", "done")
              .when(col("o_orderstatus") === "O", "open")
              .otherwise("other").as("status_label"),
            coalesce(nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")), lit("NONE"))
              .as("prio"),
            floor(col("o_totalprice")).cast("long").as("price_floor"),
            col("o_orderkey").cast("string").as("key_str"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        CASE WHEN o_orderstatus = 'F' THEN 'done'
             WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS status_label,
        COALESCE(nullif(o_orderpriority, '4-NOT SPECIFIED'), 'NONE') AS prio,
        CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        CAST(o_orderkey AS VARCHAR) AS key_str
        FROM orders ORDER BY o_orderkey""")),

    Q("q63b_map_lookup",
      (s, dir) =>
        // map construction + element_at lookup (flat output); the weight
        // table is a literal map — the Spark-side map type surface
        events(s, dir)
          .withColumn("weight", coalesce(
            element_at(
              map(lit("click"), lit(1.0), lit("view"), lit(0.5),
                lit("purchase"), lit(5.0), lit("signup"), lit(3.0)),
              col("event_type")),
            lit(0.0)))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            expr("cast(sum(cast(weight as decimal(18,1))) as double)").as("weighted"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
        CAST(sum(CAST(CASE event_type WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5
          WHEN 'purchase' THEN 5.0 WHEN 'signup' THEN 3.0 ELSE 0.0 END
          AS DECIMAL(18,1))) AS DOUBLE) AS weighted
        FROM events GROUP BY event_type ORDER BY event_type""")),

    Q("q64_json",
      (s, dir) =>
        events(s, dir)
          .groupBy("event_type")
          .agg(
            sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
        CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    Q("q65_explode_tokens",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("token"))
          .limit(20),
      Some("""SELECT token, count(*) AS n FROM (
          SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 20""")),

    Q("q68_regex",
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_partkey") <= 500)
          .select(
            col("p_partkey"),
            regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
            col("p_name").rlike("^[a-m]").cast("int").as("starts_a_to_m"),
            size(split(col("p_name"), "[aeiou]+")).as("vowel_runs_plus1"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        CAST(regexp_matches(p_name, '^[a-m]') AS INTEGER) AS starts_a_to_m,
        CAST(len(string_split_regex(p_name, '[aeiou]+')) AS INTEGER) AS vowel_runs_plus1
        FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""")),

    Q("q69_string_manip",
      (s, dir) =>
        t(s, dir, "nation")
          .select(
            col("n_nationkey"),
            lpad(col("n_name"), 12, ".").as("padded"),
            reverse(col("n_name")).as("rev"),
            translate(col("n_name"), "AEIOU", "aeiou").as("lowered_vowels"),
            repeat(substring(col("n_name"), 1, 2), 3).as("rep2x3"))
          .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey,
        lpad(n_name, 12, '.') AS padded,
        reverse(n_name) AS rev,
        translate(n_name, 'AEIOU', 'aeiou') AS lowered_vowels,
        repeat(substring(n_name, 1, 2), 3) AS rep2x3
        FROM nation ORDER BY n_nationkey""")),

    Q("q67_posexplode",
      (s, dir) =>
        // lateral expansion with position (Spark posexplode ≙ DuckDB
        // unnest WITH ORDINALITY, 1-based there → align to 0-based)
        t(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
          .filter(col("pos") < 5)
          .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, CAST(i AS INTEGER) AS pos, parts[i + 1] AS token
        FROM (SELECT doc_id, string_split(text, ' ') AS parts
              FROM documents WHERE doc_id < 50),
             generate_series(0, 4) AS t(i)
        WHERE i < len(parts)
        ORDER BY doc_id, pos""")),

    Q("q66_pivot",
      (s, dir) =>
        // Pivot with an explicit value list (no extra distinct-values job;
        // at scale an implicit pivot scans the data twice).
        events(s, dir)
          .withColumn("bucket", pmod(col("user_id"), lit(10)))
          .groupBy("bucket")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L) // empty pivot cell is NULL in Spark, 0 in a FILTER count
          .orderBy("bucket"),
      Some("""SELECT user_id % 10 AS bucket,
        count(*) FILTER (event_type = 'click') AS click,
        count(*) FILTER (event_type = 'error') AS error,
        count(*) FILTER (event_type = 'purchase') AS purchase,
        count(*) FILTER (event_type = 'signup') AS signup,
        count(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY 1 ORDER BY bucket""")),

    Q("q73_hof_arrays",
      (s, dir) =>
        // higher-order array functions over the embedding column:
        // aggregate (fold), filter, array_max — all codegen-adjacent
        // builtins, no UDFs. Double accumulation in declaration order on
        // both engines (same idiom as q84's oracle).
        t(s, dir, "embeddings")
          .select(
            col("vec_id"),
            round(VectorFunctions.dot(col("embedding"), col("embedding")), 4)
              .as("sumsq"),
            size(filter(col("embedding"), x => x > 0)).as("n_pos"),
            round(expr("cast(array_max(embedding) as double)"), 4).as("max_val"))
          .orderBy("vec_id"),
      Some("""SELECT vec_id,
        round(list_sum(list_transform(embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sumsq,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val
        FROM embeddings ORDER BY vec_id""")),

    Q("q74_unpivot",
      (s, dir) =>
        // wide-to-long: Spark's native unpivot (melt); the oracle is the
        // engine-neutral UNION ALL formulation of the same reshape
        t(s, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).cast("double").as("n_orders"),
            dsum("o_totalprice").as("total_price"))
          .unpivot(
            Array(col("o_orderpriority")),
            Array(col("n_orders"), col("total_price")),
            "metric", "value")
          .orderBy("o_orderpriority", "metric"),
      Some("""WITH a AS (
          SELECT o_orderpriority, CAST(count(*) AS DOUBLE) AS n_orders,
            CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM a
        UNION ALL
        SELECT o_orderpriority, 'total_price' AS metric, total_price AS value FROM a
        ORDER BY o_orderpriority, metric""")))

  private val subqueries = Seq(
    Q("q70_scalar_subquery",
      (s, dir) => {
        viewed(s, dir, "customer")
        s.sql("""SELECT c_mktsegment, count(*) AS n_rich FROM customer
          WHERE c_acctbal > (SELECT cast(sum(cast(c_acctbal as decimal(28,2))) as double)
                             / count(*) FROM customer)
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_rich FROM customer
        WHERE c_acctbal > (SELECT cast(sum(cast(c_acctbal as decimal(28,2))) as double)
                           / count(*) FROM customer)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Q("q71_exists_correlated",
      (s, dir) => {
        viewed(s, dir, "supplier", "lineitem")
        s.sql("""SELECT s_nationkey, count(*) AS n_supp FROM supplier
          WHERE EXISTS (SELECT 1 FROM lineitem
                        WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
          GROUP BY s_nationkey ORDER BY s_nationkey""")
      },
      Some("""SELECT s_nationkey, count(*) AS n_supp FROM supplier
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        GROUP BY s_nationkey ORDER BY s_nationkey""")),

    Q("q72_in_subquery",
      (s, dir) => {
        viewed(s, dir, "part", "lineitem")
        s.sql("""SELECT p_brand, count(*) AS n_parts FROM part
          WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity = 50)
          GROUP BY p_brand ORDER BY p_brand""")
      },
      Some("""SELECT p_brand, count(*) AS n_parts FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity = 50)
        GROUP BY p_brand ORDER BY p_brand""")),

    // Classic TPC-H-shaped composites (Q3/Q5/Q10 adapted to the driver
    // schema): the canonical multi-join + filtered-aggregate + top-k SQL
    // shapes, run as the same dialect-neutral text on both engines.
    Q("q136_tpch_q3_shipping",
      (s, dir) => {
        viewed(s, dir, "customer", "orders", "lineitem")
        s.sql(tpchQ3Sql)
      },
      Some(tpchQ3Sql)),

    Q("q137_tpch_q5_local_volume",
      (s, dir) => {
        viewed(s, dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
        s.sql(tpchQ5Sql)
      },
      Some(tpchQ5Sql)),

    Q("q138_tpch_q10_returns",
      (s, dir) => {
        viewed(s, dir, "customer", "orders", "lineitem", "nation")
        s.sql(tpchQ10Sql)
      },
      Some(tpchQ10Sql)))

  /** Unrolled PageRank oracle over the q81-exact near-dup pair set.
    * Arithmetic replicates GraphOps.pageRank expression-for-expression:
    * `(CAST(1 AS DOUBLE) - 0.85)` reproduces Scala's `1 - damping`
    * double (NOT the literal 0.15 — they differ by one ulp), and
    * contributions sum through DECIMAL(38,20) exactly as Spark's.
    */
  private def pageRankOracleSql(iters: Int): String = {
    val base = """WITH sh AS (
        SELECT doc_id, list_distinct(
          [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5),
      directed AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM directed),
      deg AS (SELECT src, count(*) AS deg FROM directed GROUP BY src),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)"""
    base + pageRankIterSql(iters) +
      s"\n      SELECT id, round(rank, 6) AS rank FROM r$iters ORDER BY id"
  }

  /** The unrolled PageRank iterations r1..rN as CTE text, expecting
    * `directed(src, dst)`, `nodes(id)`, `deg(src, deg)`, `nn(n)` and
    * `r0(id, rank)` CTEs in scope — shared by q139 (numeric ids over
    * the near-dup graph) and q278 (URL-string ids over the real link
    * graph) so the DECIMAL(38,20) replay discipline exists once.
    */
  private def pageRankIterSql(iters: Int): String =
    (1 to iters).map { i =>
      s""",
      r$i AS (
        SELECT nodes.id,
          (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
            + CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
        FROM nodes LEFT JOIN (
          SELECT d.dst AS id,
            sum(CAST(r${i - 1}.rank / deg.deg AS DECIMAL(38,20))) AS s
          FROM directed d
            JOIN r${i - 1} ON d.src = r${i - 1}.id
            JOIN deg ON d.src = deg.src
          GROUP BY d.dst) c ON nodes.id = c.id)"""
    }.mkString

  /** q272's full nine-stage manifest oracle — shared VERBATIM with
    * q279 (the incremental flagship): incremental ≡ full means the two
    * declared queries produce the identical manifest, so one oracle
    * text serves both and can never drift between them.
    */
  private def crawlToShardsOracleSql: String = """WITH crawl AS (
          SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 10 <> 9),
        h AS (
          SELECT doc_id, lang, source,
            '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) || ' of ' || source
            || '</title><style>p{color:red}</style></head><body>'
            || '<nav><a href="/">Home navigation link</a> <a href="/arc">Archive of everything</a></nav>'
            || '<h1>Document number ' || CAST(doc_id AS VARCHAR)
            || ' retrieved from source ' || source || ' &amp; friends</h1>'
            || '<p>' || text || '. Contact u' || CAST(doc_id AS VARCHAR)
            || '@ex-mail.org for caf' || chr(195) || chr(169)
            || ' details. It was all verified again.</p>'
            || CASE WHEN doc_id % 3 = 0
               THEN '<div class="rel"><a href="/r1">Read the related story here</a> <a href="/r2">And another related one</a></div>'
               ELSE '<p>Closing editorial remark long enough to clear the gate.</p>' END
            || '<footer><a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>'
            || '<script>track()</script></body></html>' AS html
          FROM crawl),
        stripped AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              html,
              '(?s)<!--.*?-->', '', 'g'),
              '(?is)<script(>|[ \t\r\n/][^>]*>).*?</script>', '', 'g'),
              '(?is)<style(>|[ \t\r\n/][^>]*>).*?</style>', '', 'g'),
              '(?is)<noscript(>|[ \t\r\n/][^>]*>).*?</noscript>', '', 'g'),
              '(?is)<head(>|[ \t\r\n/][^>]*>).*?</head>', '', 'g') AS s
          FROM h),
        blocked AS (
          SELECT doc_id,
            string_split_regex(
              regexp_replace(
                regexp_replace(s, '[\r\n\t]', ' ', 'g'),
                '(?is)</?(p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|section|article|aside|header|footer|nav|main|blockquote|pre|form|fieldset|figure|figcaption|hr|br)(>|[ \t\r\n/][^>]*>)',
                chr(10), 'g'),
              '\n') AS blks
          FROM stripped),
        bb AS (
          SELECT doc_id, i, blks[i] AS blk
          FROM blocked, LATERAL (SELECT unnest(range(1, len(blks) + 1)) AS i)),
        vis AS (
          SELECT doc_id, i, blk,
            trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(blk, '<[^>]*>', '', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '[ \t\r\n]+', ' ', 'g')) AS txt
          FROM bb),
        lc AS (
          SELECT doc_id, i,
            coalesce(list_sum([len(trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(l, '<[^>]*>', '', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '[ \t\r\n]+', ' ', 'g')))
              for l in regexp_extract_all(blk, '(?is)<a(>|[ \t\r\n/][^>]*>)(.*?)</a>', 2)]), 0) AS linkchars
          FROM vis),
        kept AS (
          SELECT v.doc_id, v.i, v.txt
          FROM vis v JOIN lc USING (doc_id, i)
          WHERE len(v.txt) >= 25 AND linkchars <= 0.5 * len(v.txt)),
        agg AS (
          SELECT doc_id, string_agg(txt, chr(10) ORDER BY i) AS extracted
          FROM kept GROUP BY doc_id),
        fx AS (
          SELECT doc_id, replace(extracted, chr(195)||chr(169), chr(233)) AS t
          FROM agg),
        c4 AS (
          SELECT doc_id,
            array_to_string(list_transform(ks, l -> trim(l)), chr(10)) AS clean_text
          FROM (
            SELECT doc_id,
              list_filter(string_split(t, chr(10)), l ->
                regexp_matches(trim(l), '([.!?]["'']?|["''])$')
                AND len(string_split_regex(trim(l), '[ \t\n\f\r]+')) >= 5
                AND NOT contains(lower(trim(l)), 'javascript')) AS ks
            FROM fx
            WHERE NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum'))),
        flat AS (
          SELECT doc_id, replace(clean_text, chr(10), ' ') AS t
          FROM c4
          WHERE len(string_split_regex(clean_text, '[.!?]')) - 1 >= 3),
        gbase AS (
          SELECT doc_id,
            string_split_regex(trim(lower(t)), '\s+') AS ws,
            len(regexp_replace(trim(lower(t)), '\s', '', 'g')) AS wchars,
            trim(lower(t)) AS tl
          FROM flat WHERE length(trim(t)) > 0),
        gwords AS (
          SELECT doc_id, len(ws) AS wc, wchars,
            len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
            len(tl) - len(replace(tl, '#', '')) AS hash_chars,
            (len(tl) - len(replace(tl, '...', ''))) // 3 AS ellipses
          FROM gbase),
        gg AS (
          SELECT b2.doc_id, n.n, array_to_string(b2.ws[i.i : i.i + n.n - 1], ' ') AS gram
          FROM gbase b2, (VALUES (2),(3),(4),(5)) n(n),
            unnest(generate_series(1, len(b2.ws) - n.n + 1)) i(i)
          WHERE len(b2.ws) >= n.n),
        gcnt AS (
          SELECT doc_id, n, gram, count(*) AS c, len(gram) - (n - 1) AS gchars
          FROM gg GROUP BY ALL),
        gtops AS (
          SELECT doc_id,
            max(CASE WHEN n = 2 THEN tc END) AS t2,
            max(CASE WHEN n = 3 THEN tc END) AS t3,
            max(CASE WHEN n = 4 THEN tc END) AS t4
          FROM (
            SELECT doc_id, n, c * gchars AS tc
            FROM gcnt
            QUALIFY row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram) = 1)
          GROUP BY doc_id),
        gdups AS (
          SELECT doc_id, sum((c - 1) * gchars) AS d5
          FROM gcnt WHERE n = 5 AND c > 1 GROUP BY doc_id),
        gfr AS (
          SELECT w.doc_id,
            CAST(w.wc AS BIGINT) AS word_count,
            round(w.wchars * 1000000.0 / w.wc, 0) / 1000000.0 AS mean_word_len,
            round(w.alpha_words * 1000000.0 / w.wc, 0) / 1000000.0 AS alpha_word_frac,
            round((w.hash_chars + w.ellipses) * 1000000.0 / w.wc, 0) / 1000000.0
              AS symbol_word_ratio,
            round(coalesce(t2g.t2, 0) * 1000000.0 / w.wchars, 0) / 1000000.0 AS top2gram_frac,
            round(coalesce(t2g.t3, 0) * 1000000.0 / w.wchars, 0) / 1000000.0 AS top3gram_frac,
            round(coalesce(t2g.t4, 0) * 1000000.0 / w.wchars, 0) / 1000000.0 AS top4gram_frac,
            least(round(coalesce(d2g.d5, 0) * 1000000.0 / w.wchars, 0) / 1000000.0, 1.0)
              AS dup5gram_frac
          FROM gwords w LEFT JOIN gtops t2g USING (doc_id) LEFT JOIN gdups d2g USING (doc_id)),
        surv AS (
          SELECT f2.doc_id, f2.t
          FROM flat f2 JOIN gfr USING (doc_id)
          WHERE word_count BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
            AND symbol_word_ratio < 0.1 AND alpha_word_frac > 0.8
            AND top2gram_frac < 0.20 AND top3gram_frac < 0.18
            AND top4gram_frac < 0.16 AND dup5gram_frac < 0.15),
        stok AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(t)), '\s+')) AS tok
          FROM surv WHERE length(trim(t)) > 0),
        sh2 AS (
          SELECT doc_id,
            CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
            CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
          FROM stok),
        votes AS (
          SELECT doc_id, j,
            CASE WHEN 2 * sum((hi >> j) & 1) >= count(*)
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS hb,
            CASE WHEN 2 * sum((lo >> j) & 1) >= count(*)
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS lb
          FROM sh2 CROSS JOIN generate_series(0, 31) t(j)
          GROUP BY doc_id, j),
        fp AS (
          SELECT doc_id, sum(hb) AS fp_hi, sum(lb) AS fp_lo
          FROM votes GROUP BY doc_id),
        allfp AS (
          SELECT s3.doc_id, coalesce(f.fp_hi, 0) AS fp_hi, coalesce(f.fp_lo, 0) AS fp_lo
          FROM surv s3 LEFT JOIN fp f USING (doc_id)),
        dupids AS (
          SELECT DISTINCT b3.doc_id
          FROM allfp a3 JOIN allfp b3 ON a3.doc_id < b3.doc_id
          WHERE bit_count(xor(a3.fp_hi, b3.fp_hi))
              + bit_count(xor(a3.fp_lo, b3.fp_lo)) <= 3),
        ded AS (
          SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM dupids)),
        dtb AS (SELECT doc_id, t, string_split(t, ' ') AS tt FROM ded),
        tpos AS (
          SELECT doc_id, tt, unnest(generate_series(0, len(tt) - 8)) AS pos
          FROM dtb WHERE len(tt) >= 8),
        tsh AS (
          SELECT doc_id, pos, md5(array_to_string(tt[pos+1 : pos+8], ' ')) AS hh
          FROM tpos),
        bsh AS (
          SELECT DISTINCT md5(array_to_string(bt[p+1 : p+8], ' ')) AS hh
          FROM (
            SELECT bt, unnest(generate_series(0, len(bt) - 8)) AS p
            FROM (SELECT string_split(text, ' ') AS bt
                  FROM documents WHERE doc_id % 10 = 9)
            WHERE len(bt) >= 8)),
        hits AS (SELECT t4.doc_id, t4.pos FROM tsh t4 JOIN bsh USING (hh)),
        brk AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS b
          FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
            sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS g
          FROM brk),
        sp AS (
          SELECT doc_id, g, min(pos) AS start_tok, max(pos) + 7 AS end_tok
          FROM isl GROUP BY doc_id, g),
        spl AS (
          SELECT doc_id,
            list(struct_pack(start_tok := start_tok, end_tok := end_tok)) AS spans
          FROM sp GROUP BY doc_id),
        cut AS (
          SELECT d4.doc_id,
            CASE WHEN spl.spans IS NULL THEN d4.t
              ELSE array_to_string(list_transform(
                list_filter(range(1, len(d4.tt) + 1), i ->
                  len(list_filter(spl.spans, s5 ->
                    (i - 1) >= s5.start_tok AND (i - 1) <= s5.end_tok)) = 0),
                i -> d4.tt[i]), ' ')
            END AS t
          FROM dtb d4 LEFT JOIN spl USING (doc_id)),
        pii AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
              '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
              '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS t
          FROM cut),
        tok2 AS (
          SELECT p2.doc_id, c2.lang,
            CAST(len(regexp_split_to_array(trim(p2.t), '\s+')) AS BIGINT) AS n_tok
          FROM pii p2 JOIN crawl c2 USING (doc_id)),
        av AS (
          SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS n
          FROM tok2 GROUP BY lang HAVING sum(n_tok) > 0),
        z AS (SELECT sum(pow(n, 0.3)) AS z FROM av),
        tg AS (
          SELECT lang,
            CAST(floor(8000 * CAST(round(pow(n, 0.3) / z.z, 6)
              AS DECIMAL(18,6))) AS BIGINT) AS tgt
          FROM av CROSS JOIN z),
        sln AS (
          SELECT tok2.doc_id, tok2.lang, tok2.n_tok, tg.tgt,
            CAST(('0x' || substr(md5(CAST(tok2.doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) AS hv
          FROM tok2 JOIN tg ON tok2.lang = tg.lang),
        pr AS (
          SELECT *, pow((hv + 0.5) / 4294967296.0,
            1.0 / greatest(CAST(n_tok AS DOUBLE), 1.0)) AS aes
          FROM sln),
        cm AS (
          SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY lang
            ORDER BY aes DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM pr),
        mixed AS (SELECT doc_id, lang, n_tok FROM cm WHERE cum < tgt),
        shd AS (
          SELECT doc_id, n_tok,
            CAST((sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              - n_tok) // 2000 AS BIGINT) AS shard
          FROM mixed)
        SELECT shard, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS total_tokens,
          min(doc_id) AS first_id, max(doc_id) AS last_id,
          bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT)) AS ids_xor60
        FROM shd GROUP BY shard ORDER BY shard"""

  /** TPC-H Q3 (shipping priority), adapted: revenue of BUILDING-segment
    * orders placed before a date with lineitems shipped after it.
    */
  private def tpchQ3Sql: String = """SELECT l_orderkey,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  /** TPC-H Q5 (local supplier volume), adapted: revenue where customer
    * and supplier share a nation, one order year, rolled up by nation.
    */
  private def tpchQ5Sql: String = """SELECT n_name,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS BIGINT) = 1996
    GROUP BY n_name ORDER BY revenue DESC, n_name"""

  /** TPC-H Q10 (returned items), adapted: top customers by revenue lost
    * to returns in one quarter.
    */
  private def tpchQ10Sql: String = """SELECT c_custkey, c_name, n_name,
      CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      CAST(count(*) AS BIGINT) AS n_items
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20"""

  // ================================================================ §2.C

  /** Fixed BPE merge table for the q260 fertility audit — an INPUT
    * artifact (the tokenizer under audit), not corpus-trained state:
    * that is what lets the DuckDB oracle replay the greedy rank-
    * priority encode from the same literal. Crafted to exercise
    * multi-level merge chains on the fixture vocabulary ("table" and
    * "window" merge to single tokens; "agg"/"join"/"str" partially).
    */
  private val fertilityMerges: Seq[(String, String)] = Seq(
    "e" -> "</w>", "a" -> "</w>", "t" -> "a", "ta" -> "b", "tab" -> "l",
    "tabl" -> "e</w>", "r" -> "o", "o" -> "w", "w" -> "i", "n" -> "d",
    "wi" -> "nd", "wind" -> "ow", "window" -> "</w>", "s" -> "t",
    "st" -> "r", "e" -> "a", "j" -> "o", "i" -> "n", "g" -> "g",
    "a" -> "gg", "agg" -> "</w>", "q" -> "u", "h" -> "a", "s" -> "</w>")

  /** [[fertilityMerges]] as a DuckDB list literal of 'left right' rank
    * keys — interpolated into q260's oracle so the two engines share
    * ONE merge table by construction.
    */
  private val fertilityMergesSql: String =
    fertilityMerges.map { case (l, r) => s"'$l $r'" }.mkString("[", ", ", "]")

  /** Fixed vocabulary for the q265 coverage audit: the symbols the
    * q260 merge table emits on the fixture, MINUS a deliberate hole
    * ('j', 'q', 'z', 'jo', 'qu') so the UNK arm actually fires —
    * "join"/"query"/z-words surface -1s. An input artifact like
    * [[fertilityMerges]]; ids by list position.
    */
  private val fertilityVocab: Seq[String] = Seq(
    "</w>", "a", "b", "c", "d", "e", "f", "g", "h", "i", "k", "l", "m",
    "n", "o", "p", "r", "s", "t", "u", "v", "w", "x", "y",
    "e</w>", "a</w>", "ta", "tab", "tabl", "table</w>", "ro", "ow", "wi",
    "nd", "wind", "window</w>", "st", "str", "ea", "in", "gg", "agg",
    "agg</w>", "ha", "s</w>")

  private val fertilityVocabSql: String =
    fertilityVocab.map(s => s"'$s'").mkString("[", ", ", "]")

  /** q260's full-corpus oracle — ALSO the q268 gate: the incremental
    * advance must reproduce the full-corpus report bit-for-bit.
    */
  private val fertilityOracleSql: String = raw"""WITH RECURSIVE ws AS (
          SELECT lang,
            unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x <> '')) AS wd
          FROM documents),
        types AS (SELECT DISTINCT wd FROM ws),
        enc AS (
          SELECT wd,
            list_append([wd[i] for i in range(1, length(wd) + 1)], '</w>') AS syms
          FROM types
          UNION ALL
          SELECT wd, syms[1:ba-1] || [syms[ba] || syms[ba+1]] || syms[ba+2:] AS syms
          FROM (
            SELECT wd, syms, list_min(rks) AS br,
              list_position(rks, list_min(rks)) AS ba
            FROM (
              SELECT wd, syms,
                list_transform(range(1, len(syms)), i ->
                  coalesce(nullif(list_position($fertilityMergesSql,
                    syms[i] || ' ' || syms[i+1]), 0), 999999)) AS rks
              FROM enc) t1) t2
          WHERE br < 999999),
        fin AS (
          SELECT wd, CAST(len(syms) AS BIGINT) AS ntok
          FROM (
            SELECT wd, syms,
              list_min(list_transform(range(1, len(syms)), i ->
                coalesce(nullif(list_position($fertilityMergesSql,
                  syms[i] || ' ' || syms[i+1]), 0), 999999))) AS br
            FROM enc) t
          WHERE br IS NULL OR br = 999999),
        wagg AS (
          SELECT ws.lang,
            CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(length(ws.wd)) AS BIGINT) AS n_chars,
            CAST(sum(strlen(ws.wd)) AS BIGINT) AS n_bytes,
            CAST(sum(f.ntok) AS BIGINT) AS n_tokens
          FROM ws JOIN fin f ON f.wd = ws.wd GROUP BY ws.lang),
        docs AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY lang)
        SELECT d.lang, d.n_docs,
          coalesce(a.n_words, 0) AS n_words,
          coalesce(a.n_chars, 0) AS n_chars,
          coalesce(a.n_bytes, 0) AS n_bytes,
          coalesce(a.n_tokens, 0) AS n_tokens,
          CASE WHEN coalesce(a.n_words, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_tokens AS DOUBLE) / CAST(a.n_words AS DOUBLE), 6)
          END AS tokens_per_word,
          CASE WHEN coalesce(a.n_chars, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_tokens AS DOUBLE) / CAST(a.n_chars AS DOUBLE), 6)
          END AS tokens_per_char,
          CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_bytes AS DOUBLE) / CAST(a.n_tokens AS DOUBLE), 6)
          END AS bytes_per_token
        FROM docs d LEFT JOIN wagg a ON a.lang = d.lang
        ORDER BY d.lang"""

  /** Fixed unigram-LM piece table for q270/q271 — an INPUT artifact
    * like [[fertilityMerges]] (the tokenizer under audit, not
    * corpus-trained state), which is what lets DuckDB replay the
    * Viterbi DP from the same literals. Every logprob is an EXACT
    * binary fraction (multiples of 1/8), so DP sums, comparisons, and
    * ties are bit-identical in any IEEE-754 engine. Crafted against
    * the fixture vocabulary: word-final pieces ("table</w>"),
    * word-internal pieces ("wind", "qu"), an ENGINEERED exact tie on
    * "join" ("join</w>" at −4.0 vs "jo"+"in</w>" = −2.0 + −2.0 —
    * earliest-start wins, pinning the tie-break cross-engine), and
    * steep single-symbol scores (−8.0) so multi-piece paths dominate
    * where they exist. Singles cover the corpus charset, so the −100
    * unk arm stays spec-only (UnigramSpec fires it on 'x'/'z').
    */
  private val unigramPieces: Seq[(String, Double)] =
    ("abcdefghijklmnopqrstuvwy".map(ch => ch.toString -> -8.0) :+
      ("</w>" -> -4.0)) ++ Seq(
      "a</w>" -> -3.0, "the</w>" -> -2.5, "agg</w>" -> -3.0,
      "table</w>" -> -3.5, "ta" -> -2.0, "ble</w>" -> -2.5,
      "wind" -> -2.5, "ow</w>" -> -2.0,
      "val" -> -2.0, "ue</w>" -> -2.0,
      "str" -> -2.0, "eam</w>" -> -2.25,
      "qu" -> -2.0, "ery</w>" -> -2.25,
      "jo" -> -2.0, "in</w>" -> -2.0, "join</w>" -> -4.0,
      "row</w>" -> -2.5, "scan</w>" -> -3.0, "sort</w>" -> -3.0,
      "slow</w>" -> -3.0, "small</w>" -> -3.25, "fast</w>" -> -3.0,
      "hash</w>" -> -3.0, "key</w>" -> -2.5, "line</w>" -> -2.75,
      "part</w>" -> -2.75, "sp" -> -2.0, "ark</w>" -> -2.25,
      "dat" -> -2.0, "mer" -> -2.25, "ge</w>" -> -2.25,
      "ord" -> -2.25, "er</w>" -> -2.0, "fil" -> -2.25,
      "ter</w>" -> -2.25, "gr" -> -2.0, "oup</w>" -> -2.25,
      "col" -> -2.25, "umn</w>" -> -2.5, "cust" -> -2.5, "om" -> -2.0,
      "batch</w>" -> -3.25, "big</w>" -> -2.75, "vec" -> -2.25,
      "tor</w>" -> -2.25, "dup</w>" -> -2.75)

  private val unigramPiecesSql: String =
    unigramPieces.map(p => s"'${p._1}'").mkString("[", ", ", "]")
  private val unigramLpsSql: String =
    unigramPieces.map(p => s"CAST(${p._2} AS DOUBLE)").mkString("[", ", ", "]")

  /** The shared DuckDB replay of the unigram Viterbi DP (q270/q271):
    * per distinct word type, forward DP over word-framed symbols
    * (chars + '</w>') maximizing summed piece logprobs — invalid
    * candidates price at −1e18 (the kernel skips them; a valid path
    * always exists through singles, so the sentinel never wins), ties
    * go to the FIRST index of the max (= earliest start = longest
    * piece, the kernel's j-ascending strict-> rule) — then a backtrack
    * recursion materializes the piece list. Ends with `seg(wd,
    * pieces)` plus `ws(doc_id, lang, i, wd)` for assembly.
    */
  private val unigramDpSql: String = raw"""base AS (
          SELECT doc_id, lang,
            list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x <> '') AS wds
          FROM documents),
        ws AS (
          SELECT doc_id, lang, i, wds[i] AS wd FROM (
            SELECT doc_id, lang, wds,
              unnest(generate_series(1, len(wds))) AS i FROM base)),
        types AS (SELECT DISTINCT wd FROM ws),
        symt AS (
          SELECT wd,
            list_append([wd[i] for i in range(1, length(wd) + 1)], '</w>') AS s
          FROM types),
        dp AS (
          SELECT wd, s, CAST(1 AS BIGINT) AS i,
            [CAST(0.0 AS DOUBLE)] AS best, [CAST(0 AS BIGINT)] AS bp
          FROM symt
          UNION ALL
          SELECT wd, s, i + 1,
            list_append(best, scs[list_position(scs, list_max(scs))]),
            list_append(bp, CAST(list_position(scs, list_max(scs)) AS BIGINT))
          FROM (
            SELECT wd, s, i, best, bp,
              list_transform(range(1, i + 1), j ->
                best[j] + coalesce(
                  ($unigramLpsSql)[nullif(list_position($unigramPiecesSql,
                    array_to_string(s[j:i], '')), 0)],
                  CASE WHEN j = i THEN -100.0 ELSE -1e18 END)) AS scs
            FROM dp WHERE i <= len(s)) t0),
        bt AS (
          SELECT wd, s, bp, CAST(len(s) + 1 AS BIGINT) AS k,
            CAST([] AS VARCHAR[]) AS pieces
          FROM dp WHERE i = len(s) + 1
          UNION ALL
          SELECT wd, s, bp, bp[k] AS k,
            list_prepend(array_to_string(s[bp[k]:k-1], ''), pieces)
          FROM bt WHERE k > 1),
        seg AS (SELECT wd, pieces FROM bt WHERE k = 1)"""

  /** DuckDB form of `WebOps.robotsPatternRegex`: the IDENTICAL replace
    * chain (escape order from `WebOps.robotsEscapeChars`, then inner
    * '$'s, then '*' → '.*', '^' prefix, optional trailing anchor),
    * generated from the same list so the two engines cannot drift.
    */
  private def robotsRegexSql(c: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val body = s"(CASE WHEN $c LIKE '%$$' THEN substr($c, 1, length($c) - 1) ELSE $c END)"
    val chain = (WebOps.robotsEscapeChars :+ "$").foldLeft(body) { (acc, ch) =>
      s"replace($acc, ${q(ch)}, ${q("\\" + ch)})"
    }
    s"('^' || replace($chain, '*', '.*') || (CASE WHEN $c LIKE '%$$' THEN '$$' ELSE '' END))"
  }

  /** The crawl fixture q276–q278 share, over the documents table `d`.
    * Every document is a crawled page at `pageUrl`, which is both the
    * resolve base of its links and a member of the crawled set. Its
    * six anchors (`html`): an external partner URL (no robots entry ⇒
    * allowed, never crawled), a shared CDN asset, a same-host next-doc
    * link at +20 (same host because source = doc_id % 20, so the
    * crawled-set anti-join fires for all but the last 20 docs), a
    * related/ path (allowed, new), a /deep/internal/ link (dropped by
    * a robots prefix disallow) and a .pdf link (dropped by the
    * $-anchored wildcard). `rules` is each page host's effective robots
    * rule table for the graftbot agent.
    */
  private final class CrawlFixture(d: DataFrame) {
    private val did = col("doc_id").cast("string")
    private val robotsTxt = Seq(
      "User-agent: *", "Disallow: /", "",
      "User-agent: graftbot", "Disallow: /deep/", "Allow: /deep/pub",
      "Disallow: /*.pdf$", "Allow: /mixed", "Disallow: /mixed")
      .mkString("\n")
    val rules: DataFrame = WebOps.robotsRules(
      d.select(concat(col("source"), lit(".example.com")).as("host")).distinct()
        .withColumn("robots_txt", lit(robotsTxt)),
      "host", "robots_txt", "graftbot/1.3")
    val pageUrl: Column =
      concat(lit("https://"), col("source"), lit(".example.com/doc/"), did)
    val html: Column = concat(
      lit("<html><body><a href=\"https://ext.partner.org/a/"), did,
      lit("\">partner</a>"),
      lit("<a href='//Cdn.Example.COM/widget'>cdn</a>"),
      lit("<a href=\"/doc/"), (col("doc_id") + 20).cast("string"),
      lit("?utm_source=x\">next</a>"),
      lit("<a href=\"related/"), (col("doc_id") + 2).cast("string"),
      lit("\">rel</a>"),
      lit("<a href=\"/deep/internal/"), did, lit("\">private</a>"),
      lit("<a href=\"/files/n"), did, lit(".pdf\">pdf</a></body></html>"))
  }

  private val extensions = Seq(
    Q("q80_dedup_exact",
      (s, dir) =>
        // Hash-grouped exact dedup: group on a content digest (sha256),
        // not raw text — at 100 TB the shuffle carries 32-byte keys, not
        // documents. Keeps min(doc_id) as the surviving representative.
        t(s, dir, "documents")
          .groupBy(sha2(col("text"), 256).as("text_hash"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "n_copies")
          .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY sha256(text) ORDER BY doc_id""")),

    Q("q81_dedup_minhash",
      (s, dir) =>
        Dedup.minHashNearDups(
          t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      // The pair list is probabilistic in general, but each VERIFIED pair
      // carries its exact trigram-set Jaccard — and at this corpus every
      // true pair has jaccard >= 0.9, where the 32-band × 4-row banding
      // misses with probability (1 − 0.9⁴)³² ≈ 1e-15. The exhaustive
      // DuckDB recompute therefore matches the LSH output row-for-row
      // (deterministic: signatures are seeded). DedupSpec separately pins
      // recall on adversarial low-jaccard fixtures.
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
        ORDER BY id_a, id_b""")),

    Q("q134_neardup_incremental",
      (s, dir) => {
        // INCREMENTAL near-dup: odd-id docs as the "daily batch" against
        // a signature store built from even-id "history" — emits pairs
        // touching the batch, never history-internal ones. Same recall
        // argument as q81 (all true pairs ≥ 0.9 jaccard here), so the
        // exhaustive DuckDB recompute filtered by the same side rule
        // matches row-for-row.
        val d = t(s, dir, "documents")
        val store = Dedup.minHashSignatures(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        Dedup.minHashNearDupsIncremental(
            d.filter(col("doc_id") % 2 === 1), store, "doc_id", "text",
            k = 128, bands = 32, w = 3, threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
        ORDER BY id_a, id_b""")),

    Q("q139_pagerank_neardup",
      (s, dir) => {
        // PageRank over the near-dup graph (template/boilerplate hubs
        // rank high). Every stage is engine-reproducible: the edge list
        // is the q81-exact pair set, per-edge contributions are IEEE
        // divisions summed through DECIMAL(38,20) (order-independent),
        // and the oracle unrolls the identical three iterations.
        val pairs = Dedup.minHashNearDups(
          t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
        graft.operators.GraphOps.pageRank(pairs, iterations = 3)
          .orderBy("id")
      },
      Some(pageRankOracleSql(3))),

    Q("q140_triangles_neardup",
      (s, dir) => {
        // triangle census of the near-dup graph: how transitive the
        // duplicate structure is (chance LSH collisions close almost no
        // triangles; real duplicate clusters close nearly all).
        val pairs = Dedup.minHashNearDups(
          t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
        graft.operators.GraphOps.triangleCount(pairs)
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5)
        SELECT count(*) AS n_triangles
        FROM pairs p1
          JOIN pairs p2 ON p1.id_b = p2.id_a
          JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b""")),

    Q("q141_clustering_neardup",
      (s, dir) => {
        // per-node clustering coefficients of the near-dup graph:
        // cohesive template families score 1, boilerplate hubs collided
        // with unrelated docs score low.
        val pairs = Dedup.minHashNearDups(
          t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
        graft.operators.GraphOps.localClustering(pairs)
          .orderBy("id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5),
        tri AS (
          SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
          FROM pairs p1
            JOIN pairs p2 ON p1.id_b = p2.id_a
            JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
        tn AS (
          SELECT id, count(*) AS t FROM (
            SELECT a AS id FROM tri UNION ALL
            SELECT b AS id FROM tri UNION ALL
            SELECT c AS id FROM tri) GROUP BY id),
        deg AS (
          SELECT id, count(*) AS degree FROM (
            SELECT id_a AS id FROM pairs UNION ALL
            SELECT id_b AS id FROM pairs) GROUP BY id)
        SELECT deg.id, deg.degree, coalesce(tn.t, 0) AS n_triangles,
          CASE WHEN deg.degree < 2 THEN NULL
               ELSE round(CAST(2.0 AS DOUBLE) * coalesce(tn.t, 0)
                 / (deg.degree * (deg.degree - 1)), 4) END AS clustering
        FROM deg LEFT JOIN tn ON deg.id = tn.id ORDER BY deg.id""")),

    // q82_dedup_simhash (xxhash64 SimHash) was RETIRED from the declared
    // set in round 6: it is the same operator as q148 below with a
    // Spark-internal per-token hash, so it could never carry an
    // engine-independent oracle — a permanent rows-only row auditing
    // nothing q148's full oracle doesn't. The operator itself
    // (Dedup.simHashNearDups) remains the cheaper production variant
    // (one xxhash64 per token vs an md5 + two hex decodes) and stays
    // pinned by DedupSpec on constructed fixtures.
    Q("q148_simhash_md5",
      (s, dir) =>
        // the cross-engine-auditable SimHash: per-token hash = first
        // 64 bits of md5 (replayable in any engine), fingerprint kept as
        // two 32-bit halves to dodge 1<<63 signed-overflow dialect
        // differences. Spark side finds pairs via pigeonhole banding
        // (the scale path); the oracle recomputes fingerprints from
        // scratch and joins exhaustively — identical results because
        // banding recall is exactly 1 for hamming <= maxDist and
        // maxBucket exceeds the verify corpus size.
        Dedup.simHashMd5NearDups(
          t(s, dir, "documents"), "doc_id", "text", maxDist = 3, maxBucket = 100000)
          .orderBy("id_a", "id_b"),
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0),
        h AS (
          SELECT doc_id,
            CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
            CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
          FROM tok),
        votes AS (
          SELECT doc_id, j,
            CASE WHEN 2 * sum((hi >> j) & 1) >= count(*)
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS hb,
            CASE WHEN 2 * sum((lo >> j) & 1) >= count(*)
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS lb
          FROM h CROSS JOIN generate_series(0, 31) t(j)
          GROUP BY doc_id, j),
        fp AS (
          SELECT doc_id, sum(hb) AS fp_hi, sum(lb) AS fp_lo
          FROM votes GROUP BY doc_id),
        allfp AS (
          SELECT d.doc_id, coalesce(f.fp_hi, 0) AS fp_hi, coalesce(f.fp_lo, 0) AS fp_lo
          FROM documents d LEFT JOIN fp f USING (doc_id))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.fp_hi, b.fp_hi))
             + bit_count(xor(a.fp_lo, b.fp_lo)) AS INTEGER) AS dist
        FROM allfp a JOIN allfp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp_hi, b.fp_hi))
            + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3
        ORDER BY id_a, id_b""")),

    Q("q83_ngram_jaccard",
      (s, dir) => {
        // VERIFICATION-ONLY exhaustive baseline: all-pairs word-trigram
        // Jaccard, O(N²) — guarded to fail fast past 100k rows (the
        // bucketed scale path with the same oracle is q81). Hashed
        // shingle sets: Jaccard over hashes equals Jaccard over the
        // trigrams themselves (both engines hash injectively w.h.p.),
        // so DuckDB's different hash function still yields identical
        // set SIZES.
        val d = ScaleOps.boundedExhaustive(
          t(s, dir, "documents"), "q83_ngram_jaccard")
        val a = d.select(col("doc_id").as("id_a"), Dedup.shingleHashes(col("text"), 3).as("sh_a"))
        val b = d.select(col("doc_id").as("id_b"), Dedup.shingleHashes(col("text"), 3).as("sh_b"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("jac", round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6))
          .filter(col("jac") >= 0.3)
          .select("id_a", "id_b", "jac")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.3
        ORDER BY id_a, id_b""")),

    Q("q84_embedding_neardup",
      (s, dir) => {
        // VERIFICATION-ONLY exhaustive baseline: exact all-pairs cosine,
        // O(N²) — guarded to fail fast past 100k rows (the LSH-bucketed
        // scale path with the same oracle is q85).
        val e = ScaleOps.boundedExhaustive(
          t(s, dir, "embeddings"), "q84_embedding_neardup")
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("cos", round(VectorFunctions.cosine(col("v_a"), col("v_b")), 4))
          .filter(col("cos") >= 0.45)
          .select("id_a", "id_b", "cos")
          .orderBy("id_a", "id_b")
      },
      // NOTE: DuckDB's list_cosine_similarity accumulates in float32;
      // the oracle computes the dot product in double (sequential fold,
      // bit-identical to Spark's aggregate()).
      Some("""WITH c AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(
              list_sum(list_transform(list_zip(a.embedding, b.embedding),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cos FROM c WHERE cos >= 0.45 ORDER BY id_a, id_b""")),

    Q("q85_embedding_neardup_lsh",
      (s, dir) =>
        // Sized by the documented rule: nPlanes = log2(N/bucket) ≈ 2 at
        // 500 vectors; nTables drives recall independently of bucket
        // size — at cos 0.45 (θ/π ≈ 0.352) a table collides with
        // p = 0.648² ≈ 0.42, so 48 OR-tables miss a true pair w.p.
        // (1 − 0.42)⁴⁸ ≈ 4e-11: the LSH output equals the exhaustive
        // q84 pair list deterministically (seeded planes). The
        // threshold is backed off to 0.4495 and re-applied on the
        // 4-dp rounding so the gate matches q84's rounded filter. The
        // operator rounds the RAW cosine once to 4 dp (roundScale) —
        // re-rounding a 6-dp output here would diverge from the oracle's
        // single round(cos, 4) near *.xxxx4999995 boundaries.
        Dedup.embeddingNearDups(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.4495, nPlanes = 2, nTables = 48,
          roundScale = 4)
          .filter(col("cos") >= 0.45)
          .orderBy("id_a", "id_b"),
      // same exhaustive double-accumulated cosine oracle as q84
      Some("""WITH c AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(
              list_sum(list_transform(list_zip(a.embedding, b.embedding),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b, cos FROM c WHERE cos >= 0.45 ORDER BY id_a, id_b""")),

    Q("q86_levenshtein",
      (s, dir) => {
        // fuzzy string matching: supplier names within small edit distance
        // of a probe prefix — the record-linkage primitive
        val su = t(s, dir, "supplier")
        su.select(
            col("s_suppkey"),
            levenshtein(substring(col("s_name"), 1, 12), lit("Supplier#000")).as("dist"))
          .filter(col("dist") <= 2)
          .orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey,
        CAST(levenshtein(substring(s_name, 1, 12), 'Supplier#000') AS INTEGER) AS dist
        FROM supplier WHERE levenshtein(substring(s_name, 1, 12), 'Supplier#000') <= 2
        ORDER BY s_suppkey""")),

    Q("q90_sim_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 1).select("embedding").head()
          .getSeq[Float](0).toArray
        val qCol = array(q.map(lit).toIndexedSeq: _*)
        e.filter(col("vec_id") =!= 1)
          .select(
            col("vec_id"),
            round(VectorFunctions.cosine(col("embedding"), qCol), 4).as("cos"))
          .orderBy(desc("cos"), col("vec_id"))
          .limit(10)
      },
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        c AS (
          SELECT b.vec_id,
            round(
              list_sum(list_transform(list_zip(b.embedding, q.qe),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qe,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings b, q WHERE b.vec_id <> 1)
        SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""")),

    Q("q152_kmeans_assign",
      (s, dir) => {
        // document/embedding clustering exposed as a first-class
        // operator: nearest-centroid assignment of EVERY vector under
        // the deterministic seed centroids (the 8 smallest-id vectors).
        // This is the oracle-able slice of k-means — assignment is pure
        // replayable arithmetic (float→double exact, index-order sums,
        // first-match tie-break), whereas a Lloyd mean-update has no
        // order-independent FP summation for a cross-engine hash. The
        // refinement loop itself is exercised by q91 (kmeansCentroids)
        // and SimilaritySpec.
        val e = t(s, dir, "embeddings")
        val cents = Similarity.centroids(e, "vec_id", "embedding", c = 8)
        Similarity.ivfIndex(e, "vec_id", "embedding", cents)
          .select("vec_id", "cell")
          .orderBy("vec_id")
      },
      Some("""WITH cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
            embedding AS ce
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
        d AS (
          SELECT b.vec_id, c.cell,
            list_sum(list_transform(list_zip(b.embedding, c.ce),
              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
          FROM embeddings b, cents c),
        a AS (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d)
        SELECT vec_id, cell FROM a WHERE rn = 1 ORDER BY vec_id""")),

    Q("q91_sim_ivf",
      (s, dir) => {
        // Deterministic-exact parameterization: nprobe = C = 16 probes
        // EVERY cell, so the IVF result equals the exact top-k by
        // construction (any corpus) while the full machinery — k-means
        // centroid build, cell assignment, probe ranking — still runs.
        // scale=4 rounds the raw cosine ONCE to match the oracle.
        // SimilaritySpec separately pins recall of the approximate
        // nprobe=4 default vs brute force.
        val e = t(s, dir, "embeddings")
        val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, iters = 2)
        val q = e.filter(col("vec_id") === 1).select("embedding").head()
          .getSeq[Float](0).toArray
        Similarity.ivfTopK(
          Similarity.ivfIndex(e.filter(col("vec_id") =!= 1), "vec_id", "embedding", cents),
          "vec_id", "embedding", cents, q, k = 10, nprobe = 16, scale = 4)
      },
      // exact top-k oracle — same as q90 (nprobe=C makes IVF exact)
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        c AS (
          SELECT b.vec_id,
            round(
              list_sum(list_transform(list_zip(b.embedding, q.qe),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qe,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings b, q WHERE b.vec_id <> 1)
        SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""")),

    Q("q92_sim_lsh",
      (s, dir) => {
        // Deterministic-recall-1 parameterization: planes are seeded
        // (bucket assignment is a pure function of the data), and
        // nPlanes=4 with probeRadius=3 probes 15/16 buckets — every
        // bucket except the ANTIPODAL one (vectors whose sign pattern
        // disagrees with the query on all four planes, i.e. the
        // least-cosine-aligned region). Recall is therefore 1 at any
        // corpus where no true top-10 vector is fully sign-opposite to
        // the query — pinned at sf0.001 AND sf0.01 by SimilaritySpec
        // ("declared q91/q92 parameterizations are exact"), which makes
        // q90's exact oracle attachable. The approximate radius-1
        // default keeps its recall spec.
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 1).select("embedding").head()
          .getSeq[Float](0).toArray
        Similarity.lshTopK(
          e.filter(col("vec_id") =!= 1), "vec_id", "embedding",
          dim = 64, query = q, k = 10, nPlanes = 4, probeRadius = 3, scale = 4)
      },
      // exact top-k oracle — same as q90 (parameters sized for recall 1)
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        c AS (
          SELECT b.vec_id,
            round(
              list_sum(list_transform(list_zip(b.embedding, q.qe),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qe,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings b, q WHERE b.vec_id <> 1)
        SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""")),

    Q("q93_knn_join",
      (s, dir) => {
        // Batch k-NN join: every query row gets its top-5 corpus
        // neighbors in ONE job (vs q90/q91's one-query-per-job shape).
        // nprobe = C = 16 probes every cell ⇒ exact by construction,
        // so the exhaustive DuckDB window oracle attaches; the
        // approximate nprobe default is recall-tested in SimilaritySpec.
        val e = t(s, dir, "embeddings")
        val queries = e.filter(col("vec_id") % 100 === 1)
          .select(col("vec_id").as("qid"), col("embedding"))
        val corpus = e.filter(col("vec_id") % 100 =!= 1)
        val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, iters = 2)
        Similarity.knnJoin(corpus, queries, "vec_id", "qid", "embedding",
          k = 5, cents = cents, nprobe = 16, scale = 4)
          .orderBy("qid", "rank")
      },
      Some("""WITH q AS (
          SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 100 = 1),
        c AS (
          SELECT q.qid, b.vec_id,
            round(
              list_sum(list_transform(list_zip(b.embedding, q.qv),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings b, q WHERE b.vec_id % 100 <> 1),
        r AS (
          SELECT qid, vec_id, cos,
            CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
          FROM c)
        SELECT qid, vec_id, cos, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""")),

    Q("q106_decontaminate",
      (s, dir) => {
        // Benchmark decontamination: docs sharing any distinct 8-word
        // shingle with the held-out eval slice (doc_id % 50 = 0) are
        // dropped. Hashed-shingle intersection SIZES are engine-agnostic
        // (q81/q83 precedent), so the exact survivor set oracle-checks.
        val d = t(s, dir, "documents")
        val evalSet = d.filter(col("doc_id") % 50 === 0)
        val corpus = d.filter(col("doc_id") % 50 =!= 0)
        Dedup.decontaminate(corpus, evalSet, "doc_id", "text", w = 8, minShared = 1)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, lang, list_distinct(
            [hash(array_to_string(w[i:i+7], ' ')) for i in range(1, greatest(len(w) - 6, 1))]) AS sh
          FROM (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        ev AS (
          SELECT flatten(list(sh)) AS all_sh FROM sh WHERE doc_id % 50 = 0)
        SELECT s.doc_id, s.lang
        FROM sh s, ev
        WHERE s.doc_id % 50 <> 0 AND len(list_intersect(s.sh, ev.all_sh)) = 0
        ORDER BY s.doc_id""")),

    Q("q170_contamination_score",
      (s, dir) => {
        // graded decontamination: per-doc fraction of distinct 8-word
        // shingles shared with the eval slice — the continuous sibling
        // of q106's binary drop. Hashed-shingle intersection SIZES are
        // engine-agnostic (q106 precedent), so counts and the 6dp
        // fraction replay exactly.
        val d = t(s, dir, "documents")
        val evalSet = d.filter(col("doc_id") % 50 === 0)
        Dedup.contaminationScore(
          d.filter(col("doc_id") % 50 =!= 0), evalSet, "doc_id", "text", w = 8)
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(array_to_string(w[i:i+7], ' ')) for i in range(1, greatest(len(w) - 6, 1))]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        ev AS (
          SELECT flatten(list(sh)) AS all_sh FROM sh WHERE doc_id % 50 = 0)
        SELECT s.doc_id,
          CAST(len(s.sh) AS BIGINT) AS n_shingles,
          CAST(len(list_intersect(s.sh, ev.all_sh)) AS BIGINT) AS n_shared,
          round(CAST(len(list_intersect(s.sh, ev.all_sh)) AS DOUBLE)
            / len(s.sh), 6) AS contamination
        FROM sh s, ev
        WHERE s.doc_id % 50 <> 0 AND len(s.sh) > 0
        ORDER BY s.doc_id""")),

    Q("q107_corpus_prepare",
      (s, dir) => {
        // The FULL preparation composite: PII scrub → repetition gate →
        // clean → decontaminate vs the eval slice → 128/16-token
        // chunking with gate columns carried.
        val d = t(s, dir, "documents")
        val evalSet = d.filter(col("doc_id") % 50 === 0)
        graft.operators.CorpusPipeline.prepare(
          d.filter(col("doc_id") % 50 =!= 0),
          evalDocs = Some(evalSet), chunk = Some((128, 16)))
          .orderBy("doc_id", "chunk_idx")
      },
      // Latest-wins composite replay (q188 technique): chains the q102
      // scrub, q104 repetition gate, q101's clean replay (see its oracle
      // note for the MinHash recall argument), the q106 decontamination
      // shape (8-shingle intersect vs the eval slice — eval side RAW
      // text, corpus side scrubbed, exactly as prepare() wires it), and
      // the q103 chunk arithmetic at 128/16 with carried gate columns.
      Some("""WITH scrub AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
              '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
              '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS text
          FROM documents WHERE doc_id % 50 <> 0),
        rep AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
              string_split_regex(trim(lower(text)), '\s+') AS w
            FROM scrub)
          WHERE (CASE WHEN len(w) - 2 <= 0 THEN 0.0
            ELSE round(1.0 - CAST(len(list_distinct(
              [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 1, 1))])) AS DOUBLE)
              / (len(w) - 2), 6) END) <= 0.9),
        ann AS (
          SELECT doc_id, text,
            string_split_regex(trim(lower(text)), '\s+') AS wl,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
          FROM rep),
        feat AS (
          SELECT doc_id, text, wl, n_tokens,
            CAST(length(text) AS DOUBLE) AS nchars,
            CAST(n_tokens AS DOUBLE) AS ntoks,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS DOUBLE) AS punct,
            CASE WHEN n_tokens = 0 THEN 0.0
                 ELSE CAST(len(list_filter(wl, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE) / n_tokens END AS sr
          FROM ann),
        qual AS (
          SELECT doc_id, text, wl, n_tokens,
            round((least(nchars/100.0, 1.0)
              + greatest(0.0, 1.0 - (CASE WHEN nchars = 0 THEN 0.0 ELSE punct/nchars END)*5.0)
              + (CASE WHEN sr BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE greatest(0.0, 1.0 - abs(sr - 0.35)*2.0) END)
              + (CASE WHEN (CASE WHEN ntoks = 0 THEN 0.0 ELSE nchars/ntoks END) BETWEEN 3.0 AND 10.0 THEN 1.0
                      ELSE greatest(0.0, 1.0 - abs((CASE WHEN ntoks = 0 THEN 0.0 ELSE nchars/ntoks END) - 6.0)/10.0) END)
              )/4.0, 4) AS quality
          FROM feat),
        lang AS (
          SELECT doc_id,
            len(list_filter(wl, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
            len(list_filter(wl, t -> list_contains(['the','and','of','to','is','that','you','with'], t))) AS en,
            len(list_filter(wl, t -> list_contains(['el','la','de','que','los','una','por','con'], t))) AS es,
            len(list_filter(wl, t -> list_contains(['le','les','des','est','dans','une','pour','que'], t))) AS fr,
            len(list_filter(wl, t -> list_contains(['的','是','了','在','我','有','他','这'], t)))
              + len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
          FROM qual),
        annotated AS (
          SELECT q.doc_id, q.text, q.wl, q.n_tokens, q.quality,
            CASE WHEN coalesce(greatest(de, en, es, fr, zh), 0) = 0 THEN 'und'
                 WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                 WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                 WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                 WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                 ELSE 'zh' END AS lang_pred
          FROM qual q JOIN lang l USING (doc_id)),
        gated AS (
          SELECT * FROM annotated
          WHERE n_tokens >= 10 AND quality >= 0.3
            AND lang_pred IN ('en','es','fr','de','zh')),
        exact AS (
          SELECT min(doc_id) AS doc_id FROM gated GROUP BY array_to_string(wl, ' ')),
        surv AS (
          SELECT g.* FROM gated g JOIN exact e USING (doc_id)),
        sh3 AS (
          SELECT doc_id, list_distinct(
            [hash(wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]) for i in range(1, len(wl) - 1)]) AS sh
          FROM surv),
        losers AS (
          SELECT DISTINCT b.doc_id AS loser
          FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
          WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.8),
        cleaned AS (
          SELECT s.* FROM surv s LEFT JOIN losers l ON s.doc_id = l.loser WHERE l.loser IS NULL),
        evsh AS (
          SELECT flatten(list(list_distinct(
            [hash(array_to_string(w[i:i+7], ' ')) for i in range(1, greatest(len(w) - 6, 1))]))) AS all_sh
          FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents WHERE doc_id % 50 = 0)),
        decon AS (
          SELECT c.doc_id, c.text, c.lang_pred, c.quality
          FROM cleaned c, evsh e
          WHERE len(list_intersect(
            list_distinct([hash(array_to_string(c.wl[i:i+7], ' ')) for i in range(1, greatest(len(c.wl) - 6, 1))]),
            e.all_sh)) = 0),
        toks AS (
          SELECT doc_id, lang_pred, quality, string_split_regex(trim(text), '\s+') AS w
          FROM decon WHERE length(trim(text)) > 0),
        st AS (
          SELECT doc_id, lang_pred, quality, w,
            unnest(generate_series(1, greatest(len(w) - 16, 1), 112)) AS s
          FROM toks)
        SELECT doc_id,
          CAST((s - 1) // 112 AS BIGINT) AS chunk_idx,
          CAST(least(128, len(w) - s + 1) AS INTEGER) AS chunk_tokens,
          array_to_string(w[s:s + 127], ' ') AS chunk,
          lang_pred, quality
        FROM st ORDER BY doc_id, chunk_idx""")),

    Q("q94_sim_pq",
      (s, dir) => {
        // product-quantized ANN: 64-dim float vectors → 16 byte-sized
        // codes (16× scan compression); query-time distance is 16 LUT
        // lookups per row (asymmetric distance), no vector reads.
        // rows-only by necessity: PQ distances are to TRAINED centroids
        // — approximate by construction with no exact parameterization
        // at real corpora (exactness would need ksub ≥ distinct
        // subvectors). The quantized-corpus exactness property, recall
        // vs exact L2, and determinism are pinned in SimilaritySpec.
        val e = t(s, dir, "embeddings")
        val cb = Similarity.pqCodebooks(
          e, "vec_id", "embedding", dim = 64, m = 16, ksub = 16, iters = 2)
        val query = e.orderBy("vec_id").select("embedding")
          .head().getSeq[Float](0).toArray
        Similarity.pqTopK(
          Similarity.pqEncode(e, "vec_id", "embedding", cb),
          "vec_id", query, cb, k = 10)
      },
      None),

    Q("q95_text_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("total_tokens"),
            sum(col("n_chars")).as("total_chars"),
            expr("cast(cast(sum(n_chars) as double) / count(*) as double)").as("avg_chars"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
        CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(CAST(sum(n_chars) AS DOUBLE) / count(*) AS DOUBLE) AS avg_chars
        FROM documents GROUP BY lang ORDER BY lang""")),

    Q("q96_text_quality",
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.subwordCount(col("text")).as("n_subwords"),
            TextAnalysis.punctCount(col("text")).as("punct_chars"),
            round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop_ratio"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER)
          AS n_subwords,
        CAST(length(text) - length(regexp_replace(text,
          '[.,!?;:''"()\[\]{}-]', '', 'g')) AS INTEGER) AS punct_chars,
        round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
          t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(t))))
          AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stop_ratio
        FROM documents ORDER BY doc_id""")),

    Q("q97_lang_id",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      // The heuristic is pure engine-independent string math (stopword
      // hits per profile + CJK chars for zh, argmax with ties to the
      // first language in code order, 'und' iff all scores are 0) — so
      // DuckDB can replicate it exactly. Profiles inlined from
      // TextAnalysis.langProfiles; the CASE order de<en<es<fr<zh is the
      // tie-break order.
      Some("""WITH s AS (
          SELECT doc_id, lang,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['the','and','of','to','is','that','you','with'], t))) AS en,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['el','la','de','que','los','una','por','con'], t))) AS es,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['le','les','des','est','dans','une','pour','que'], t))) AS fr,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['的','是','了','在','我','有','他','这'], t)))
              + len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
          FROM documents)
        SELECT doc_id, lang,
          -- coalesce guard: NULL text yields NULL scores, which must map
          -- to 'und' (as Spark does), not fall through CASE to 'zh'
          CASE WHEN coalesce(greatest(de, en, es, fr, zh), 0) = 0 THEN 'und'
               WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
               WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
               WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
               WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
               ELSE 'zh' END AS lang_pred
        FROM s ORDER BY doc_id""")),

    Q("q98_fingerprint",
      (s, dir) =>
        // Declared over the md5-token twin (identical positional
        // polynomial; per-token hash = first 64 bits of md5) so the
        // full arithmetic is DuckDB-replayable. The xxhash64 original
        // (TextAnalysis.fingerprint) is the cheaper Spark-internal
        // variant, pinned by TextAnalysisSpec.
        t(s, dir, "documents")
          .select(col("doc_id"),
            // NULL text → NULL polynomial; pin to 0 to match the
            // oracle's LEFT JOIN + coalesce convention.
            coalesce(TextAnalysis.fingerprintMd5Poly(col("text")), lit(0L))
              .as("fingerprint"))
          .orderBy("doc_id"),
      Some("""WITH RECURSIVE maxn AS (
          SELECT max(len(string_split_regex(trim(lower(text)), '\s+'))) AS m
          FROM documents),
        pow(i, p) AS (
          SELECT 1, CAST(1 AS HUGEINT)
          UNION ALL
          SELECT i + 1, (p * 31) % 18446744073709551616
          FROM pow, maxn WHERE i < maxn.m),
        tok AS (
          SELECT doc_id, i, w[i] AS tok
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents WHERE length(trim(text)) > 0),
               LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
        h AS (
          SELECT doc_id, i,
            (CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS HUGEINT)
               * 4294967296
             + CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT)) AS hv
          FROM tok),
        -- 64x64-bit modular multiply in 32-bit limbs (a full product
        -- would overflow INT128): hv*p mod 2^64 =
        -- ((hi(hv)*lo(p) + lo(hv)*hi(p)) mod 2^32)*2^32 + lo(hv)*lo(p)
        term AS (
          SELECT doc_id,
            ((((hv // 4294967296) * (p % 4294967296)
              + (hv % 4294967296) * (p // 4294967296)) % 4294967296) * 4294967296
              + (hv % 4294967296) * (p % 4294967296)) % 18446744073709551616 AS t
          FROM h JOIN pow ON h.i = pow.i),
        acc AS (
          SELECT doc_id,
            CAST(sum(t) % 18446744073709551616 AS HUGEINT) AS m
          FROM term GROUP BY doc_id),
        signed AS (
          SELECT doc_id,
            CAST(CASE WHEN m >= 9223372036854775808
                 THEN m - 18446744073709551616 ELSE m END AS BIGINT) AS fingerprint
          FROM acc)
        SELECT d.doc_id, coalesce(s.fingerprint, 0) AS fingerprint
        FROM documents d LEFT JOIN signed s USING (doc_id)
        ORDER BY doc_id""")),

    Q("q99_sessionize",
      (s, dir) =>
        Sessionize.sessions(events(s, dir), "ts_sec", "event_id", gapSeconds = 1800L)
          .select(
            col("user_id"), col("session_idx").cast("long").as("session_idx"),
            col("start_sec"), col("end_sec"), col("n_events"), col("total_value"))
          .orderBy("user_id", "session_idx"),
      Some("""WITH e AS (
          SELECT user_id, event_id, value, epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        m AS (
          SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                           OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
        sess AS (
          SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx FROM m)
        SELECT user_id, session_idx, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec,
          count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx""")),

    Q("q154_cohort_retention",
      (s, dir) =>
        // weekly cohort retention over events: cohort = week of first
        // activity; every per-user step keys on user_id (co-partitioned
        // with sessionize/funnel); retention is an exact integer ratio
        // through one double division
        Sessionize.cohortRetention(events(s, dir))
          .orderBy("cohort_period", "period_offset"),
      Some("""WITH e AS (
          SELECT user_id, (epoch_ns(ts) // 1000000000) // 604800 AS wk
          FROM events),
        first AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
        sizes AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
        act AS (
          SELECT DISTINCT f.cohort, e.wk - f.cohort AS period_offset, e.user_id
          FROM e JOIN first f USING (user_id)),
        r AS (
          SELECT cohort, period_offset, count(*) AS n_active
          FROM act GROUP BY cohort, period_offset)
        SELECT r.cohort AS cohort_period, r.period_offset, r.n_active,
          s.cohort_size,
          round(CAST(r.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
        FROM r JOIN sizes s USING (cohort)
        ORDER BY cohort_period, period_offset""")),

    Q("q147_funnel",
      (s, dir) =>
        // ordered view→click→purchase funnel with a 7-day conversion
        // horizon from each user's first view; every stage keys on
        // user_id so the shuffles co-partition
        Sessionize.funnel(
          events(s, dir), Seq("view", "click", "purchase"),
          horizonSeconds = Some(604800L)),
      Some("""WITH e AS (
          SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        s1 AS (
          SELECT user_id, min(ts_sec) AS t0 FROM e
          WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (
          SELECT e.user_id, min(e.ts_sec) AS t, max(s1.t0) AS t0
          FROM e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts_sec > s1.t0
            AND e.ts_sec <= s1.t0 + 604800
          GROUP BY e.user_id),
        s3 AS (
          SELECT e.user_id, min(e.ts_sec) AS t
          FROM e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts_sec > s2.t
            AND e.ts_sec <= s2.t0 + 604800
          GROUP BY e.user_id)
        SELECT 1 AS stage_no, 'view' AS stage, (SELECT count(*) FROM s1) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT count(*) FROM s2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        ORDER BY stage_no""")),

    Q("q100_multimodal",
      (s, dir) =>
        Multimodal.decodeAssets(
          s, Multimodal.syntheticAssets(t(s, dir, "documents"), "doc_id", "text"))
          .groupBy("modality")
          .agg(
            count(lit(1)).as("n_assets"),
            sum(col("width").cast("long")).as("total_width"),
            sum(col("n_frames").cast("long")).as("total_frames"),
            sum(col("duration_ms")).as("total_duration_ms"))
          .orderBy("modality"),
      None), // FakeCodec is engine-internal — ScalaTest pins determinism

    Q("q101_corpus_pipeline",
      (s, dir) =>
        // The composite training-corpus clean: annotate → quality/lang/
        // length gates → exact fingerprint dedup → MinHash near-dup
        // removal. The flagship "would this run at 100 TB" shape: two
        // shuffles + the LSH candidate join, everything else map-only.
        graft.operators.CorpusPipeline.clean(t(s, dir, "documents"))
          .select("doc_id", "lang_pred", "n_tokens", "quality")
          .orderBy("doc_id"),
      // Latest-wins composite replay (the q188 technique): every stage is
      // individually oracled — annotate (q95/q96/q97 formulas), gates,
      // exact dedup (fingerprint ≡ group-by-normalized-token-sequence,
      // collision-free at 64 bits), MinHash near-dup (exhaustive exact-
      // Jaccard recompute ≡ LSH output; q81's recall argument — at J ≥ t
      // the 32×4 banding misses with probability ≤ (1−t⁴)³² ≈ 5e-8).
      // Quality/lang replays keep Spark's operation order so the IEEE
      // doubles agree bit-for-bit before the 4dp round.
      Some("""WITH ann AS (
          SELECT doc_id, text,
            string_split_regex(trim(lower(text)), '\s+') AS wl,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
          FROM documents),
        feat AS (
          SELECT doc_id, text, wl, n_tokens,
            CAST(length(text) AS DOUBLE) AS nchars,
            CAST(n_tokens AS DOUBLE) AS ntoks,
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS DOUBLE) AS punct,
            CASE WHEN n_tokens = 0 THEN 0.0
                 ELSE CAST(len(list_filter(wl, t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE) / n_tokens END AS sr
          FROM ann),
        qual AS (
          SELECT doc_id, text, wl, n_tokens,
            round((least(nchars/100.0, 1.0)
              + greatest(0.0, 1.0 - (CASE WHEN nchars = 0 THEN 0.0 ELSE punct/nchars END)*5.0)
              + (CASE WHEN sr BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE greatest(0.0, 1.0 - abs(sr - 0.35)*2.0) END)
              + (CASE WHEN (CASE WHEN ntoks = 0 THEN 0.0 ELSE nchars/ntoks END) BETWEEN 3.0 AND 10.0 THEN 1.0
                      ELSE greatest(0.0, 1.0 - abs((CASE WHEN ntoks = 0 THEN 0.0 ELSE nchars/ntoks END) - 6.0)/10.0) END)
              )/4.0, 4) AS quality
          FROM feat),
        lang AS (
          SELECT doc_id,
            len(list_filter(wl, t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
            len(list_filter(wl, t -> list_contains(['the','and','of','to','is','that','you','with'], t))) AS en,
            len(list_filter(wl, t -> list_contains(['el','la','de','que','los','una','por','con'], t))) AS es,
            len(list_filter(wl, t -> list_contains(['le','les','des','est','dans','une','pour','que'], t))) AS fr,
            len(list_filter(wl, t -> list_contains(['的','是','了','在','我','有','他','这'], t)))
              + len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
          FROM qual),
        annotated AS (
          SELECT q.doc_id, q.wl, q.n_tokens, q.quality,
            CASE WHEN coalesce(greatest(de, en, es, fr, zh), 0) = 0 THEN 'und'
                 WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                 WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                 WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                 WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                 ELSE 'zh' END AS lang_pred
          FROM qual q JOIN lang l USING (doc_id)),
        gated AS (
          SELECT * FROM annotated
          WHERE n_tokens >= 10 AND quality >= 0.3
            AND lang_pred IN ('en','es','fr','de','zh')),
        exact AS (
          SELECT min(doc_id) AS doc_id FROM gated GROUP BY array_to_string(wl, ' ')),
        surv AS (
          SELECT g.* FROM gated g JOIN exact e USING (doc_id)),
        sh AS (
          SELECT doc_id, list_distinct(
            [hash(wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]) for i in range(1, len(wl) - 1)]) AS sh
          FROM surv),
        losers AS (
          SELECT DISTINCT b.doc_id AS loser
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.8)
        SELECT s.doc_id, s.lang_pred, s.n_tokens, s.quality
        FROM surv s LEFT JOIN losers l ON s.doc_id = l.loser
        WHERE l.loser IS NULL
        ORDER BY s.doc_id""")),

    Q("q102_pii_redact",
      (s, dir) => {
        // PII scrub with a deterministic PII payload injected per doc (the
        // corpus itself is synthetic and PII-free): all four pattern
        // classes — email, SSN, phone, IPv4 — must come back redacted,
        // verified byte-for-byte against DuckDB's RE2 regexp_replace (the
        // operator's regex subset is deliberately Java/RE2-portable).
        val pii = concat(
          substring(col("text"), 1, 40),
          lit(" contact u"), col("doc_id").cast("string"),
          lit("@ex-mail.org or (415) 555-0137 ssn 123-45-6789 host 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7"))
        t(s, dir, "documents")
          .select(col("doc_id"), TextAnalysis.redactPii(pii).as("clean"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          substr(text, 1, 40) || ' contact u' || CAST(doc_id AS VARCHAR)
            || '@ex-mail.org or (415) 555-0137 ssn 123-45-6789 host 10.0.'
            || CAST(doc_id % 256 AS VARCHAR) || '.7',
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
          '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
          '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS clean
        FROM documents ORDER BY doc_id""")),

    Q("q103_chunking",
      (s, dir) =>
        // overlapping token-window chunking (40-token windows, 10-token
        // overlap → a chunk every 30); explode is the output itself, no
        // shuffle beyond the presentation sort
        TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
          size = 40, overlap = 10)
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          FROM documents WHERE length(trim(text)) > 0),
        st AS (
          SELECT doc_id, w,
            unnest(generate_series(1, greatest(len(w) - 10, 1), 30)) AS s
          FROM toks)
        SELECT doc_id,
          CAST((s - 1) // 30 AS BIGINT) AS chunk_idx,
          CAST(least(40, len(w) - s + 1) AS INTEGER) AS chunk_tokens,
          array_to_string(w[s:s + 39], ' ') AS chunk
        FROM st ORDER BY doc_id, chunk_idx""")),

    Q("q104_repetition",
      (s, dir) =>
        // C4/Gopher-style repetition signal: fraction of word trigrams
        // that repeat an earlier trigram; map-only quality gate input
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio"))
          .orderBy("doc_id"),
      Some("""WITH g AS (
          SELECT doc_id,
            [array_to_string(w[i:i+2], ' ') for i in range(1, greatest(len(w) - 1, 1))] AS grams
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents))
        SELECT doc_id,
          CASE WHEN len(grams) = 0 THEN 0.0
            ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
          END AS rep_ratio
        FROM g ORDER BY doc_id""")),

    Q("q105_fingerprint_md5",
      (s, dir) =>
        // cross-engine exact-dup ledger: md5 of normalized text is
        // reproducible in ANY engine (unlike the xxhash64 rolling
        // fingerprint q98, which is Spark-internal) — this is the
        // fingerprint to persist when multiple systems must agree
        t(s, dir, "documents")
          .groupBy(TextAnalysis.md5Fingerprint(col("text")).as("fp_md5"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "fp_md5", "n_copies")
          .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS fp_md5,
          count(*) AS n_copies
        FROM documents GROUP BY 2 ORDER BY doc_id""")),

    Q("q108_neardup_survivors",
      (s, dir) => {
        // policy-based survivor selection over near-dup CLUSTERS: keep
        // the longest member (ties to smallest id). Pairs via the same
        // deterministic LSH parameterization as q81. The shipped
        // fixtures' minimum QUALIFYING pair jaccard is 0.8 (sf0.1;
        // 0.889 at sf0.001), where 32×4 banding misses w.p.
        // (1 − 0.8⁴)³² ≈ 5e-8 — and DedupSpec's oracle-soundness test
        // re-measures every exhaustive pair at both corpora, so fixture
        // drift toward the risky 0.5–0.6 band fails loudly there, not
        // as an opaque hash mismatch here. Clustering is star
        // contraction (Dedup.nearDupClusters); the oracle recomputes the
        // transitive closure with a recursive CTE over the exhaustive
        // pair list.
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minHashNearDups(
          docs, "doc_id", "text", k = 128, bands = 32, w = 3, threshold = 0.5)
        Dedup.nearDupSurvivors(pairs, docs, "doc_id", "n_chars")
          .orderBy("cluster")
      },
      Some("""WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents)),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5),
        e AS (SELECT id_a AS a, id_b AS b FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM r GROUP BY id),
        ranked AS (
          SELECT l.cluster, l.id,
            row_number() OVER (PARTITION BY l.cluster
              ORDER BY d.n_chars DESC, l.id) AS rn,
            count(*) OVER (PARTITION BY l.cluster) AS n_members
          FROM lab l JOIN documents d ON d.doc_id = l.id)
        SELECT cluster, CAST(id AS BIGINT) AS survivor_id,
          CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1 ORDER BY cluster""")),

    Q("q109_pack_sequences",
      (s, dir) =>
        // concat-and-chunk sequence packing (128-token sequences,
        // sharded by language): the pretraining data layout step. The
        // only shuffle is the per-shard cumulative-sum window.
        Packing.packConcat(
          t(s, dir, "documents"), "doc_id", "text",
          seqLen = 128, shardCol = "lang")
          .orderBy("lang", "seq_idx", "doc_id"),
      Some("""WITH d AS (
          SELECT lang, doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
          FROM documents WHERE length(trim(text)) > 0),
        c AS (
          SELECT lang, doc_id, n,
            CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
          FROM d),
        x AS (
          SELECT lang, doc_id, e - n AS s, e,
            unnest(generate_series((e - n) // 128, (e - 1) // 128)) AS k
          FROM c)
        SELECT lang, CAST(k AS BIGINT) AS seq_idx, doc_id,
          CAST(greatest(s, k * 128) - k * 128 AS INTEGER) AS tok_from,
          CAST(least(e, (k + 1) * 128) - k * 128 AS INTEGER) AS tok_to
        FROM x ORDER BY lang, seq_idx, doc_id""")),

    Q("q110_line_dedup",
      (s, dir) => {
        // corpus-wide line-level dedup (the CCNet pass) over multi-line
        // docs constructed from order fields — priority / status /
        // comment-prefix lines recur across orders, so later copies drop
        val docs = t(s, dir, "orders").select(
          col("o_orderkey").as("doc_id"),
          concat_ws("\n", col("o_orderpriority"), col("o_orderstatus"),
            concat(lit("C"), col("o_custkey").cast("string"))).as("text"))
        TextAnalysis.dedupLines(docs, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT o_orderkey AS doc_id,
            concat_ws(chr(10), o_orderpriority, o_orderstatus,
              'C' || CAST(o_custkey AS VARCHAR)) AS text
          FROM orders),
        sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
        ex AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS p, ls FROM sp),
        ln AS (SELECT doc_id, p, ls[p] AS line FROM ex WHERE trim(ls[p]) <> ''),
        keep AS (
          SELECT doc_id, p, line,
            row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn
          FROM ln)
        SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
          CAST(count(*) AS BIGINT) AS kept_lines
        FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""")),

    Q("q75_distinct_two_phase",
      (s, dir) =>
        // skew-safe count(DISTINCT) rewrite: dedupe (key, value) first
        // (partially aggregated map-side), then count per key — hot-key
        // duplicates collapse BEFORE the shuffle. Oracle proves it
        // equals the single-level countDistinct semantics.
        ScaleOps.distinctCountTwoPhase(
          t(s, dir, "lineitem"), "l_returnflag", "l_partkey")
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
          CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_l_partkey
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Q("q76_salted_join",
      (s, dir) => {
        // salt-the-skew join: shuffle key is (okey, salt) so a hot
        // order's rows spread over 8 partitions; output columns are
        // untouched, so the PLAIN join is the exact oracle — salting is
        // semantics-preserving by construction.
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
        val od = t(s, dir, "orders")
          .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        ScaleOps.saltedJoin(li, od, "okey", buckets = 8)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_rows"),
            dsum("l_extendedprice").as("total_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_rows,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q("q77_stratified_sample",
      (s, dir) =>
        // corpus-mixing primitive: per-language keep rates on
        // ENGINE-AUDITABLE md5 hex-prefix buckets — DuckDB replays the
        // exact per-row assignment (substr(md5(key),1,8) vs the same
        // driver-resolved hex constants), so the mix is hash-checked,
        // not rows-only. The xxhash64 fast path keeps the identical
        // contract (determinism/nesting/rates pinned in ScaleOpsSpec;
        // md5≡xxhash64 rate parity pinned there too).
        ScaleOps.stratifiedHashSampleMd5(
          t(s, dir, "documents"), "doc_id", "lang",
          rates = Map("en" -> 0.8, "es" -> 0.5, "fr" -> 0.25),
          defaultRate = 0.1)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("lang"),
      Some("""WITH s AS (
          SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
          FROM documents),
        kept AS (
          SELECT * FROM s WHERE h < CASE lang
            WHEN 'en' THEN 'cccccccc' WHEN 'es' THEN '80000000'
            WHEN 'fr' THEN '40000000' ELSE '1999999a' END)
        SELECT lang, count(*) AS n_kept,
          CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM kept GROUP BY lang ORDER BY lang""")),

    Q("q142_weighted_token_sample",
      (s, dir) =>
        // token-PROPORTIONAL corpus mixing (A-ES priorities, cumulative
        // cutoff): per-language char budgets hit within one document.
        // Fully replayable: u is md5-derived, the priority pow(u, 1/w)
        // and the window cutoff are the same arithmetic in DuckDB.
        ScaleOps.weightedTokenSample(
          t(s, dir, "documents"), "doc_id", "lang", "n_chars",
          targets = Map("en" -> 60000L, "es" -> 25000L))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("lang"),
      Some("""WITH s AS (
          SELECT *,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS hv,
            CASE lang WHEN 'en' THEN 60000 WHEN 'es' THEN 25000 END AS tgt
          FROM documents WHERE lang IN ('en', 'es')),
        r AS (
          SELECT *, pow((hv + 0.5) / 4294967296.0,
            1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS aes
          FROM s),
        c AS (
          SELECT *, coalesce(sum(n_chars) OVER (PARTITION BY lang
            ORDER BY aes DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM r)
        SELECT lang, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM c WHERE cum < tgt GROUP BY lang ORDER BY lang""")),

    Q("q149_lake_merge",
      (s, dir) => {
        // lakehouse MERGE over the versioned table (graft.lake): base =
        // orders keys %3=0 appended as a 4-file range-partitioned
        // snapshot (so the merge's zone-map file pruning actually
        // engages), updates = keys %5=0 (some replace, some insert),
        // result = the post-merge snapshot. The oracle replays the
        // latest-wins upsert in plain SQL; *2 on a double is exact, so
        // values are bit-identical cross-engine.
        val root = scratchDir("graft-q149")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey")
        val orders = t(s, dir, "orders")
        tbl.append(orders.filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .repartitionByRange(4, col("o_orderkey")))
        tbl.merge(orders.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus")))
        tbl.read(s).orderBy("o_orderkey")
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 3 = 0),
        upd AS (
          SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
            'U' AS o_orderstatus
          FROM orders WHERE o_orderkey % 5 = 0)
        SELECT * FROM (
          SELECT * FROM base
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
          UNION ALL SELECT * FROM upd)
        ORDER BY o_orderkey""")),

    Q("q150_lake_time_travel",
      (s, dir) => {
        // time travel: after the same MERGE as q149, version 1 must
        // still read back as the untouched base snapshot — copy-on-write
        // means the merge created files, never mutated them
        val root = scratchDir("graft-q150")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey")
        val orders = t(s, dir, "orders")
        tbl.append(orders.filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .repartitionByRange(4, col("o_orderkey")))
        tbl.merge(orders.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus")))
        tbl.read(s, asOf = Some(1)).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey""")),

    Q("q155_lake_zone_read",
      (s, dir) => {
        // multi-dimensional zone pruning: orders lands in a random
        // 8-file layout (value zones span everything), a z-order
        // compaction re-clusters on (key, price) at once, and the
        // price-range read prunes whole files via the manifest's
        // declared o_totalprice zones before Spark lists them. The
        // oracle is the plain range filter — pruning must be invisible
        // to results, and the boundary rows are where a zone bug shows.
        val root = scratchDir("graft-q155")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey",
          statsCols = Seq("o_totalprice"))
        tbl.append(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .repartition(8))
        tbl.compactZOrder(s, Seq("o_orderkey", "o_totalprice"), targetFiles = 16)
        tbl.readRangeOn(s, "o_totalprice", 50000.0, 150000.0)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_totalprice BETWEEN 50000.0 AND 150000.0
        ORDER BY o_orderkey""")),

    Q("q156_lake_bloom_read",
      (s, dir) => {
        // bloom file-skipping: customers land in a random 8-file layout
        // with a per-file bloom on the (unique, high-cardinality)
        // c_name; the point read probes the manifest bitsets and only
        // scans files the name might be in. The oracle is the plain
        // equality filter — a bloom that wrongly prunes (or a hash
        // mismatch between build and probe) returns 0 rows and fails.
        val root = scratchDir("graft-q156")
        val tbl = graft.lake.VersionedTable(root, "c_custkey",
          bloomCols = Seq("c_name"))
        tbl.append(t(s, dir, "customer").repartition(8))
        tbl.readEquals(s, "c_name", "Customer#000000042")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_name = 'Customer#000000042'
        ORDER BY c_custkey""")),

    Q("q157_lake_changes",
      (s, dir) => {
        // change data feed across the q149 merge: the v1→v2 diff must
        // classify every upserted key as update (was in the base) or
        // insert (was not), carry the NEW values, and silently drop the
        // rows the copy-on-write rewrite carried verbatim. The oracle
        // replays the classification in SQL — sound because an updated
        // row can never equal its old row here (status flips to 'U',
        // which never occurs in orders, and prices are positive so *2
        // always changes them).
        val root = scratchDir("graft-q157")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey")
        val orders = t(s, dir, "orders")
        tbl.append(orders.filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .repartitionByRange(4, col("o_orderkey")))
        tbl.merge(orders.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus")))
        tbl.changes(s, 1, 2).orderBy("o_orderkey")
      },
      Some("""SELECT
          CASE WHEN o_orderkey % 3 = 0 THEN 'update' ELSE 'insert' END
            AS "_change_type",
          o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
          'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 5 = 0
        ORDER BY o_orderkey""")),

    Q("q158_lake_ivm",
      (s, dir) => {
        // incremental view maintenance: the by-status count/sum
        // aggregate initialized at v1 and advanced ONLY by the v1→v2
        // pre/post change feed must equal a full recompute of the
        // post-merge table — which is what the oracle computes from
        // scratch in SQL. Sums ride as decimals, so delta application
        // is order-independent and the comparison is exact.
        val root = scratchDir("graft-q158")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey")
        val orders = t(s, dir, "orders")
        tbl.append(orders.filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .repartitionByRange(4, col("o_orderkey")))
        tbl.merge(orders.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus")))
        val g = Seq("o_orderstatus"); val sc = Seq("o_totalprice")
        val state = graft.lake.IncrementalAgg.init(tbl.read(s, asOf = Some(1)), g, sc)
        graft.lake.IncrementalAgg
          .maintain(state, tbl.changes(s, 1, 2, preImages = true), g, sc)
          .select(col("o_orderstatus"), col("cnt"),
            col("sum_o_totalprice").cast("double").as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 3 = 0),
        upd AS (
          SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
            'U' AS o_orderstatus
          FROM orders WHERE o_orderkey % 5 = 0),
        final AS (
          SELECT * FROM base
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
          UNION ALL SELECT * FROM upd)
        SELECT o_orderstatus, count(*) AS cnt,
          CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    Q("q188_lake_maintenance",
      (s, dir) => {
        // the WHOLE lake maintenance loop as one declared scenario
        // (round-6 directive; each stage also pinned individually by
        // LakeSpec/StreamingLakeSpec): exactly-once upsert feed (the
        // streaming sink's batch form, incl. a replayed batch id that
        // must be a version-less no-op) → CHECK constraint gate (a
        // violating batch aborts pre-manifest; caught and the loop
        // continues) → incrementally maintained aggregate advanced
        // after every commit → z-order compaction (layout-only; the
        // change feed is empty so the IVM must not move) → time-travel
        // audit (v1 row count captured from manifest stats) → vacuum
        // (physical cleanup; the final read below runs AFTER it).
        // Oracle: latest-wins upsert + per-status GROUP BY + base
        // count, all in plain SQL — every maintenance stage must be
        // data-invisible or the hash breaks.
        val root = scratchDir("graft-q188")
        val aggRoot = scratchDir("graft-q188-agg")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey",
          statsCols = Seq("o_totalprice"),
          checks = Seq("o_totalprice >= 0"))
        val m = new graft.lake.MaterializedAgg(
          tbl, aggRoot, Seq("o_orderstatus"), Seq("o_totalprice"))
        val orders = t(s, dir, "orders")
        val base = orders.filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        val upd = orders.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            lit("U").as("o_orderstatus"))
        tbl.upsertIfNew(base.repartitionByRange(4, col("o_orderkey")), "maint", 0L)
        m.refresh(s)
        tbl.upsertIfNew(upd, "maint", 1L)
        m.refresh(s)
        tbl.upsertIfNew(upd, "maint", 1L) // replay: no version, no effect
        m.refresh(s)
        try
          tbl.merge(orders.limit(1).select(col("o_orderkey"), col("o_custkey"),
            lit(-1.0).as("o_totalprice"), lit("X").as("o_orderstatus")))
        catch { case _: IllegalArgumentException => () }
        tbl.compactZOrder(s, Seq("o_orderkey", "o_totalprice"), targetFiles = 4)
        m.refresh(s)
        val v1Rows = tbl.tableCount(Some(1)) // manifest-only time travel
        tbl.vacuum(retainVersions = 1)
        val ivm = m.read(s).select(col("o_orderstatus"),
          col("cnt").as("status_cnt"),
          col("sum_o_totalprice").cast("double").as("status_sum"))
        tbl.read(s)
          .join(ivm, Seq("o_orderstatus"))
          .withColumn("v1_rows", lit(v1Rows))
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
            "status_cnt", "status_sum", "v1_rows")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (
          SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 3 = 0),
        upd AS (
          SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
            'U' AS o_orderstatus
          FROM orders WHERE o_orderkey % 5 = 0),
        final AS (
          SELECT * FROM base
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
          UNION ALL SELECT * FROM upd),
        agg AS (
          SELECT o_orderstatus, count(*) AS status_cnt,
            CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS status_sum
          FROM final GROUP BY o_orderstatus)
        SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, f.o_orderstatus,
          a.status_cnt, a.status_sum,
          (SELECT count(*) FROM base) AS v1_rows
        FROM final f JOIN agg a USING (o_orderstatus)
        ORDER BY f.o_orderkey""")),

    Q("q159_upsample_mix",
      (s, dir) =>
        // token-budget UPSAMPLING (rates past 1.0 — the epoch-weight
        // half mixToTokenBudget's capped rates can't express):
        // floor(rate) full copies per doc + an md5-selected fractional
        // slice. The cut is floor(frac·2^32) in hex — 2^32 is a power
        // of two, so the multiply is exact in IEEE doubles and DuckDB
        // replays the identical boundary from the identical
        // data-derived rate. The oracle rebuilds every copy.
        ScaleOps.upsampleToTokenBudget(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "doc_id", "lang", "n_chars",
          Map("en" -> 150000L, "es" -> 40000L))
          .orderBy("doc_id", "copy_no"),
      Some("""WITH avail AS (
          SELECT lang, sum(n_chars) AS a FROM documents
          WHERE lang IS NOT NULL GROUP BY lang),
        r AS (
          SELECT d.doc_id, d.lang, d.n_chars,
            CASE d.lang WHEN 'en' THEN 150000.0 / a.a
                        WHEN 'es' THEN 40000.0 / a.a END AS rate
          FROM documents d JOIN avail a USING (lang)
          WHERE d.lang IN ('en', 'es')),
        m AS (
          SELECT *, CAST(floor(rate) AS BIGINT) AS nfull,
            printf('%08x', CAST(least(floor((rate - floor(rate)) * 4294967296.0),
              4294967295.0) AS BIGINT)) AS cut
          FROM r),
        copies AS (
          SELECT doc_id, lang, n_chars,
            unnest(generate_series(1, nfull)) AS copy_no
          FROM m WHERE nfull >= 1),
        extra AS (
          SELECT doc_id, lang, n_chars, nfull + 1 AS copy_no FROM m
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cut)
        SELECT doc_id, lang, n_chars, copy_no FROM copies
        UNION ALL SELECT doc_id, lang, n_chars, copy_no FROM extra
        ORDER BY doc_id, copy_no""")),

    Q("q160_split_leakage",
      (s, dir) => {
        // contamination audit: near-dup pairs straddling the q117
        // domain-level train/val/test split — the leakage a
        // group-level split cannot stop when near-identical text
        // exists across sources. Oracle = the q81 exhaustive pair
        // recompute joined to the q117 md5 split replay; same recall
        // argument as q81 (all true pairs ≥ 0.9 jaccard here).
        val d = t(s, dir, "documents")
        val split = ScaleOps.splitByGroup(d, "source",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
          .select(col("doc_id"), col("split"))
        val pairs = Dedup.minHashNearDups(d, "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
        Dedup.splitLeakage(pairs, split).orderBy("id_a", "id_b")
      },
      Some("""WITH sh AS (
          SELECT doc_id, source, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        sp AS (
          SELECT doc_id, CASE
            WHEN substr(md5(source), 1, 8) < 'bfffffff' THEN 'train'
            WHEN substr(md5(source), 1, 8) < 'dfffffff' THEN 'val'
            ELSE 'test' END AS split
          FROM documents),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5)
        SELECT p.id_a, p.id_b, p.jaccard,
          sa.split AS split_a, sb.split AS split_b
        FROM p
        JOIN sp sa ON sa.doc_id = p.id_a
        JOIN sp sb ON sb.doc_id = p.id_b
        WHERE sa.split <> sb.split
        ORDER BY id_a, id_b""")),

    Q("q161_lake_delete",
      (s, dir) => {
        // zone-pruned copy-on-write DELETE: only files whose key zone
        // overlaps the range are rewritten; the read after must show
        // exactly the complement (the oracle's NOT BETWEEN), with rows
        // in untouched files carried by reference bit-identically.
        val root = scratchDir("graft-q161")
        val tbl = graft.lake.VersionedTable(root, "o_orderkey")
        tbl.append(t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .repartitionByRange(8, col("o_orderkey")))
        tbl.deleteRange(s, 2000, 7999)
        tbl.read(s).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey NOT BETWEEN 2000 AND 7999
        ORDER BY o_orderkey""")),

    Q("q163_image_neardup",
      (s, dir) => {
        // visual near-dup detection: deterministic structured PNGs
        // seeded by doc_id, plus jittered re-encoded twins of the
        // first ten — the twins' BYTES differ entirely (PNG re-encode)
        // while the pixels barely do, so only a perceptual hash can
        // pair them. rows-only by necessity: the pHash is computed from
        // DECODED PIXELS (javax.imageio + DCT), which no SQL engine
        // can replay; determinism, jitter tolerance, banding recall,
        // and false-positive absence are pinned in MultimodalSpec.
        import s.implicits._
        val ids = t(s, dir, "documents").select(col("doc_id"))
          .orderBy("doc_id").limit(30).as[Long]
        val base = ids.map(id => (id, "image",
          graft.multimodal.Multimodal.ImageCodec.makeStructuredPng(id),
          "synthetic", "image/png"))
        val twins = ids.filter(_ < 10).map(id => (1000L + id, "image",
          graft.multimodal.Multimodal.ImageCodec.jitterPng(
            graft.multimodal.Multimodal.ImageCodec.makeStructuredPng(id), 2),
          "synthetic", "image/png"))
        val assets = base.union(twins)
          .toDF("asset_id", "modality", "content", "source", "mime")
        graft.multimodal.Multimodal.imageNearDups(s, assets, maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      None),

    Q("q212_audio_neardup",
      (s, dir) => {
        // acoustic near-dup detection: deterministic structured WAVs
        // seeded by doc_id, plus gain-jittered re-encoded twins of the
        // first ten — the twins' BYTES mostly differ (every sample
        // rescaled) while the frame-energy CONTOUR doesn't, so only
        // the sign-of-energy-delta fingerprint can pair them. The
        // audio twin of q163: rows-only by necessity — the aHash is
        // computed from DECODED SAMPLES (javax.sound), which no SQL
        // engine can replay; determinism, gain invariance, banding
        // recall, and false-positive absence are pinned in
        // MultimodalSpec.
        import s.implicits._
        val ids = t(s, dir, "documents").select(col("doc_id"))
          .orderBy("doc_id").limit(30).as[Long]
        val base = ids.map(id => (id, "audio",
          graft.multimodal.Multimodal.AudioCodec.makeStructuredWav(id * 13 + 1),
          "synthetic", "audio/wav"))
        val twins = ids.filter(_ < 10).map(id => (1000L + id, "audio",
          graft.multimodal.Multimodal.AudioCodec.jitterWavGain(
            graft.multimodal.Multimodal.AudioCodec.makeStructuredWav(id * 13 + 1)),
          "synthetic", "audio/wav"))
        val assets = base.union(twins)
          .toDF("asset_id", "modality", "content", "source", "mime")
        graft.multimodal.Multimodal.audioNearDups(s, assets, maxHamming = 3)
          .orderBy("id_a", "id_b")
      },
      None),

    Q("q213_script_profile",
      (s, dir) => {
        // writing-system routing: one-pass Unicode-script counters +
        // dominant class — the cheap first gate a multilingual corpus
        // routes on before any model runs. Multi-script runs are
        // injected from code points (q191/q210 discipline) so every
        // counter fires; the oracle replays each class as an RE2
        // \p{Script} count (Java Character.UnicodeScript and RE2 both
        // implement the Unicode Script property) and derives n_other
        // from the code-point total. The dominant CASE checks classes
        // in one fixed order in both engines, so ties break
        // identically.
        val cyr = lit("\u043F\u0440\u0438\u0432\u0435\u0442") // privet
        val grk = lit("\u03B1\u03B8\u03B7\u03BD\u03B1")             // athina
        val cjk = lit("\u6F22\u5B57\u304B\u30CA\uD55C")             // han/kana/katakana/hangul
        val ara = lit("\u0645\u0631\u062D\u0628\u0627 \u0663\u0664") // marhaba + arabic-indic digits
        val injected = concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, concat(lit(" "), cyr)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" "), grk, lit(" "), cjk)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0, concat(lit(" "), ara)).otherwise(lit("")))
        val m = greatest(col("n_latin"), col("n_cyrillic"), col("n_greek"),
          col("n_arabic"), col("n_cjk"), col("n_digit"), col("n_space"), col("n_other"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            org.apache.spark.sql.graft.NativeExprs.scriptProfile(injected).as("p"))
          .select(col("doc_id"), col("p.*"))
          .withColumn("dominant",
            when(col("n_latin") === m, lit("latin"))
              .when(col("n_cyrillic") === m, lit("cyrillic"))
              .when(col("n_greek") === m, lit("greek"))
              .when(col("n_arabic") === m, lit("arabic"))
              .when(col("n_cjk") === m, lit("cjk"))
              .when(col("n_digit") === m, lit("digit"))
              .when(col("n_space") === m, lit("space"))
              .otherwise(lit("other")))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 3 = 0 THEN ' ' || chr(1087) || chr(1088)
                 || chr(1080) || chr(1074) || chr(1077) || chr(1090) ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(945) || chr(952)
                 || chr(951) || chr(957) || chr(945) || ' ' || chr(28450)
                 || chr(23383) || chr(12363) || chr(12490) || chr(54620) ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(1605) || chr(1585)
                 || chr(1581) || chr(1576) || chr(1575) || ' ' || chr(1635)
                 || chr(1636) ELSE '' END AS t2
          FROM documents),
        c AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(t2, '\p{Latin}')) AS BIGINT) AS n_latin,
            CAST(len(regexp_extract_all(t2, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
            CAST(len(regexp_extract_all(t2, '\p{Greek}')) AS BIGINT) AS n_greek,
            CAST(len(regexp_extract_all(t2, '\p{Arabic}')) AS BIGINT) AS n_arabic,
            CAST(len(regexp_extract_all(t2,
              '[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]')) AS BIGINT) AS n_cjk,
            CAST(len(regexp_extract_all(t2, '[0-9]')) AS BIGINT) AS n_digit,
            CAST(len(regexp_extract_all(t2, '[ \t\n\f\r]')) AS BIGINT) AS n_space,
            CAST(len(t2) AS BIGINT) AS n_total
          FROM h),
        c2 AS (
          SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
            n_digit, n_space,
            n_total - n_latin - n_cyrillic - n_greek - n_arabic - n_cjk
              - n_digit - n_space AS n_other
          FROM c),
        c3 AS (
          SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
            n_digit, n_space, n_other) AS m
          FROM c2)
        SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
          n_digit, n_space, n_other,
          CASE WHEN n_latin = m THEN 'latin'
               WHEN n_cyrillic = m THEN 'cyrillic'
               WHEN n_greek = m THEN 'greek'
               WHEN n_arabic = m THEN 'arabic'
               WHEN n_cjk = m THEN 'cjk'
               WHEN n_digit = m THEN 'digit'
               WHEN n_space = m THEN 'space'
               ELSE 'other' END AS dominant
        FROM c3 ORDER BY doc_id""")),

    Q("q214_ccnet_buckets",
      (s, dir) =>
        // CCNet head/middle/tail bucketing (Wenzek et al. 1911.00359):
        // q153's self-perplexity score, cut into per-LANGUAGE terciles
        // on DISCRETE percentile boundaries (q135's quantileBin
        // discipline — actual data values, ties share a bucket, no
        // ntile window). head = least-perplexing third. The oracle
        // replays the LM score through q153's CTEs, the cuts through
        // percentile_disc, and the same fixed-order bucket CASE.
        TextAnalysis.ccnetBuckets(fannedOut(t(s, dir, "documents")))
          .orderBy("doc_id"),
      Some("""WITH norm AS (
          SELECT doc_id, lower(trim(text)) AS t FROM documents),
        g AS (
          SELECT doc_id,
            unnest([substr(t, i, 3) for i in range(1, greatest(len(t) - 1, 1))]) AS gram
          FROM norm WHERE len(t) >= 3),
        model AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
        tot AS (SELECT sum(cnt) AS total FROM model),
        lp AS (
          SELECT doc_id,
            CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
          FROM g JOIN model USING (gram) CROSS JOIN tot),
        sc AS (
          SELECT doc_id, count(*) AS n_grams,
            round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logp
          FROM lp GROUP BY doc_id),
        scl AS (
          SELECT s.doc_id, d.lang, CAST(s.n_grams AS BIGINT) AS n_grams, s.avg_logp
          FROM sc s JOIN documents d USING (doc_id)),
        b AS (
          SELECT lang,
            percentile_disc(CAST(1 AS DOUBLE)/3) WITHIN GROUP (ORDER BY avg_logp) AS q1,
            percentile_disc(CAST(2 AS DOUBLE)/3) WITHIN GROUP (ORDER BY avg_logp) AS q2
          FROM scl GROUP BY lang),
        a AS (
          SELECT scl.doc_id, scl.lang, scl.n_grams, scl.avg_logp,
            1 + (CASE WHEN scl.avg_logp > b.q1 THEN 1 ELSE 0 END)
              + (CASE WHEN scl.avg_logp > b.q2 THEN 1 ELSE 0 END) AS bin
          FROM scl JOIN b USING (lang))
        SELECT doc_id, lang, n_grams, avg_logp,
          CASE WHEN bin = 3 THEN 'head' WHEN bin = 1 THEN 'tail'
               ELSE 'middle' END AS bucket
        FROM a ORDER BY doc_id""")),

    Q("q215_data_card",
      (s, dir) =>
        // per-source corpus DATA CARD (the quantitative half of
        // "Datasheets for Datasets"): volume, duplication, language
        // mix, quality, encoding and PII indicators in ONE corpus
        // aggregation plus a bounded (source, lang) mode. Every metric
        // reuses an already-oracled kernel (q95/q96/q105/q213/q191/
        // q102 fragments) so the card replays end-to-end.
        graft.quality.DataCard.perSource(t(s, dir, "documents"))
          .orderBy("source"),
      Some("""WITH per AS (
          SELECT source, lang, text,
            len(regexp_split_to_array(trim(text), '\s+')) AS ntok,
            len(text) AS nch,
            md5(text) AS h,
            CAST(round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              t -> list_contains(['the','a','an','and','or','of','to','in','is','it'],
                lower(t)))) AS DOUBLE)
              / len(regexp_split_to_array(trim(text), '\s+')), 4)
              AS DECIMAL(18,6)) AS stopr,
            len(regexp_extract_all(text, '\p{Latin}')) AS nlat,
            CASE WHEN len(string_split_regex(text,
              '(\x{00C3}[\x{0080}-\x{00BF}])|(\x{00E2}\x{20AC})|(\x{00C2}[\x{0020}\x{00A0}])|(\x{FFFD})'
              )) - 1 > 0 THEN 1 ELSE 0 END AS noisy,
            CASE WHEN regexp_matches(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
              THEN 1 ELSE 0 END AS hasmail
          FROM documents),
        base AS (
          SELECT source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(ntok) AS BIGINT) AS n_tokens,
            CAST(sum(nch) AS BIGINT) AS n_chars,
            round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 4) AS dup_rate,
            CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
            round(CAST(sum(stopr) AS DOUBLE) / count(*), 4) AS avg_stop_ratio,
            round(CAST(sum(nlat) AS DOUBLE) / greatest(sum(nch), 1), 4) AS latin_frac,
            CAST(sum(noisy) AS BIGINT) AS n_noisy_docs,
            CAST(sum(hasmail) AS BIGINT) AS n_email_docs
          FROM per GROUP BY source),
        lc AS (SELECT source, lang, count(*) AS ln FROM documents GROUP BY 1, 2),
        top AS (
          SELECT source, lang AS top_lang, ln,
            row_number() OVER (PARTITION BY source ORDER BY ln DESC, lang) AS rn
          FROM lc)
        SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, b.dup_rate, b.n_langs,
          t.top_lang, round(CAST(t.ln AS DOUBLE) / b.n_docs, 4) AS top_lang_frac,
          b.avg_stop_ratio, b.latin_frac, b.n_noisy_docs, b.n_email_docs
        FROM base b JOIN top t ON t.source = b.source AND t.rn = 1
        ORDER BY b.source""")),

    Q("q216_pr_curve",
      (s, dir) => {
        // classifier-gate calibration: precision/recall/F1 sweep of a
        // scored binary filter (here: "is English" gated on the q96
        // stopword-ratio score) across deployment thresholds. The
        // corpus collapses to a (score, label) histogram in ONE
        // aggregation; the sweep runs over thresholds × histogram.
        // Counts are exact, ratios 4dp-rounded — the whole curve
        // replays in DuckDB.
        val scored = t(s, dir, "documents").select(
          (col("lang") === "en").as("is_en"),
          round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop_score"))
        Classify.prCurve(scored, "is_en", "stop_score",
          Seq(0.02, 0.05, 0.08, 0.12, 0.2))
      },
      Some("""WITH sc AS (
          SELECT (lang = 'en') AS y,
            round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              t -> list_contains(['the','a','an','and','or','of','to','in','is','it'],
                lower(t)))) AS DOUBLE)
              / len(regexp_split_to_array(trim(text), '\s+')), 4) AS s
          FROM documents),
        th AS (
          SELECT CAST(unnest([0.02, 0.05, 0.08, 0.12, 0.2]) AS DOUBLE) AS threshold),
        m AS (
          SELECT threshold,
            CAST(sum(CASE WHEN y AND s >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN NOT y AND s >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN y AND s < threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM th CROSS JOIN sc GROUP BY threshold)
        SELECT threshold, tp, fp, fn,
          CASE WHEN tp + fp = 0 THEN NULL
               ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 4) END AS precision,
          CASE WHEN tp + fn = 0 THEN NULL
               ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 4) END AS recall,
          CASE WHEN 2*tp + fp + fn = 0 THEN NULL
               ELSE round(CAST(2*tp AS DOUBLE) / (2*tp + fp + fn), 4) END AS f1
        FROM m ORDER BY threshold""")),

    Q("q217_shard_by_budget",
      (s, dir) => {
        // training-shard assignment: exact global token cumsum via the
        // partition-offset technique (range exchange + bounded
        // per-partition totals + parallel per-partition windows — no
        // global window), shard = start_offset div budget. Whole docs
        // never split; partitionBy("shard") on the writer yields
        // fixed-budget files. The oracle is the single-window cumsum
        // definition the distributed form must equal.
        val docs = t(s, dir, "documents").select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
        ScaleOps.shardByTokenBudget(docs, "doc_id", "n_tok", 4000L)
          .select("doc_id", "n_tok", "shard")
          .orderBy("doc_id")
      },
      Some("""WITH s AS (
          SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
          FROM documents)
        SELECT doc_id, n_tok,
          CAST((sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok)
            // 4000 AS BIGINT) AS shard
        FROM s ORDER BY doc_id""")),

    Q("q164_semantic_dedup",
      (s, dir) => {
        // SemDeDup-style semantic dedup: the k-means partition is the
        // blocking function (pairs compared only WITHIN a cell), then
        // connected components (Dedup.nearDupClusters) keep the min id
        // per duplicate group.
        // Declared with the oracle-able seed-centroid assignment (q152
        // proved the argmin replay is bit-exact cross-engine); the
        // production path swaps in kmeansCentroids, same machinery.
        // Cosine is rounded ONCE at 4 dp before the threshold (q84/q85
        // discipline); the oracle recomputes assignment, within-cell
        // pairs, and the transitive closure with a recursive CTE.
        // C scales with the corpus (max(8, n/128)): constant ~128-vector
        // cells keep the within-cell pair count LINEAR in n — a fixed C
        // re-introduces the quadratic (measured exp 1.1 at sf1 before
        // this sizing). count() is one metadata-only job; the oracle
        // replays the same C via a subquery LIMIT.
        val e = t(s, dir, "embeddings")
        val c = math.max(8L, e.count() / 128).toInt
        val cents = Similarity.centroids(e, "vec_id", "embedding", c)
        Dedup.semanticDedup(
          e, "vec_id", "embedding", cents, threshold = 0.45, roundScale = 4)
          .select("vec_id")
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
            embedding AS ce
          FROM (SELECT * FROM embeddings ORDER BY vec_id
                LIMIT (SELECT greatest(8, count(*) // 128) FROM embeddings))),
        d AS (
          SELECT b.vec_id, c.cell,
            list_sum(list_transform(list_zip(b.embedding, c.ce),
              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
          FROM embeddings b, cents c),
        a AS (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d),
        asg AS (SELECT vec_id, cell FROM a WHERE rn = 1),
        p AS (
          SELECT ax.vec_id AS id_a, ay.vec_id AS id_b
          FROM asg ax JOIN asg ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          JOIN embeddings x ON x.vec_id = ax.vec_id
          JOIN embeddings y ON y.vec_id = ay.vec_id
          WHERE round(
              list_sum(list_transform(list_zip(x.embedding, y.embedding),
                z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(x.embedding,
                   z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))
               * sqrt(list_sum(list_transform(y.embedding,
                   z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))), 4) >= 0.45),
        e AS (SELECT id_a AS a1, id_b AS b1 FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        r(id, lab) AS (
          SELECT a1, a1 FROM e
          UNION
          SELECT e.a1, r.lab FROM e JOIN r ON r.id = e.b1),
        lab AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster)
        ORDER BY vec_id""")),

    Q("q172_winnow_fingerprints",
      (s, dir) =>
        // MOSS winnowing fingerprints (distinct window minima of md5
        // 25-gram hashes, w=10) for the first 50 docs — md5 hex
        // strings order identically in any engine, so the full
        // fingerprint set replays exactly.
        TextAnalysis.winnowFingerprints(
          t(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", k = 25, w = 10)
          .orderBy("doc_id", "fp"),
      Some("""WITH t AS (
          SELECT doc_id, lower(trim(text)) AS t FROM documents WHERE doc_id < 50),
        g AS (
          SELECT doc_id, [md5(t[i:i+24]) for i in range(1, len(t) - 23)] AS gs
          FROM t WHERE len(t) >= 25),
        wn AS (
          SELECT doc_id,
            list_distinct([list_min(gs[j:j+9]) for j in range(1, len(gs) - 8)]) AS fps
          FROM g WHERE len(gs) >= 10)
        SELECT doc_id, unnest(fps) AS fp FROM wn ORDER BY doc_id, fp""")),

    Q("q173_winnow_pairs",
      (s, dir) =>
        // containment-style near-dup: docs sharing >= 3 winnowing
        // fingerprints (catches a copied PASSAGE inside otherwise-
        // different docs, where MinHash's whole-doc Jaccard stays low).
        // The 25 surfaced pairs cross-validate the q81 minhash set.
        TextAnalysis.winnowNearDups(
          t(s, dir, "documents"), "doc_id", "text",
          k = 25, w = 10, minShared = 3L, maxDf = 1000L)
          .orderBy("id_a", "id_b"),
      Some("""WITH t AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        g AS (
          SELECT doc_id, [md5(t[i:i+24]) for i in range(1, len(t) - 23)] AS gs
          FROM t WHERE len(t) >= 25),
        wn AS (
          SELECT doc_id,
            list_distinct([list_min(gs[j:j+9]) for j in range(1, len(gs) - 8)]) AS fps
          FROM g WHERE len(gs) >= 10),
        fp AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
        kept AS (
          SELECT * FROM fp WHERE fp NOT IN (
            SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) > 1000)),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 3
        ORDER BY id_a, id_b""")),

    Q("q193_winnow_incremental",
      (s, dir) => {
        // incremental winnowing, the daily-crawl shape: every 5th doc
        // arrives as the new batch, the rest is the persisted (id, fp)
        // store — the batch fingerprints only itself and joins the
        // store (q134/q166 discipline). The oracle recomputes ALL
        // passage-sharing pairs and side-filters to those touching the
        // batch; the combined-population maxDf prune makes incremental
        // ≡ full exact, not approximate.
        // the store arrived as TWO ingests (docs %5 in {0,1} then
        // {2,3}), each appending its own (fp, df) delta — the prune
        // sums deltas per touched fp instead of re-counting the full
        // (id, fp) history (mergeable-state path; the recount variant
        // winnowNearDupsIncremental is the pinned semantic twin).
        val d = t(s, dir, "documents")
        val dayA = d.filter(col("doc_id") % 5 < 2)
        val dayB = d.filter(col("doc_id") % 5 === 2 || col("doc_id") % 5 === 3)
        // the store is PERSISTED state in a deployment (each ingest
        // appended its (id, fp) rows once, to disk); materializing it
        // to scratch parquet — the q149-q158 lake-query convention —
        // reproduces that shape exactly: history is re-fingerprinted
        // ONCE per ingest, not once per consuming branch, and the
        // store read is a compressed columnar scan, not a kernel pass
        // (an in-memory checkpoint of the same frames OOMs an 8g
        // driver at the sf10 rehearsal; the deployment artifact is a
        // file, so simulate the file)
        val root = scratchDir("graft-q193")
        TextAnalysis.winnowFingerprints(dayA, "doc_id", "text", k = 25, w = 10)
          .write.mode("overwrite").parquet(s"$root/fpsA")
        TextAnalysis.winnowFingerprints(dayB, "doc_id", "text", k = 25, w = 10)
          .write.mode("overwrite").parquet(s"$root/fpsB")
        val fpsA = s.read.parquet(s"$root/fpsA")
        val fpsB = s.read.parquet(s"$root/fpsB")
        TextAnalysis.winnowNearDupsIncrementalMergeable(
          d.filter(col("doc_id") % 5 === 4),
          fpsA.unionByName(fpsB),
          TextAnalysis.winnowDfStore(fpsA, "doc_id")
            .unionByName(TextAnalysis.winnowDfStore(fpsB, "doc_id")),
          "doc_id", "text",
          k = 25, w = 10, minShared = 3L, maxDf = 1000L)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH t AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        g AS (
          SELECT doc_id, [md5(t[i:i+24]) for i in range(1, len(t) - 23)] AS gs
          FROM t WHERE len(t) >= 25),
        wn AS (
          SELECT doc_id,
            list_distinct([list_min(gs[j:j+9]) for j in range(1, len(gs) - 8)]) AS fps
          FROM g WHERE len(gs) >= 10),
        fp AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
        kept AS (
          SELECT * FROM fp WHERE fp NOT IN (
            SELECT fp FROM fp GROUP BY fp HAVING count(DISTINCT doc_id) > 1000)),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          WHERE a.doc_id % 5 = 4 OR b.doc_id % 5 = 4
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 3
        ORDER BY id_a, id_b""")),

    Q("q174_hybrid_rrf",
      (s, dir) => {
        // hybrid RAG retrieval: BM25 (q145's query terms) and exact
        // cosine (q90's query vector) top-50 pools fused by reciprocal-
        // rank fusion. Both ingredient scores are decimal-exact cross-
        // engine, so the RANKS replay exactly and the fusion carries a
        // full oracle: 1/(60+rank) rounded 6dp, summed DECIMAL(18,6).
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 1).select("embedding").head()
          .getSeq[Float](0).toArray
        Similarity.hybridTopK(
          t(s, dir, "documents"), e,
          Seq("join", "vector", "stream"), q,
          poolK = 50, topK = 10)
      },
      Some("""WITH base AS (
          SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
          FROM documents),
        lens AS (SELECT doc_id, len(ts) AS len FROM base),
        stats AS (SELECT count(*) AS n, avg(len) AS avg_len FROM lens),
        tp AS (SELECT doc_id, unnest(ts) AS term FROM base),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tp
          WHERE term IN ('join', 'vector', 'stream') GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
        sc AS (
          SELECT tf.doc_id,
            CAST(round(
              ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5)) *
                (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
                (tf.tf + CAST(1.2 AS DOUBLE) *
                  (0.25 + CAST(0.75 AS DOUBLE) * l.len / s.avg_len)),
              6) AS DECIMAL(18,6)) AS c6
          FROM tf JOIN dfreq d USING (term) JOIN lens l USING (doc_id)
          CROSS JOIN stats s),
        bm AS (
          SELECT doc_id, round(CAST(sum(c6) AS DOUBLE), 4) AS score
          FROM sc GROUP BY doc_id
          ORDER BY score DESC, doc_id LIMIT 50),
        lexr AS (
          SELECT doc_id,
            row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM bm),
        q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        c AS (
          SELECT b.vec_id,
            round(
              list_sum(list_transform(list_zip(b.embedding, q.qe),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qe,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
          FROM embeddings b, q),
        sem AS (
          SELECT vec_id AS doc_id, cos FROM c
          ORDER BY cos DESC, vec_id LIMIT 50),
        semr AS (
          SELECT doc_id,
            row_number() OVER (ORDER BY cos DESC, doc_id) AS r
          FROM sem),
        contribs AS (
          SELECT doc_id,
            CAST(round(CAST(1.0 AS DOUBLE) / (60 + r), 6)
              AS DECIMAL(18,6)) AS c6
          FROM lexr
          UNION ALL
          SELECT doc_id,
            CAST(round(CAST(1.0 AS DOUBLE) / (60 + r), 6)
              AS DECIMAL(18,6)) AS c6
          FROM semr)
        SELECT doc_id, CAST(sum(c6) AS DOUBLE) AS score,
          count(*) AS n_lists
        FROM contribs GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10""")),

    Q("q175_nb_classify",
      (s, dir) => {
        // model-based language ID: train multinomial Naive Bayes on the
        // even-doc_id half (md5-hashed bag-of-words, V=4096, add-one
        // smoothing), score the odd half, keep the argmax label. Every
        // log term is rounded 6dp and summed as DECIMAL(18,6), so the
        // full train+score round trip replays exactly in DuckDB. (The
        // fixture's lang labels are independent of its synthetic text,
        // so the model converges to the majority prior here — the
        // oracle checks the full computation; ClassifySpec proves
        // learning on a separable corpus.)
        val d = t(s, dir, "documents")
        val model = Classify.nbTrain(
          d.filter(col("doc_id") % 2 === 0), "lang", "text")
        Classify.nbScore(
            d.filter(col("doc_id") % 2 === 1), model, "doc_id", "text")
          .join(d.select(col("doc_id"), col("lang").as("actual")), "doc_id")
          .select("doc_id", "actual", "pred", "score")
          .orderBy("doc_id")
      },
      Some("""WITH tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
          te AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        tr_tok AS (
          SELECT lang,
            CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 4096 AS bucket
          FROM (SELECT lang,
                  unnest(list_filter(string_split(lower(text), ' '),
                         x -> x <> '')) AS term
                FROM tr)),
        counts AS (
          SELECT lang, bucket, count(*) AS cnt
          FROM tr_tok GROUP BY lang, bucket),
        nd AS (SELECT lang, count(*) AS nd FROM tr GROUP BY lang),
        n AS (SELECT count(*) AS n FROM tr),
        stats AS (
          SELECT l.lang, coalesce(t.tot, 0) AS tot
          FROM nd l LEFT JOIN
            (SELECT lang, sum(cnt) AS tot FROM counts GROUP BY lang) t
            USING (lang)),
        logp AS (
          SELECT s.lang, b.bucket,
            CAST(round(ln((coalesce(c.cnt, 0) + 1.0) / (s.tot + 4096.0)), 6)
              AS DECIMAL(18,6)) AS lp
          FROM stats s
          CROSS JOIN (SELECT DISTINCT bucket FROM counts) b
          LEFT JOIN counts c ON c.lang = s.lang AND c.bucket = b.bucket),
        defaults AS (
          SELECT lang,
            CAST(round(ln(1.0 / (tot + 4096.0)), 6) AS DECIMAL(18,6)) AS lp
          FROM stats),
        priors AS (
          SELECT d.lang,
            CAST(round(ln(CAST(d.nd AS DOUBLE) / n.n), 6)
              AS DECIMAL(18,6)) AS lp
          FROM nd d CROSS JOIN n),
        te_tok AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 4096 AS bucket
          FROM (SELECT doc_id,
                  unnest(list_filter(string_split(lower(text), ' '),
                         x -> x <> '')) AS term
                FROM te)),
        contrib AS (
          SELECT t.doc_id, l.lang, coalesce(p.lp, d.lp) AS lp
          FROM te_tok t
          CROSS JOIN (SELECT lang FROM nd) l
          LEFT JOIN logp p ON p.lang = l.lang AND p.bucket = t.bucket
          JOIN defaults d ON d.lang = l.lang
          UNION ALL
          SELECT te.doc_id, l.lang, CAST(0 AS DECIMAL(18,6)) AS lp
          FROM te CROSS JOIN (SELECT lang FROM nd) l),
        scores AS (
          SELECT c.doc_id, c.lang, sum(c.lp) + any_value(p.lp) AS sd
          FROM contrib c JOIN priors p ON p.lang = c.lang
          GROUP BY c.doc_id, c.lang),
        ranked AS (
          SELECT doc_id, lang, sd,
            row_number() OVER (PARTITION BY doc_id
                               ORDER BY sd DESC, lang) AS r
          FROM scores)
        SELECT r.doc_id, te.lang AS actual, r.lang AS pred,
          CAST(r.sd AS DOUBLE) AS score
        FROM ranked r JOIN te USING (doc_id)
        WHERE r.r = 1
        ORDER BY r.doc_id""")),

    Q("q176_knn_propagate",
      (s, dir) => {
        // semi-supervised labeling: even vec_ids form the labeled seed
        // (lang joined from documents), odd vec_ids take the cosine-
        // weighted majority label of their 5 nearest seeds. nprobe = C
        // = 16 probes every cell ⇒ the neighbor set is exact, so the
        // exhaustive DuckDB window oracle replays ranks, decimal vote
        // sums, and the (weight desc, label asc) tie-break. cos at 4dp
        // (the q93 convention for cross-engine float identity).
        val e = t(s, dir, "embeddings")
        val d = t(s, dir, "documents")
        val seed = e.filter(col("vec_id") % 2 === 0)
          .join(d.select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
        val queries = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("qid"), col("embedding"))
        val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, iters = 2)
        Classify.knnPropagate(queries, seed, "vec_id", "qid", "embedding",
            "lang", k = 5, cents = cents, nprobe = 16, scale = 4)
          .orderBy("qid")
      },
      Some("""WITH seed AS (
          SELECT e.vec_id, e.embedding, d.lang
          FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
          WHERE e.vec_id % 2 = 0),
        q AS (
          SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id % 2 = 1),
        c AS (
          SELECT q.qid, s.vec_id, s.lang,
            round(
              list_sum(list_transform(list_zip(s.embedding, q.qv),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(s.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM seed s, q),
        r AS (
          SELECT qid, vec_id, lang, cos,
            row_number() OVER (PARTITION BY qid
                               ORDER BY cos DESC, vec_id) AS rank
          FROM c),
        v AS (
          SELECT qid, lang,
            sum(CAST(cos AS DECIMAL(18,6))) AS wd,
            count(*) AS n_votes
          FROM r WHERE rank <= 5 GROUP BY qid, lang),
        p AS (
          SELECT qid, lang, wd, n_votes,
            row_number() OVER (PARTITION BY qid
                               ORDER BY wd DESC, lang) AS rr
          FROM v)
        SELECT qid, lang AS pred, CAST(wd AS DOUBLE) AS weight, n_votes
        FROM p WHERE rr = 1
        ORDER BY qid""")),

    Q("q177_jaccard_prefix_join",
      (s, dir) =>
        // The SCALE path for q83's exhaustive all-pairs trigram Jaccard:
        // AllPairs/PPJoin prefix filtering prunes LOSSLESSLY, so the
        // output (and the oracle SQL) is identical — no boundedExhaustive
        // guard, no recall parameter. Exactness over hashes: Jaccard over
        // xxhash64 shingles equals Jaccard over the trigrams themselves
        // (both engines hash injectively w.h.p.), the q83 convention.
        Barrier(Dedup.jaccardPrefixJoin(
            t(s, dir, "documents"), "doc_id", "text", 0.3, w = 3), "q177.pairs")
          // barrier before the presentation sort: the range exchange's
          // sampling pass re-executes the pair-scoring stage (q275 rule)
          .orderBy("id_a", "id_b"),
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jac
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.3
        ORDER BY id_a, id_b""")),

    Q("q178_record_linkage",
      (s, dir) =>
        // fuzzy entity matching over structured rows: block on
        // (brand, name head-noun) — an equi-join, never cartesian, and
        // 8× fewer candidates than brand alone at FULL recall on this
        // corpus (every qualifying pair shares its noun; checked in
        // the DuckDB probe and enforced by the oracle being exhaustive
        // WITHIN the same blocking). Score 0.6·name + 0.4·type
        // normalized edit similarity, threshold after 6dp rounding.
        // Exact levenshtein + integer lengths + IEEE double ops replay
        // bit-identically in any engine (the q86 parity precedent).
        EntityResolution.linkPairs(
            t(s, dir, "part")
              .withColumn("name_noun", element_at(split(col("p_name"), " "), -1)),
            "p_partkey",
            blockCols = Seq("p_brand", "name_noun"),
            fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
            threshold = 0.85)
          .orderBy("id_a", "id_b"),
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
          round(
            0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                   / greatest(len(a.p_name), len(b.p_name), 1)) +
            0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                   / greatest(len(a.p_type), len(b.p_type), 1)), 6) AS score
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand
          AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
          AND a.p_partkey < b.p_partkey
        WHERE round(
            0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                   / greatest(len(a.p_name), len(b.p_name), 1)) +
            0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                   / greatest(len(a.p_type), len(b.p_type), 1)), 6) >= 0.85
        ORDER BY id_a, id_b""")),

    Q("q179_entity_resolution",
      (s, dir) =>
        // end-to-end: link pairs → transitive closure (star
        // contraction) → every part annotated with its canonical
        // entity_id (smallest cluster member; singletons keep their
        // own key). Oracle recomputes the closure with a recursive
        // CTE, the q108 convention.
        EntityResolution.resolve(
            t(s, dir, "part")
              .withColumn("name_noun", element_at(split(col("p_name"), " "), -1)),
            "p_partkey",
            blockCols = Seq("p_brand", "name_noun"),
            fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
            threshold = 0.85)
          .select("p_partkey", "entity_id")
          .orderBy("p_partkey"),
      Some("""WITH RECURSIVE pr AS (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand
            AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
            AND a.p_partkey < b.p_partkey
          WHERE round(
              0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                     / greatest(len(a.p_name), len(b.p_name), 1)) +
              0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                     / greatest(len(a.p_type), len(b.p_type), 1)), 6) >= 0.85),
        e AS (SELECT id_a AS a, id_b AS b FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id)
        SELECT p.p_partkey,
          CAST(coalesce(l.cluster, p.p_partkey) AS BIGINT) AS entity_id
        FROM part p LEFT JOIN lab l ON l.id = p.p_partkey
        ORDER BY p_partkey""")),

    Q("q186_golden_record",
      (s, dir) => {
        // the last step of ER: one survivor row per entity, field-wise
        // survivorship with deterministic ties (mode→smallest value,
        // longest→smallest value, newest→greatest order key). The
        // oracle replays the FULL chain: linkage, recursive-CTE
        // closure, then each policy as a windowed GROUP BY.
        // barrier: goldenRecord reads `resolved` in TWO aggregation
        // passes and the presentation sort's sampling re-executes the
        // last stage — one materialization instead of three partial
        // re-runs (A/B at sf0.1 was window-noise-level locally, 4.05
        // vs 4.30 s; kept for the structural win — the resolve join
        // re-ran per consumer)
        val resolved = Barrier(EntityResolution.resolve(
          t(s, dir, "part")
            .withColumn("name_noun", element_at(split(col("p_name"), " "), -1)),
          "p_partkey",
          blockCols = Seq("p_brand", "name_noun"),
          fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
          threshold = 0.85), "q186.resolved")
        EntityResolution.goldenRecord(
            resolved, "entity_id",
            modeFields = Seq("p_type", "p_size"),
            longestFields = Seq("p_name"),
            newestFields = Seq(("p_retailprice", "p_partkey")))
          .orderBy("entity_id")
      },
      Some("""WITH RECURSIVE pr AS (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand
            AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
            AND a.p_partkey < b.p_partkey
          WHERE round(
              0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                     / greatest(len(a.p_name), len(b.p_name), 1)) +
              0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                     / greatest(len(a.p_type), len(b.p_type), 1)), 6) >= 0.85),
        e AS (SELECT id_a AS a, id_b AS b FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
        res AS (
          SELECT p.*, CAST(coalesce(l.cluster, p.p_partkey) AS BIGINT) AS entity_id
          FROM part p LEFT JOIN lab l ON l.id = p.p_partkey),
        base AS (SELECT entity_id, count(*) AS n_members FROM res GROUP BY entity_id),
        modep AS (
          SELECT entity_id, p_type FROM (
            SELECT entity_id, p_type,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY cnt DESC, p_type ASC) AS rn
            FROM (SELECT entity_id, p_type, count(*) AS cnt FROM res
                  WHERE p_type IS NOT NULL GROUP BY entity_id, p_type))
          WHERE rn = 1),
        modec AS (
          -- numeric mode field: Spark's stacked frame ties on the
          -- STRING image of the value, so the replay must too
          SELECT entity_id, p_size FROM (
            SELECT entity_id, p_size,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY cnt DESC, CAST(p_size AS VARCHAR) ASC) AS rn
            FROM (SELECT entity_id, p_size, count(*) AS cnt FROM res
                  WHERE p_size IS NOT NULL GROUP BY entity_id, p_size))
          WHERE rn = 1),
        longp AS (
          SELECT entity_id, p_name FROM (
            SELECT entity_id, p_name,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY len(p_name) DESC, p_name ASC) AS rn
            FROM res WHERE p_name IS NOT NULL)
          WHERE rn = 1),
        newp AS (
          SELECT entity_id, p_retailprice FROM (
            SELECT entity_id, p_retailprice,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY p_partkey DESC) AS rn
            FROM res)
          WHERE rn = 1)
        SELECT b.entity_id, b.n_members, m.p_type, c.p_size,
               lo.p_name, n.p_retailprice
        FROM base b
        LEFT JOIN modep m USING (entity_id)
        LEFT JOIN modec c USING (entity_id)
        LEFT JOIN longp lo USING (entity_id)
        LEFT JOIN newp n USING (entity_id)
        ORDER BY entity_id""")),

    Q("q192_golden_incremental",
      (s, dir) => {
        // incremental SURVIVORSHIP (the IVM pattern on q186): the store
        // persists mergeable state — (entity, field, value) counts,
        // per-entity newest (order, value) maxes, membership counts —
        // and a daily batch advances it without re-reading history;
        // only batch-touched entities re-pick winners. Entity
        // assignment comes from the full-corpus closure (linkage stays
        // batch — q182 covers ITS incremental form). The oracle is
        // q186's full replay side-filtered to entities the batch
        // touched: state merge must be exact or the hash breaks.
        // Barrier: the planning percentile collect plus four state/
        // touched consumers below re-ran the resolve chain per
        // action without it (the q231 pattern; local A/B 5.51 vs
        // 6.00 s, window-noise-level — kept for the structural win).
        val resolved = Barrier(EntityResolution.resolve(
          t(s, dir, "part")
            .withColumn("name_noun", element_at(split(col("p_name"), " "), -1)),
          "p_partkey",
          blockCols = Seq("p_brand", "name_noun"),
          fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
          threshold = 0.85), "q192.resolved")
        val cut = resolved.agg(expr(
          "percentile_disc(0.8) WITHIN GROUP (ORDER BY p_partkey)"))
          .head().getDouble(0).toLong
        val mode = Seq("p_type", "p_size"); val long = Seq("p_name")
        val newest = Seq(("p_retailprice", "p_partkey"))
        val store = EntityResolution.goldenRecordState(
          resolved.filter(col("p_partkey") <= cut), "entity_id", mode, long, newest)
        val batch = resolved.filter(col("p_partkey") > cut)
        val merged = EntityResolution.goldenRecordMerge(
          store,
          EntityResolution.goldenRecordState(batch, "entity_id", mode, long, newest))
        val touched = batch.select(col("entity_id").as("__ent")).distinct()
        EntityResolution.goldenRecordFromState(
            merged.join(touched, Seq("__ent"), "left_semi"),
            resolved, "entity_id", mode, long, newest)
          .orderBy("entity_id")
      },
      Some("""WITH RECURSIVE pr AS (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
          FROM part a JOIN part b
            ON a.p_brand = b.p_brand
            AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
            AND a.p_partkey < b.p_partkey
          WHERE round(
              0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                     / greatest(len(a.p_name), len(b.p_name), 1)) +
              0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                     / greatest(len(a.p_type), len(b.p_type), 1)), 6) >= 0.85),
        e AS (SELECT id_a AS a, id_b AS b FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
        res AS (
          SELECT p.*, CAST(coalesce(l.cluster, p.p_partkey) AS BIGINT) AS entity_id
          FROM part p LEFT JOIN lab l ON l.id = p.p_partkey),
        cut AS (
          SELECT percentile_disc(0.8) WITHIN GROUP (ORDER BY p_partkey) AS c
          FROM res),
        touched AS (
          SELECT DISTINCT entity_id FROM res WHERE p_partkey > (SELECT c FROM cut)),
        base AS (SELECT entity_id, count(*) AS n_members FROM res GROUP BY entity_id),
        modep AS (
          SELECT entity_id, p_type FROM (
            SELECT entity_id, p_type,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY cnt DESC, p_type ASC) AS rn
            FROM (SELECT entity_id, p_type, count(*) AS cnt FROM res
                  WHERE p_type IS NOT NULL GROUP BY entity_id, p_type))
          WHERE rn = 1),
        modec AS (
          SELECT entity_id, p_size FROM (
            SELECT entity_id, p_size,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY cnt DESC, CAST(p_size AS VARCHAR) ASC) AS rn
            FROM (SELECT entity_id, p_size, count(*) AS cnt FROM res
                  WHERE p_size IS NOT NULL GROUP BY entity_id, p_size))
          WHERE rn = 1),
        longp AS (
          SELECT entity_id, p_name FROM (
            SELECT entity_id, p_name,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY len(p_name) DESC, p_name ASC) AS rn
            FROM res WHERE p_name IS NOT NULL)
          WHERE rn = 1),
        newp AS (
          SELECT entity_id, p_retailprice FROM (
            SELECT entity_id, p_retailprice,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY p_partkey DESC) AS rn
            FROM res)
          WHERE rn = 1)
        SELECT b.entity_id, b.n_members, m.p_type, c.p_size,
               lo.p_name, n.p_retailprice
        FROM base b
        JOIN touched t USING (entity_id)
        LEFT JOIN modep m USING (entity_id)
        LEFT JOIN modec c USING (entity_id)
        LEFT JOIN longp lo USING (entity_id)
        LEFT JOIN newp n USING (entity_id)
        ORDER BY entity_id""")),

    Q("q182_linkage_incremental",
      (s, dir) => {
        // incremental linkage, the daily-ingest shape: the last fifth
        // of rows BY KEY ORDER arrives as the batch, the rest is the
        // persisted slim store. Store-internal pairs never re-scored;
        // the oracle recomputes exhaustively and side-filters to pairs
        // touching the batch (the q134/q166 discipline). The cut is the
        // DISCRETE 0.8-percentile of the keys (bit-identical
        // cross-engine, the q114 convention) — a count-derived cut
        // would assume dense keys, which the sf1 fixture's re-keyed
        // copies violate (keys up to 90M for 200k rows).
        val p = t(s, dir, "part")
          .withColumn("name_noun", element_at(split(col("p_name"), " "), -1))
        // Spark's percentile_disc returns DOUBLE; the discrete value is
        // an actual key (< 2^53), so the round-trip to long is exact
        val cut = p.agg(expr(
          "percentile_disc(0.8) WITHIN GROUP (ORDER BY p_partkey)"))
          .head().getDouble(0).toLong
        EntityResolution.linkPairsIncremental(
            p.filter(col("p_partkey") > cut),
            p.filter(col("p_partkey") <= cut),
            "p_partkey",
            blockCols = Seq("p_brand", "name_noun"),
            fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
            threshold = 0.85)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH cut AS (
          SELECT percentile_disc(0.8) WITHIN GROUP (ORDER BY p_partkey) AS c
          FROM part)
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
          round(
            0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                   / greatest(len(a.p_name), len(b.p_name), 1)) +
            0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                   / greatest(len(a.p_type), len(b.p_type), 1)), 6) AS score
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand
          AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
          AND a.p_partkey < b.p_partkey
        WHERE (a.p_partkey > (SELECT c FROM cut)
               OR b.p_partkey > (SELECT c FROM cut))
          AND round(
            0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                   / greatest(len(a.p_name), len(b.p_name), 1)) +
            0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                   / greatest(len(a.p_type), len(b.p_type), 1)), 6) >= 0.85
        ORDER BY id_a, id_b""")),

    Q("q180_k_anonymity",
      (s, dir) =>
        // privacy release gate: quasi-identifier classes smaller than
        // k = 5 over (segment, nation, account-balance bin) — the rows
        // a k-anonymity policy would have to suppress or generalize
        Privacy.kAnonymityViolations(
            t(s, dir, "customer")
              .withColumn("bal_bin",
                floor(col("c_acctbal").cast("double") / 1000).cast("long")),
            Seq("c_mktsegment", "c_nationkey", "bal_bin"), k = 5)
          .orderBy("c_mktsegment", "c_nationkey", "bal_bin"),
      Some("""SELECT c_mktsegment, c_nationkey,
          CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS bal_bin,
          count(*) AS class_size
        FROM customer
        GROUP BY 1, 2, 3
        HAVING count(*) < 5
        ORDER BY 1, 2, 3""")),

    Q("q181_l_diversity",
      (s, dir) =>
        // the k-anonymity complement: classes where the sensitive
        // column (segment) takes fewer than l = 4 distinct values —
        // size alone doesn't prevent attribute disclosure
        Privacy.lDiversityViolations(
            t(s, dir, "customer")
              .withColumn("bal_bin",
                floor(col("c_acctbal").cast("double") / 1000).cast("long")),
            Seq("c_nationkey", "bal_bin"), "c_mktsegment", l = 4)
          .orderBy("c_nationkey", "bal_bin"),
      Some("""SELECT c_nationkey,
          CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS bal_bin,
          count(*) AS class_size,
          count(DISTINCT c_mktsegment) AS n_sensitive
        FROM customer
        GROUP BY 1, 2
        HAVING count(DISTINCT c_mktsegment) < 4
        ORDER BY 1, 2""")),

    Q("q171_bpe_train",
      (s, dir) =>
        // BPE vocabulary training over the corpus: one distributed
        // word-type count (the only pass over data), then the classic
        // merge loop on the compact type table driver-side (bounded by
        // maxTypes, like centroids). rows-only BY NECESSITY: an
        // iterative argmax has no SQL-expressible oracle — BpeSpec pins
        // the Sennrich et al. worked example, deterministic tie-breaks,
        // bit-identical retraining, and the priority encoder instead.
        Bpe.trainDf(t(s, dir, "documents"), "text", numMerges = 30)
          .orderBy("rank"),
      None),

    Q("q169_cluster_quality",
      (s, dir) => {
        // quantizer health: per-cell pseudo-silhouette (distance to own
        // vs nearest-other centroid). Same corpus-sized seed quantizer
        // as q164; per-value 6dp rounding into DECIMAL(18,6) exact
        // sums, mean = double-cast sum / n rounded 4dp (q153
        // discipline) — fully replayable cross-engine.
        val e = t(s, dir, "embeddings")
        val c = math.max(8L, e.count() / 128).toInt
        val cents = Similarity.centroids(e, "vec_id", "embedding", c)
        Similarity.clusterQuality(e, "vec_id", "embedding", cents)
          .orderBy("cell")
      },
      Some("""WITH cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
            embedding AS ce
          FROM (SELECT * FROM embeddings ORDER BY vec_id
                LIMIT (SELECT greatest(8, count(*) // 128) FROM embeddings))),
        d AS (
          SELECT b.vec_id, c.cell,
            list_sum(list_transform(list_zip(b.embedding, c.ce),
              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
          FROM embeddings b, cents c),
        r AS (
          SELECT vec_id, cell, d2,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d),
        x AS (
          SELECT o.vec_id, o.cell,
            CAST(round(sqrt(o.d2), 6) AS DECIMAL(18,6)) AS a,
            CAST(round(sqrt(s.d2), 6) AS DECIMAL(18,6)) AS b,
            CAST(round(CASE WHEN greatest(sqrt(o.d2), sqrt(s.d2)) > 0
              THEN (sqrt(s.d2) - sqrt(o.d2)) / greatest(sqrt(o.d2), sqrt(s.d2))
              ELSE 0 END, 6) AS DECIMAL(18,6)) AS sil
          FROM r o JOIN r s ON o.vec_id = s.vec_id AND o.rn = 1 AND s.rn = 2)
        SELECT cell, count(*) AS n,
          round(CAST(sum(a) AS DOUBLE) / count(*), 4) AS mean_a,
          round(CAST(sum(b) AS DOUBLE) / count(*), 4) AS mean_b,
          round(CAST(sum(sil) AS DOUBLE) / count(*), 4) AS mean_sil
        FROM x GROUP BY cell ORDER BY cell""")),

    Q("q168_semantic_multiprobe",
      (s, dir) => {
        // the boundary-recall knob: probes=2 blocks each vector into its
        // TWO nearest cells; a candidate pair needs one OWNER side. At
        // sf0.01 this recovers 11 of the exhaustive 14 pairs at cos
        // 0.45 (single-probe q164 finds 7) for ~2x the candidate
        // volume. Pairs colliding in several cells report the MINIMUM
        // cell (deterministic). Same corpus-sized C as q164.
        val e = t(s, dir, "embeddings")
        val c = math.max(8L, e.count() / 128).toInt
        val cents = Similarity.centroids(e, "vec_id", "embedding", c)
        Dedup.semanticNearDupPairs(
          e, "vec_id", "embedding", cents, threshold = 0.45,
          roundScale = 4, probes = 2)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
            embedding AS ce
          FROM (SELECT * FROM embeddings ORDER BY vec_id
                LIMIT (SELECT greatest(8, count(*) // 128) FROM embeddings))),
        d AS (
          SELECT b.vec_id, c.cell,
            list_sum(list_transform(list_zip(b.embedding, c.ce),
              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
          FROM embeddings b, cents c),
        a AS (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d),
        asg AS (SELECT vec_id, cell, rn FROM a WHERE rn <= 2),
        cand AS (
          SELECT ax.vec_id AS id_a, ay.vec_id AS id_b,
            CAST(min(ax.cell) AS INTEGER) AS cell
          FROM asg ax JOIN asg ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          WHERE ax.rn = 1 OR ay.rn = 1
          GROUP BY ax.vec_id, ay.vec_id),
        p AS (
          SELECT c.cell, c.id_a, c.id_b,
            round(
              list_sum(list_transform(list_zip(x.embedding, y.embedding),
                z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(x.embedding,
                   z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))
               * sqrt(list_sum(list_transform(y.embedding,
                   z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))), 4) AS cos
          FROM cand c JOIN embeddings x ON x.vec_id = c.id_a
          JOIN embeddings y ON y.vec_id = c.id_b)
        SELECT cell, id_a, id_b, cos FROM p WHERE cos >= 0.45
        ORDER BY id_a, id_b""")),

    Q("q166_semantic_incremental",
      (s, dir) => {
        // incremental SemDeDup, the daily-batch shape: the last fifth of
        // the id space arrives as the new batch, the first 4/5 is the
        // persisted history (IVF-index layout, frozen quantizer =
        // smallest-id seeds). History-internal pairs are never
        // re-emitted; the oracle recomputes ALL within-cell pairs and
        // side-filters to those touching the batch (q134 discipline).
        // C and the split cut are pure functions of count(*) so both
        // replay in the oracle at any corpus size (q164 sizing note).
        val e = t(s, dir, "embeddings")
        val n = e.count()
        val c = math.max(8L, n / 128).toInt
        // the DISCRETE 0.8-percentile of the ids, not count*4/5: a
        // count-derived cut assumes dense ids, which the sf1+ rehearsal
        // fixtures' re-keyed copies violate (measured round 8 at sf10:
        // the count cut left 2 000 of 200 000 rows as "history", so the
        // 'incremental' query silently became a full-corpus pass — the
        // q182 lesson, applied here)
        val cut = e.agg(expr(
          "percentile_disc(0.8) WITHIN GROUP (ORDER BY vec_id)"))
          .head().getDouble(0).toLong
        val cents = Similarity.centroids(e, "vec_id", "embedding", c)
        val history = Similarity.ivfIndex(
          e.filter(col("vec_id") <= cut), "vec_id", "embedding", cents)
        Dedup.semanticNearDupsIncremental(
          e.filter(col("vec_id") > cut), history,
          "vec_id", "embedding", cents, threshold = 0.40, roundScale = 4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH cents AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
            embedding AS ce
          FROM (SELECT * FROM embeddings ORDER BY vec_id
                LIMIT (SELECT greatest(8, count(*) // 128) FROM embeddings))),
        cut AS (SELECT percentile_disc(0.8) WITHIN GROUP (ORDER BY vec_id) AS cut
                FROM embeddings),
        d AS (
          SELECT b.vec_id, c.cell,
            list_sum(list_transform(list_zip(b.embedding, c.ce),
              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
          FROM embeddings b, cents c),
        a AS (
          SELECT vec_id, cell,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          FROM d),
        asg AS (SELECT vec_id, cell FROM a WHERE rn = 1),
        p AS (
          SELECT ax.cell, ax.vec_id AS id_a, ay.vec_id AS id_b,
            round(
              list_sum(list_transform(list_zip(x.embedding, y.embedding),
                z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(x.embedding,
                   z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))
               * sqrt(list_sum(list_transform(y.embedding,
                   z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))), 4) AS cos
          FROM asg ax JOIN asg ay ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
          JOIN embeddings x ON x.vec_id = ax.vec_id
          JOIN embeddings y ON y.vec_id = ay.vec_id
          CROSS JOIN cut
          WHERE ax.vec_id > cut.cut OR ay.vec_id > cut.cut)
        SELECT cell, id_a, id_b, cos FROM p WHERE cos >= 0.40
        ORDER BY id_a, id_b""")),

    Q("q165_boilerplate",
      (s, dir) => {
        // corpus-level boilerplate removal: a line present in >= 100
        // DISTINCT documents (order priority/status literals and the
        // injected footer) is removed from EVERY document; the
        // document-specific customer/date lines survive. Complements
        // q110's keep-first line dedup with the remove-everywhere
        // document-frequency rule.
        val docs = t(s, dir, "orders").select(
          col("o_orderkey").as("doc_id"),
          concat_ws("\n", col("o_orderpriority"), col("o_orderstatus"),
            concat(lit("C"), col("o_custkey").cast("string")),
            concat(lit("D"), col("o_orderdate").cast("string")),
            lit("END-OF-PAGE")).as("text"))
        TextAnalysis.removeBoilerplate(docs, "doc_id", "text", minDocs = 100)
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT o_orderkey AS doc_id,
            concat_ws(chr(10), o_orderpriority, o_orderstatus,
              'C' || CAST(o_custkey AS VARCHAR),
              'D' || CAST(o_orderdate AS VARCHAR), 'END-OF-PAGE') AS text
          FROM orders),
        sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs),
        ex AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS p, ls FROM sp),
        ln AS (SELECT doc_id, p, ls[p] AS line FROM ex WHERE trim(ls[p]) <> ''),
        boiler AS (
          SELECT trim(line) AS bl FROM ln
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 100),
        keep AS (
          SELECT doc_id, p, line FROM ln
          WHERE trim(line) NOT IN (SELECT bl FROM boiler))
        SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS clean_text,
          CAST(count(*) AS BIGINT) AS kept_lines
        FROM keep GROUP BY doc_id ORDER BY doc_id""")),

    Q("q151_heavy_tokens",
      (s, dir) =>
        // EXACT heavy hitters over the token stream WITHOUT a full
        // vocabulary GROUP BY: a Misra-Gries candidate pass (map-side
        // only, <=k counters, one driver row) followed by an exact
        // count of the <=k candidates. The result is the true heavy
        // set — deterministic for any merge order — so the plain
        // GROUP BY ... HAVING oracle applies even though the sketch
        // itself is scheduling-dependent.
        ScaleOps.heavyHitters(
          t(s, dir, "documents")
            .select(explode(TextAnalysis.tokens(lower(col("text")))).as("item")),
          "item", phi = 0.005)
          .orderBy("item"),
      Some("""WITH tok AS (
          SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS item
          FROM documents WHERE length(trim(text)) > 0),
        n AS (SELECT count(*) AS n FROM tok)
        SELECT item, count(*) AS cnt
        FROM tok, n GROUP BY item, n.n HAVING count(*) > 0.005 * n.n
        ORDER BY item""")),

    Q("q183_gopher_quality",
      (s, dir) =>
        // Gopher repetition/quality gate (Rae et al. 2021, Table A1):
        // per-doc word stats, most-frequent-{2,3,4}-gram char fractions,
        // duplicate-5-gram char mass, and the conjunctive pass flag.
        // Spark side is the one-pass native counter kernel (map-only, no
        // gram explosion); the oracle replays the explode+group
        // formulation — micro-rounded fractions make every derived
        // double bit-identical cross-engine.
        TextAnalysis.gopherSignals(
          t(s, dir, "documents").filter(length(trim(col("text"))) > 0))
          .orderBy("doc_id"),
      Some("""WITH base AS (
          SELECT doc_id,
            string_split_regex(trim(lower(text)), '\s+') AS ws,
            len(regexp_replace(trim(lower(text)), '\s', '', 'g')) AS wchars,
            trim(lower(text)) AS t
          FROM documents WHERE length(trim(text)) > 0),
        words AS (
          SELECT doc_id, len(ws) AS wc, wchars,
            len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha_words,
            len(t) - len(replace(t, '#', '')) AS hash_chars,
            (len(t) - len(replace(t, '...', ''))) // 3 AS ellipses
          FROM base),
        g AS (
          SELECT b.doc_id, n.n, array_to_string(b.ws[i.i : i.i + n.n - 1], ' ') AS gram
          FROM base b, (VALUES (2),(3),(4),(5)) n(n),
            unnest(generate_series(1, len(b.ws) - n.n + 1)) i(i)
          WHERE len(b.ws) >= n.n),
        cnt AS (
          SELECT doc_id, n, gram, count(*) AS c, len(gram) - (n - 1) AS gchars
          FROM g GROUP BY ALL),
        tops AS (
          SELECT doc_id,
            max(CASE WHEN n = 2 THEN tc END) AS t2,
            max(CASE WHEN n = 3 THEN tc END) AS t3,
            max(CASE WHEN n = 4 THEN tc END) AS t4
          FROM (
            SELECT doc_id, n, c * gchars AS tc
            FROM cnt
            QUALIFY row_number() OVER (PARTITION BY doc_id, n ORDER BY c DESC, gram) = 1)
          GROUP BY doc_id),
        dups AS (
          SELECT doc_id, sum((c - 1) * gchars) AS d5
          FROM cnt WHERE n = 5 AND c > 1 GROUP BY doc_id),
        fr AS (
          SELECT w.doc_id,
            CAST(w.wc AS BIGINT) AS word_count,
            round(w.wchars * 1000000.0 / w.wc, 0) / 1000000.0 AS mean_word_len,
            round(w.alpha_words * 1000000.0 / w.wc, 0) / 1000000.0 AS alpha_word_frac,
            round((w.hash_chars + w.ellipses) * 1000000.0 / w.wc, 0) / 1000000.0
              AS symbol_word_ratio,
            round(coalesce(t.t2, 0) * 1000000.0 / w.wchars, 0) / 1000000.0 AS top2gram_frac,
            round(coalesce(t.t3, 0) * 1000000.0 / w.wchars, 0) / 1000000.0 AS top3gram_frac,
            round(coalesce(t.t4, 0) * 1000000.0 / w.wchars, 0) / 1000000.0 AS top4gram_frac,
            least(round(coalesce(d.d5, 0) * 1000000.0 / w.wchars, 0) / 1000000.0, 1.0)
              AS dup5gram_frac
          FROM words w LEFT JOIN tops t USING (doc_id) LEFT JOIN dups d USING (doc_id))
        SELECT *,
          (word_count BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10
            AND symbol_word_ratio < 0.1 AND alpha_word_frac > 0.8
            AND top2gram_frac < 0.20 AND top3gram_frac < 0.18
            AND top4gram_frac < 0.16 AND dup5gram_frac < 0.15) AS passes_gopher
        FROM fr ORDER BY doc_id""")),

    Q("q184_url_canonical",
      (s, dir) => {
        // URL canonicalization + registrable-domain extraction over a
        // deterministic synthetic URL per document (the corpus has no
        // URL column; both engines build the identical string, then
        // replay the same anchored no-lookaround regexes). Exercises
        // case folding, default-port and fragment dropping, trailing
        // slashes, tracking-param removal, and the public-suffix
        // longest-match chain.
        val did = col("doc_id").cast("string")
        val url = when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/Path/"),
              did, lit("/?q="), col("lang"), lit("&utm_source=feed#frag")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit("https://Blog."), col("source"), lit(".co.uk:443/post/"),
              did, lit("?id="), did, lit("&gclid=zz")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            concat(lit("https://"), col("source"), lit(".github.io/pages//")))
          .otherwise(
            concat(lit("http://news."), col("source"), lit(".org:8080/a/"),
              did, lit("?utm_medium=x")))
        val withU = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"))
          .withColumn("url", url)
        val p = WebOps.urlParts(col("url"))
        withU.select(
          col("doc_id"),
          WebOps.canonicalizeUrl(col("url")).as("canonical_url"),
          lower(p("host")).as("host"),
          WebOps.registrableDomain(lower(p("host"))).as("domain"),
          p("port").as("port"),
          p("fragment").as("fragment"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Path/' ||
                CAST(doc_id AS VARCHAR) || '/?q=' || lang || '&utm_source=feed#frag'
              WHEN 1 THEN 'https://Blog.' || source || '.co.uk:443/post/' ||
                CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR) || '&gclid=zz'
              WHEN 2 THEN 'https://' || source || '.github.io/pages//'
              ELSE 'http://news.' || source || '.org:8080/a/' ||
                CAST(doc_id AS VARCHAR) || '?utm_medium=x'
            END AS url
          FROM documents),
        p AS (
          SELECT doc_id, url,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)', 1) AS port,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
            regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS query0,
            regexp_extract(url, '#(.*)$', 1) AS fragment
          FROM u),
        c AS (
          SELECT doc_id, scheme, host, port, fragment,
            CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
                 ELSE regexp_replace(path0, '/+$', '') END AS path,
            array_to_string(list_filter(string_split(query0, '&'),
              s -> s <> '' AND NOT regexp_matches(s, '^(utm_[^=]*|fbclid|gclid)(=|$)')),
              '&') AS q
          FROM p)
        SELECT doc_id,
          CASE WHEN scheme = '' THEN '' ELSE scheme || '://' || host ||
            CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                  AND NOT (scheme = 'https' AND port = '443')
                 THEN ':' || port ELSE '' END ||
            path ||
            CASE WHEN q <> '' THEN '?' || q ELSE '' END END AS canonical_url,
          host,
          CASE
            WHEN host IN ('co.uk', 'org.uk', 'com.au', 'co.jp', 'com.br', 'github.io',
              'com', 'org', 'net', 'edu', 'gov', 'io', 'uk', 'de', 'fr', 'jp') THEN ''
            WHEN host LIKE '%.github.io' THEN regexp_extract(host, '([^.]+\.github\.io)$', 1)
            WHEN host LIKE '%.com.au' THEN regexp_extract(host, '([^.]+\.com\.au)$', 1)
            WHEN host LIKE '%.com.br' THEN regexp_extract(host, '([^.]+\.com\.br)$', 1)
            WHEN host LIKE '%.org.uk' THEN regexp_extract(host, '([^.]+\.org\.uk)$', 1)
            WHEN host LIKE '%.co.jp' THEN regexp_extract(host, '([^.]+\.co\.jp)$', 1)
            WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
            WHEN host LIKE '%.com' THEN regexp_extract(host, '([^.]+\.com)$', 1)
            WHEN host LIKE '%.edu' THEN regexp_extract(host, '([^.]+\.edu)$', 1)
            WHEN host LIKE '%.gov' THEN regexp_extract(host, '([^.]+\.gov)$', 1)
            WHEN host LIKE '%.net' THEN regexp_extract(host, '([^.]+\.net)$', 1)
            WHEN host LIKE '%.org' THEN regexp_extract(host, '([^.]+\.org)$', 1)
            WHEN host LIKE '%.de' THEN regexp_extract(host, '([^.]+\.de)$', 1)
            WHEN host LIKE '%.fr' THEN regexp_extract(host, '([^.]+\.fr)$', 1)
            WHEN host LIKE '%.io' THEN regexp_extract(host, '([^.]+\.io)$', 1)
            WHEN host LIKE '%.jp' THEN regexp_extract(host, '([^.]+\.jp)$', 1)
            WHEN host LIKE '%.uk' THEN regexp_extract(host, '([^.]+\.uk)$', 1)
            ELSE '' END AS domain,
          port, fragment
        FROM c ORDER BY doc_id""")),

    Q("q185_domain_cap",
      (s, dir) => {
        // per-domain contribution cap: at most 3 documents per
        // registrable domain, keeping the LONGEST (n_chars as the
        // quality proxy, ties to the smallest doc_id) — the anti-spam
        // gate that bounds any one site's weight in the corpus
        val host = concat(lit("www."), col("source"),
          pmod(col("doc_id"), lit(5)).cast("string"), lit(".com"))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("source"))
          .withColumn("domain", WebOps.registrableDomain(host))
        WebOps.capPerDomain(docs, "domain", "doc_id", "n_chars", k = 3)
          .select("domain", "doc_id", "n_chars")
          .orderBy("domain", "doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id, n_chars,
            source || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain
          FROM documents)
        SELECT domain, doc_id, n_chars
        FROM (SELECT *, row_number() OVER (
                PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
              FROM d)
        WHERE rk <= 3
        ORDER BY domain, doc_id""")),

    Q("q208_domain_cap_incremental",
      (s, dir) => {
        // q185's cap as a daily ingest: the store is the capped
        // survivor set over the first 80% of doc_ids, the batch is the
        // rest, and the advance re-ranks ONLY batch-touched domains
        // against the ≤k-row store slice — never corpus history. Top-k
        // under the (n_chars desc, doc_id) total order is
        // merge-associative, so the advance is EXACT and the oracle is
        // simply the FULL cap over everything (the incremental ≡ full
        // identity, q134/q182 discipline).
        val host = concat(lit("www."), col("source"),
          pmod(col("doc_id"), lit(5)).cast("string"), lit(".com"))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("source"))
          .withColumn("domain", WebOps.registrableDomain(host))
          .select("domain", "doc_id", "n_chars")
        val cut = docs.agg(expr(
          "percentile_disc(0.8) WITHIN GROUP (ORDER BY doc_id)"))
          .head().getDouble(0).toLong
        val store = WebOps.capPerDomain(
          docs.filter(col("doc_id") <= cut), "domain", "doc_id", "n_chars", k = 3)
        WebOps.capPerDomainIncremental(
            docs.filter(col("doc_id") > cut), store,
            "domain", "doc_id", "n_chars", k = 3)
          .orderBy("domain", "doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id, n_chars,
            source || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain
          FROM documents)
        SELECT domain, doc_id, n_chars
        FROM (SELECT *, row_number() OVER (
                PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
              FROM d)
        WHERE rk <= 3
        ORDER BY domain, doc_id""")),

    Q("q187_html_extract",
      (s, dir) => {
        // HTML→text extraction over a deterministic synthetic page per
        // document (the corpus stores extracted text, not markup; both
        // engines build the identical string, then replay the identical
        // Java∩RE2 regex pipeline): non-content strip → block
        // segmentation → minChars + link-density boilerplate gates.
        // Nav / related-links / footer blocks drop as link-dense, the
        // document body and the long editorial tail survive, entities
        // decode. Composes WebOps.canonicalizeUrl for the provenance
        // key, the crawl-pipeline pairing.
        val did = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>Page "), did, lit(" of "), col("source"),
          lit("</title><style>p{color:red}</style></head><body>"),
          lit("<nav><a href=\"/\">Home navigation link</a> " +
            "<a href=\"/arc\">Archive of everything</a></nav>"),
          lit("<h1>Document number "), did,
          lit(" retrieved from source "), col("source"), lit(" &amp; friends</h1>"),
          lit("<p>"), col("text"), lit("</p>"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("<div class=\"rel\"><a href=\"/r1\">Read the related story here</a> " +
              "<a href=\"/r2\">And another related one</a></div>"))
            .otherwise(
              lit("<p>Closing editorial remark long enough to clear the gate.</p>")),
          lit("<footer><a href=\"/tos\">Terms</a> <a href=\"/p\">Privacy</a></footer>"),
          lit("<script>track()</script></body></html>"))
        val url = concat(lit("HTTPS://"), col("source"),
          lit(".Example.COM:443/doc/"), did, lit("?utm_source=mail"))
        Barrier(t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("html", html)
          // the kept-block texts are computed ONCE per row (a non-cheap
          // alias CollapseProject won't inline into its two readers) —
          // previously `extracted` (extractText) and `n_blocks`
          // (keptBlocks) each re-ran the full strip/segment/gate chain
          .withColumn("__kept", HtmlText.keptBlockTexts(col("html")))
          .select(
            col("doc_id"),
            WebOps.canonicalizeUrl(url).as("canonical_url"),
            HtmlText.extractTitle(col("html")).as("title"),
            array_join(col("__kept"), "\n").as("extracted"),
            size(col("__kept")).cast("long").as("n_blocks"))
          .withColumn("n_chars_out", length(col("extracted")).cast("long")), "q187.extracted")
          // barrier before the presentation sort: the range exchange's
          // sampling pass would otherwise re-execute the regex chain
          // (the q275 composition rule)
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id, source,
            '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) || ' of ' || source
            || '</title><style>p{color:red}</style></head><body>'
            || '<nav><a href="/">Home navigation link</a> <a href="/arc">Archive of everything</a></nav>'
            || '<h1>Document number ' || CAST(doc_id AS VARCHAR)
            || ' retrieved from source ' || source || ' &amp; friends</h1>'
            || '<p>' || text || '</p>'
            || CASE WHEN doc_id % 3 = 0
               THEN '<div class="rel"><a href="/r1">Read the related story here</a> <a href="/r2">And another related one</a></div>'
               ELSE '<p>Closing editorial remark long enough to clear the gate.</p>' END
            || '<footer><a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>'
            || '<script>track()</script></body></html>' AS html
          FROM documents),
        stripped AS (
          SELECT doc_id, source,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              html,
              '(?s)<!--.*?-->', '', 'g'),
              '(?is)<script(>|[ \t\r\n/][^>]*>).*?</script>', '', 'g'),
              '(?is)<style(>|[ \t\r\n/][^>]*>).*?</style>', '', 'g'),
              '(?is)<noscript(>|[ \t\r\n/][^>]*>).*?</noscript>', '', 'g'),
              '(?is)<head(>|[ \t\r\n/][^>]*>).*?</head>', '', 'g') AS s
          FROM h),
        blocked AS (
          SELECT doc_id, source,
            string_split_regex(
              regexp_replace(
                regexp_replace(s, '[\r\n\t]', ' ', 'g'),
                '(?is)</?(p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|section|article|aside|header|footer|nav|main|blockquote|pre|form|fieldset|figure|figcaption|hr|br)(>|[ \t\r\n/][^>]*>)',
                chr(10), 'g'),
              '\n') AS blks
          FROM stripped),
        b AS (
          SELECT doc_id, i, blks[i] AS blk
          FROM blocked, LATERAL (SELECT unnest(range(1, len(blks) + 1)) AS i)),
        -- visible text: tags stripped, entities decoded (&amp; LAST),
        -- whitespace collapsed, trimmed — the Spark expression verbatim
        vis AS (
          SELECT doc_id, i, blk,
            trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(blk, '<[^>]*>', '', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '[ \t\r\n]+', ' ', 'g')) AS txt
          FROM b),
        lc AS (
          SELECT doc_id, i,
            coalesce(list_sum([len(trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(l, '<[^>]*>', '', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '[ \t\r\n]+', ' ', 'g')))
              for l in regexp_extract_all(blk, '(?is)<a(>|[ \t\r\n/][^>]*>)(.*?)</a>', 2)]), 0) AS linkchars
          FROM vis),
        kept AS (
          SELECT v.doc_id, v.i, v.txt
          FROM vis v JOIN lc USING (doc_id, i)
          WHERE len(v.txt) >= 25 AND linkchars <= 0.5 * len(v.txt)),
        agg AS (
          SELECT doc_id, string_agg(txt, chr(10) ORDER BY i) AS extracted,
            count(*) AS n_blocks
          FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
          'https://' || d.source || '.example.com/doc/' || CAST(d.doc_id AS VARCHAR)
            AS canonical_url,
          trim(regexp_replace(
            regexp_extract(h.html, '(?is)<title(>|[ \t\r\n/][^>]*>)(.*?)</title>', 2),
            '[ \t\r\n]+', ' ', 'g')) AS title,
          coalesce(a.extracted, '') AS extracted,
          coalesce(a.n_blocks, 0) AS n_blocks,
          CAST(len(coalesce(a.extracted, '')) AS BIGINT) AS n_chars_out
        FROM documents d JOIN h USING (doc_id) LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id""")),

    Q("q190_luhn_redact",
      (s, dir) => {
        // checksum-verified card redaction: candidates are 13–19-digit
        // runs (separators allowed), but only Luhn-VALID ones redact —
        // the oracle replays the actual mod-10 double-from-the-right
        // arithmetic per candidate, not a regex shape. One card is
        // injected per document (valid for even ids, off-by-one
        // checksum otherwise; every 5th doc also gets a dash-separated
        // valid MasterCard test number → two candidates).
        val injected = concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit(" card 4111111111111111 end"))
            .otherwise(lit(" card 4111111111111112 end")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" alt 5500-0055-5555-5559 tail")).otherwise(lit("")))
        t(s, dir, "documents")
          .select(col("doc_id"), injected.as("t2"))
          .select(
            col("doc_id"),
            size(TextAnalysis.cardCandidates(col("t2"))).cast("long").as("n_candidates"),
            size(filter(TextAnalysis.cardCandidates(col("t2")),
              TextAnalysis.luhnValid(_))).cast("long").as("n_valid"),
            TextAnalysis.redactCards(col("t2")).as("redacted"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 2 = 0 THEN ' card 4111111111111111 end'
                    ELSE ' card 4111111111111112 end' END
            || CASE WHEN doc_id % 5 = 0 THEN ' alt 5500-0055-5555-5559 tail'
                    ELSE '' END AS t2
          FROM documents),
        c AS (
          SELECT doc_id, t2,
            regexp_extract_all(t2,
              '(^|[^0-9])((?:[0-9][ -]?){12,18}[0-9])([^0-9]|$)', 2) AS cands
          FROM h),
        cand AS (
          SELECT doc_id, t2, i, cands[i] AS c0
          FROM c, LATERAL (SELECT unnest(range(1, len(cands) + 1)) AS i)),
        lu AS (
          SELECT doc_id, t2, i, c0,
            (len(d) BETWEEN 13 AND 19 AND
             list_sum([CASE WHEN (len(d) - i2) % 2 = 1
                 THEN CASE WHEN (ascii(d[i2]) - 48) * 2 > 9
                      THEN (ascii(d[i2]) - 48) * 2 - 9
                      ELSE (ascii(d[i2]) - 48) * 2 END
                 ELSE ascii(d[i2]) - 48 END
               for i2 in range(1, len(d) + 1)]) % 10 = 0) AS ok
          FROM (SELECT *, regexp_replace(c0, '[^0-9]', '', 'g') AS d FROM cand)),
        agg AS (
          SELECT doc_id,
            count(*) AS n_candidates,
            count(*) FILTER (ok) AS n_valid,
            list(c0 ORDER BY i) FILTER (ok) AS valids
          FROM lu GROUP BY doc_id)
        SELECT h.doc_id,
          CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
          CAST(coalesce(a.n_valid, 0) AS BIGINT) AS n_valid,
          list_reduce(list_prepend(h.t2, coalesce(a.valids, [])),
            (acc, v) -> replace(acc, v, '<CARD>')) AS redacted
        FROM h LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id""")),

    Q("q191_encoding_noise",
      (s, dir) => {
        // mojibake gate: double-decode artifact pairs injected into a
        // third of the docs (Latin-1 ghost of é + the cp1252 ghost of
        // U+2019), stray-byte + U+FFFD artifacts into every 7th;
        // clean docs must score EXACTLY 0. Both engines assemble the
        // injection from code points (chr / \\u escapes) so no literal
        // mojibake travels through source files.
        val gA = lit("\u00C3\u00A9")       // the Latin-1 ghost pair
        val gB = lit("\u00E2\u20AC\u2122") // the cp1252 ghost triple
        val gC = lit("\u00C2\u00A0")       // stray byte + NBSP
        val injected = concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" caf"), gA, lit(" it"), gB, lit("s fine"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" A"), gC, lit("B \uFFFD end"))).otherwise(lit("")))
        t(s, dir, "documents")
          .select(col("doc_id"), injected.as("t2"))
          .select(
            col("doc_id"),
            length(col("t2")).cast("long").as("n_chars2"),
            TextAnalysis.encodingNoiseScore(col("t2")).as("noise"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 3 = 0
               THEN ' caf' || chr(195) || chr(169) || ' it'
                 || chr(226) || chr(8364) || chr(8482) || 's fine'
               ELSE '' END
            || CASE WHEN doc_id % 7 = 0
               THEN ' A' || chr(194) || chr(160) || 'B ' || chr(65533) || ' end'
               ELSE '' END AS t2
          FROM documents),
        c AS (
          SELECT doc_id, t2,
            len(string_split_regex(t2,
              '(\x{00C3}[\x{0080}-\x{00BF}])|(\x{00E2}\x{20AC})|(\x{00C2}[\x{0020}\x{00A0}])|(\x{FFFD})'
            )) - 1 AS hits
          FROM h)
        SELECT doc_id, CAST(len(t2) AS BIGINT) AS n_chars2,
          CASE WHEN len(t2) = 0 THEN 0.0
               ELSE round(hits * 1000.0 / len(t2), 4) END AS noise
        FROM c ORDER BY doc_id""")),

    Q("q194_sql_surface",
      (s, dir) => {
        // The registered SQL surface as ONE config-style statement: the
        // whole query is a spark.sql STRING (the reference's public
        // query language), touching only GraftExtensions functions —
        // md5_fingerprint, simhash_md5, redact_pii∘redact_cards (on an
        // injected email/IP/card payload, q102+q190 discipline),
        // encoding_noise (on an injected mojibake ghost, q191
        // discipline). The oracle replays every formula from scratch —
        // no shortcut rides on the injection being the only match, so
        // fixture regeneration cannot silently break the hash.
        t(s, dir, "documents").createOrReplaceTempView("sqlsurf_docs")
        s.sql("""WITH t2 AS (
            SELECT doc_id, text,
              concat(text, ' reach u', CAST(doc_id AS STRING),
                '@ex-mail.org at 10.0.', CAST(doc_id % 256 AS STRING), '.7 pay ',
                CASE WHEN doc_id % 2 = 0 THEN '4111111111111111'
                     ELSE '4111111111111112' END, ' now') AS t_pii,
              concat(text,
                CASE WHEN doc_id % 3 = 0
                     THEN concat(' caf', chr(195), chr(169), ' ok')
                     ELSE '' END) AS t_noise
            FROM sqlsurf_docs)
          SELECT doc_id,
            md5_fingerprint(text) AS fp_md5,
            element_at(simhash_md5(text), 1) AS sim_hi,
            element_at(simhash_md5(text), 2) AS sim_lo,
            CAST(length(redact_cards(redact_pii(t_pii))) AS BIGINT) AS clean_len,
            encoding_noise(t_noise) AS noise
          FROM t2 ORDER BY doc_id""")
      },
      Some("""WITH t2 AS (
          SELECT doc_id, text,
            text || ' reach u' || CAST(doc_id AS VARCHAR)
              || '@ex-mail.org at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 pay '
              || CASE WHEN doc_id % 2 = 0 THEN '4111111111111111'
                      ELSE '4111111111111112' END || ' now' AS t_pii,
            text || CASE WHEN doc_id % 3 = 0
                    THEN ' caf' || chr(195) || chr(169) || ' ok'
                    ELSE '' END AS t_noise
          FROM documents),
        tok AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0),
        h AS (
          SELECT doc_id,
            CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
            CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
          FROM tok),
        votes AS (
          SELECT doc_id, j,
            CASE WHEN 2 * sum((hi >> j) & 1) >= count(*)
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS hb,
            CASE WHEN 2 * sum((lo >> j) & 1) >= count(*)
                 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS lb
          FROM h CROSS JOIN generate_series(0, 31) t(j)
          GROUP BY doc_id, j),
        fp AS (
          SELECT doc_id, sum(hb) AS fp_hi, sum(lb) AS fp_lo
          FROM votes GROUP BY doc_id),
        pii AS (
          SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            t_pii,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
            '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g'),
            '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS p
          FROM t2),
        c AS (
          SELECT doc_id, p,
            regexp_extract_all(p,
              '(^|[^0-9])((?:[0-9][ -]?){12,18}[0-9])([^0-9]|$)', 2) AS cands
          FROM pii),
        cand AS (
          SELECT doc_id, i, cands[i] AS c0
          FROM c, LATERAL (SELECT unnest(range(1, len(cands) + 1)) AS i)),
        lu AS (
          SELECT doc_id, i, c0,
            (len(d) BETWEEN 13 AND 19 AND
             list_sum([CASE WHEN (len(d) - i2) % 2 = 1
                 THEN CASE WHEN (ascii(d[i2]) - 48) * 2 > 9
                      THEN (ascii(d[i2]) - 48) * 2 - 9
                      ELSE (ascii(d[i2]) - 48) * 2 END
                 ELSE ascii(d[i2]) - 48 END
               for i2 in range(1, len(d) + 1)]) % 10 = 0) AS ok
          FROM (SELECT *, regexp_replace(c0, '[^0-9]', '', 'g') AS d FROM cand)),
        agg AS (
          SELECT doc_id, list(c0 ORDER BY i) FILTER (ok) AS valids
          FROM lu GROUP BY doc_id),
        clean AS (
          SELECT pi.doc_id,
            CAST(length(list_reduce(list_prepend(pi.p, coalesce(a.valids, [])),
              (acc, v) -> replace(acc, v, '<CARD>'))) AS BIGINT) AS clean_len
          FROM pii pi LEFT JOIN agg a USING (doc_id)),
        noise AS (
          SELECT doc_id,
            CASE WHEN len(t_noise) = 0 THEN 0.0
                 ELSE round((len(string_split_regex(t_noise,
                   '(\x{00C3}[\x{0080}-\x{00BF}])|(\x{00E2}\x{20AC})|(\x{00C2}[\x{0020}\x{00A0}])|(\x{FFFD})'
                 )) - 1) * 1000.0 / len(t_noise), 4) END AS noise
          FROM t2)
        SELECT d.doc_id,
          md5(lower(trim(d.text))) AS fp_md5,
          CAST(coalesce(f.fp_hi, 0) AS BIGINT) AS sim_hi,
          CAST(coalesce(f.fp_lo, 0) AS BIGINT) AS sim_lo,
          cl.clean_len AS clean_len,
          n.noise AS noise
        FROM documents d
        LEFT JOIN fp f USING (doc_id)
        JOIN clean cl USING (doc_id)
        JOIN noise n USING (doc_id)
        ORDER BY doc_id""")),

    Q("q195_curriculum_shuffle",
      (s, dir) =>
        // deterministic curriculum ordering for training emission:
        // equal-frequency n_chars quartiles (discrete boundaries — the
        // q135 machinery with one global group) + md5-derived within-bin
        // shuffle key. The key IS the permutation: a trainer reads
        // ORDER BY (bin, shuffle_key); the oracle reproduces both the
        // exact bin of every row and the exact key, so the entire
        // emission order replays in any engine.
        ScaleOps.curriculumOrder(
          t(s, dir, "documents"), "doc_id", "n_chars", nBins = 4, seed = 42L)
          .select("doc_id", "bin", "shuffle_key", "shuffle_key64")
          .orderBy("doc_id"),
      Some("""WITH b AS (
          SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS q1,
                 percentile_disc(0.5)  WITHIN GROUP (ORDER BY n_chars) AS q2,
                 percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS q3
          FROM documents)
        SELECT doc_id,
          CAST(1 + CASE WHEN n_chars > b.q1 THEN 1 ELSE 0 END
                 + CASE WHEN n_chars > b.q2 THEN 1 ELSE 0 END
                 + CASE WHEN n_chars > b.q3 THEN 1 ELSE 0 END AS INTEGER) AS bin,
          md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
          -- 64-bit variant: hi·2^32 + lo from the first 16 hex chars,
          -- wrapped to signed 64 via HUGEINT (the q98 limb convention)
          CAST(CASE WHEN sk64 >= 9223372036854775808
               THEN sk64 - 18446744073709551616 ELSE sk64 END AS BIGINT)
            AS shuffle_key64
        FROM (SELECT doc_id, n_chars,
                (CAST(CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT)
                   * 4294967296
                 + CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT))
                  % 18446744073709551616 AS sk64
              FROM documents), b
        ORDER BY doc_id""")),

    Q("q196_unicode_nfc",
      (s, dir) => {
        // Unicode canonicalization (UAX #15 NFC) — the pass that makes
        // "café" composed (U+00E9) and decomposed (e + U+0301) hash
        // identically before any fingerprint/dedup stage. Decomposed
        // sequences are injected into half the docs (built from \u
        // escapes / chr() codepoints — no literal combining marks
        // travel through source files), an already-composed phrase
        // into every 5th (idempotence); both engines implement the
        // same standard (java.text.Normalizer vs utf8proc), so the
        // normalized TEXT hash-compares, not just the lengths.
        val gA = lit("e\u0301") // decomposed e + U+0301 (combining acute)
        val gB = lit("n\u0303") // decomposed n + U+0303 (combining tilde)
        val injected = concat(col("text"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" caf"), gA, lit(" ma"), gB, lit("ana"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" d\u00E9j\u00E0 vu")).otherwise(lit("")))
        val nfc = org.apache.spark.sql.graft.NativeExprs
          .unicodeNormalize(col("t2"), "NFC")
        t(s, dir, "documents")
          .select(col("doc_id"), injected.as("t2"))
          .select(
            col("doc_id"),
            nfc.as("nfc_text"),
            length(col("t2")).cast("long").as("n_chars_raw"),
            length(nfc).cast("long").as("n_chars_nfc"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 2 = 0
               THEN ' caf' || chr(101) || chr(769) || ' ma' || chr(110) || chr(771) || 'ana'
               ELSE '' END
            || CASE WHEN doc_id % 5 = 0
               THEN ' d' || chr(233) || 'j' || chr(224) || ' vu'
               ELSE '' END AS t2
          FROM documents)
        SELECT doc_id,
          nfc_normalize(t2) AS nfc_text,
          CAST(length(t2) AS BIGINT) AS n_chars_raw,
          CAST(length(nfc_normalize(t2)) AS BIGINT) AS n_chars_nfc
        FROM h ORDER BY doc_id""")),

    Q("q197_bpe_roundtrip",
      (s, dir) => {
        // BPE detokenization closes the q109/q171 loop: text → token
        // ids (trained merges + lexicographic vocab) → text. The merge
        // table itself has no SQL oracle (iterative argmax, q171), but
        // the ROUND TRIP does: decode ∘ encode reconstructs the
        // tokenizer-normalized text for ANY merge table (no character
        // is ever lost by a merge), so DuckDB replays the expected
        // output as plain lower+whitespace normalization — a full hash
        // gate over the id pipeline's end-to-end correctness.
        val d = t(s, dir, "documents")
        val merges = Bpe.train(d, "text", numMerges = 60)
        val vocab = Bpe.vocabFromCorpus(d, "text", merges)
        val encIds = Bpe.encodeToIds(s, merges, vocab)
        val decIds = Bpe.decodeIds(vocab)
        d.select(col("doc_id"),
            decIds(encIds(col("text"))).as("round_trip"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          coalesce(array_to_string(
            list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''),
            ' '), '') AS round_trip
        FROM documents ORDER BY doc_id""")),

    Q("q198_duplicate_spans",
      (s, dir) =>
        // alignment-free substring dedup, detection surface: maximal
        // duplicated runs of >= 8 tokens via overlapping shingles +
        // gaps-and-islands merge (Lee et al. 2022 semantics at shingle
        // granularity). The oracle replays the md5 shingle assignment,
        // the global first-occurrence rule, and the island merge.
        Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", w = 8)
          .orderBy("doc_id", "span_no"),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS pos FROM nn),
        sh AS (
          SELECT doc_id, pos,
            md5(array_to_string(t[pos+1 : pos+8], ' ')) AS h
          FROM pos),
        f AS (
          SELECT h, min(doc_id*1000000 + pos) AS fk, count(*) AS c
          FROM sh GROUP BY h),
        dup AS (
          SELECT s.doc_id, s.pos
          FROM sh s JOIN f USING (h)
          WHERE c > 1 AND s.doc_id*1000000 + s.pos <> fk),
        brk AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS b
          FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
            sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS g
          FROM brk),
        sp AS (
          SELECT doc_id, g, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
            count(*) AS n_shingles
          FROM isl GROUP BY doc_id, g)
        SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
            AS INTEGER) AS span_no,
          CAST(start_tok AS INTEGER) AS start_tok,
          CAST(end_tok AS INTEGER) AS end_tok,
          n_shingles
        FROM sp ORDER BY doc_id, span_no""")),

    Q("q199_span_removal",
      (s, dir) =>
        // alignment-free substring dedup, cut surface: remove ONLY the
        // duplicated spans, keep the surrounding text (the tile path
        // q144 rounds cuts to tile boundaries). One row per document;
        // the oracle rebuilds the cut text token-by-token.
        Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text", w = 8)
          .orderBy("doc_id"),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS pos FROM nn),
        sh AS (
          SELECT doc_id, pos,
            md5(array_to_string(t[pos+1 : pos+8], ' ')) AS h
          FROM pos),
        f AS (
          SELECT h, min(doc_id*1000000 + pos) AS fk, count(*) AS c
          FROM sh GROUP BY h),
        dup AS (
          SELECT s.doc_id, s.pos
          FROM sh s JOIN f USING (h)
          WHERE c > 1 AND s.doc_id*1000000 + s.pos <> fk),
        brk AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS b
          FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
            sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS g
          FROM brk),
        sp AS (
          SELECT doc_id, g, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
            count(*) AS n_shingles
          FROM isl GROUP BY doc_id, g),
        cov AS (
          SELECT doc_id, unnest(generate_series(start_tok, end_tok)) AS p
          FROM sp),
        tok AS (
          SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
          FROM base),
        kept AS (
          SELECT k.doc_id, k.i, k.t[k.i] AS wd
          FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.p = k.i - 1
          WHERE c.doc_id IS NULL),
        rebuilt AS (
          SELECT doc_id, string_agg(wd, ' ' ORDER BY i) AS txt
          FROM kept GROUP BY doc_id),
        agg AS (
          SELECT doc_id, count(*) AS n_spans,
            CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS n_dup_tokens
          FROM sp GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(a.n_spans, 0) AS n_spans,
          coalesce(a.n_dup_tokens, 0) AS n_dup_tokens,
          CASE WHEN a.doc_id IS NULL THEN d.text ELSE coalesce(r.txt, '') END
            AS text_dedup
        FROM documents d
        LEFT JOIN agg a ON a.doc_id = d.doc_id
        LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    Q("q200_contamination_spans",
      (s, dir) => {
        // span-level decontamination: exact token ranges of train docs
        // (doc_id < 450) whose text appears anywhere in the held-out
        // slice (doc_id >= 450). q106/q170 grade whole documents; this
        // names the ranges so the span — not the document — can be cut.
        val d = t(s, dir, "documents")
        Dedup.contaminationSpans(
          d.filter(col("doc_id") < 450),
          d.filter(col("doc_id") >= 450),
          "doc_id", "text", w = 8)
          .orderBy("doc_id", "span_no")
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS pos FROM nn),
        sh AS (
          SELECT doc_id, pos,
            md5(array_to_string(t[pos+1 : pos+8], ' ')) AS h
          FROM pos),
        held AS (SELECT DISTINCT h FROM sh WHERE doc_id >= 450),
        hits AS (
          SELECT s.doc_id, s.pos
          FROM sh s JOIN held USING (h)
          WHERE s.doc_id < 450),
        brk AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS b
          FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
            sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS g
          FROM brk),
        sp AS (
          SELECT doc_id, g, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
            count(*) AS n_shingles
          FROM isl GROUP BY doc_id, g)
        SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
            AS INTEGER) AS span_no,
          CAST(start_tok AS INTEGER) AS start_tok,
          CAST(end_tok AS INTEGER) AS end_tok,
          n_shingles
        FROM sp ORDER BY doc_id, span_no""")),

    Q("q202_span_dedup_incremental",
      (s, dir) =>
        // daily-batch shape at span granularity: docs >= 250 detect
        // duplicated spans against the shingle-hash store of docs < 250
        // — history text is never re-read. The oracle recomputes the
        // FULL corpus span detection and keeps the batch's rows;
        // equivalence holds because history ids precede batch ids.
        Dedup.duplicateSpansIncremental(
          t(s, dir, "documents").filter(col("doc_id") >= 250),
          Dedup.spanHashStore(
            t(s, dir, "documents").filter(col("doc_id") < 250),
            "doc_id", "text", w = 8),
          "doc_id", "text", w = 8)
          .orderBy("doc_id", "span_no"),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS pos FROM nn),
        sh AS (
          SELECT doc_id, pos,
            md5(array_to_string(t[pos+1 : pos+8], ' ')) AS h
          FROM pos),
        f AS (
          SELECT h, min(doc_id*1000000 + pos) AS fk, count(*) AS c
          FROM sh GROUP BY h),
        dup AS (
          SELECT s.doc_id, s.pos
          FROM sh s JOIN f USING (h)
          WHERE c > 1 AND s.doc_id*1000000 + s.pos <> fk),
        brk AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS b
          FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
            sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS g
          FROM brk),
        sp AS (
          SELECT doc_id, g, min(pos) AS start_tok, max(pos) + 7 AS end_tok,
            count(*) AS n_shingles
          FROM isl GROUP BY doc_id, g)
        SELECT doc_id,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
            AS INTEGER) AS span_no,
          CAST(start_tok AS INTEGER) AS start_tok,
          CAST(end_tok AS INTEGER) AS end_tok,
          n_shingles
        FROM sp
        WHERE doc_id >= 250
        ORDER BY doc_id, span_no""")),

    Q("q209_span_cut_incremental",
      (s, dir) =>
        // q202's CUT surface: the batch (docs >= 250) has its
        // history-or-earlier-in-batch duplicated spans removed against
        // the persisted shingle store of docs < 250, history text never
        // re-read. The oracle rebuilds the cut text from the FULL
        // corpus detection restricted to batch docs (q199's rebuild
        // CTEs + q202's side filter; equivalence holds because history
        // ids precede batch ids). The cut output is lazily
        // checkpointed before the deterministic emission sort: the
        // range partitioner's sampling pass re-executes the last stage
        // (join + rebuild over the window/collect_list pipeline),
        // which is GC-amplified at scale (sf10 unpinned: 17-68 s
        // swings, bench min 65 s; pinned: stable 14-21 s). The
        // materialized frame is ONE BATCH's cut output — the bounded
        // daily unit, not the corpus.
        Barrier(Dedup.removeDuplicateSpansIncremental(
          t(s, dir, "documents").filter(col("doc_id") >= 250),
          Dedup.spanHashStore(
            t(s, dir, "documents").filter(col("doc_id") < 250),
            "doc_id", "text", w = 8),
          "doc_id", "text", w = 8), "q209.cut")
          .orderBy("doc_id"),
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS pos FROM nn),
        sh AS (
          SELECT doc_id, pos,
            md5(array_to_string(t[pos+1 : pos+8], ' ')) AS h
          FROM pos),
        f AS (
          SELECT h, min(doc_id*1000000 + pos) AS fk, count(*) AS c
          FROM sh GROUP BY h),
        dup AS (
          SELECT s.doc_id, s.pos
          FROM sh s JOIN f USING (h)
          WHERE c > 1 AND s.doc_id*1000000 + s.pos <> fk),
        brk AS (
          SELECT doc_id, pos,
            CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                 THEN 1 ELSE 0 END AS b
          FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl AS (
          SELECT doc_id, pos,
            sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS g
          FROM brk),
        sp AS (
          SELECT doc_id, g, min(pos) AS start_tok, max(pos) + 7 AS end_tok
          FROM isl GROUP BY doc_id, g),
        cov AS (
          SELECT doc_id, unnest(generate_series(start_tok, end_tok)) AS p
          FROM sp),
        tok AS (
          SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
          FROM base),
        kept AS (
          SELECT k.doc_id, k.i, k.t[k.i] AS wd
          FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.p = k.i - 1
          WHERE c.doc_id IS NULL),
        rebuilt AS (
          SELECT doc_id, string_agg(wd, ' ' ORDER BY i) AS txt
          FROM kept GROUP BY doc_id),
        agg AS (
          SELECT doc_id, count(*) AS n_spans,
            CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS n_dup_tokens
          FROM sp GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(a.n_spans, 0) AS n_spans,
          coalesce(a.n_dup_tokens, 0) AS n_dup_tokens,
          CASE WHEN a.doc_id IS NULL THEN d.text ELSE coalesce(r.txt, '') END
            AS text_dedup
        FROM documents d
        LEFT JOIN agg a ON a.doc_id = d.doc_id
        LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
        WHERE d.doc_id >= 250
        ORDER BY d.doc_id""")),

    Q("q210_fix_mojibake",
      (s, dir) => {
        // REPAIR twin of q191's detection (the ftfy fix_encoding core):
        // ghosts are injected from code points (q191 discipline) in
        // three arms — a one-generation Latin-1 ghost pair + cp1252
        // smart-quote triple, a stray-byte+NBSP arm carrying a poison
        // U+FFFD (un-mappable: must be KEPT without blocking the
        // repairs beside it — the segment-wise property), and a
        // TWO-generation double-decode (chr sequence C3 0192 C2 A9)
        // that must unwind through the one-generation ghost pair to
        // U+00E9. noise_after re-runs q191's
        // The oracle replays the repair as the explicit replace-chain
        // inverse of the injection — the kernel's byte-roundtrip and
        // the oracle's string algebra must agree on every row.
        val gA = lit("\u00C3\u00A9")       // ghost pair of U+00E9
        val gB = lit("\u00E2\u20AC\u2122") // cp1252 ghost of U+2019
        val gC = lit("\u00C2\u00A0")       // stray byte + NBSP ghost
        val gD = lit("\u00C3\u0192\u00C2\u00A9") // U+00E9, TWO generations
        val injected = concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" caf"), gA, lit(" it"), gB, lit("s fine"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" A"), gC, lit("B \uFFFD end"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" caf"), gD, lit(" encore"))).otherwise(lit("")))
        val fixed = org.apache.spark.sql.graft.NativeExprs.fixMojibake(injected)
        t(s, dir, "documents")
          .select(col("doc_id"), fixed.as("tf"))
          .select(
            col("doc_id"),
            length(col("tf")).cast("long").as("n_chars_fix"),
            TextAnalysis.encodingNoiseScore(col("tf")).as("noise_after"),
            col("tf").as("text_fixed"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 3 = 0
               THEN ' caf' || chr(195) || chr(169) || ' it'
                 || chr(226) || chr(8364) || chr(8482) || 's fine'
               ELSE '' END
            || CASE WHEN doc_id % 7 = 0
               THEN ' A' || chr(194) || chr(160) || 'B ' || chr(65533) || ' end'
               ELSE '' END
            || CASE WHEN doc_id % 5 = 0
               THEN ' caf' || chr(195) || chr(402) || chr(194) || chr(169)
                 || ' encore'
               ELSE '' END AS t2
          FROM documents),
        r AS (
          SELECT doc_id,
            replace(replace(replace(replace(t2,
              chr(195)||chr(402)||chr(194)||chr(169), chr(233)),
              chr(195)||chr(169), chr(233)),
              chr(226)||chr(8364)||chr(8482), chr(8217)),
              chr(194)||chr(160), chr(160)) AS tf
          FROM h)
        SELECT doc_id, CAST(len(tf) AS BIGINT) AS n_chars_fix,
          CASE WHEN len(tf) = 0 THEN 0.0
               ELSE round((len(string_split_regex(tf,
                 '(\x{00C3}[\x{0080}-\x{00BF}])|(\x{00E2}\x{20AC})|(\x{00C2}[\x{0020}\x{00A0}])|(\x{FFFD})'
               )) - 1) * 1000.0 / len(tf), 4) END AS noise_after,
          tf AS text_fixed
        FROM r ORDER BY doc_id""")),

    Q("q211_countmin_freq",
      (s, dir) => {
        // Count-Min frequency estimation at production parameters
        // (depth 4 × width 2048) over lineitem part keys: one pass
        // builds the mergeable grid, then the top-20 exact heavy
        // hitters are probed DECLARATIVELY (md5/conv/element_at — the
        // estimate never leaves codegen). The md5-prefix cell
        // discipline makes the ENTIRE grid and every estimate
        // replayable arithmetic — a sketch with a FULL hash oracle,
        // like q201's KMV and unlike seeded-hash q25/q118. The exact
        // column rides along so the one-sided guarantee
        // (n_est >= n_exact) is visible in the checked output itself.
        val items = t(s, dir, "lineitem")
          .select(col("l_partkey").cast("string").as("item"))
        val sk = items.agg(
          graft.functions.CountMin.sketch(col("item"), 4, 2048).as("sk"))
        val top = items.groupBy("item").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("item")).limit(20)
        top.crossJoin(broadcast(sk))
          .select(col("item"), col("n_exact"),
            graft.functions.CountMin.estimate(col("sk"), col("item"), 4, 2048)
              .as("n_est"))
          .orderBy(col("n_exact").desc, col("item"))
      },
      Some("""WITH items AS (
          SELECT CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
        js AS (SELECT unnest(generate_series(0, 3)) AS j),
        grid AS (
          SELECT j,
            CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || item), 1, 8))
              AS BIGINT) % 2048 AS cell,
            CAST(count(*) AS BIGINT) AS c
          FROM items CROSS JOIN js GROUP BY j, cell),
        top AS (
          SELECT item, CAST(count(*) AS BIGINT) AS n_exact
          FROM items GROUP BY item ORDER BY n_exact DESC, item LIMIT 20),
        probe AS (
          SELECT t.item, t.n_exact, j.j,
            CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || t.item), 1, 8))
              AS BIGINT) % 2048 AS cell
          FROM top t CROSS JOIN js j)
        SELECT p.item, p.n_exact, CAST(min(coalesce(g.c, 0)) AS BIGINT) AS n_est
        FROM probe p LEFT JOIN grid g ON g.j = p.j AND g.cell = p.cell
        GROUP BY p.item, p.n_exact
        ORDER BY n_exact DESC, item""")),

    Q("q201_kmv_overlap",
      (s, dir) => {
        // sketch-based corpus-overlap monitoring: distinct-5-shingle
        // Jaccard between the even and odd documents halves from two
        // 1024-row bottom-k sketches. The 60-bit md5-prefix sketch key
        // makes every emitted number replayable arithmetic — a sketch
        // with a FULL hash oracle at production k (unlike q25/q118,
        // whose seeded hashes no other engine can reproduce).
        val d = t(s, dir, "documents")
        ScaleOps.kmvCorpusOverlap(
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          "text", w = 5, k = 1024)
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT doc_id, t, len(t) - 4 AS ns FROM base WHERE len(t) >= 5),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS p FROM nn),
        sh AS (
          SELECT doc_id,
            CAST(concat('0x',
              substr(md5(array_to_string(t[p+1 : p+5], ' ')), 1, 15))
              AS BIGINT) AS h
          FROM pos),
        sa AS (SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 0 ORDER BY h LIMIT 1024),
        sb AS (SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 1 ORDER BY h LIMIT 1024),
        su AS (
          SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
          ORDER BY h LIMIT 1024),
        m AS (
          SELECT count(*) AS inter FROM su
          WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
        ka AS (SELECT count(*) AS n, max(h) AS kth FROM sa),
        kb AS (SELECT count(*) AS n, max(h) AS kth FROM sb),
        ku AS (SELECT count(*) AS n FROM su)
        SELECT CAST(1024 AS INTEGER) AS k,
          CAST(ku.n AS INTEGER) AS union_k,
          CASE WHEN ka.n < 1024 THEN CAST(ka.n AS DOUBLE)
               ELSE round(1023.0 / (CAST(ka.kth AS DOUBLE) / 1152921504606846976.0), 4)
          END AS d_a_est,
          CASE WHEN kb.n < 1024 THEN CAST(kb.n AS DOUBLE)
               ELSE round(1023.0 / (CAST(kb.kth AS DOUBLE) / 1152921504606846976.0), 4)
          END AS d_b_est,
          round(CAST(m.inter AS DOUBLE) / CAST(ku.n AS DOUBLE), 6) AS jaccard_est
        FROM ka, kb, ku, m""")),

    Q("q203_importance_resample",
      (s, dir) => {
        // DSIR-style data selection: pick the 200 raw docs whose
        // char-trigram distribution best matches the target slice
        // (doc_id % 7 == 0 stands in for a curated domain), by
        // target-vs-raw LM log-likelihood ratio + deterministic
        // Gumbel-top-k. Every number — both LM averages, the weight,
        // the md5-derived Gumbel, the selection itself — is replayable
        // arithmetic, so SAMPLING carries a full hash oracle.
        val d = fannedOut(t(s, dir, "documents"))
        ScaleOps.importanceResample(
          d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(7)) === 0),
          "doc_id", "text", k = 200, n = 3, seed = 42L)
      },
      Some("""WITH norm AS (
          SELECT doc_id, lower(trim(text)) AS t FROM documents),
        tgt AS (SELECT t FROM norm WHERE doc_id % 7 = 0),
        tg AS (
          SELECT unnest([substr(t, i, 3) for i in range(1, greatest(len(t) - 1, 1))]) AS gram
          FROM tgt WHERE len(t) >= 3),
        tmodel AS (SELECT gram, count(*) AS cnt FROM tg GROUP BY gram),
        ttot AS (SELECT sum(cnt) AS total FROM tmodel),
        rg AS (
          SELECT doc_id,
            unnest([substr(t, i, 3) for i in range(1, greatest(len(t) - 1, 1))]) AS gram
          FROM norm WHERE doc_id % 7 <> 0 AND len(t) >= 3),
        rmodel AS (SELECT gram, count(*) AS cnt FROM rg GROUP BY gram),
        rtot AS (SELECT sum(cnt) AS total FROM rmodel),
        tavg AS (
          SELECT doc_id, count(*) AS n_grams,
            round(CAST(sum(CAST(round(
              ln(coalesce(CAST(m.cnt AS DOUBLE), 0.5) / CAST(ttot.total AS DOUBLE)),
              6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS a
          FROM rg LEFT JOIN tmodel m USING (gram) CROSS JOIN ttot
          GROUP BY doc_id),
        ravg AS (
          SELECT doc_id,
            round(CAST(sum(CAST(round(
              ln(CAST(m.cnt AS DOUBLE) / CAST(rtot.total AS DOUBLE)),
              6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS a
          FROM rg JOIN rmodel m USING (gram) CROSS JOIN rtot
          GROUP BY doc_id),
        sc AS (
          SELECT ta.doc_id, CAST(ta.n_grams AS BIGINT) AS n_grams,
            round((ta.a - ra.a) * CAST(ta.n_grams AS DOUBLE), 4) AS logw,
            (CAST(CAST(concat('0x',
               substr(md5('42:' || CAST(ta.doc_id AS VARCHAR)), 1, 13))
               AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
          FROM tavg ta JOIN ravg ra USING (doc_id))
        SELECT doc_id, n_grams, logw,
          logw + 1.0 * round(-ln(-ln(u)), 6) AS sel_key
        FROM sc ORDER BY sel_key DESC, doc_id LIMIT 200""")),

    Q("q205_gazetteer_redact",
      (s, dir) => {
        // dictionary redaction: every occurrence of the 4-term
        // gazetteer (incl. multi-token terms) cover-merged into maximal
        // runs, one [GAZ] placeholder per run. Complements regex PII
        // (q102) and checksum cards (q190) with the third redaction
        // modality a pipeline runs: curated term lists.
        TextAnalysis.gazetteerRedact(
          t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "table table", "customer query", "window stream"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id,
            string_split_regex(lower(trim(text)), '[ \t\n\f\r]+') AS tk
          FROM documents),
        terms(term, n) AS (SELECT * FROM (VALUES
          ('spark', 1), ('table table', 2),
          ('customer query', 2), ('window stream', 2))),
        m AS (
          SELECT p.doc_id, p.p, p.p + tr.n - 1 AS e
          FROM (SELECT doc_id, tk,
                  unnest(generate_series(0, len(tk) - 1)) AS p
                FROM t) p, terms tr
          WHERE p.p + tr.n <= len(p.tk)
            AND array_to_string(p.tk[p.p+1 : p.p+tr.n], ' ') = tr.term),
        cov AS (SELECT DISTINCT doc_id, unnest(generate_series(p, e)) AS c FROM m),
        b AS (
          SELECT doc_id, c,
            CASE WHEN lag(c) OVER w IS NULL OR c > lag(c) OVER w + 1
                 THEN 1 ELSE 0 END AS brk
          FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY c)),
        isl AS (
          SELECT doc_id, c,
            sum(brk) OVER (PARTITION BY doc_id ORDER BY c
                           ROWS UNBOUNDED PRECEDING) AS g
          FROM b),
        sp AS (
          SELECT doc_id, g, min(c) AS start_tok, max(c) AS end_tok
          FROM isl GROUP BY doc_id, g),
        tok AS (
          SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk
          FROM t),
        kept AS (
          SELECT k.doc_id, k.i - 1 AS p, k.tk[k.i] AS wd
          FROM tok k LEFT JOIN cov c ON c.doc_id = k.doc_id AND c.c = k.i - 1
          WHERE c.doc_id IS NULL
          UNION ALL
          SELECT doc_id, start_tok AS p, '[GAZ]' AS wd FROM sp),
        rebuilt AS (
          SELECT doc_id, string_agg(wd, ' ' ORDER BY p) AS txt
          FROM kept GROUP BY doc_id),
        agg AS (
          SELECT doc_id, count(*) AS n_spans,
            CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS n_red
          FROM sp GROUP BY doc_id)
        SELECT t.doc_id,
          coalesce(a.n_spans, 0) AS n_spans,
          coalesce(a.n_red, 0) AS n_redacted_tokens,
          CASE WHEN a.doc_id IS NULL THEN array_to_string(t.tk, ' ')
               ELSE coalesce(r.txt, '') END AS text_redacted
        FROM t
        LEFT JOIN agg a ON a.doc_id = t.doc_id
        LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
        ORDER BY t.doc_id""")),

    Q("q206_c4_line_filter",
      (s, dir) => {
        // C4's published line/document heuristics (Raffel et al. 2020
        // §2.2, published thresholds: ≥5-word lines, ≥3-sentence pages,
        // end-quote counted terminal) over synthetic multi-line docs
        // built from the documents table, constructed so EVERY rule
        // fires somewhere: terminal variants (. ! ? and a bare
        // end-quote line in every doc), 1/2-word lines, a javascript
        // line on doc_id%7, a curly-brace template on doc_id%11 and
        // lorem-ipsum filler on doc_id%13 (whole-document drops), and a
        // doc_id%19 arm whose lines mostly fail the word rule so the
        // 3-sentence floor fires.
        val docs = t(s, dir, "documents").select(
          col("doc_id"),
          concat_ws("\n",
            when(col("doc_id") % 19 === 0, lit("intro"))
              .otherwise(concat(substring(col("text"), 1, 60), lit("."))),
            lit("click here"),
            col("lang"),
            when(col("doc_id") % 19 === 0, lit("order arrived!"))
              .otherwise(concat(lit("order "), col("doc_id").cast("string"),
                lit(" arrived in good condition today!"))),
            when(col("doc_id") % 7 === 0,
                lit("please enable javascript to continue."))
              .otherwise(concat(substring(col("text"), 61, 60), lit("?"))),
            when(col("doc_id") % 11 === 0,
                lit("css template { margin zero }"))
              .when(col("doc_id") % 19 === 0, lit("done now."))
              .otherwise(concat(substring(col("text"), 121, 60), lit("."))),
            when(col("doc_id") % 13 === 0,
                lit("lorem ipsum dolor sit amet."))
              .otherwise(lit("the final checks were complete.")),
            lit("the supervisor said \"all these cartons look fine\"")).as("text"))
        TextAnalysis.c4Clean(docs, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id,
            concat_ws(chr(10),
              CASE WHEN doc_id % 19 = 0 THEN 'intro'
                   ELSE substr(text, 1, 60) || '.' END,
              'click here',
              lang,
              CASE WHEN doc_id % 19 = 0 THEN 'order arrived!'
                   ELSE 'order ' || CAST(doc_id AS VARCHAR) || ' arrived in good condition today!' END,
              CASE WHEN doc_id % 7 = 0 THEN 'please enable javascript to continue.'
                   ELSE substr(text, 61, 60) || '?' END,
              CASE WHEN doc_id % 11 = 0 THEN 'css template { margin zero }'
                   WHEN doc_id % 19 = 0 THEN 'done now.'
                   ELSE substr(text, 121, 60) || '.' END,
              CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet.'
                   ELSE 'the final checks were complete.' END,
              'the supervisor said "all these cartons look fine"') AS text
          FROM documents),
        f AS (
          SELECT doc_id,
            string_split(text, chr(10)) AS ls,
            list_filter(string_split(text, chr(10)), l ->
              regexp_matches(trim(l), '([.!?]["'']?|["''])$')
              AND len(string_split_regex(trim(l), '[ \t\n\f\r]+')) >= 5
              AND NOT contains(lower(trim(l)), 'javascript')) AS ks
          FROM docs
          WHERE NOT contains(text, '{')
            AND NOT contains(lower(text), 'lorem ipsum')),
        r AS (
          SELECT doc_id,
            array_to_string(list_transform(ks, l -> trim(l)), chr(10)) AS clean_text,
            CAST(len(ks) AS BIGINT) AS kept_lines,
            CAST(len(ls) - len(ks) AS BIGINT) AS dropped_lines
          FROM f)
        SELECT doc_id, clean_text, kept_lines, dropped_lines
        FROM r
        WHERE len(string_split_regex(clean_text, '[.!?]')) - 1 >= 3
        ORDER BY doc_id""")),

    Q("q207_domain_blocklist",
      (s, dir) => {
        // crawl-corpus blocklist filter over q184's synthetic URLs
        // (source ≡ "src"+(doc_id%20), so each source pins one URL arm):
        // 'example.com' collapses every www.srcN.example.com subdomain
        // (125 docs), 'src5.co.uk' kills blog.src5.co.uk via the
        // registrable domain, 'news.src7.org' is an exact-host entry,
        // and 'src6.github.io' matches both arms at once — 300 of 500
        // docs survive at sf0.01.
        val did = col("doc_id").cast("string")
        val url = when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/Path/"),
              did, lit("/?q="), col("lang"), lit("&utm_source=feed#frag")))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit("https://Blog."), col("source"), lit(".co.uk:443/post/"),
              did, lit("?id="), did, lit("&gclid=zz")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            concat(lit("https://"), col("source"), lit(".github.io/pages//")))
          .otherwise(
            concat(lit("http://news."), col("source"), lit(".org:8080/a/"),
              did, lit("?utm_medium=x")))
        val withU = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"))
          .withColumn("url", url)
        val p = WebOps.urlParts(col("url"))
        WebOps.blockDomains(withU, "url",
            Seq("example.com", "src5.co.uk", "src6.github.io", "news.src7.org"))
          .select(
            col("doc_id"),
            lower(p("host")).as("host"),
            WebOps.registrableDomain(lower(p("host"))).as("domain"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (
          SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Path/' ||
                CAST(doc_id AS VARCHAR) || '/?q=' || lang || '&utm_source=feed#frag'
              WHEN 1 THEN 'https://Blog.' || source || '.co.uk:443/post/' ||
                CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR) || '&gclid=zz'
              WHEN 2 THEN 'https://' || source || '.github.io/pages//'
              ELSE 'http://news.' || source || '.org:8080/a/' ||
                CAST(doc_id AS VARCHAR) || '?utm_medium=x'
            END AS url
          FROM documents),
        h AS (
          SELECT doc_id,
            lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)) AS host
          FROM u),
        d AS (
          SELECT doc_id, host,
            CASE
              WHEN host IN ('co.uk', 'org.uk', 'com.au', 'co.jp', 'com.br', 'github.io',
                'com', 'org', 'net', 'edu', 'gov', 'io', 'uk', 'de', 'fr', 'jp') THEN ''
              WHEN host LIKE '%.github.io' THEN regexp_extract(host, '([^.]+\.github\.io)$', 1)
              WHEN host LIKE '%.com.au' THEN regexp_extract(host, '([^.]+\.com\.au)$', 1)
              WHEN host LIKE '%.com.br' THEN regexp_extract(host, '([^.]+\.com\.br)$', 1)
              WHEN host LIKE '%.org.uk' THEN regexp_extract(host, '([^.]+\.org\.uk)$', 1)
              WHEN host LIKE '%.co.jp' THEN regexp_extract(host, '([^.]+\.co\.jp)$', 1)
              WHEN host LIKE '%.co.uk' THEN regexp_extract(host, '([^.]+\.co\.uk)$', 1)
              WHEN host LIKE '%.com' THEN regexp_extract(host, '([^.]+\.com)$', 1)
              WHEN host LIKE '%.org' THEN regexp_extract(host, '([^.]+\.org)$', 1)
              WHEN host LIKE '%.net' THEN regexp_extract(host, '([^.]+\.net)$', 1)
              WHEN host LIKE '%.edu' THEN regexp_extract(host, '([^.]+\.edu)$', 1)
              WHEN host LIKE '%.gov' THEN regexp_extract(host, '([^.]+\.gov)$', 1)
              WHEN host LIKE '%.io' THEN regexp_extract(host, '([^.]+\.io)$', 1)
              WHEN host LIKE '%.uk' THEN regexp_extract(host, '([^.]+\.uk)$', 1)
              WHEN host LIKE '%.de' THEN regexp_extract(host, '([^.]+\.de)$', 1)
              WHEN host LIKE '%.fr' THEN regexp_extract(host, '([^.]+\.fr)$', 1)
              WHEN host LIKE '%.jp' THEN regexp_extract(host, '([^.]+\.jp)$', 1)
              ELSE ''
            END AS domain
          FROM h)
        SELECT doc_id, host, domain
        FROM d
        WHERE host NOT IN ('example.com', 'src5.co.uk', 'src6.github.io', 'news.src7.org')
          AND domain NOT IN ('example.com', 'src5.co.uk', 'src6.github.io', 'news.src7.org')
        ORDER BY doc_id""")),

    Q("q204_mix_budget_solver",
      (s, dir) => {
        // mix-feasibility planning: the largest training budget a
        // 50/25/25 web/code/books mix can reach when no source may
        // exceed 2 epochs — the scarcest source binds and caps the
        // whole run. Weights are powers of two so normalization is
        // exact in IEEE and every emitted number replays cross-engine.
        val d = t(s, dir, "documents").withColumn("src",
          when(pmod(col("doc_id"), lit(3)) === 0, "web")
            .when(pmod(col("doc_id"), lit(3)) === 1, "code")
            .otherwise("books"))
        ScaleOps.solveMixBudget(d, "src", "n_chars",
          Map("web" -> 0.5, "code" -> 0.25, "books" -> 0.25), maxEpochs = 2.0)
          .orderBy("stratum")
      },
      Some("""WITH s AS (
          SELECT CASE WHEN doc_id % 3 = 0 THEN 'web'
                      WHEN doc_id % 3 = 1 THEN 'code'
                      ELSE 'books' END AS stratum,
                 n_chars
          FROM documents),
        av AS (SELECT stratum, sum(n_chars) AS avail FROM s GROUP BY stratum),
        w AS (SELECT * FROM (VALUES ('web', 0.5), ('code', 0.25), ('books', 0.25))
              t(stratum, wn)),
        j AS (SELECT w.stratum, w.wn, coalesce(av.avail, 0) AS avail
              FROM w LEFT JOIN av USING (stratum)),
        ts AS (SELECT min(2.0 * avail / wn) AS tstar FROM j),
        b AS (SELECT min(stratum) AS bind FROM j, ts
              WHERE 2.0 * avail / wn = ts.tstar)
        SELECT j.stratum,
          round(j.wn, 6) AS weight,
          CAST(j.avail AS BIGINT) AS avail_tokens,
          CAST(floor(j.wn * ts.tstar) AS BIGINT) AS alloc_tokens,
          CASE WHEN j.avail <= 0 THEN 0.0
               ELSE round(CAST(floor(j.wn * ts.tstar) AS DOUBLE)
                          / CAST(j.avail AS DOUBLE), 6) END AS epochs,
          j.stratum = b.bind AS binding
        FROM j, ts, b ORDER BY j.stratum""")),

    Q("q153_ngram_perplexity",
      (s, dir) =>
        // CCNet-style LM quality signal: mean log-prob of each doc's
        // char trigrams under the corpus's own unigram-of-trigrams
        // model. ln parity per value (q145 precedent) + 6dp round +
        // DECIMAL(18,6) exact sums make the score engine-independent;
        // the char-ngram vocabulary is bounded, so the model broadcasts
        // at any corpus scale and scoring stays map-side.
        TextAnalysis.selfPerplexity(fannedOut(t(s, dir, "documents")))
          .orderBy("doc_id"),
      Some("""WITH norm AS (
          SELECT doc_id, lower(trim(text)) AS t FROM documents),
        g AS (
          SELECT doc_id,
            unnest([substr(t, i, 3) for i in range(1, greatest(len(t) - 1, 1))]) AS gram
          FROM norm WHERE len(t) >= 3),
        model AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
        tot AS (SELECT sum(cnt) AS total FROM model),
        lp AS (
          SELECT doc_id,
            CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
          FROM g JOIN model USING (gram) CROSS JOIN tot)
        SELECT doc_id, count(*) AS n_grams,
          round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logp
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    Q("q146_substring_dedup_incremental",
      (s, dir) =>
        // daily-batch shape: docs >= 250 dedup against the tile-hash
        // store of docs < 250 — history text is never re-read. The
        // oracle recomputes the FULL corpus dedup and keeps the batch's
        // rows; equivalence holds because history ids precede batch ids
        Dedup.substringDedupIncremental(
          t(s, dir, "documents").filter(col("doc_id") >= 250),
          Dedup.tileHashStore(
            t(s, dir, "documents").filter(col("doc_id") < 250),
            "doc_id", "text", w = 12),
          "doc_id", "text", w = 12)
          .orderBy("doc_id"),
      Some("""WITH base AS (
          SELECT doc_id, text, string_split(text, ' ') AS t,
            CAST(floor(len(string_split(text, ' ')) / 12.0) AS INT) AS n
          FROM documents),
        ex AS (
          SELECT doc_id, unnest(generate_series(0, n - 1)) AS tile_no, t
          FROM base WHERE n >= 1),
        tl AS (
          SELECT doc_id, tile_no,
            md5(array_to_string(t[tile_no*12+1 : tile_no*12+12], ' ')) AS h
          FROM ex),
        firsts AS (
          SELECT h, min(doc_id*100000 + tile_no) AS first_key, count(*) AS c
          FROM tl GROUP BY h),
        dropped AS (
          SELECT tl.doc_id, tl.tile_no
          FROM tl JOIN firsts USING (h)
          WHERE c > 1 AND doc_id*100000 + tile_no <> first_key),
        tok AS (
          SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
          FROM base),
        tokt AS (
          SELECT doc_id, p, t[p] AS w, CAST(floor((p-1) / 12.0) AS INT) AS tile
          FROM tok),
        kept AS (
          SELECT k.doc_id, k.p, k.w
          FROM tokt k LEFT JOIN dropped d
            ON d.doc_id = k.doc_id AND d.tile_no = k.tile
          WHERE d.doc_id IS NULL),
        rebuilt AS (
          SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS txt
          FROM kept GROUP BY doc_id),
        dc AS (SELECT doc_id, count(*) AS ndrop FROM dropped GROUP BY doc_id)
        SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tiles,
          CAST(coalesce(dc.ndrop, 0) AS BIGINT) AS n_dup_tiles,
          CASE WHEN dc.ndrop IS NULL THEN b.text ELSE coalesce(r.txt, '') END AS text_dedup
        FROM base b
        LEFT JOIN dc ON dc.doc_id = b.doc_id
        LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
        WHERE b.doc_id >= 250
        ORDER BY b.doc_id""")),

    Q("q145_bm25",
      (s, dir) =>
        // Okapi BM25 top-10 for a three-term query: per-term
        // contributions rounded at 6dp and summed as exact
        // DECIMAL(18,6) (addition order can't perturb the score), final
        // 4dp round, id tiebreak — the oracle replays the identical
        // tf/df/len/avg_len arithmetic
        TextAnalysis.bm25(
          t(s, dir, "documents"), Seq("join", "vector", "stream"),
          "doc_id", "text", topK = 10),
      Some("""WITH base AS (
          SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
          FROM documents),
        lens AS (SELECT doc_id, len(ts) AS len FROM base),
        stats AS (SELECT count(*) AS n, avg(len) AS avg_len FROM lens),
        tp AS (SELECT doc_id, unnest(ts) AS term FROM base),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tp
          WHERE term IN ('join', 'vector', 'stream') GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
        sc AS (
          SELECT tf.doc_id,
            -- decimal literals are CAST to DOUBLE so every operation is
            -- the same IEEE-754 double op Spark executes (DuckDB would
            -- otherwise route tf*2.2 through exact DECIMAL arithmetic,
            -- an ulp off the double product)
            CAST(round(
              ln(1.0 + (s.n - d.dfreq + 0.5) / (d.dfreq + 0.5)) *
                (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
                (tf.tf + CAST(1.2 AS DOUBLE) *
                  (0.25 + CAST(0.75 AS DOUBLE) * l.len / s.avg_len)),
              6) AS DECIMAL(18,6)) AS c6
          FROM tf JOIN dfreq d USING (term) JOIN lens l USING (doc_id)
          CROSS JOIN stats s)
        SELECT doc_id, round(CAST(sum(c6) AS DOUBLE), 4) AS score,
          count(*) AS n_terms_matched
        FROM sc GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10""")),

    Q("q144_substring_dedup",
      (s, dir) =>
        // exact substring dedup at 12-token tile granularity (tiling
        // restriction of Lee et al. suffix-array dedup): a tile whose
        // exact text occurred earlier in (doc, tile) order is cut from
        // the rebuilt text. md5 tile keys make the whole assignment
        // engine-replayable; the oracle rebuilds every document's
        // deduped text token-by-token in SQL.
        Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text", w = 12)
          .orderBy("doc_id"),
      Some("""WITH base AS (
          SELECT doc_id, text, string_split(text, ' ') AS t,
            CAST(floor(len(string_split(text, ' ')) / 12.0) AS INT) AS n
          FROM documents),
        ex AS (
          SELECT doc_id, unnest(generate_series(0, n - 1)) AS tile_no, t
          FROM base WHERE n >= 1),
        tl AS (
          SELECT doc_id, tile_no,
            md5(array_to_string(t[tile_no*12+1 : tile_no*12+12], ' ')) AS h
          FROM ex),
        firsts AS (
          SELECT h, min(doc_id*100000 + tile_no) AS first_key, count(*) AS c
          FROM tl GROUP BY h),
        dropped AS (
          SELECT tl.doc_id, tl.tile_no
          FROM tl JOIN firsts USING (h)
          WHERE c > 1 AND doc_id*100000 + tile_no <> first_key),
        tok AS (
          SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
          FROM base),
        tokt AS (
          SELECT doc_id, p, t[p] AS w, CAST(floor((p-1) / 12.0) AS INT) AS tile
          FROM tok),
        kept AS (
          SELECT k.doc_id, k.p, k.w
          FROM tokt k LEFT JOIN dropped d
            ON d.doc_id = k.doc_id AND d.tile_no = k.tile
          WHERE d.doc_id IS NULL),
        rebuilt AS (
          SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS txt
          FROM kept GROUP BY doc_id),
        dc AS (SELECT doc_id, count(*) AS ndrop FROM dropped GROUP BY doc_id)
        SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tiles,
          CAST(coalesce(dc.ndrop, 0) AS BIGINT) AS n_dup_tiles,
          -- coalesce: a doc whose EVERY token sits in a dropped tile (no
          -- tail) has zero kept rows — string_agg yields no row where
          -- Spark's array_join yields ''
          CASE WHEN dc.ndrop IS NULL THEN b.text ELSE coalesce(r.txt, '') END AS text_dedup
        FROM base b
        LEFT JOIN dc ON dc.doc_id = b.doc_id
        LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
        ORDER BY b.doc_id""")),

    Q("q111_scd2",
      (s, dir) => {
        // SCD Type-2 dimension build from the event change log: per-user
        // event_type history as half-open validity intervals, no-op
        // changes compacted. One shuffle on user_id, zero joins; DuckDB
        // replays the same window algebra. Events are pre-deduped to one
        // per (user, second) — scd2's tie-free precondition (as in q17).
        val ev = events(s, dir)
        val w = Window.partitionBy("user_id", "ts_sec").orderBy(col("event_id").desc)
        val one = ev.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select("user_id", "ts_sec", "event_type")
        graft.operators.Temporal.scd2(one, Seq("user_id"), "ts_sec", Seq("event_type"))
          .select(col("user_id"), col("event_type"), col("valid_from"),
            col("valid_to"), col("is_current"))
          .orderBy("user_id", "valid_from")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        one AS (
          SELECT user_id, ts_sec, event_type FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec
              ORDER BY event_id DESC) AS rn FROM e) WHERE rn = 1),
        chg AS (
          SELECT *,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec) AS prev,
            row_number() OVER (PARTITION BY user_id ORDER BY ts_sec) AS rn
          FROM one),
        keep AS (
          SELECT user_id, ts_sec, event_type FROM chg
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        SELECT user_id, event_type, ts_sec AS valid_from,
          lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) AS valid_to,
          CAST(CASE WHEN lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec)
            IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        FROM keep ORDER BY user_id, valid_from""")),

    Q("q111b_scd2_snapshot",
      (s, dir) => {
        // point-in-time lookup over the q111 dimension: the state of
        // every user's event_type as of a fixed mid-corpus instant —
        // the "reproduce the March snapshot" query SCD2 exists for.
        // A plain interval filter; per-type counts keep the output flat.
        val ev = events(s, dir)
        val w = Window.partitionBy("user_id", "ts_sec").orderBy(col("event_id").desc)
        val one = ev.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select("user_id", "ts_sec", "event_type")
        val dim = graft.operators.Temporal.scd2(one, Seq("user_id"), "ts_sec", Seq("event_type"))
        graft.operators.Temporal.asOfSnapshot(dim, lit(1705361944L))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        one AS (
          SELECT user_id, ts_sec, event_type FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts_sec
              ORDER BY event_id DESC) AS rn FROM e) WHERE rn = 1),
        chg AS (
          SELECT *,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_sec) AS prev,
            row_number() OVER (PARTITION BY user_id ORDER BY ts_sec) AS rn
          FROM one),
        keep AS (
          SELECT user_id, ts_sec, event_type FROM chg
          WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        dim AS (
          SELECT user_id, event_type, ts_sec AS valid_from,
            lead(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) AS valid_to
          FROM keep)
        SELECT event_type, count(*) AS n_users FROM dim
        WHERE valid_from <= 1705361944
          AND (valid_to IS NULL OR 1705361944 < valid_to)
        GROUP BY event_type ORDER BY event_type""")),

    Q("q112_binned_range",
      (s, dir) => {
        // binned range join (the scale path for point-in-interval):
        // gap-1800 sessions over ALL events joined to the purchase
        // events falling inside them, banded into 1800 s bins so the
        // join is a plain equi shuffle on (user_id, bin) — no
        // BroadcastNestedLoopJoin. The oracle runs the naive inequality
        // join: banding is semantics-preserving by construction.
        val ev = events(s, dir)
        val sessions = Sessionize.sessions(ev, "ts_sec", "event_id",
          gapSeconds = 1800L)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts_sec", "value")
        ScaleOps.binnedIntervalJoin(
            purchases, sessions, Seq("user_id"),
            "ts_sec", "start_sec", "end_sec", binWidth = 1800L)
          .groupBy(col("user_id"), col("session_idx").cast("long").as("session_idx"))
          .agg(
            count(lit(1)).as("n_purchases"),
            dsum("value").as("purchase_value"))
          .orderBy("user_id", "session_idx")
      },
      Some("""WITH e AS (
          SELECT user_id, event_id, event_type, value,
                 epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        m AS (
          SELECT *, CASE WHEN lag(ts_sec) OVER w IS NULL
                           OR ts_sec - lag(ts_sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)),
        sess AS (
          SELECT user_id,
            CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
              ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx, ts_sec
          FROM m),
        bounds AS (
          SELECT user_id, session_idx, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
          FROM sess GROUP BY user_id, session_idx),
        p AS (SELECT user_id, event_id, ts_sec, value FROM e WHERE event_type = 'purchase')
        SELECT b.user_id, b.session_idx, count(*) AS n_purchases,
          CAST(sum(CAST(p.value AS DECIMAL(28,2))) AS DOUBLE) AS purchase_value
        FROM p JOIN bounds b
          ON p.user_id = b.user_id AND p.ts_sec >= b.start_sec AND p.ts_sec <= b.end_sec
        GROUP BY b.user_id, b.session_idx ORDER BY b.user_id, b.session_idx""")),

    Q("q113_bloom_semi",
      (s, dir) => {
        // Bloom-prefiltered semi join: BUILDING-segment customers'
        // orders. The bloom probe prunes the fact scan before the
        // shuffle; false positives are removed by the exact semi join,
        // so the plain EXISTS is the oracle.
        val dim = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        ScaleOps.bloomSemiJoin(
            t(s, dir, "orders"), dim, "o_custkey", "c_custkey",
            expectedItems = 200000L, fpp = 0.01)
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n_orders"),
            dsum("o_totalprice").as("total_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM customer c
          WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    Q("q114_winsorize",
      (s, dir) => {
        // per-group winsorization of order totals at the discrete
        // [p05, p95] band: bounds are actual data values
        // (percentile_disc, SQL-standard), so the clip is bit-identical
        // in both engines — no interpolation arithmetic anywhere.
        graft.quality.Outliers.winsorize(
            t(s, dir, "orders"), "o_totalprice", Seq("o_orderpriority"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            dsum("o_totalprice_w").as("clipped_total"),
            min(col("o_totalprice_w")).as("clip_lo"),
            max(col("o_totalprice_w")).as("clip_hi"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH b AS (
          SELECT o_orderpriority,
            percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice) AS lo,
            percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS hi
          FROM orders GROUP BY o_orderpriority),
        w AS (
          SELECT o.o_orderpriority,
            least(greatest(o.o_totalprice, b.lo), b.hi) AS v
          FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority)
        SELECT o_orderpriority, count(*) AS n_orders,
          CAST(sum(CAST(v AS DECIMAL(28,2))) AS DOUBLE) AS clipped_total,
          min(v) AS clip_lo, max(v) AS clip_hi
        FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Q("q115_tfidf",
      (s, dir) => {
        // per-document top-3 TF-IDF terms over a 200-doc slice (smooth
        // idf); the oracle replays the identical tf/df/ln arithmetic —
        // doubles agree because both engines compute the same
        // IEEE-754 expression from the same integer tf/df/N.
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        TextAnalysis.tfidf(docs, "doc_id", "text", topK = 3)
          .orderBy(col("doc_id"), desc("score"), col("term"))
      },
      Some("""WITH d AS (SELECT * FROM documents WHERE doc_id < 200),
        tok AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM d),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM tok
          WHERE term <> '' GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM d),
        s AS (
          SELECT tf.doc_id, tf.term,
            round(tf.tf * (ln((n.n + 1.0) / (dfreq.dfreq + 1.0)) + 1.0), 4) AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s)
        SELECT doc_id, term, score FROM r WHERE rk <= 3
        ORDER BY doc_id, score DESC, term""")),

    Q("q116_inverted_index",
      (s, dir) =>
        // mid-frequency inverted index: term → df + sorted posting
        // list; hot terms are cut by the df pre-pass BEFORE any posting
        // list is collected. Postings cross the hash boundary as a
        // comma-joined string (flat schema rule).
        TextAnalysis.invertedIndex(
            t(s, dir, "documents"), "doc_id", "text", minDf = 2L, maxDf = 400L)
          .orderBy("term"),
      Some("""WITH pairs AS (
          SELECT DISTINCT term, doc_id FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents) WHERE term <> ''),
        df AS (
          SELECT term, count(*) AS dfreq FROM pairs GROUP BY term
          HAVING count(*) BETWEEN 2 AND 400)
        SELECT p.term, df.dfreq,
          string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id) AS postings
        FROM pairs p JOIN df ON p.term = df.term
        GROUP BY p.term, df.dfreq ORDER BY p.term""")),

    Q("q117_split_leakproof",
      (s, dir) =>
        // domain-level train/val/test split (75/12.5/12.5): every doc of
        // a source lands in one split — the contamination guard. md5
        // bucketing, so DuckDB reproduces the exact assignment.
        ScaleOps.splitByGroup(
            t(s, dir, "documents"), "source",
            Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
          .groupBy("split")
          .agg(
            countDistinct(col("source")).as("n_sources"),
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("split"),
      Some("""WITH a AS (
          SELECT *, CASE
            WHEN substr(md5(source), 1, 8) < 'bfffffff' THEN 'train'
            WHEN substr(md5(source), 1, 8) < 'dfffffff' THEN 'val'
            ELSE 'test' END AS split
          FROM documents)
        SELECT split, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM a GROUP BY split ORDER BY split""")),

    Q("q118_hll_rollup",
      (s, dir) => {
        // mergeable-sketch distinct counting: per-(type, day) HLL
        // sketches rolled up to per-type by sketch UNION — the
        // pre-aggregation shape that answers rollups without re-scanning
        // raw data. rows-only by necessity: the estimate comes from
        // Spark's DataSketches HLL, which DuckDB cannot bit-reproduce;
        // accuracy vs exact (<5%) and merge associativity are pinned in
        // ScaleOpsSpec.
        val ev = events(s, dir).withColumn("day", expr("ts_sec div 86400"))
        val parts = ScaleOps.hllRollup(ev, Seq("event_type", "day"), "user_id")
        ScaleOps.hllMergeEstimate(parts, Seq("event_type"))
          .orderBy("event_type")
      },
      None),

    Q("q130_robust_scale",
      (s, dir) => {
        // median/MAD robust z-score per priority band: discrete medians
        // make every statistic an actual data value, so DuckDB replays
        // the identical arithmetic; |rz| > 2 flags the outlier tail.
        graft.quality.Outliers.robustScale(
            t(s, dir, "orders"), "o_totalprice", Seq("o_orderpriority"))
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(when(abs(col("o_totalprice_rz")) > 2, 1).otherwise(0))
              .cast("long").as("n_outliers"),
            round(min(col("o_totalprice_rz")), 4).as("min_rz"),
            round(max(col("o_totalprice_rz")), 4).as("max_rz"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH med AS (
          SELECT o_orderpriority,
            percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS m
          FROM orders GROUP BY 1),
        d AS (
          SELECT o.o_orderpriority, o.o_totalprice - med.m AS dev,
            abs(o.o_totalprice - med.m) AS adev
          FROM orders o JOIN med USING (o_orderpriority)),
        mad AS (
          SELECT o_orderpriority,
            percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS md
          FROM d GROUP BY 1),
        z AS (
          SELECT d.o_orderpriority,
            CASE WHEN mad.md = 0 THEN NULL ELSE d.dev / mad.md END AS rz
          FROM d JOIN mad USING (o_orderpriority))
        SELECT o_orderpriority, count(*) AS n_orders,
          CAST(sum(CASE WHEN abs(rz) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          round(min(rz), 4) AS min_rz, round(max(rz), 4) AS max_rz
        FROM z GROUP BY 1 ORDER BY 1""")),

    Q("q135_quantile_bin",
      (s, dir) =>
        // equal-frequency quartile binning of order totals per priority:
        // discrete boundaries are data values, so DuckDB reproduces the
        // exact bin of every row; per-bin counts and sums cross-check.
        graft.quality.Outliers.quantileBin(
            t(s, dir, "orders"), "o_totalprice", Seq("o_orderpriority"), nBins = 4)
          .groupBy(col("o_orderpriority"), col("o_totalprice_bin").as("bin"))
          .agg(
            count(lit(1)).as("n_orders"),
            dsum("o_totalprice").as("bin_total"))
          .orderBy("o_orderpriority", "bin"),
      Some("""WITH b AS (
          SELECT o_orderpriority,
            percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
            percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice) AS q2,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q3
          FROM orders GROUP BY o_orderpriority),
        a AS (
          SELECT o.o_orderpriority, o.o_totalprice,
            CAST(1 + (CASE WHEN o.o_totalprice > b.q1 THEN 1 ELSE 0 END)
                   + (CASE WHEN o.o_totalprice > b.q2 THEN 1 ELSE 0 END)
                   + (CASE WHEN o.o_totalprice > b.q3 THEN 1 ELSE 0 END) AS INT) AS bin
          FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority)
        SELECT o_orderpriority, bin, count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS bin_total
        FROM a GROUP BY o_orderpriority, bin ORDER BY o_orderpriority, bin""")),

    Q("q131_sliding_window",
      (s, dir) =>
        // batch event-time windows: 30-min windows sliding every 15 min
        // (each event lands in 2 windows). Cross-checks Spark's window()
        // epoch alignment against DuckDB's independent arithmetic
        // (generate_series of window starts) — the same semantics the
        // streaming twins rely on.
        events(s, dir)
          .groupBy(
            window(timestamp_seconds(col("ts_sec")), "30 minutes", "15 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(
            unix_timestamp(col("window.start")).as("wstart"),
            col("event_type"), col("n"))
          .orderBy("wstart", "event_type"),
      Some("""WITH e AS (
          SELECT event_type, epoch_ns(ts) // 1000000000 AS t FROM events),
        w AS (
          SELECT event_type,
            unnest(generate_series(((t - 1800) // 900 + 1) * 900,
                                   (t // 900) * 900, 900)) AS wstart
          FROM e)
        SELECT wstart, event_type, count(*) AS n
        FROM w GROUP BY wstart, event_type ORDER BY wstart, event_type""")),

    Q("q132_ngram_counts",
      (s, dir) =>
        // corpus bigram count table (top 50 by frequency): the LM-data
        // statistic behind vocabulary builds and Zipf audits; DuckDB
        // rebuilds the grams from the same filtered token lists.
        TextAnalysis.ngramCounts(t(s, dir, "documents"), "text", n = 2, minCount = 2L)
          .orderBy(desc("n_occurrences"), col("gram"))
          .limit(50),
      Some("""WITH tk AS (
          SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS ls
          FROM documents),
        pos AS (
          SELECT ls, unnest(generate_series(1, len(ls) - 1)) AS p
          FROM tk WHERE len(ls) >= 2),
        g AS (SELECT array_to_string(ls[p:p+1], ' ') AS gram FROM pos)
        SELECT gram, count(*) AS n_occurrences FROM g
        GROUP BY gram HAVING count(*) >= 2
        ORDER BY n_occurrences DESC, gram LIMIT 50""")),

    Q("q119_sample_k_per_group",
      (s, dir) =>
        // exactly-3-docs-per-language deterministic sample: md5-ranked
        // within each stratum, so DuckDB reproduces the exact pick.
        ScaleOps.sampleKPerGroup(t(s, dir, "documents"), "lang", "doc_id", 3)
          .select("lang", "doc_id", "n_chars")
          .orderBy("lang", "doc_id"),
      Some("""SELECT lang, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars, row_number() OVER (
            PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM documents) WHERE rk <= 3
        ORDER BY lang, doc_id""")),

    Q("q218_word_blocklist",
      (s, dir) =>
        // C4's doc-level "bad words" rule: whole-token matches against a
        // curated blocklist ('bitcoin' is absent from the fixture vocab,
        // exercising the zero-hit arm). Map-only; the list rides as a
        // literal array.
        TextAnalysis.wordBlocklistGate(t(s, dir, "documents"), "text",
            Seq("slow", "hash", "vector", "bitcoin"))
          .select(col("doc_id"), col("bad_terms"), col("n_bad_tokens"),
            col("blocked"))
          .orderBy("doc_id"),
      Some("""WITH tk AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
              w -> w IN ('slow', 'hash', 'vector', 'bitcoin')) AS hits
          FROM documents)
        SELECT doc_id,
          coalesce(array_to_string(list_sort(list_distinct(hits)), ' '), '')
            AS bad_terms,
          CAST(len(hits) AS BIGINT) AS n_bad_tokens,
          len(hits) > 0 AS blocked
        FROM tk ORDER BY doc_id""")),

    Q("q219_temperature_sample",
      (s, dir) => {
        // α=0.3 temperature mixing (the XLM-R multilingual rule):
        // per-language char shares smoothed by pow(·, 0.3), realized to
        // a 50k-char budget via the A-ES weighted sampler. Targets are
        // exact-decimal (floor(budget · round(share, 6))) so both
        // engines compute the same allocation; the selection replays
        // through the q142 md5-priority arithmetic.
        val d = t(s, dir, "documents")
        val targets = ScaleOps.temperatureTargets(d, "lang", "n_chars", 0.3, 50000L)
        val tgtCol = targets.toSeq.sortBy(_._1).foldLeft(lit(null).cast("long")) {
          case (acc, (l, v)) => when(col("lang") === l, lit(v)).otherwise(acc)
        }
        ScaleOps.temperatureSample(d, "doc_id", "lang", "n_chars", 0.3, 50000L)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .withColumn("tgt_tokens", tgtCol)
          .orderBy("lang")
      },
      Some("""WITH av AS (
          SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n
          FROM documents GROUP BY lang HAVING sum(n_chars) > 0),
        z AS (SELECT sum(pow(n, 0.3)) AS z FROM av),
        tg AS (
          SELECT lang,
            CAST(floor(50000 * CAST(round(pow(n, 0.3) / z.z, 6)
              AS DECIMAL(18,6))) AS BIGINT) AS tgt
          FROM av CROSS JOIN z),
        s AS (
          SELECT d.lang, d.doc_id, d.n_chars, tg.tgt,
            CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) AS hv
          FROM documents d JOIN tg ON d.lang = tg.lang),
        r AS (
          SELECT *, pow((hv + 0.5) / 4294967296.0,
            1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS aes
          FROM s),
        c AS (
          SELECT *, coalesce(sum(n_chars) OVER (PARTITION BY lang
            ORDER BY aes DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM r)
        SELECT lang, count(*) AS n_kept,
          CAST(sum(n_chars) AS BIGINT) AS total_chars, tgt AS tgt_tokens
        FROM c WHERE cum < tgt GROUP BY lang, tgt ORDER BY lang""")),

    Q("q220_paragraph_dedup",
      (s, dir) => {
        // intra-document repeated-paragraph removal: the fixture plants
        // a templated banner twice in every doc, a repeated lead
        // paragraph on the %3 arm, and a double blank line — all must
        // collapse to their first occurrence, order preserved, inside
        // one map-only HOF (no explode, no shuffle).
        val docs = t(s, dir, "documents").select(col("doc_id"),
          concat_ws("\n",
            substring(col("text"), 1, 50),
            lit("subscribe to our newsletter"),
            substring(col("text"), 51, 50),
            lit("subscribe to our newsletter"),
            when(pmod(col("doc_id"), lit(3)) === 0, substring(col("text"), 1, 50))
              .otherwise(lit("closing remarks")),
            lit(""),
            lit("")).as("text"))
        TextAnalysis.dropRepeatedParagraphs(docs, "text")
          .select("doc_id", "clean_text", "n_paragraphs", "n_dropped")
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id, concat_ws(chr(10),
            substr(text, 1, 50),
            'subscribe to our newsletter',
            substr(text, 51, 50),
            'subscribe to our newsletter',
            CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 50)
                 ELSE 'closing remarks' END,
            '', '') AS text
          FROM documents),
        t AS (
          SELECT doc_id,
            list_transform(string_split(text, chr(10)), p -> trim(p)) AS ps
          FROM docs),
        u AS (
          SELECT doc_id, ps[i] AS p, i
          FROM (SELECT doc_id, ps,
                  unnest(generate_series(1, len(ps))) AS i FROM t)),
        f AS (
          SELECT doc_id, p, min(i) AS o FROM u GROUP BY doc_id, p),
        r AS (
          SELECT doc_id, string_agg(p, chr(10) ORDER BY o) AS clean_text,
            CAST(count(*) AS BIGINT) AS n_kept
          FROM f GROUP BY doc_id)
        SELECT t.doc_id, r.clean_text,
          CAST(len(t.ps) AS BIGINT) AS n_paragraphs,
          CAST(len(t.ps) - r.n_kept AS BIGINT) AS n_dropped
        FROM t JOIN r ON t.doc_id = r.doc_id
        ORDER BY t.doc_id""")),

    Q("q221_dp_noised_counts",
      (s, dir) =>
        // ε=0.5 Laplace-mechanism release of (lang, source) counts —
        // the md5-derived draw makes even the NOISE replayable
        // arithmetic (q203's Gumbel discipline applied to Laplace).
        Privacy.dpNoisedCounts(t(s, dir, "documents"),
            Seq("lang", "source"), epsilon = 0.5, seed = 7L)
          .orderBy("lang", "source"),
      Some("""WITH g AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS class_size
          FROM documents GROUP BY lang, source),
        n AS (
          SELECT *,
            (CAST(CAST(('0x' || substr(
               md5(md5('7') || md5(lang) || md5(source)), 1, 13))
               AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
          FROM g)
        SELECT lang, source, class_size,
          round(class_size +
            round(-2.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6), 6)
            AS noised_count
        FROM n ORDER BY lang, source""")),

    Q("q222_cluster_safe_split",
      (s, dir) => {
        // leakage-free split construction: consecutive-id chains at
        // ids ≡ 1..3 (mod 10) form 4-node path components — the whole
        // chain must land in ONE split (the distributed closure picks
        // the rep; md5(rep) picks the split). The prevention twin of
        // the q160 audit.
        val d = t(s, dir, "documents")
        val pairs = d.select(col("doc_id").as("id_a"))
          .filter(pmod(col("id_a"), lit(10)).isin(1, 2, 3))
          .join(d.select(col("doc_id").as("id_b")),
            col("id_b") === col("id_a") + 1)
        Dedup.splitByCluster(d, "doc_id", pairs)
          .select("doc_id", "cluster_rep", "split")
          .orderBy("doc_id")
      },
      Some("""WITH e AS (
          SELECT a.doc_id AS u
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 10 IN (1, 2, 3)),
        nodes AS (
          SELECT DISTINCT v FROM (
            SELECT u AS v FROM e UNION ALL SELECT u + 1 AS v FROM e)),
        isl AS (
          SELECT v, v - row_number() OVER (ORDER BY v) AS grp FROM nodes),
        rep AS (
          SELECT v, min(v) OVER (PARTITION BY grp) AS r FROM isl),
        assigned AS (
          SELECT d.doc_id,
            CAST(coalesce(rep.r, d.doc_id) AS BIGINT) AS cluster_rep
          FROM documents d LEFT JOIN rep ON rep.v = d.doc_id),
        h AS (
          SELECT doc_id, cluster_rep,
            substr(md5(CAST(cluster_rep AS VARCHAR)), 1, 8) AS hx
          FROM assigned)
        SELECT doc_id, cluster_rep,
          CASE WHEN hx < 'cccccccc' THEN 'train'
               WHEN hx < 'e6666665' THEN 'val'
               ELSE 'test' END AS split
        FROM h ORDER BY doc_id""")),

    Q("q223_split_advance_incremental",
      (s, dir) => {
        // split STABILITY under growth: docs < 400 are the assigned
        // store (q222's chains); the batch brings its own chains plus
        // three bridges — (151,451) merges a train cluster into a batch
        // chain (inherit arm), (71,461)+(181,461) merge a val and a
        // test cluster (conflict arm → the batch chain quarantines,
        // store rows KEEP their splits). Batch-only chains must hash
        // exactly as the batch operator would.
        import s.implicits._
        val d = t(s, dir, "documents")
        val chain = d.select(col("doc_id").as("id_a"))
          .filter(pmod(col("id_a"), lit(10)).isin(1, 2, 3))
          .join(d.select(col("doc_id").as("id_b")),
            col("id_b") === col("id_a") + 1)
        val store = Dedup.splitByCluster(
            d.filter(col("doc_id") < 400), "doc_id",
            chain.filter(col("id_b") < 400))
          .select(col("doc_id"), col("cluster_rep"), col("split"))
        val batchPairs = chain.filter(col("id_a") >= 400)
          .unionByName(Seq((151L, 451L), (71L, 461L), (181L, 461L))
            .toDF("id_a", "id_b"))
        val (adv, _) = Dedup.splitByClusterIncremental(
          store, d.filter(col("doc_id") >= 400), "doc_id", batchPairs)
        adv.select(col("doc_id"), col("cluster_rep"),
            coalesce(col("split"), lit("quarantine")).as("split"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE chain AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 10 IN (1, 2, 3)),
        store_pairs AS (SELECT * FROM chain WHERE id_b < 400),
        batch_pairs AS (
          SELECT * FROM chain WHERE id_a >= 400
          UNION ALL
          SELECT * FROM (VALUES (151, 451), (71, 461), (181, 461)) v(id_a, id_b)),
        all_pairs AS (
          SELECT * FROM store_pairs UNION ALL SELECT * FROM batch_pairs),
        se AS (SELECT id_a AS u FROM store_pairs),
        snodes AS (SELECT DISTINCT v FROM (
          SELECT u AS v FROM se UNION ALL SELECT u + 1 AS v FROM se)),
        sisl AS (SELECT v, v - row_number() OVER (ORDER BY v) AS grp FROM snodes),
        srep AS (SELECT v, min(v) OVER (PARTITION BY grp) AS r FROM sisl),
        store0 AS (
          SELECT d.doc_id, CAST(coalesce(srep.r, d.doc_id) AS BIGINT) AS rep0
          FROM documents d LEFT JOIN srep ON srep.v = d.doc_id
          WHERE d.doc_id < 400),
        store_split AS (
          SELECT doc_id, rep0,
            CASE WHEN substr(md5(CAST(rep0 AS VARCHAR)), 1, 8) < 'cccccccc'
                   THEN 'train'
                 WHEN substr(md5(CAST(rep0 AS VARCHAR)), 1, 8) < 'e6666665'
                   THEN 'val'
                 ELSE 'test' END AS split
          FROM store0),
        edges AS (
          SELECT id_a AS u, id_b AS w FROM all_pairs
          UNION SELECT id_b, id_a FROM all_pairs),
        gnodes AS (SELECT DISTINCT u AS v FROM edges),
        reach(v, r) AS (
          SELECT v, v FROM gnodes
          UNION
          SELECT reach.v, e.w FROM reach JOIN edges e ON e.u = reach.r),
        canon AS (SELECT v, CAST(min(r) AS BIGINT) AS c FROM reach GROUP BY v),
        adv_store AS (
          SELECT ss.doc_id,
            CAST(coalesce(c2.c, ss.rep0) AS BIGINT) AS cluster_rep, ss.split
          FROM store_split ss LEFT JOIN canon c2 ON c2.v = ss.rep0),
        binh AS (
          SELECT cluster_rep AS c, count(DISTINCT split) AS n, min(split) AS s
          FROM adv_store GROUP BY cluster_rep),
        batch0 AS (
          SELECT d.doc_id, CAST(coalesce(c2.c, d.doc_id) AS BIGINT) AS cluster_rep
          FROM documents d LEFT JOIN canon c2 ON c2.v = d.doc_id
          WHERE d.doc_id >= 400),
        batch_assigned AS (
          SELECT b.doc_id, b.cluster_rep,
            CASE WHEN i.n IS NULL THEN
                CASE WHEN substr(md5(CAST(b.cluster_rep AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                     WHEN substr(md5(CAST(b.cluster_rep AS VARCHAR)), 1, 8)
                       < 'e6666665' THEN 'val'
                     ELSE 'test' END
              WHEN i.n = 1 THEN i.s
              ELSE 'quarantine' END AS split
          FROM batch0 b LEFT JOIN binh i ON i.c = b.cluster_rep)
        SELECT doc_id, cluster_rep, split FROM adv_store
        UNION ALL
        SELECT doc_id, cluster_rep, split FROM batch_assigned
        ORDER BY doc_id""")),

    Q("q224_dedup_minhash_bbit",
      (s, dir) =>
        // q81's near-dup pass with the 1-bit-sketch screen between
        // banding and exact verification (Li & König b-bit minhash):
        // rejected candidates cost a 16-byte sketch compare instead of
        // hauling two shingle arrays. Same output contract — the screen
        // at 0.5 − 0.3 = 0.2 cannot drop a J ≥ 0.9 true pair
        // (P(Ĵ < 0.2 | J = 0.9) ≈ Binomial(128, .95) below 77 hits —
        // beyond astronomic), so the q81 exhaustive oracle replays
        // row-for-row.
        Dedup.minHashNearDupsBBit(
          t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
        ORDER BY id_a, id_b""")),

    Q("q225_dedup_minhash_oneperm",
      (s, dir) =>
        // q81's near-dup pass on the ONE-PERMUTATION kernel (Li, Owen &
        // Zhang 2012 + rotation densification): O(n + k) hashes per doc
        // instead of the k-permutation kernel's O(n·k) multiply-mods —
        // the signature stage is the map-side hot loop of every minhash
        // operator. Banding recall at the fixture's J ≥ 0.9 pairs is
        // the same 1 − (1 − J⁴)³² ≈ 1 − 1e-15 S-curve (per-bin match
        // probability is J), and the output is exact-verified either
        // way, so the q81 exhaustive oracle replays row-for-row.
        Dedup.minHashNearDups(
          t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5, oneperm = true)
          .orderBy("id_a", "id_b"),
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0
          AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
        ORDER BY id_a, id_b""")),

    Q("q226_training_data_run",
      (s, dir) => {
        // END-TO-END round-9 scenario (the q188 one-scenario pattern):
        // crawl pages with a templated banner → doc-level bad-words
        // gate → intra-doc paragraph dedup → token count →
        // α-temperature language mix to a fixed budget → fixed-budget
        // shard assignment → per-shard emission stats. Every stage is
        // engine-replayable arithmetic, so the WHOLE run carries one
        // hash oracle — the composition is the point: the gate feeds
        // the cleaner feeds the mixer feeds the sharder with no glue.
        val pages = t(s, dir, "documents").select(col("doc_id"), col("lang"),
          concat_ws("\n",
            lit("subscribe to our newsletter"),
            substring(col("text"), 1, 80),
            lit("subscribe to our newsletter"),
            substring(col("text"), 81, 10000)).as("text"))
        val admitted = TextAnalysis.wordBlocklistGate(pages, "text", Seq("vector"))
          .filter(!col("blocked"))
          .drop("bad_terms", "n_bad_tokens", "blocked")
        val cleaned = TextAnalysis.dropRepeatedParagraphs(admitted, "text")
          .withColumn("n_tok",
            size(split(trim(col("clean_text")), "\\s+")).cast("long"))
        val mixed = ScaleOps.temperatureSample(
          cleaned, "doc_id", "lang", "n_tok", alpha = 0.3, totalTokens = 8000L)
        ScaleOps.shardByTokenBudget(
            mixed.select(col("doc_id"), col("lang"), col("n_tok")),
            "doc_id", "n_tok", budget = 2000L)
          .groupBy("shard")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("total_tokens"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy("shard")
      },
      Some("""WITH pages AS (
          SELECT doc_id, lang, concat_ws(chr(10),
            'subscribe to our newsletter',
            substr(text, 1, 80),
            'subscribe to our newsletter',
            substr(text, 81, 10000)) AS text
          FROM documents),
        adm AS (
          SELECT * FROM pages
          WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                w -> w IN ('vector'))) = 0),
        t AS (
          SELECT doc_id, lang,
            list_transform(string_split(text, chr(10)), p -> trim(p)) AS ps
          FROM adm),
        u AS (
          SELECT doc_id, lang, ps[i] AS p, i FROM (
            SELECT doc_id, lang, ps,
              unnest(generate_series(1, len(ps))) AS i FROM t)),
        f AS (SELECT doc_id, lang, p, min(i) AS o FROM u GROUP BY doc_id, lang, p),
        r AS (
          SELECT doc_id, lang, string_agg(p, chr(10) ORDER BY o) AS clean_text
          FROM f GROUP BY doc_id, lang),
        tok AS (
          SELECT doc_id, lang,
            CAST(len(regexp_split_to_array(trim(clean_text), '\s+')) AS BIGINT) AS n_tok
          FROM r),
        av AS (
          SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS n
          FROM tok GROUP BY lang HAVING sum(n_tok) > 0),
        z AS (SELECT sum(pow(n, 0.3)) AS z FROM av),
        tg AS (
          SELECT lang,
            CAST(floor(8000 * CAST(round(pow(n, 0.3) / z.z, 6)
              AS DECIMAL(18,6))) AS BIGINT) AS tgt
          FROM av CROSS JOIN z),
        sln AS (
          SELECT tok.doc_id, tok.lang, tok.n_tok, tg.tgt,
            CAST(('0x' || substr(md5(CAST(tok.doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) AS hv
          FROM tok JOIN tg ON tok.lang = tg.lang),
        pr AS (
          SELECT *, pow((hv + 0.5) / 4294967296.0,
            1.0 / greatest(CAST(n_tok AS DOUBLE), 1.0)) AS aes
          FROM sln),
        cm AS (
          SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY lang
            ORDER BY aes DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM pr),
        mixed AS (SELECT doc_id, lang, n_tok FROM cm WHERE cum < tgt),
        sh AS (
          SELECT doc_id, lang, n_tok,
            CAST((sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              - n_tok) // 2000 AS BIGINT) AS shard
          FROM mixed)
        SELECT shard, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS total_tokens,
          count(DISTINCT lang) AS n_langs
        FROM sh GROUP BY shard ORDER BY shard""")),

    Q("q227_kmv_overlap_matrix",
      (s, dir) =>
        // which sources mirror each other: q201's sketch-overlap
        // estimate for EVERY source pair, from one corpus scan into
        // per-source mergeable bottom-k sketches (k=256 over 5-word
        // shingles). The md5-60-bit keys make all 190 estimates
        // replayable arithmetic — a full hash oracle on a pairwise
        // sketch matrix.
        ScaleOps.kmvOverlapMatrix(
          t(s, dir, "documents"), "source", "text", w = 5, k = 256)
          .orderBy("grp_a", "grp_b"),
      Some("""WITH base AS (
          SELECT source, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT source, t, len(t) - 4 AS ns FROM base WHERE len(t) >= 5),
        pos AS (
          SELECT source, t, unnest(generate_series(0, ns - 1)) AS p FROM nn),
        shd AS (
          SELECT DISTINCT source,
            CAST(concat('0x',
              substr(md5(array_to_string(t[p+1 : p+5], ' ')), 1, 15))
              AS BIGINT) AS h
          FROM pos),
        rk AS (
          SELECT source, h,
            row_number() OVER (PARTITION BY source ORDER BY h) AS r
          FROM shd),
        sk AS (SELECT source, h FROM rk WHERE r <= 256),
        ks AS (SELECT source, count(*) AS n, max(h) AS kth FROM sk GROUP BY source),
        pairs AS (
          SELECT a.source AS grp_a, b.source AS grp_b
          FROM ks a JOIN ks b ON a.source < b.source),
        joined AS (
          SELECT p.grp_a, p.grp_b, s.h, s.source
          FROM pairs p JOIN sk s ON s.source = p.grp_a OR s.source = p.grp_b),
        g AS (
          SELECT grp_a, grp_b, h,
            max(CASE WHEN source = grp_a THEN 1 ELSE 0 END) AS in_a,
            max(CASE WHEN source = grp_b THEN 1 ELSE 0 END) AS in_b
          FROM joined GROUP BY grp_a, grp_b, h),
        r2 AS (
          SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS r
          FROM g),
        su AS (SELECT * FROM r2 WHERE r <= 256),
        agg AS (
          SELECT grp_a, grp_b, count(*) AS union_k,
            sum(in_a * in_b) AS inter
          FROM su GROUP BY grp_a, grp_b)
        SELECT a.grp_a, a.grp_b,
          CAST(256 AS INTEGER) AS k,
          CAST(a.union_k AS INTEGER) AS union_k,
          CASE WHEN x.n < 256 THEN CAST(x.n AS DOUBLE)
               ELSE round(255.0 / (CAST(x.kth AS DOUBLE) / 1152921504606846976.0), 4)
          END AS d_a_est,
          CASE WHEN y.n < 256 THEN CAST(y.n AS DOUBLE)
               ELSE round(255.0 / (CAST(y.kth AS DOUBLE) / 1152921504606846976.0), 4)
          END AS d_b_est,
          round(CAST(a.inter AS DOUBLE) / CAST(a.union_k AS DOUBLE), 6) AS jaccard_est
        FROM agg a
        JOIN ks x ON x.source = a.grp_a
        JOIN ks y ON y.source = a.grp_b
        ORDER BY a.grp_a, a.grp_b""")),

    Q("q228_kmv_matrix_advance",
      (s, dir) => {
        // daily-ingest advance of the overlap-matrix state: sketches of
        // the even-doc "history" merge with the odd-doc "batch" WITHOUT
        // re-reading history. Bottom-k of a union == bottom-k of the
        // sub-sketches' union (exact, not approximate), so the oracle
        // is q227's full-rebuild replay verbatim.
        val d = t(s, dir, "documents")
        val store = ScaleOps.kmvSketches(
          d.filter(pmod(col("doc_id"), lit(2)) === 0), "source", "text",
          w = 5, k = 256)
        val (_, matrix) = ScaleOps.kmvOverlapMatrixAdvance(
          store, d.filter(pmod(col("doc_id"), lit(2)) === 1),
          "source", "text", w = 5, k = 256)
        matrix.orderBy("grp_a", "grp_b")
      },
      Some("""WITH base AS (
          SELECT source, string_split(text, ' ') AS t FROM documents),
        nn AS (
          SELECT source, t, len(t) - 4 AS ns FROM base WHERE len(t) >= 5),
        pos AS (
          SELECT source, t, unnest(generate_series(0, ns - 1)) AS p FROM nn),
        shd AS (
          SELECT DISTINCT source,
            CAST(concat('0x',
              substr(md5(array_to_string(t[p+1 : p+5], ' ')), 1, 15))
              AS BIGINT) AS h
          FROM pos),
        rk AS (
          SELECT source, h,
            row_number() OVER (PARTITION BY source ORDER BY h) AS r
          FROM shd),
        sk AS (SELECT source, h FROM rk WHERE r <= 256),
        ks AS (SELECT source, count(*) AS n, max(h) AS kth FROM sk GROUP BY source),
        pairs AS (
          SELECT a.source AS grp_a, b.source AS grp_b
          FROM ks a JOIN ks b ON a.source < b.source),
        joined AS (
          SELECT p.grp_a, p.grp_b, s.h, s.source
          FROM pairs p JOIN sk s ON s.source = p.grp_a OR s.source = p.grp_b),
        g AS (
          SELECT grp_a, grp_b, h,
            max(CASE WHEN source = grp_a THEN 1 ELSE 0 END) AS in_a,
            max(CASE WHEN source = grp_b THEN 1 ELSE 0 END) AS in_b
          FROM joined GROUP BY grp_a, grp_b, h),
        r2 AS (
          SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS r
          FROM g),
        su AS (SELECT * FROM r2 WHERE r <= 256),
        agg AS (
          SELECT grp_a, grp_b, count(*) AS union_k,
            sum(in_a * in_b) AS inter
          FROM su GROUP BY grp_a, grp_b)
        SELECT a.grp_a, a.grp_b,
          CAST(256 AS INTEGER) AS k,
          CAST(a.union_k AS INTEGER) AS union_k,
          CASE WHEN x.n < 256 THEN CAST(x.n AS DOUBLE)
               ELSE round(255.0 / (CAST(x.kth AS DOUBLE) / 1152921504606846976.0), 4)
          END AS d_a_est,
          CASE WHEN y.n < 256 THEN CAST(y.n AS DOUBLE)
               ELSE round(255.0 / (CAST(y.kth AS DOUBLE) / 1152921504606846976.0), 4)
          END AS d_b_est,
          round(CAST(a.inter AS DOUBLE) / CAST(a.union_k AS DOUBLE), 6) AS jaccard_est
        FROM agg a
        JOIN ks x ON x.source = a.grp_a
        JOIN ks y ON y.source = a.grp_b
        ORDER BY a.grp_a, a.grp_b""")),

    Q("q229_dedup_ledger",
      (s, dir) => {
        // cross-RUN exact-dedup ledger (DedupLedger): day 1 ingests
        // docs < 300; day 2 is the realistic re-crawl — it OVERLAPS
        // yesterday (docs ≥ 200) and contains its own in-batch copies
        // (docs ≥ 450 re-fetched under new ids). The ledger must
        // reject the overlap by md5 fingerprint (never by id), the
        // in-batch dedup must keep the smallest id per fingerprint,
        // and only the genuinely-new 300–499 originals come out. The
        // md5-keyed ledger is pure replayable arithmetic, so the
        // whole two-batch protocol carries a full hash oracle;
        // idempotent replay (re-ingest accepts zero) is spec-pinned.
        val root = scratchDir("graft-q229") + "/ledger"
        val d = t(s, dir, "documents")
        DedupLedger.ingest(s, root, d.filter(col("doc_id") < 300), "day1")
        val recrawl = d.filter(col("doc_id") >= 200).unionByName(
          d.filter(col("doc_id") >= 450)
            .withColumn("doc_id", col("doc_id") + 1000))
        DedupLedger.ingest(s, root, recrawl, "day2")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""WITH f AS (
          SELECT doc_id, lang, source, n_chars,
            md5(lower(trim(text))) AS fp
          FROM documents),
        b1 AS (SELECT DISTINCT fp FROM f WHERE doc_id < 300),
        b2r AS (
          SELECT doc_id, lang, source, n_chars, fp FROM f WHERE doc_id >= 200
          UNION ALL
          SELECT doc_id + 1000 AS doc_id, lang, source, n_chars, fp
          FROM f WHERE doc_id >= 450),
        b2 AS (
          SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM b2r)
        SELECT doc_id, lang, source, n_chars FROM b2
        WHERE rn = 1 AND fp NOT IN (SELECT fp FROM b1)
        ORDER BY doc_id""")),

    Q("q230_ivf_append",
      (s, dir) => {
        // O(batch) IVF index APPEND: the day-0 index persists cell-
        // partitioned with centroids trained on the base corpus; the
        // batch (every 10th vector) appends against the FROZEN
        // quantizer — history files are never read or rewritten. The
        // query then probes the post-append index with nprobe = C = 16
        // (probing every cell makes IVF exact by construction, q91's
        // parameterization), so append ≡ rebuild is checked by the
        // exhaustive top-k oracle over the WHOLE corpus: a batch
        // vector mis-assigned, dropped, or duplicated by the append
        // breaks the hash.
        val root = scratchDir("graft-q230") + "/ivf"
        val e = t(s, dir, "embeddings")
        val corpus = e.filter(col("vec_id") =!= 1)
        val base = corpus.filter(col("vec_id") % 10 =!= 0)
        val batch = corpus.filter(col("vec_id") % 10 === 0)
        val cents = Similarity.kmeansCentroids(base, "vec_id", "embedding", 16, iters = 2)
        Similarity.writeIvfIndex(
          Similarity.ivfIndex(base, "vec_id", "embedding", cents), root)
        Similarity.appendIvfIndex(batch, "vec_id", "embedding", cents, root)
        val q = e.filter(col("vec_id") === 1).select("embedding").head()
          .getSeq[Float](0).toArray
        Similarity.readIvfTopK(s, root, "vec_id", "embedding", cents, q,
          k = 10, nprobe = 16, scale = 4)
      },
      // exact top-k oracle — same as q90/q91 (nprobe=C makes IVF exact;
      // the appended index must contain exactly the corpus)
      Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1),
        c AS (
          SELECT b.vec_id,
            round(
              list_sum(list_transform(list_zip(b.embedding, q.qe),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qe,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
          FROM embeddings b, q WHERE b.vec_id <> 1)
        SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10""")),

    Q("q231_golden_advance",
      (s, dir) => {
        // the COMPOSED incremental ER step (goldenRecordAdvance) on a
        // BRIDGING fixture: incremental linkage scores only
        // batch-touching pairs, the ENTITY-level graph closes
        // transitively, and the mergeable survivorship state re-keys +
        // re-aggregates without re-reading history. Because the natural
        // pair graph is all cliques (no batch row connects two distinct
        // base entities), the batch additionally carries five synthetic
        // CONNECTOR rows — for the five smallest near-miss base pairs
        // (same type/block, name similarity just under threshold), a
        // one-char name splice that scores >= 0.85 to BOTH sides — so
        // the merge path (two existing golden records collapsing into
        // one) actually executes. The connectors are deterministic
        // replayable arithmetic (levenshtein + substr), so the oracle
        // rebuilds them verbatim and replays q186's full closure over
        // part + connectors, side-filtered to batch-touched entities
        // (advance == rebuild, spec-pinned; this makes it driver-gated).
        val p = t(s, dir, "part")
          .withColumn("name_noun", element_at(split(col("p_name"), " "), -1))
        // one planning job for both scalars (was two separate scans)
        val cutRow = p.agg(
          expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY p_partkey)"),
          max("p_partkey")).head()
        val cut = cutRow.getDouble(0).toLong
        val maxKey = cutRow.getLong(1)
        val mode = Seq("p_type", "p_size")
        val long = Seq("p_name")
        val newest = Seq(("p_retailprice", "p_partkey"))
        val base = p.filter(col("p_partkey") <= cut)
        def nameSim(a: Column, b: Column): Column =
          round(lit(1.0) - levenshtein(a, b).cast("double") /
            greatest(length(a), length(b), lit(1)), 6)
        // the connector SEARCH is fixture scaffolding, not the operator
        // under test — bound its within-block self-join to the 2000
        // smallest base keys so it stays O(1) at any corpus scale (at
        // the sf0.01 oracle scale the whole base fits the slice, so the
        // slice is a no-op there; the sf1 rehearsal caught the unbounded
        // form at 38 s). The ADVANCE itself is pair-budgeted internally.
        val connBase = base.orderBy(col("p_partkey")).limit(2000)
        val lhs = connBase.select(col("p_partkey").as("id_a"), col("p_name").as("an"),
          col("p_brand"), col("name_noun"), col("p_type"),
          col("p_size"), col("p_retailprice"))
        val rhs = connBase.select(col("p_partkey").as("id_b"), col("p_name").as("bn"),
          col("p_brand"), col("name_noun"), col("p_type"))
        val conn = lhs.join(rhs, Seq("p_brand", "name_noun", "p_type"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("hn", concat(substring(col("bn"), 1, 1),
            substring(col("an"), 2, 1000000)))
          .withColumn("simn", nameSim(col("an"), col("bn")))
          .withColumn("sha", nameSim(col("hn"), col("an")))
          .withColumn("shb", nameSim(col("hn"), col("bn")))
          .filter(round(lit(0.6) * col("simn") + lit(0.4), 6) < 0.85)
          .filter(round(lit(0.6) * col("sha") + lit(0.4), 6) >= 0.85)
          .filter(round(lit(0.6) * col("shb") + lit(0.4), 6) >= 0.85)
          .filter(element_at(split(col("hn"), " "), -1) === col("name_noun"))
          .orderBy("id_a", "id_b").limit(5)
          .withColumn("__rn",
            row_number().over(Window.orderBy("id_a", "id_b")).cast("long"))
        val synth = conn.select(
          (lit(maxKey) + col("__rn")).as("p_partkey"),
          col("hn").as("p_name"),
          col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"),
          element_at(split(col("hn"), " "), -1).as("name_noun"))
        // barrier: the batch (whose lineage carries the connector
        // SEARCH self-join) feeds FOUR consumers inside the advance
        // (linkage slim projection, idToEnt, batch survivorship state,
        // touched set) — without it the search chain re-executes per
        // consumer (guide §7.2; measured 4 evaluations at sf0.1)
        val batch = Barrier(p.filter(col("p_partkey") > cut)
          .unionByName(synth.select(p.columns.map(col).toIndexedSeq: _*)), "q231.batch")
        // barrier: the resolved store feeds the survivorship state, the
        // incremental linkage, and the entity map — one materialization
        val store = Barrier(EntityResolution.resolve(
          base, "p_partkey",
          blockCols = Seq("p_brand", "name_noun"),
          fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
          threshold = 0.85), "q231.store")
        val state = EntityResolution.goldenRecordState(
          store, "entity_id", mode, long, newest)
        val (newState, remap) = EntityResolution.goldenRecordAdvance(
          store, state, batch, "p_partkey",
          blockCols = Seq("p_brand", "name_noun"),
          fields = Seq(("p_name", 0.6), ("p_type", 0.4)),
          threshold = 0.85,
          modeFields = mode, longestFields = long, newestFields = newest)
        val touched = batch.select(col("p_partkey").as("__ent"))
          .join(remap, Seq("__ent"), "left")
          .select(coalesce(col("__canon"), col("__ent")).as("__ent"))
          .unionByName(remap.select(col("__canon").as("__ent")))
          .distinct()
        EntityResolution.goldenRecordFromState(
            newState.join(touched, Seq("__ent"), "left_semi"),
            store, "entity_id", mode, long, newest)
          .orderBy("entity_id")
      },
      // q186's full replay over part + the rebuilt connectors,
      // side-filtered to batch-touched entities (every merged group
      // contains a batch row, so "touched u merged" IS "contains a
      // batch row"; connector keys are > cut by construction)
      Some("""WITH RECURSIVE
        cut AS (
          SELECT percentile_disc(0.8) WITHIN GROUP (ORDER BY p_partkey) AS c
          FROM part),
        mx AS (SELECT max(p_partkey) AS m FROM part),
        cbase AS (
          SELECT p.* FROM part p, cut
          WHERE p.p_partkey <= c ORDER BY p.p_partkey LIMIT 2000),
        candp AS (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
            a.p_name AS an, b.p_name AS bn,
            a.p_brand, a.p_type, a.p_size, a.p_retailprice,
            concat(substr(b.p_name, 1, 1), substr(a.p_name, 2, 1000000)) AS hn,
            round(1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
              / greatest(len(a.p_name), len(b.p_name), 1), 6) AS simn
          FROM cbase a JOIN cbase b
            ON a.p_brand = b.p_brand
            AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
            AND a.p_type = b.p_type
            AND a.p_partkey < b.p_partkey),
        hsc AS (
          SELECT *,
            round(1.0 - CAST(levenshtein(hn, an) AS DOUBLE)
              / greatest(len(hn), len(an), 1), 6) AS sha,
            round(1.0 - CAST(levenshtein(hn, bn) AS DOUBLE)
              / greatest(len(hn), len(bn), 1), 6) AS shb
          FROM candp),
        picked AS (
          SELECT * FROM hsc
          WHERE round(0.6 * simn + 0.4, 6) < 0.85
            AND round(0.6 * sha + 0.4, 6) >= 0.85
            AND round(0.6 * shb + 0.4, 6) >= 0.85
            AND string_split(hn, ' ')[-1] = string_split(an, ' ')[-1]
          ORDER BY id_a, id_b LIMIT 5),
        conn AS (
          SELECT *, row_number() OVER (ORDER BY id_a, id_b) AS rn FROM picked),
        allp AS (
          SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
          FROM part
          UNION ALL
          SELECT mx.m + conn.rn, conn.hn, conn.p_brand, conn.p_type,
                 conn.p_size, conn.p_retailprice
          FROM conn, mx),
        pr AS (
          SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
          FROM allp a JOIN allp b
            ON a.p_brand = b.p_brand
            AND string_split(a.p_name, ' ')[-1] = string_split(b.p_name, ' ')[-1]
            AND a.p_partkey < b.p_partkey
          WHERE round(
              0.6 * (1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
                     / greatest(len(a.p_name), len(b.p_name), 1)) +
              0.4 * (1.0 - CAST(levenshtein(a.p_type, b.p_type) AS DOUBLE)
                     / greatest(len(a.p_type), len(b.p_type), 1)), 6) >= 0.85),
        e AS (SELECT id_a AS a, id_b AS b FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, min(lab) AS cluster FROM r GROUP BY id),
        res AS (
          SELECT p.*, CAST(coalesce(l.cluster, p.p_partkey) AS BIGINT) AS entity_id
          FROM allp p LEFT JOIN lab l ON l.id = p.p_partkey),
        touched AS (
          SELECT DISTINCT entity_id FROM res, cut WHERE p_partkey > c),
        base AS (SELECT entity_id, count(*) AS n_members FROM res GROUP BY entity_id),
        modep AS (
          SELECT entity_id, p_type FROM (
            SELECT entity_id, p_type,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY cnt DESC, p_type ASC) AS rn
            FROM (SELECT entity_id, p_type, count(*) AS cnt FROM res
                  WHERE p_type IS NOT NULL GROUP BY entity_id, p_type))
          WHERE rn = 1),
        modec AS (
          SELECT entity_id, p_size FROM (
            SELECT entity_id, p_size,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY cnt DESC, CAST(p_size AS VARCHAR) ASC) AS rn
            FROM (SELECT entity_id, p_size, count(*) AS cnt FROM res
                  WHERE p_size IS NOT NULL GROUP BY entity_id, p_size))
          WHERE rn = 1),
        longp AS (
          SELECT entity_id, p_name FROM (
            SELECT entity_id, p_name,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY len(p_name) DESC, p_name ASC) AS rn
            FROM res WHERE p_name IS NOT NULL)
          WHERE rn = 1),
        newp AS (
          SELECT entity_id, p_retailprice FROM (
            SELECT entity_id, p_retailprice,
              row_number() OVER (PARTITION BY entity_id
                ORDER BY p_partkey DESC) AS rn
            FROM res)
          WHERE rn = 1)
        SELECT b.entity_id, b.n_members, m.p_type, c.p_size,
               lo.p_name, n.p_retailprice
        FROM base b
        JOIN touched t USING (entity_id)
        LEFT JOIN modep m USING (entity_id)
        LEFT JOIN modec c USING (entity_id)
        LEFT JOIN longp lo USING (entity_id)
        LEFT JOIN newp n USING (entity_id)
        ORDER BY entity_id""")),

    Q("q232_mix_realization",
      (s, dir) => {
        // q204's mix plan REALIZED (mixAtMaxBudget): the solver's
        // per-stratum allocations at the largest feasible 2-epoch
        // budget (weights 1/2, 3/8, 1/8 — exact IEEE normalization,
        // AND sized so BOTH sampler arms fire on this corpus: web
        // binds at 2 epochs, code lands past 1 epoch, books under),
        // with each stratum routed to the right sampler —
        // alloc ≤ avail strata DOWN-sample by A-ES priorities (q142's
        // machinery, copy_no = 1), alloc > avail strata UP-sample as
        // floor(rate) full copies + an md5-selected fractional slice
        // (q159's machinery). One scenario, one hash oracle over every
        // emitted (doc, copy) — the q226 treatment for the composition.
        val d = t(s, dir, "documents").withColumn("src",
          when(pmod(col("doc_id"), lit(3)) === 0, "web")
            .when(pmod(col("doc_id"), lit(3)) === 1, "code")
            .otherwise("books"))
          .select("doc_id", "src", "n_chars")
        ScaleOps.mixAtMaxBudget(d, "doc_id", "src", "n_chars",
          Map("web" -> 0.5, "code" -> 0.375, "books" -> 0.125), maxEpochs = 2.0)
          .orderBy("doc_id", "copy_no")
      },
      Some("""WITH s AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'web'
                 WHEN doc_id % 3 = 1 THEN 'code'
                 ELSE 'books' END AS src,
            n_chars
          FROM documents),
        av AS (SELECT src, CAST(sum(n_chars) AS BIGINT) AS avail
               FROM s GROUP BY src),
        w AS (SELECT * FROM (VALUES ('web', 0.5), ('code', 0.375), ('books', 0.125))
              t(src, wn)),
        j AS (SELECT w.src, w.wn, coalesce(av.avail, 0) AS avail
              FROM w LEFT JOIN av USING (src)),
        ts AS (SELECT min(2.0 * avail / wn) AS tstar FROM j),
        alloc AS (
          SELECT j.src, j.avail, CAST(floor(j.wn * ts.tstar) AS BIGINT) AS alloc
          FROM j, ts),
        dn AS (
          SELECT s.doc_id, s.src, s.n_chars, a.alloc AS tgt,
            CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) AS hv
          FROM s JOIN alloc a ON s.src = a.src AND a.alloc <= a.avail),
        dr AS (
          SELECT *, pow((hv + 0.5) / 4294967296.0,
            1.0 / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS aes
          FROM dn),
        dc AS (
          SELECT *, coalesce(sum(n_chars) OVER (PARTITION BY src
            ORDER BY aes DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          FROM dr),
        down AS (
          SELECT doc_id, src, n_chars, CAST(1 AS BIGINT) AS copy_no
          FROM dc WHERE cum < tgt),
        up0 AS (
          SELECT s.doc_id, s.src, s.n_chars,
            CAST(a.alloc AS DOUBLE) / CAST(a.avail AS DOUBLE) AS rate
          FROM s JOIN alloc a ON s.src = a.src AND a.alloc > a.avail),
        um AS (
          SELECT *, CAST(floor(rate) AS BIGINT) AS nfull,
            printf('%08x', CAST(least(floor((rate - floor(rate)) * 4294967296.0),
              4294967295.0) AS BIGINT)) AS cut
          FROM up0),
        ucopies AS (
          SELECT doc_id, src, n_chars,
            unnest(generate_series(1, nfull)) AS copy_no
          FROM um WHERE nfull >= 1),
        uextra AS (
          SELECT doc_id, src, n_chars, nfull + 1 AS copy_no FROM um
          WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cut)
        SELECT doc_id, src, n_chars, copy_no FROM down
        UNION ALL SELECT doc_id, src, n_chars, copy_no FROM ucopies
        UNION ALL SELECT doc_id, src, n_chars, copy_no FROM uextra
        ORDER BY doc_id, copy_no""")),

    Q("q233_shard_manifest",
      (s, dir) =>
        // the integrity artifact next to q217's shards: per shard,
        // count / exact token total / id key range / an
        // ORDER-INDEPENDENT 60-bit xor checksum of md5-derived id
        // keys — constant aggregation state (no id list materializes),
        // mergeable across partial manifests, recomputable by any
        // engine from the shard it actually read.
        ScaleOps.shardManifest(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "doc_id", "n_chars", budget = 25000L)
          .orderBy("shard"),
      Some("""WITH sh AS (
          SELECT doc_id, n_chars,
            CAST((sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              - n_chars) // 25000 AS BIGINT) AS shard
          FROM documents)
        SELECT shard, count(*) AS n_docs,
          CAST(sum(n_chars) AS BIGINT) AS total_tokens,
          min(doc_id) AS first_id, max(doc_id) AS last_id,
          bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT)) AS ids_xor60
        FROM sh GROUP BY shard ORDER BY shard""")),

    Q("q234_ngram_novelty",
      (s, dir) =>
        // memorization-risk / contribution profile: the fraction of
        // each doc's distinct 8-word shingles whose FIRST occurrence
        // (min doc_id) is the doc itself — catches the cross-document
        // remix that whole-doc and near-dup dedup both miss. Counts
        // are hash-invariant (distinct strings), so the oracle replays
        // on the shingle strings (the q81 argument applied to
        // counting).
        Dedup.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", w = 8)
          .orderBy("doc_id"),
      Some("""WITH base AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents),
        nn AS (SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS p FROM nn),
        shd AS (
          SELECT DISTINCT doc_id, array_to_string(t[p+1 : p+8], ' ') AS g
          FROM pos),
        firsts AS (SELECT g, min(doc_id) AS f FROM shd GROUP BY g)
        SELECT s.doc_id, count(*) AS n_shingles,
          CAST(sum(CASE WHEN fr.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel,
          round(CAST(sum(CASE WHEN fr.f = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS novelty
        FROM shd s JOIN firsts fr USING (g)
        GROUP BY s.doc_id ORDER BY s.doc_id""")),

    Q("q237_novelty_incremental",
      (s, dir) => {
        // q234's daily-ingest twin: docs >= 250 score against the
        // (hash, first_id) store of docs < 250 — history text never
        // re-read, min-merge exact, so the oracle is the FULL-corpus
        // novelty replay side-filtered to the batch.
        val d = t(s, dir, "documents")
        val store = Dedup.noveltyStore(
          d.filter(col("doc_id") < 250), "doc_id", "text", w = 8)
        Dedup.ngramNoveltyIncremental(
            store, d.filter(col("doc_id") >= 250), "doc_id", "text", w = 8)
          ._2.orderBy("doc_id")
      },
      Some("""WITH base AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents),
        nn AS (SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS p FROM nn),
        shd AS (
          SELECT DISTINCT doc_id, array_to_string(t[p+1 : p+8], ' ') AS g
          FROM pos),
        firsts AS (SELECT g, min(doc_id) AS f FROM shd GROUP BY g)
        SELECT s.doc_id, count(*) AS n_shingles,
          CAST(sum(CASE WHEN fr.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
            AS n_novel,
          round(CAST(sum(CASE WHEN fr.f = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS novelty
        FROM shd s JOIN firsts fr USING (g)
        WHERE s.doc_id >= 250
        GROUP BY s.doc_id ORDER BY s.doc_id""")),

    Q("q235_dup_attribution",
      (s, dir) =>
        // which sources copy from which: q81's near-dup pass
        // aggregated to the unordered source-pair matrix (diagonal =
        // within-source duplication); per-cell mean jaccard sums the
        // 6dp pair values in DECIMAL so the average is engine-exact.
        // Same exhaustive-recompute oracle + recall argument as q81.
        Dedup.crossSourceDupMatrix(
          t(s, dir, "documents"), "doc_id", "text", "source",
          k = 128, bands = 32, w = 3, threshold = 0.5)
          .orderBy("source_a", "source_b"),
      Some("""WITH sh AS (
          SELECT doc_id, source, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, source,
                  string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        p AS (
          SELECT a.source AS sa, b.source AS sb,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              >= 0.5)
        SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
          count(*) AS n_pairs,
          round(CAST(sum(CAST(j AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
            AS avg_jaccard
        FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),

    Q("q236_dup_cluster_histogram",
      (s, dir) => {
        // the dedup-paper diagnostic: duplication mass by cluster size
        // (few giant boilerplate clusters vs a tail of doubles decides
        // doc-level vs span-level dedup). Exact closure over q81's
        // pairs; corpus singletons fill the size-1 row so n_docs sums
        // to the corpus.
        val d = t(s, dir, "documents")
        Dedup.dupClusterHistogram(
            Dedup.minHashNearDups(d, "doc_id", "text",
              k = 128, bands = 32, w = 3, threshold = 0.5),
            d.count())
          .orderBy("cluster_size")
      },
      Some("""WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        pr AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              >= 0.5),
        e AS (SELECT id_a AS a, id_b AS b FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, min(lab) AS c FROM r GROUP BY id),
        sz AS (SELECT c, count(*) AS cluster_size FROM lab GROUP BY c),
        hist AS (
          SELECT cluster_size, count(*) AS n_clusters FROM sz
          GROUP BY cluster_size),
        tot AS (SELECT count(*) AS n FROM documents),
        incl AS (SELECT coalesce(sum(cluster_size), 0) AS m FROM sz),
        single AS (
          SELECT CAST(1 AS BIGINT) AS cluster_size,
            CAST(tot.n - incl.m AS BIGINT) AS n_clusters
          FROM tot, incl WHERE tot.n - incl.m > 0)
        SELECT cluster_size, n_clusters,
          CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
        FROM (SELECT * FROM hist UNION ALL SELECT * FROM single)
        ORDER BY cluster_size""")),

    Q("q239_containment_direction",
      (s, dir) =>
        // direction audit over q81's near-dup pairs: duplicate vs
        // one-contains-the-other, with the drop-side recommendation a
        // superset-aware survivor policy needs. |A∩B| is recovered from
        // (jaccard, |A|, |B|) — no shingle re-attach; same exhaustive
        // oracle + recall argument as q81/q235.
        Dedup.nearDupContainment(t(s, dir, "documents"), "doc_id", "text",
          k = 128, bands = 32, w = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              >= 0.5),
        c AS (
          SELECT *, CAST(round(jaccard * (n_a + n_b) / (1.0 + jaccard), 0)
            AS BIGINT) AS i
          FROM p),
        r AS (
          SELECT id_a, id_b, n_a, n_b, jaccard,
            round(CAST(i AS DOUBLE) / n_a, 4) AS containment_a,
            round(CAST(i AS DOUBLE) / n_b, 4) AS containment_b
          FROM c)
        SELECT id_a, id_b, n_a, n_b, jaccard, containment_a, containment_b,
          CASE WHEN containment_a >= 0.9 AND containment_b >= 0.9
                 THEN 'duplicate'
               WHEN containment_a >= 0.9 THEN 'a_in_b'
               WHEN containment_b >= 0.9 THEN 'b_in_a'
               ELSE 'overlap' END AS relation,
          CAST(CASE WHEN containment_a >= 0.9 AND containment_b >= 0.9
                 THEN greatest(id_a, id_b)
               WHEN containment_a >= 0.9 THEN id_a
               WHEN containment_b >= 0.9 THEN id_b
               ELSE NULL END AS BIGINT) AS drop_id
        FROM r ORDER BY id_a, id_b""")),

    Q("q240_dedup_savings",
      (s, dir) =>
        // the budget answer behind q236's histogram: what doc-level
        // keep-first dedup deletes, in docs and chars, per source.
        // Keep-first = the closure's min-id label, so "dropped" is the
        // map-only predicate id != cluster; oracle = q236's recursive
        // closure + the same per-source aggregate.
        Dedup.dedupSavings(t(s, dir, "documents"), "doc_id", "text",
          "source", "n_chars", k = 128, bands = 32, w = 3, threshold = 0.5)
          .orderBy("source"),
      Some("""WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        pr AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              >= 0.5),
        e AS (SELECT id_a AS a, id_b AS b FROM pr
              UNION ALL SELECT id_b, id_a FROM pr),
        r(id, lab) AS (
          SELECT a, a FROM e
          UNION
          SELECT e.a, r.lab FROM e JOIN r ON r.id = e.b),
        lab AS (SELECT id, min(lab) AS c FROM r GROUP BY id),
        d AS (
          SELECT doc.source, doc.n_chars,
            CASE WHEN l.c IS NOT NULL AND l.c <> doc.doc_id THEN 1 ELSE 0 END
              AS dropped
          FROM documents doc LEFT JOIN lab l ON l.id = doc.doc_id)
        SELECT source,
          count(*) AS docs_total,
          CAST(sum(dropped) AS BIGINT) AS docs_dropped,
          CAST(sum(n_chars) AS BIGINT) AS chars_total,
          CAST(sum(CASE WHEN dropped = 1 THEN n_chars ELSE 0 END) AS BIGINT)
            AS chars_dropped,
          round(CAST(sum(CASE WHEN dropped = 1 THEN n_chars ELSE 0 END)
              AS DOUBLE)
            / greatest(CAST(sum(n_chars) AS DOUBLE), 1.0), 4) AS drop_pct
        FROM d GROUP BY source ORDER BY source""")),

    Q("q241_zipf_profile",
      (s, dir) =>
        // corpus-health diagnostic: top-100 token frequencies with
        // their log-log coordinates and the least-squares Zipf
        // exponent. ln per value + 6dp round + DECIMAL regression sums
        // (the q153 discipline) make the fit engine-exact.
        TextAnalysis.zipfProfile(t(s, dir, "documents"), "text", topK = 100)
          .orderBy("rank"),
      Some("""WITH tok AS (
          SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          FROM documents),
        counts AS (
          SELECT token, count(*) AS cnt FROM tok
          WHERE len(token) > 0 GROUP BY token),
        top AS (
          SELECT token, cnt,
            row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
          FROM counts ORDER BY cnt DESC, token ASC LIMIT 100),
        logs AS (
          SELECT rank, token, cnt,
            round(ln(CAST(rank AS DOUBLE)), 6) AS log_rank,
            round(ln(CAST(cnt AS DOUBLE)), 6) AS log_freq
          FROM top),
        fit AS (
          SELECT count(*) AS n,
            sum(CAST(log_rank AS DECIMAL(18,6))) AS sx,
            sum(CAST(log_freq AS DECIMAL(18,6))) AS sy,
            sum(CAST(log_rank AS DECIMAL(18,6)) * CAST(log_freq AS DECIMAL(18,6)))
              AS sxy,
            sum(CAST(log_rank AS DECIMAL(18,6)) * CAST(log_rank AS DECIMAL(18,6)))
              AS sxx
          FROM logs)
        SELECT rank, token, CAST(cnt AS BIGINT) AS cnt, log_rank, log_freq,
          round(CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        FROM logs, fit ORDER BY rank""")),

    Q("q242_contamination_attribution",
      (s, dir) => {
        // which SOURCE leaks the benchmark: q170's per-doc eval-overlap
        // fractions aggregated to the ingest pipeline — the number that
        // decides drop-the-source vs scrub-it. Same eval slice as
        // q106/q170 (docs % 50 == 0); mean sums 6dp fractions in
        // DECIMAL (engine-exact).
        val d = t(s, dir, "documents")
        Dedup.contaminationAttribution(
          d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", "source", w = 8)
          .orderBy("source")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(array_to_string(w[i:i+7], ' ')) for i in range(1, greatest(len(w) - 6, 1))]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        ev AS (
          SELECT flatten(list(sh)) AS all_sh FROM sh WHERE doc_id % 50 = 0),
        scored AS (
          SELECT s.doc_id,
            CAST(len(list_intersect(s.sh, ev.all_sh)) AS BIGINT) AS n_shared,
            round(CAST(len(list_intersect(s.sh, ev.all_sh)) AS DOUBLE)
              / len(s.sh), 6) AS contamination
          FROM sh s, ev
          WHERE s.doc_id % 50 <> 0 AND len(s.sh) > 0)
        SELECT d.source,
          count(*) AS n_docs,
          CAST(sum(CASE WHEN sc.n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS docs_contaminated,
          round(CAST(sum(CAST(sc.contamination AS DECIMAL(18,6))) AS DOUBLE)
            / count(*), 6) AS mean_contamination,
          max(sc.contamination) AS max_contamination
        FROM scored sc JOIN documents d USING (doc_id)
        GROUP BY d.source ORDER BY d.source""")),

    Q("q243_pii_density",
      (s, dir) => {
        // PII density per source — the governance dashboard behind
        // q102's scrub. The corpus is synthetic and PII-free, so a
        // deterministic payload is injected into slices (emails+phones
        // into doc_id % 3, SSNs+IPs into doc_id % 5) and the per-class
        // counts use redactPii's sequential staging (no double-counts).
        val d = t(s, dir, "documents")
        val injected = d.withColumn("text",
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" reach me: u"), col("doc_id").cast("string"),
                lit("@mail.test or 415-555-01"),
                lpad((col("doc_id") % 100).cast("string"), 2, "0")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" ssn 321-54-987"), (col("doc_id") % 10).cast("string"),
                lit(" host 10.1."), (col("doc_id") % 256).cast("string"),
                lit(".9")))
              .otherwise(lit(""))))
        TextAnalysis.piiProfile(injected, "doc_id", "text")
          .join(d.select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_email") + col("n_ssn") + col("n_phone") +
              col("n_ip") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
            sum("n_email").as("emails"), sum("n_ssn").as("ssns"),
            sum("n_phone").as("phones"), sum("n_ip").as("ips"))
          .orderBy("source")
      },
      Some("""WITH inj AS (
          SELECT doc_id, source,
            text ||
            CASE WHEN doc_id % 3 = 0 THEN
              ' reach me: u' || CAST(doc_id AS VARCHAR) ||
              '@mail.test or 415-555-01' ||
              lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
            ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN
              ' ssn 321-54-987' || CAST(doc_id % 10 AS VARCHAR) ||
              ' host 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.9'
            ELSE '' END AS t0
          FROM documents),
        staged AS (
          SELECT doc_id, source, t0,
            regexp_replace(t0,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
              AS t1
          FROM inj),
        staged2 AS (
          SELECT *, regexp_replace(t1, '\d{3}-\d{2}-\d{4}', '<SSN>', 'g') AS t2
          FROM staged),
        staged3 AS (
          SELECT *, regexp_replace(t2,
            '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g') AS t3
          FROM staged2),
        counts AS (
          SELECT doc_id, source,
            CAST(len(regexp_extract_all(t0,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
              AS n_email,
            CAST(len(regexp_extract_all(t1, '\d{3}-\d{2}-\d{4}')) AS BIGINT)
              AS n_ssn,
            CAST(len(regexp_extract_all(t2,
              '\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}')) AS BIGINT) AS n_phone,
            CAST(len(regexp_extract_all(t3,
              '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip
          FROM staged3)
        SELECT source,
          count(*) AS n_docs,
          CAST(sum(CASE WHEN n_email + n_ssn + n_phone + n_ip > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
          CAST(sum(n_email) AS BIGINT) AS emails,
          CAST(sum(n_ssn) AS BIGINT) AS ssns,
          CAST(sum(n_phone) AS BIGINT) AS phones,
          CAST(sum(n_ip) AS BIGINT) AS ips
        FROM counts GROUP BY source ORDER BY source""")),

    Q("q244_fd_violations",
      (s, dir) =>
        // warehouse consistency audit: groups violating the claimed
        // functional dependency source -> lang, with distinct-rhs
        // count, row mass, and a sorted capped sample of the
        // conflicting values. One two-level aggregate, no joins.
        graft.quality.Validator.fdViolations(
          t(s, dir, "documents"), Seq("source"), "lang")
          .orderBy("source"),
      Some("""WITH pv AS (
          SELECT source, lang, count(*) AS c
          FROM documents GROUP BY source, lang),
        v AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_distinct_rhs,
            CAST(sum(c) AS BIGINT) AS n_rows,
            array_to_string(list_sort(list(CAST(lang AS VARCHAR)))[1:5], ',')
              AS rhs_sample
          FROM pv GROUP BY source)
        SELECT source, n_distinct_rhs, n_rows, rhs_sample FROM v
        WHERE n_distinct_rhs > 1 ORDER BY source""")),

    Q("q245_eval_leakage",
      (s, dir) => {
        // the flip side of q242: per BENCHMARK doc, what fraction of
        // its shingles the training corpus already contains — which
        // eval items are burned. Train shingles distinct-aggregate and
        // the join shuffles 8-byte hashes (broadcasting the corpus,
        // i.e. naively swapping q170's roles, would OOM at scale).
        val d = t(s, dir, "documents")
        Dedup.evalLeakage(
          d.filter(col("doc_id") % 50 === 0), d.filter(col("doc_id") % 50 =!= 0),
          "doc_id", "text", w = 8)
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(array_to_string(w[i:i+7], ' ')) for i in range(1, greatest(len(w) - 6, 1))]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        tr AS (
          SELECT DISTINCT unnest(sh) AS h FROM sh WHERE doc_id % 50 <> 0),
        evs AS (
          SELECT doc_id, unnest(sh) AS h FROM sh WHERE doc_id % 50 = 0),
        j AS (
          SELECT e.doc_id, CASE WHEN t.h IS NULL THEN 0 ELSE 1 END AS hit
          FROM evs e LEFT JOIN tr t ON e.h = t.h)
        SELECT doc_id, count(*) AS n_shingles,
          CAST(sum(hit) AS BIGINT) AS n_leaked,
          round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS leakage
        FROM j GROUP BY doc_id ORDER BY doc_id""")),

    Q("q246_ref_integrity",
      (s, dir) =>
        // referential-integrity audit lineitem.l_orderkey -> orders
        // with a synthetically broken parent (every 97th order dropped)
        // so the orphan arm actually fires: orphan mass, match mass,
        // fan-out, childless parents — one row.
        graft.quality.Validator.refIntegrity(
          t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders").filter(col("o_orderkey") % 97 =!= 0),
          "o_orderkey"),
      Some("""WITH p AS (
          SELECT DISTINCT o_orderkey AS pk FROM orders
          WHERE o_orderkey % 97 <> 0),
        c AS (SELECT l_orderkey AS ck FROM lineitem),
        fl AS (SELECT ck, pk FROM c LEFT JOIN p ON ck = pk),
        base AS (
          SELECT count(*) AS n_child_rows,
            CAST(sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_null_keys,
            CAST(sum(CASE WHEN ck IS NOT NULL AND pk IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_orphan_rows,
            CAST(sum(CASE WHEN pk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_matched_rows
          FROM fl),
        fan AS (
          SELECT CAST(coalesce(max(c2), 0) AS BIGINT) AS max_fanout,
            CAST(count(*) AS BIGINT) AS n_distinct_child_keys
          FROM (SELECT ck, count(*) AS c2 FROM c WHERE ck IS NOT NULL
                GROUP BY ck)),
        par AS (SELECT CAST(count(*) AS BIGINT) AS n_parents FROM p),
        cl AS (
          SELECT CAST(count(*) AS BIGINT) AS n_childless_parents FROM p
          WHERE pk NOT IN (SELECT DISTINCT ck FROM c WHERE ck IS NOT NULL))
        SELECT n_child_rows, n_null_keys, n_orphan_rows, n_matched_rows,
          max_fanout, n_distinct_child_keys, n_parents, n_childless_parents
        FROM base, fan, par, cl""")),

    Q("q238_streaming_governance",
      (s, dir) => {
        // the exactly-once GOVERNANCE pair — StreamingSplit +
        // StreamingNovelty advance bodies — as ONE deterministic
        // two-batch batch-mode scenario with the crash windows
        // actually exercised (previously the twins' correctness rested
        // on ScalaTest alone; both advance bodies are engine-replayable
        // arithmetic, so the whole protocol carries a DuckDB
        // latest-wins oracle). Batch 1 (docs < 300) bootstraps both
        // twins; batch 2 (docs >= 300) brings its own chains plus
        // three bridges — (151,351) merges a train cluster into a
        // batch chain (inherit arm), (71,361)+(181,361) merge a val
        // and a test cluster (conflict arm: the batch chain
        // quarantines, store splits never move). For EACH twin, batch
        // 2 is CRASHED mid-window — after the first-committing
        // table's append (conflicts for the split twin, scores for
        // the novelty twin) — then recovered by the real advanceBatch
        // (which must skip the committed append on its txn marker and
        // apply the last-committing merge exactly once), then fully
        // REPLAYED (marker-proven no-op). Any double-append,
        // double-merge, or skipped merge breaks the hash.
        import s.implicits._
        val root = scratchDir("graft-q238")
        val store = graft.lake.VersionedTable(root + "/split_store", "doc_id")
        val conflicts =
          graft.lake.VersionedTable(root + "/split_conflicts", "cluster_rep")
        val nstore = graft.lake.VersionedTable(root + "/nov_store", "__h")
        val scores = graft.lake.VersionedTable(root + "/nov_scores", "doc_id")
        // NO scan fan-out here, deliberately: tried fannedOut (15.6 s)
        // and the barriered variant (14.5 s) against 10.4 s without —
        // the protocol is ~40 small jobs and the extra tasks/shuffles
        // cost more than the single-task shingle passes (the fan-out
        // does NOT generalize to many-small-job protocols)
        val d = t(s, dir, "documents")
        val batch1 = d.filter(col("doc_id") < 300)
        val batch2 = d.filter(col("doc_id") >= 300)
        val bridges = Seq((151L, 351L), (71L, 361L), (181L, 361L))
          .toDF("id_a", "id_b")
        // deterministic batch-touching pair source (q223's chain family:
        // consecutive ids whose lower end is 1..3 mod 10, plus the
        // bridges when both endpoints exist) — a pure function of its
        // two inputs, as the replay argument requires
        def pairsOf(b: DataFrame, st: DataFrame): DataFrame = {
          val bi = b.select(col("doc_id"))
          val ids = bi.unionByName(st.select(col("doc_id"))).distinct()
          val chain = ids.select(col("doc_id").as("id_a"))
            .filter(pmod(col("id_a"), lit(10)).isin(1, 2, 3))
            .join(ids.select(col("doc_id").as("id_b")),
              col("id_b") === col("id_a") + 1)
          val cand = chain.unionByName(bridges
            .join(ids.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
            .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi"))
          cand.join(bi.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
            .unionByName(
              cand.join(bi.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi"))
            .distinct()
        }
        val cfg = graft.streaming.StreamingSplit.SplitConfig("doc_id")
        // batch 1: the clean path, both twins
        graft.streaming.StreamingSplit.advanceBatch(
          store, conflicts, batch1, pairsOf, cfg, "q238", 1L)
        graft.streaming.StreamingNovelty.advanceBatch(
          nstore, scores, batch1, "doc_id", "text", 8, "q238", 1L)
        // batch 2, split twin: crash AFTER the conflicts append (the
        // first-committing table), then recover with the real advance
        val preRows = store.read(s)
        val (_, confRows) = Dedup.splitByClusterIncremental(
          preRows, batch2, "doc_id", pairsOf(batch2, preRows), cfg.splits)
        conflicts.appendIfNew(
          confRows.withColumn("batch_id", lit(2L)), "q238", 2L)
        graft.streaming.StreamingSplit.advanceBatch(
          store, conflicts, batch2, pairsOf, cfg, "q238", 2L)
        // batch 2, novelty twin: crash AFTER the scores append, recover
        val preStore = nstore.read(s)
        val (_, preScores) = Dedup.ngramNoveltyIncremental(
          preStore, batch2, "doc_id", "text", w = 8)
        scores.appendIfNew(
          preScores.withColumn("batch_id", lit(2L)), "q238", 2L)
        graft.streaming.StreamingNovelty.advanceBatch(
          nstore, scores, batch2, "doc_id", "text", 8, "q238", 2L)
        // full replay of batch 2: both last-table markers prove
        // application — each must be a version-less no-op
        graft.streaming.StreamingSplit.advanceBatch(
          store, conflicts, batch2, pairsOf, cfg, "q238", 2L)
        graft.streaming.StreamingNovelty.advanceBatch(
          nstore, scores, batch2, "doc_id", "text", 8, "q238", 2L)
        val st = store.read(s).select(col("doc_id"),
          col("cluster_rep").cast("long").as("cluster_rep"),
          coalesce(col("split"), lit("quarantine")).as("split"))
        val sc = scores.read(s).select(col("doc_id"), col("n_shingles"),
          col("n_novel"), col("novelty"), col("batch_id").as("nov_batch"))
        val cf = conflicts.read(s).select(
          col("cluster_rep").cast("long").as("cluster_rep"), col("n_splits"))
        st.join(sc, Seq("doc_id"), "left")
          .join(cf, Seq("cluster_rep"), "left")
          .withColumn("n_splits", coalesce(col("n_splits"), lit(0L)))
          .select("doc_id", "cluster_rep", "split", "n_shingles", "n_novel",
            "novelty", "nov_batch", "n_splits")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE chain AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          WHERE a.doc_id % 10 IN (1, 2, 3)),
        store_pairs AS (SELECT * FROM chain WHERE id_b < 300),
        batch_pairs AS (
          SELECT * FROM chain WHERE id_a >= 300
          UNION ALL
          SELECT * FROM (VALUES (151, 351), (71, 361), (181, 361)) v(id_a, id_b)),
        all_pairs AS (
          SELECT * FROM store_pairs UNION ALL SELECT * FROM batch_pairs),
        se AS (SELECT id_a AS u FROM store_pairs),
        snodes AS (SELECT DISTINCT v FROM (
          SELECT u AS v FROM se UNION ALL SELECT u + 1 AS v FROM se)),
        sisl AS (SELECT v, v - row_number() OVER (ORDER BY v) AS grp FROM snodes),
        srep AS (SELECT v, min(v) OVER (PARTITION BY grp) AS r FROM sisl),
        store0 AS (
          SELECT d.doc_id, CAST(coalesce(srep.r, d.doc_id) AS BIGINT) AS rep0
          FROM documents d LEFT JOIN srep ON srep.v = d.doc_id
          WHERE d.doc_id < 300),
        store_split AS (
          SELECT doc_id, rep0,
            CASE WHEN substr(md5(CAST(rep0 AS VARCHAR)), 1, 8) < 'cccccccc'
                   THEN 'train'
                 WHEN substr(md5(CAST(rep0 AS VARCHAR)), 1, 8) < 'e6666665'
                   THEN 'val'
                 ELSE 'test' END AS split
          FROM store0),
        edges AS (
          SELECT id_a AS u, id_b AS w FROM all_pairs
          UNION SELECT id_b, id_a FROM all_pairs),
        gnodes AS (SELECT DISTINCT u AS v FROM edges),
        reach(v, r) AS (
          SELECT v, v FROM gnodes
          UNION
          SELECT reach.v, e.w FROM reach JOIN edges e ON e.u = reach.r),
        canon AS (SELECT v, CAST(min(r) AS BIGINT) AS c FROM reach GROUP BY v),
        adv_store AS (
          SELECT ss.doc_id,
            CAST(coalesce(c2.c, ss.rep0) AS BIGINT) AS cluster_rep, ss.split
          FROM store_split ss LEFT JOIN canon c2 ON c2.v = ss.rep0),
        binh AS (
          SELECT cluster_rep AS c, count(DISTINCT split) AS n, min(split) AS s
          FROM adv_store GROUP BY cluster_rep),
        batch0 AS (
          SELECT d.doc_id, CAST(coalesce(c2.c, d.doc_id) AS BIGINT) AS cluster_rep
          FROM documents d LEFT JOIN canon c2 ON c2.v = d.doc_id
          WHERE d.doc_id >= 300),
        batch_assigned AS (
          SELECT b.doc_id, b.cluster_rep,
            CASE WHEN i.n IS NULL THEN
                CASE WHEN substr(md5(CAST(b.cluster_rep AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                     WHEN substr(md5(CAST(b.cluster_rep AS VARCHAR)), 1, 8)
                       < 'e6666665' THEN 'val'
                     ELSE 'test' END
              WHEN i.n = 1 THEN i.s
              ELSE 'quarantine' END AS split
          FROM batch0 b LEFT JOIN binh i ON i.c = b.cluster_rep),
        split_all AS (
          SELECT doc_id, cluster_rep, split FROM adv_store
          UNION ALL SELECT doc_id, cluster_rep, split FROM batch_assigned),
        conf AS (
          SELECT c AS cluster_rep, CAST(n AS BIGINT) AS n_splits
          FROM binh WHERE n > 1),
        base AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents),
        nn AS (SELECT doc_id, t, len(t) - 7 AS ns FROM base WHERE len(t) >= 8),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(0, ns - 1)) AS p FROM nn),
        shd AS (
          SELECT DISTINCT doc_id, array_to_string(t[p+1 : p+8], ' ') AS g
          FROM pos),
        firsts AS (SELECT g, min(doc_id) AS f FROM shd GROUP BY g),
        nov AS (
          SELECT s.doc_id, count(*) AS n_shingles,
            CAST(sum(CASE WHEN fr.f = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
              AS n_novel,
            round(CAST(sum(CASE WHEN fr.f = s.doc_id THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*), 6) AS novelty,
            CAST(CASE WHEN s.doc_id < 300 THEN 1 ELSE 2 END AS BIGINT)
              AS nov_batch
          FROM shd s JOIN firsts fr USING (g)
          GROUP BY s.doc_id)
        SELECT sa.doc_id, sa.cluster_rep, sa.split,
          n.n_shingles, n.n_novel, n.novelty, n.nov_batch,
          CAST(coalesce(cf.n_splits, 0) AS BIGINT) AS n_splits
        FROM split_all sa
        LEFT JOIN nov n USING (doc_id)
        LEFT JOIN conf cf USING (cluster_rep)
        ORDER BY sa.doc_id""")),

    Q("q247_embedding_covariance",
      (s, dir) =>
        // exact fixed-point covariance of the embedding corpus: ONE
        // mergeable d(d+1)/2-state aggregation (VectorMoments), the
        // (i, j, cov) surface derived from the 1-row moments frame with
        // pinned double ops — order/merge/engine-independent by
        // construction (floor-quantized integer sums).
        graft.operators.Embeddings
          .covarianceDf(t(s, dir, "embeddings"), "embedding", 64)
          .orderBy("i", "j"),
      Some("""WITH q AS MATERIALIZED (
          SELECT list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
          FROM embeddings),
        expl AS MATERIALIZED (
          SELECT i, qv[i] AS qi, qv FROM q, generate_series(1, 64) AS t(i)),
        sums AS MATERIALIZED (
          SELECT i, CAST(sum(qi) AS BIGINT) AS s FROM expl GROUP BY i),
        gram AS MATERIALIZED (
          SELECT e.i AS i, t.j AS j, CAST(sum(e.qi * e.qv[t.j]) AS BIGINT) AS g
          FROM expl e, generate_series(1, 64) AS t(j)
          WHERE t.j >= e.i GROUP BY e.i, t.j),
        nrow AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM q)
        SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
          (CAST(g.g AS DOUBLE) / nrow.nd
           - (CAST(si.s AS DOUBLE) / nrow.nd) * (CAST(sj.s AS DOUBLE) / nrow.nd))
          * 9.094947017729282e-13 AS cov
        FROM gram g JOIN sums si ON si.i = g.i JOIN sums sj ON sj.i = g.j, nrow
        ORDER BY i, j""")),

    Q("q248_pca_projection",
      (s, dir) => {
        // top-2 principal components by fixed-iteration power iteration
        // (40 rounds from the all-ones start, Rayleigh lambda, one
        // deflation) over the fixed-point covariance; projection is
        // map-only (QuantDotExpr, components broadcast as literals).
        // Every float op runs in the same IEEE sequence the oracle's
        // recursive CTE executes, so the scores hash-match bit-for-bit.
        val e = t(s, dir, "embeddings")
        val m = graft.operators.Embeddings.moments(e, "embedding", 64)
        val comps = graft.operators.Embeddings.principalComponents(m, 64, k = 2)
        graft.operators.Embeddings
          .projectDf(e, "vec_id", "embedding", comps)
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
          FROM embeddings),
        expl AS MATERIALIZED (
          SELECT i, qv[i] AS qi, qv FROM q, generate_series(1, 64) AS t(i)),
        sums AS MATERIALIZED (
          SELECT i, CAST(sum(qi) AS BIGINT) AS s FROM expl GROUP BY i),
        gram AS MATERIALIZED (
          SELECT e.i AS i, t.j AS j, CAST(sum(e.qi * e.qv[t.j]) AS BIGINT) AS g
          FROM expl e, generate_series(1, 64) AS t(j)
          WHERE t.j >= e.i GROUP BY e.i, t.j),
        nrow AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM q),
        cov AS MATERIALIZED (
          SELECT i.i AS i, j.j AS j,
            (CAST(g.g AS DOUBLE) / nrow.nd
             - (CAST(si.s AS DOUBLE) / nrow.nd) * (CAST(sj.s AS DOUBLE) / nrow.nd))
            * 9.094947017729282e-13 AS c
          FROM generate_series(1, 64) AS i(i)
          JOIN generate_series(1, 64) AS j(j) ON true
          JOIN gram g ON g.i = least(i.i, j.j) AND g.j = greatest(i.i, j.j)
          JOIN sums si ON si.i = i.i JOIN sums sj ON sj.i = j.j, nrow),
        cmat AS MATERIALIZED (
          SELECT list(cl ORDER BY i) AS m FROM (
            SELECT i, list(c ORDER BY j) AS cl FROM cov GROUP BY i)),
        it1 AS (
          SELECT 0 AS t, list_transform(range(1, 65), x -> 1.0 / sqrt(CAST(64 AS DOUBLE))) AS v
          UNION ALL
          SELECT t + 1, list_transform(
              list_transform(m, r -> list_dot_product(r, v)),
              x -> x / sqrt(list_dot_product(
                list_transform(m, r -> list_dot_product(r, v)),
                list_transform(m, r -> list_dot_product(r, v)))))
          FROM it1, cmat WHERE t < 40),
        pc1 AS MATERIALIZED (SELECT v FROM it1 WHERE t = 40),
        l1 AS MATERIALIZED (
          SELECT list_dot_product(v,
            list_transform(m, r -> list_dot_product(r, v))) AS lam
          FROM pc1, cmat),
        c2 AS MATERIALIZED (
          SELECT list_transform(range(1, 65),
            i -> list_transform(range(1, 65), j -> m[i][j] - lam * v[i] * v[j])) AS m
          FROM cmat, pc1, l1),
        it2 AS (
          SELECT 0 AS t, list_transform(range(1, 65), x -> 1.0 / sqrt(CAST(64 AS DOUBLE))) AS v
          UNION ALL
          SELECT t + 1, list_transform(
              list_transform(m, r -> list_dot_product(r, v)),
              x -> x / sqrt(list_dot_product(
                list_transform(m, r -> list_dot_product(r, v)),
                list_transform(m, r -> list_dot_product(r, v)))))
          FROM it2, c2 WHERE t < 40),
        pc2 AS MATERIALIZED (SELECT v FROM it2 WHERE t = 40),
        mu AS MATERIALIZED (
          SELECT list(CAST(s AS DOUBLE) / nd ORDER BY i) AS muv
          FROM sums, nrow GROUP BY nd),
        offs AS MATERIALIZED (
          SELECT list_dot_product(muv, pc1.v) AS o1,
                 list_dot_product(muv, pc2.v) AS o2
          FROM mu, pc1, pc2)
        SELECT q.vec_id,
          (list_dot_product(list_transform(qv, x -> CAST(x AS DOUBLE)), pc1.v)
            - offs.o1) * 9.5367431640625e-07 AS pc1_score,
          (list_dot_product(list_transform(qv, x -> CAST(x AS DOUBLE)), pc2.v)
            - offs.o2) * 9.5367431640625e-07 AS pc2_score
        FROM q, pc1, pc2, offs
        ORDER BY vec_id""")),

    Q("q249_embedding_drift",
      (s, dir) => {
        // per-dimension mean drift between two corpus slices (even/odd
        // vec_id — stand-in for encoder versions or time windows): the
        // same exact fixed-point moments, grouped; map-side partials,
        // 2·d-row surface.
        val withG = t(s, dir, "embeddings")
          .withColumn("grp", pmod(col("vec_id"), lit(2)))
        graft.operators.Embeddings.groupMeans(withG, "grp", "embedding", 64)
          .groupBy("i")
          .agg(
            max(when(col("grp") === 0, col("mean"))).as("mean_even"),
            max(when(col("grp") === 1, col("mean"))).as("mean_odd"))
          .select(col("i"), col("mean_even"), col("mean_odd"),
            (col("mean_even") - col("mean_odd")).as("shift"))
          .orderBy("i")
      },
      Some("""WITH q AS (
          SELECT vec_id % 2 AS grp, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
          FROM embeddings),
        expl AS (SELECT grp, i, qv[i] AS qi FROM q, generate_series(1, 64) AS t(i)),
        agg AS (
          SELECT grp, i, CAST(sum(qi) AS BIGINT) AS s, count(*) AS n
          FROM expl GROUP BY grp, i),
        m AS (
          SELECT grp, i,
            (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 9.5367431640625e-07 AS mean
          FROM agg)
        SELECT CAST(i AS INT) AS i,
          max(CASE WHEN grp = 0 THEN mean END) AS mean_even,
          max(CASE WHEN grp = 1 THEN mean END) AS mean_odd,
          max(CASE WHEN grp = 0 THEN mean END)
            - max(CASE WHEN grp = 1 THEN mean END) AS shift
        FROM m GROUP BY i ORDER BY i""")),

    Q("q250_corpus_diff",
      (s, dir) => {
        // snapshot diff between two corpus versions (Validator
        // .snapshotDiff): old drops doc_id%17=3 (-> 'added' in new),
        // new drops %17=7 ('removed') and revises the text of %17=5
        // ('changed'); the release audit aggregates per (source,
        // status). Shuffle carries (id, md5, source) only — never text.
        val d = t(s, dir, "documents")
        val oldV = d.filter(col("doc_id") % 17 =!= 3)
        val newV = d.filter(col("doc_id") % 17 =!= 7)
          .withColumn("text",
            when(col("doc_id") % 17 === 5, concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text")))
        graft.quality.Validator
          .snapshotDiff(oldV, newV, "doc_id", Seq("text", "lang"), Seq("source"))
          .groupBy("source", "status")
          .agg(count(lit(1)).as("n"))
          .orderBy("source", "status")
      },
      Some("""WITH old AS (
          SELECT doc_id, md5(text || chr(1) || lang) AS fp, source
          FROM documents WHERE doc_id % 17 <> 3),
        neu AS (
          SELECT doc_id,
            md5(CASE WHEN doc_id % 17 = 5 THEN text || ' [rev2]' ELSE text END
              || chr(1) || lang) AS fp,
            source
          FROM documents WHERE doc_id % 17 <> 7),
        j AS (
          SELECT coalesce(n.source, o.source) AS source,
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN n.doc_id IS NULL THEN 'removed'
                 WHEN o.fp <> n.fp THEN 'changed'
                 ELSE 'unchanged' END AS status
          FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
        SELECT source, status, count(*) AS n
        FROM j GROUP BY source, status ORDER BY source, status""")),

    Q("q251_sample_quantiles",
      (s, dir) =>
        // deterministic KMV-sample quantiles: nearest-rank percentiles
        // of the k=400 rows with the smallest md5-derived keys —
        // TakeOrderedAndProject, no global sort, engine-replayable
        // (unlike approx_percentile's engine-internal sketch).
        ScaleOps.sampleQuantiles(
          t(s, dir, "orders"), "o_orderkey", "o_totalprice",
          k = 400, qs = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99))
          .orderBy("q"),
      Some("""WITH s AS MATERIALIZED (
          SELECT CAST(o_totalprice AS DOUBLE) AS v
          FROM orders
          ORDER BY md5('0:' || CAST(o_orderkey AS VARCHAR)) LIMIT 400),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m, list(v ORDER BY v) AS vs FROM s),
        qq AS (SELECT CAST(unnest([0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]) AS DOUBLE) AS q)
        SELECT q, vs[CAST(greatest(1, ceil(q * m)) AS INT)] AS value,
          m AS sample_size
        FROM qq, m ORDER BY q""")),

    Q("q252_skew_advisor",
      (s, dir) =>
        // join-skew planning report: heavy l_suppkey keys with their
        // share and the salt factor that caps any (key, salt) task at
        // 600 rows — the report a 100 TB join runs before shuffling.
        ScaleOps.skewAdvisor(
          t(s, dir, "lineitem"), "l_suppkey",
          targetPerTask = 600, minShare = 0.0105)
          .orderBy("l_suppkey"),
      Some("""WITH c AS (
          SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        SELECT l_suppkey, CAST(n AS BIGINT) AS n,
          CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
          CAST(ceil(CAST(n AS DOUBLE) / 600.0) AS INT) AS salt
        FROM c, t
        WHERE n > 600 OR CAST(n AS DOUBLE) / CAST(total AS DOUBLE) >= 0.0105
        ORDER BY l_suppkey""")),

    Q("q253_ks_drift",
      (s, dir) => {
        // two-sample Kolmogorov-Smirnov over document lengths, English
        // vs the rest: exact-integer CDF cross-products locate the max
        // (no float CDFs), distributed prefix sums via the
        // partition-offset technique (no global window).
        val d = t(s, dir, "documents")
        graft.quality.Drift.ksDrift(
          d.filter(col("lang") === "en"),
          d.filter(col("lang") =!= "en"),
          "n_chars")
      },
      Some("""WITH u AS (
          SELECT v, CAST(sum(ca) AS BIGINT) AS ca, CAST(sum(cb) AS BIGINT) AS cb
          FROM (
            SELECT CAST(n_chars AS DOUBLE) AS v, 1 AS ca, 0 AS cb
            FROM documents WHERE lang = 'en'
            UNION ALL
            SELECT CAST(n_chars AS DOUBLE) AS v, 0 AS ca, 1 AS cb
            FROM documents WHERE lang <> 'en')
          GROUP BY v),
        t AS (SELECT
          CAST((SELECT count(*) FROM documents WHERE lang = 'en') AS BIGINT) AS na,
          CAST((SELECT count(*) FROM documents WHERE lang <> 'en') AS BIGINT) AS nb),
        c AS (SELECT v,
            sum(ca) OVER (ORDER BY v) AS cca,
            sum(cb) OVER (ORDER BY v) AS ccb
          FROM u),
        d AS (SELECT v,
            abs(CAST(cca AS HUGEINT) * nb - CAST(ccb AS HUGEINT) * na) AS ad
          FROM c, t)
        SELECT t.na AS n_a, t.nb AS n_b,
          CAST(ad AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS d_stat,
          v AS at_value
        FROM d, t ORDER BY ad DESC, v ASC LIMIT 1""")),

    Q("q254_psi_drift",
      (s, dir) => {
        // Population Stability Index of the language mix between the
        // even- and odd-id halves: per-category exact shares + the
        // 6dp-rounded ln contribution (the q153/q241 ln discipline);
        // one-sided categories surface with NULL psi instead of a
        // silent clamp.
        val d = t(s, dir, "documents")
        graft.quality.Drift.psiDrift(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "lang")
          .orderBy("cat")
      },
      Some("""WITH ab AS (
          SELECT cat, CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
          FROM (
            SELECT lang AS cat, 1 AS a, 0 AS b FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT lang AS cat, 0 AS a, 1 AS b FROM documents WHERE doc_id % 2 = 1)
          GROUP BY cat),
        t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
          FROM ab)
        SELECT cat, n_a, n_b,
          CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
          CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
          (n_a = 0 OR n_b = 0) AS one_sided,
          CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
            ELSE round(
              (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
              * round(ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
                / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))), 6), 6)
          END AS psi
        FROM ab, t ORDER BY cat""")),

    Q("q255_embedding_isotropy",
      (s, dir) =>
        // one-row isotropy report: exact-integer trace + power-iteration
        // top-2 eigenvalues and their variance shares — the
        // embedding-space collapse probe (anisotropy degrades
        // cosine retrieval).
        graft.operators.Embeddings
          .isotropyReport(t(s, dir, "embeddings"), "embedding", 64),
      Some("""WITH RECURSIVE q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
          FROM embeddings),
        expl AS MATERIALIZED (
          SELECT i, qv[i] AS qi, qv FROM q, generate_series(1, 64) AS t(i)),
        sums AS MATERIALIZED (
          SELECT i, CAST(sum(qi) AS BIGINT) AS s FROM expl GROUP BY i),
        gram AS MATERIALIZED (
          SELECT e.i AS i, t.j AS j, CAST(sum(e.qi * e.qv[t.j]) AS BIGINT) AS g
          FROM expl e, generate_series(1, 64) AS t(j)
          WHERE t.j >= e.i GROUP BY e.i, t.j),
        nrow AS (SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(count(*) AS BIGINT) AS ni FROM q),
        tr AS MATERIALIZED (
          SELECT (CAST(sum(CAST(nrow.ni AS HUGEINT) * g.g
                   - CAST(si.s AS HUGEINT) * si.s) AS DOUBLE)
                  / (nrow.nd * nrow.nd)) * 9.094947017729282e-13 AS trace
          FROM gram g JOIN sums si ON g.i = si.i AND g.j = si.i, nrow
          GROUP BY nrow.nd),
        cov AS MATERIALIZED (
          SELECT i.i AS i, j.j AS j,
            (CAST(g.g AS DOUBLE) / nrow.nd
             - (CAST(si.s AS DOUBLE) / nrow.nd) * (CAST(sj.s AS DOUBLE) / nrow.nd))
            * 9.094947017729282e-13 AS c
          FROM generate_series(1, 64) AS i(i)
          JOIN generate_series(1, 64) AS j(j) ON true
          JOIN gram g ON g.i = least(i.i, j.j) AND g.j = greatest(i.i, j.j)
          JOIN sums si ON si.i = i.i JOIN sums sj ON sj.i = j.j, nrow),
        cmat AS MATERIALIZED (
          SELECT list(cl ORDER BY i) AS m FROM (
            SELECT i, list(c ORDER BY j) AS cl FROM cov GROUP BY i)),
        it1 AS (
          SELECT 0 AS t, list_transform(range(1, 65), x -> 1.0 / sqrt(CAST(64 AS DOUBLE))) AS v
          UNION ALL
          SELECT t + 1, list_transform(
              list_transform(m, r -> list_dot_product(r, v)),
              x -> x / sqrt(list_dot_product(
                list_transform(m, r -> list_dot_product(r, v)),
                list_transform(m, r -> list_dot_product(r, v)))))
          FROM it1, cmat WHERE t < 40),
        pc1 AS MATERIALIZED (SELECT v FROM it1 WHERE t = 40),
        l1 AS MATERIALIZED (
          SELECT list_dot_product(v,
            list_transform(m, r -> list_dot_product(r, v))) AS lam
          FROM pc1, cmat),
        c2 AS MATERIALIZED (
          SELECT list_transform(range(1, 65),
            i -> list_transform(range(1, 65), j -> m[i][j] - lam * v[i] * v[j])) AS m
          FROM cmat, pc1, l1),
        it2 AS (
          SELECT 0 AS t, list_transform(range(1, 65), x -> 1.0 / sqrt(CAST(64 AS DOUBLE))) AS v
          UNION ALL
          SELECT t + 1, list_transform(
              list_transform(m, r -> list_dot_product(r, v)),
              x -> x / sqrt(list_dot_product(
                list_transform(m, r -> list_dot_product(r, v)),
                list_transform(m, r -> list_dot_product(r, v)))))
          FROM it2, c2 WHERE t < 40),
        pc2 AS MATERIALIZED (SELECT v FROM it2 WHERE t = 40),
        l2 AS MATERIALIZED (
          SELECT list_dot_product(v,
            list_transform(m, r -> list_dot_product(r, v))) AS lam
          FROM pc2, c2)
        SELECT nrow.ni AS n, CAST(64 AS INT) AS dim, tr.trace AS trace,
          l1.lam AS lambda1, l2.lam AS lambda2,
          l1.lam / tr.trace AS pc1_share, l2.lam / tr.trace AS pc2_share
        FROM nrow, tr, l1, l2""")),

    Q("q256_join_cardinality",
      (s, dir) =>
        // pre-shuffle join-size estimate: per-side KMV key sketches
        // (mergeable bottom-k over md5-60-bit keys), inclusion-exclusion
        // overlap, multiplicity fan-out — |orders ⋈ customer| sized from
        // two O(k)-state aggregates before any data row shuffles.
        ScaleOps.joinCardinalityEstimate(
          t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey", k = 512),
      Some("""WITH ha AS (
          SELECT CAST(concat('0x',
            substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM orders),
        hb AS (
          SELECT CAST(concat('0x',
            substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM customer),
        na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM ha),
        nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM hb),
        sa AS (SELECT DISTINCT h FROM ha ORDER BY h LIMIT 512),
        sb AS (SELECT DISTINCT h FROM hb ORDER BY h LIMIT 512),
        su AS (
          SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
          ORDER BY h LIMIT 512),
        ka AS (SELECT count(*) AS n, max(h) AS kth FROM sa),
        kb AS (SELECT count(*) AS n, max(h) AS kth FROM sb),
        ku AS (SELECT count(*) AS n, max(h) AS kth FROM su),
        est AS (
          SELECT
            CASE WHEN ka.n < 512 THEN CAST(ka.n AS DOUBLE)
              ELSE round(511.0 / (CAST(ka.kth AS DOUBLE) / 1152921504606846976.0), 4)
            END AS d_a_est,
            CASE WHEN kb.n < 512 THEN CAST(kb.n AS DOUBLE)
              ELSE round(511.0 / (CAST(kb.kth AS DOUBLE) / 1152921504606846976.0), 4)
            END AS d_b_est,
            CASE WHEN ku.n < 512 THEN CAST(ku.n AS DOUBLE)
              ELSE round(511.0 / (CAST(ku.kth AS DOUBLE) / 1152921504606846976.0), 4)
            END AS d_union_est,
            CAST(ku.n AS INTEGER) AS union_k
          FROM ka, kb, ku),
        ov AS (
          SELECT greatest(0.0, round(d_a_est + d_b_est - d_union_est, 4))
            AS overlap_keys_est
          FROM est)
        SELECT CAST(512 AS INTEGER) AS k, n_a, n_b, union_k,
          d_a_est, d_b_est, d_union_est, overlap_keys_est,
          round(overlap_keys_est
            * (CAST(n_a AS DOUBLE) / d_a_est)
            * (CAST(n_b AS DOUBLE) / d_b_est), 2) AS est_join_rows
        FROM est, ov, na, nb""")),

    Q("q257_group_quantiles",
      (s, dir) =>
        // per-language document-length percentiles in ONE pass: the
        // value-carrying KMV aggregate (2k longs of mergeable state per
        // group) where ORDER BY + LIMIT per group cannot run; the
        // nearest-rank rule over each group's md5-deterministic sample.
        ScaleOps.sampleQuantilesByGroup(
          t(s, dir, "documents"), "lang", "doc_id", "n_chars",
          k = 200, qs = Seq(0.5, 0.9, 0.99))
          .orderBy("lang", "q"),
      Some("""WITH h AS (
          SELECT lang, CAST(n_chars AS DOUBLE) AS v,
            CAST(concat('0x',
              substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
          FROM documents),
        r AS (
          SELECT lang, v,
            row_number() OVER (PARTITION BY lang ORDER BY hh) AS rn
          FROM h),
        s AS (SELECT lang, v FROM r WHERE rn <= 200),
        g AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS m, list(v ORDER BY v) AS vs
          FROM s GROUP BY lang),
        qq AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
        SELECT lang, q, vs[CAST(greatest(1, ceil(q * m)) AS INT)] AS value,
          m AS sample_size
        FROM g, qq ORDER BY lang, q""")),

    Q("q258_correlation_matrix",
      (s, dir) =>
        // Pearson correlation matrix over lineitem's numeric columns in
        // ONE pass: 4 + 10 exact DECIMAL sums in a single aggregate;
        // every correlation derives from exact decimals, so the floats
        // are engine-identical.
        // scale 3 keeps the 2dp fixture values exact while the scaled
        // int64 products stay inside DuckDB's DECIMAL(18) storage
        graft.quality.Validator.correlationMatrix(
          t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          scale = 3)
          .orderBy("col_a", "col_b"),
      Some("""WITH m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            sum(CAST(l_quantity AS DECIMAL(18,3))) AS s0,
            sum(CAST(l_extendedprice AS DECIMAL(18,3))) AS s1,
            sum(CAST(l_discount AS DECIMAL(18,3))) AS s2,
            sum(CAST(l_tax AS DECIMAL(18,3))) AS s3,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_quantity AS DECIMAL(18,3))) AS p00,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS p01,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS p02,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p03,
            sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS p11,
            sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS p12,
            sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p13,
            sum(CAST(l_discount AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS p22,
            sum(CAST(l_discount AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p23,
            sum(CAST(l_tax AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p33
          FROM lineitem),
        p AS (
          SELECT col_a, col_b, sx, sy, sxy, sxx, syy, n FROM (
            SELECT 'l_quantity' AS col_a, 'l_quantity' AS col_b,
              CAST(s0 AS DOUBLE) sx, CAST(s0 AS DOUBLE) sy, CAST(p00 AS DOUBLE) sxy,
              CAST(p00 AS DOUBLE) sxx, CAST(p00 AS DOUBLE) syy, n FROM m
            UNION ALL SELECT 'l_quantity', 'l_extendedprice',
              CAST(s0 AS DOUBLE), CAST(s1 AS DOUBLE), CAST(p01 AS DOUBLE),
              CAST(p00 AS DOUBLE), CAST(p11 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_quantity', 'l_discount',
              CAST(s0 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(p02 AS DOUBLE),
              CAST(p00 AS DOUBLE), CAST(p22 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_quantity', 'l_tax',
              CAST(s0 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p03 AS DOUBLE),
              CAST(p00 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_extendedprice', 'l_extendedprice',
              CAST(s1 AS DOUBLE), CAST(s1 AS DOUBLE), CAST(p11 AS DOUBLE),
              CAST(p11 AS DOUBLE), CAST(p11 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_extendedprice', 'l_discount',
              CAST(s1 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(p12 AS DOUBLE),
              CAST(p11 AS DOUBLE), CAST(p22 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_extendedprice', 'l_tax',
              CAST(s1 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p13 AS DOUBLE),
              CAST(p11 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_discount', 'l_discount',
              CAST(s2 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(p22 AS DOUBLE),
              CAST(p22 AS DOUBLE), CAST(p22 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_discount', 'l_tax',
              CAST(s2 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p23 AS DOUBLE),
              CAST(p22 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m
            UNION ALL SELECT 'l_tax', 'l_tax',
              CAST(s3 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p33 AS DOUBLE),
              CAST(p33 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m))
        SELECT col_a, col_b,
          CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n AS DOUBLE) * syy - sy * sy) <= 0.0 THEN NULL
            ELSE (CAST(n AS DOUBLE) * sxy - sx * sy)
              / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                   * (CAST(n AS DOUBLE) * syy - sy * sy))
          END AS corr, n
        FROM p ORDER BY col_a, col_b""")),

    Q("q259_mutual_information",
      (s, dir) =>
        // soft-dependency audit: mutual information (nats) between lang
        // and source with both marginal entropies — completes the FD
        // audit (q244 is the hard constraint, this the soft measure).
        // Exact integer counts; ln under the 6dp DECIMAL discipline.
        graft.quality.Validator.mutualInformation(
          t(s, dir, "documents"), "lang", "source"),
      Some("""WITH cells AS (
          SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS nab
          FROM documents GROUP BY 1, 2),
        ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM cells GROUP BY a),
        mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM cells GROUP BY b),
        tot AS (SELECT CAST(sum(nab) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        mi AS (
          SELECT CAST(sum(CAST(round(
              (CAST(nab AS DOUBLE) / CAST(n AS DOUBLE))
              * round(ln((CAST(nab AS DOUBLE) * CAST(n AS DOUBLE))
                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6), 6)
            AS DECIMAL(18,6))) AS DOUBLE) AS mi
          FROM cells JOIN ma USING (a) JOIN mb USING (b), tot),
        ha AS (
          SELECT CAST(sum(CAST(round(
              (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
              * round(ln(CAST(na AS DOUBLE) / CAST(n AS DOUBLE)), 6), 6)
            AS DECIMAL(18,6))) AS DOUBLE) AS ha FROM ma, tot),
        hb AS (
          SELECT CAST(sum(CAST(round(
              (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
              * round(ln(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)), 6), 6)
            AS DECIMAL(18,6))) AS DOUBLE) AS hb FROM mb, tot)
        SELECT tot.n AS n, tot.n_cells AS n_cells,
          0.0 - ha.ha AS h_a, 0.0 - hb.hb AS h_b, mi.mi AS mi
        FROM tot, mi, ha, hb""")),

    Q("q260_tokenizer_fertility",
      (s, dir) => {
        // per-language tokenizer-fertility audit through the registered
        // named-model surface (Bpe.registerSql → GraftModels): exact
        // word/char/byte/token counters + 6dp ratios. The merge table
        // is a FIXED artifact (a fertility audit measures a GIVEN
        // tokenizer against a corpus — the tokenizer is an input, like
        // q205's gazetteer), which is exactly what makes the greedy
        // encode fully oracle-replayable: the DuckDB twin re-runs the
        // rank-priority merge loop per word type from the same literal
        // table in a recursive CTE.
        Bpe.registerSql(s, "fertility_probe", fertilityMerges)
        val enc = graft.functions.GraftModels.resolve("fertility_probe", "bpe")
        TextAnalysis
          .tokenizerFertility(t(s, dir, "documents"), "lang", "text", enc)
          .orderBy("lang")
      },
      Some(fertilityOracleSql)),

    Q("q261_group_ks_drift",
      (s, dir) => {
        // per-language KS drift in ONE pass (even- vs odd-id halves):
        // q253's exact-integer statistic per group over deterministic
        // value-carrying KMV samples (the q257 machinery) — exact KS
        // per slice where the global statistic would average away a
        // single language's length collapse.
        val d = t(s, dir, "documents")
        graft.quality.Drift.ksDriftByGroup(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "lang", "doc_id", "n_chars", k = 200)
          .orderBy("lang")
      },
      Some("""WITH u AS (
          SELECT lang, CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
            CAST(n_chars AS DOUBLE) AS v,
            CAST(concat('0x',
              substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM documents),
        r AS (
          SELECT lang, side, v,
            row_number() OVER (PARTITION BY lang, side ORDER BY h) AS rn
          FROM u),
        n AS (
          SELECT lang,
            CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM u GROUP BY lang),
        s AS (
          SELECT lang,
            coalesce(list(v ORDER BY rn) FILTER (WHERE side = 'a'), []) AS va,
            coalesce(list(v ORDER BY rn) FILTER (WHERE side = 'b'), []) AS vb
          FROM r WHERE rn <= 200 GROUP BY lang),
        m AS (
          SELECT lang, va, vb,
            CAST(len(va) AS BIGINT) AS m_a, CAST(len(vb) AS BIGINT) AS m_b
          FROM s),
        cand AS (
          SELECT lang, m_a, m_b, va, vb,
            unnest(list_distinct(va || vb)) AS cv
          FROM m),
        dd AS (
          SELECT lang, m_a, m_b, cv,
            abs(CAST(len(list_filter(va, x -> x <= cv)) AS BIGINT) * m_b
              - CAST(len(list_filter(vb, x -> x <= cv)) AS BIGINT) * m_a) AS ad
          FROM cand),
        best AS (
          SELECT lang, m_a, m_b, cv, ad,
            row_number() OVER (PARTITION BY lang ORDER BY ad DESC, cv ASC) AS rk
          FROM dd)
        SELECT n.lang, n.n_a, n.n_b, b.m_a, b.m_b,
          CASE WHEN b.m_a = 0 OR b.m_b = 0 THEN NULL
            ELSE CAST(b.ad AS DOUBLE)
              / (CAST(b.m_a AS DOUBLE) * CAST(b.m_b AS DOUBLE)) END AS d_stat,
          CASE WHEN b.m_a = 0 OR b.m_b = 0 THEN NULL ELSE b.cv END AS at_value,
          (b.m_a = 0 OR b.m_b = 0) AS one_sided
        FROM n JOIN best b ON b.lang = n.lang AND b.rk = 1
        ORDER BY n.lang""")),

    Q("q262_langid_confusion",
      (s, dir) =>
        // classifier-health audit: q97's language-ID heuristic
        // cross-tabulated against the labeled lang column — exact
        // (label, pred) cell counts, row-normalized shares, diagonal
        // flag; margins derive from the checkpointed cell frame.
        TextAnalysis
          .langIdConfusion(fannedOut(t(s, dir, "documents")), "lang", "text")
          .orderBy("label", "pred"),
      Some("""WITH s AS (
          SELECT doc_id, lang,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['der','die','und','das','ist','nicht','ein','mit'], t))) AS de,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['the','and','of','to','is','that','you','with'], t))) AS en,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['el','la','de','que','los','una','por','con'], t))) AS es,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['le','les','des','est','dans','une','pour','que'], t))) AS fr,
            len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              t -> list_contains(['的','是','了','在','我','有','他','这'], t)))
              + len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS zh
          FROM documents),
        p AS (
          SELECT lang AS label,
            CASE WHEN coalesce(greatest(de, en, es, fr, zh), 0) = 0 THEN 'und'
                 WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
                 WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
                 WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
                 WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
                 ELSE 'zh' END AS pred
          FROM s),
        cells AS (
          SELECT label, pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY label, pred),
        m AS (SELECT label, CAST(sum(n) AS BIGINT) AS lt FROM cells GROUP BY label)
        SELECT c.label, c.pred, c.n,
          round(CAST(c.n AS DOUBLE) / CAST(m.lt AS DOUBLE), 6) AS share_of_label,
          (c.label = c.pred) AS is_correct
        FROM cells c JOIN m USING (label)
        ORDER BY label, pred""")),

    Q("q263_psi_binned",
      (s, dir) => {
        // numeric PSI: document lengths binned on the BASELINE's
        // (even-id half's) discrete quartile boundaries — the q135
        // binning discipline — then the categorical PSI over bins.
        val d = t(s, dir, "documents")
        graft.quality.Drift.psiDriftBinned(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "n_chars", nBins = 4)
          .orderBy("cat")
      },
      Some("""WITH bd AS (
          SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS q1,
            percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars) AS q2,
            percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS q3
          FROM documents WHERE doc_id % 2 = 0),
        abr AS (
          SELECT CAST(1 + (CASE WHEN n_chars > q1 THEN 1 ELSE 0 END)
                    + (CASE WHEN n_chars > q2 THEN 1 ELSE 0 END)
                    + (CASE WHEN n_chars > q3 THEN 1 ELSE 0 END) AS VARCHAR) AS cat,
            CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
            CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS b
          FROM documents, bd),
        ab AS (
          SELECT cat, CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
          FROM abr GROUP BY cat),
        t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb
          FROM ab)
        SELECT cat, n_a, n_b,
          CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
          CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
          (n_a = 0 OR n_b = 0) AS one_sided,
          CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
            ELSE round(
              (CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
                - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))
              * round(ln((CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE))
                / (CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE))), 6), 6)
          END AS psi
        FROM ab, t ORDER BY cat""")),

    Q("q264_threshold_sensitivity",
      (s, dir) =>
        // dedup budget sweep: per candidate threshold, surviving pair
        // count, distinct docs touched, decimal-exact mean Jaccard —
        // ONE verified-pair pass at min(thresholds) (banding is
        // threshold-independent), never |grid| pipeline re-runs. Same
        // exhaustive oracle + recall contract as q81/q239.
        Dedup.thresholdSensitivity(
          fannedOut(t(s, dir, "documents")), "doc_id", "text",
          thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
          k = 128, bands = 32, w = 3)
          .orderBy("threshold"),
      Some("""WITH sh AS (
          SELECT doc_id, list_distinct(
            [hash(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
                FROM documents)),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.sh) > 0 AND len(b.sh) > 0
            AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
              >= 0.5),
        g AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
        f AS (
          SELECT g.threshold, p.id_a, p.id_b, p.jaccard
          FROM g JOIN p ON p.jaccard >= g.threshold),
        st AS (
          SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs,
            sum(CAST(jaccard AS DECIMAL(18,6))) AS js
          FROM f GROUP BY threshold),
        dc AS (
          SELECT threshold, CAST(count(DISTINCT id) AS BIGINT) AS n_docs_in_pairs
          FROM (SELECT threshold, id_a AS id FROM f
                UNION ALL SELECT threshold, id_b FROM f)
          GROUP BY threshold)
        SELECT g.threshold,
          coalesce(st.n_pairs, 0) AS n_pairs,
          coalesce(dc.n_docs_in_pairs, 0) AS n_docs_in_pairs,
          CASE WHEN coalesce(st.n_pairs, 0) = 0 THEN NULL
            ELSE round(CAST(js AS DOUBLE) / CAST(st.n_pairs AS DOUBLE), 6)
          END AS mean_jaccard
        FROM g LEFT JOIN st USING (threshold) LEFT JOIN dc USING (threshold)
        ORDER BY threshold""")),

    Q("q265_vocab_coverage",
      (s, dir) => {
        // UNK-rate audit through the registered id surface: share of
        // subword occurrences the frozen vocabulary maps to -1, per
        // language — q260's deployment companion. Merge table AND
        // vocabulary are fixed input artifacts, so the oracle replays
        // the whole id pipeline.
        val encIds = graft.operators.Bpe
          .encodeToIds(s, fertilityMerges, fertilityVocab.zipWithIndex)
        TextAnalysis
          .vocabCoverage(fannedOut(t(s, dir, "documents")), "lang", "text", encIds)
          .orderBy("lang")
      },
      Some(raw"""WITH RECURSIVE ws AS (
          SELECT lang,
            unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
              x -> x <> '')) AS wd
          FROM documents),
        types AS (SELECT DISTINCT wd FROM ws),
        enc AS (
          SELECT wd,
            list_append([wd[i] for i in range(1, length(wd) + 1)], '</w>') AS syms
          FROM types
          UNION ALL
          SELECT wd, syms[1:ba-1] || [syms[ba] || syms[ba+1]] || syms[ba+2:] AS syms
          FROM (
            SELECT wd, syms, list_min(rks) AS br,
              list_position(rks, list_min(rks)) AS ba
            FROM (
              SELECT wd, syms,
                list_transform(range(1, len(syms)), i ->
                  coalesce(nullif(list_position($fertilityMergesSql,
                    syms[i] || ' ' || syms[i+1]), 0), 999999)) AS rks
              FROM enc) t1) t2
          WHERE br < 999999),
        fin AS (
          SELECT wd, CAST(len(syms) AS BIGINT) AS nt,
            CAST(len(list_filter(syms,
              sy -> NOT list_contains($fertilityVocabSql, sy))) AS BIGINT) AS nu
          FROM (
            SELECT wd, syms,
              list_min(list_transform(range(1, len(syms)), i ->
                coalesce(nullif(list_position($fertilityMergesSql,
                  syms[i] || ' ' || syms[i+1]), 0), 999999))) AS br
            FROM enc) t
          WHERE br IS NULL OR br = 999999),
        wagg AS (
          SELECT ws.lang,
            CAST(sum(f.nt) AS BIGINT) AS n_tokens,
            CAST(sum(f.nu) AS BIGINT) AS n_unk
          FROM ws JOIN fin f ON f.wd = ws.wd GROUP BY ws.lang),
        docs AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY lang)
        SELECT d.lang, d.n_docs,
          coalesce(a.n_tokens, 0) AS n_tokens,
          coalesce(a.n_unk, 0) AS n_unk,
          CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_unk AS DOUBLE) / CAST(a.n_tokens AS DOUBLE), 6)
          END AS unk_rate
        FROM docs d LEFT JOIN wagg a ON a.lang = d.lang
        ORDER BY d.lang""")),

    Q("q266_group_psi_drift",
      (s, dir) => {
        // per-language source-mix PSI between the even/odd halves —
        // q254's statistic per slice, shares against GROUP totals,
        // totals derived from the checkpointed cell frame.
        val d = t(s, dir, "documents")
        graft.quality.Drift.psiDriftByGroup(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "lang", "source")
          .orderBy("lang", "cat")
      },
      Some("""WITH ab AS (
          SELECT lang, cat,
            CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
          FROM (
            SELECT lang, source AS cat, 1 AS a, 0 AS b
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT lang, source AS cat, 0 AS a, 1 AS b
            FROM documents WHERE doc_id % 2 = 1)
          GROUP BY lang, cat),
        t AS (
          SELECT lang, CAST(sum(n_a) AS BIGINT) AS ta,
            CAST(sum(n_b) AS BIGINT) AS tb
          FROM ab GROUP BY lang),
        j AS (
          SELECT ab.lang, ab.cat, ab.n_a, ab.n_b,
            CASE WHEN t.ta = 0 THEN NULL
              ELSE CAST(ab.n_a AS DOUBLE) / CAST(t.ta AS DOUBLE) END AS share_a,
            CASE WHEN t.tb = 0 THEN NULL
              ELSE CAST(ab.n_b AS DOUBLE) / CAST(t.tb AS DOUBLE) END AS share_b,
            (ab.n_a = 0 OR ab.n_b = 0) AS one_sided
          FROM ab JOIN t USING (lang))
        SELECT lang, cat, n_a, n_b, share_a, share_b, one_sided,
          CASE WHEN one_sided THEN NULL
            ELSE round((share_a - share_b)
              * round(ln(share_a / share_b), 6), 6) END AS psi
        FROM j ORDER BY lang, cat""")),

    Q("q267_group_correlation",
      (s, dir) =>
        // q258's Pearson matrix PER return-flag slice: the same 18
        // exact-decimal sums as ONE grouped aggregate; every
        // correlation derives from its group's sums with the pinned
        // double ops.
        graft.quality.Validator.correlationMatrixByGroup(
          t(s, dir, "lineitem"), "l_returnflag",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
          scale = 3)
          .orderBy("l_returnflag", "col_a", "col_b"),
      Some("""WITH m AS (
          SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(l_quantity AS DECIMAL(18,3))) AS s0,
            sum(CAST(l_extendedprice AS DECIMAL(18,3))) AS s1,
            sum(CAST(l_discount AS DECIMAL(18,3))) AS s2,
            sum(CAST(l_tax AS DECIMAL(18,3))) AS s3,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_quantity AS DECIMAL(18,3))) AS p00,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS p01,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS p02,
            sum(CAST(l_quantity AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p03,
            sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_extendedprice AS DECIMAL(18,3))) AS p11,
            sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS p12,
            sum(CAST(l_extendedprice AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p13,
            sum(CAST(l_discount AS DECIMAL(18,3)) * CAST(l_discount AS DECIMAL(18,3))) AS p22,
            sum(CAST(l_discount AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p23,
            sum(CAST(l_tax AS DECIMAL(18,3)) * CAST(l_tax AS DECIMAL(18,3))) AS p33
          FROM lineitem GROUP BY l_returnflag),
        p AS (
          SELECT g, col_a, col_b, sx, sy, sxy, sxx, syy, n FROM (
            SELECT g, 'l_quantity' AS col_a, 'l_quantity' AS col_b,
              CAST(s0 AS DOUBLE) sx, CAST(s0 AS DOUBLE) sy, CAST(p00 AS DOUBLE) sxy,
              CAST(p00 AS DOUBLE) sxx, CAST(p00 AS DOUBLE) syy, n FROM m
            UNION ALL SELECT g, 'l_quantity', 'l_extendedprice',
              CAST(s0 AS DOUBLE), CAST(s1 AS DOUBLE), CAST(p01 AS DOUBLE),
              CAST(p00 AS DOUBLE), CAST(p11 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_quantity', 'l_discount',
              CAST(s0 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(p02 AS DOUBLE),
              CAST(p00 AS DOUBLE), CAST(p22 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_quantity', 'l_tax',
              CAST(s0 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p03 AS DOUBLE),
              CAST(p00 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_extendedprice', 'l_extendedprice',
              CAST(s1 AS DOUBLE), CAST(s1 AS DOUBLE), CAST(p11 AS DOUBLE),
              CAST(p11 AS DOUBLE), CAST(p11 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_extendedprice', 'l_discount',
              CAST(s1 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(p12 AS DOUBLE),
              CAST(p11 AS DOUBLE), CAST(p22 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_extendedprice', 'l_tax',
              CAST(s1 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p13 AS DOUBLE),
              CAST(p11 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_discount', 'l_discount',
              CAST(s2 AS DOUBLE), CAST(s2 AS DOUBLE), CAST(p22 AS DOUBLE),
              CAST(p22 AS DOUBLE), CAST(p22 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_discount', 'l_tax',
              CAST(s2 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p23 AS DOUBLE),
              CAST(p22 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m
            UNION ALL SELECT g, 'l_tax', 'l_tax',
              CAST(s3 AS DOUBLE), CAST(s3 AS DOUBLE), CAST(p33 AS DOUBLE),
              CAST(p33 AS DOUBLE), CAST(p33 AS DOUBLE), n FROM m))
        SELECT g AS l_returnflag, col_a, col_b,
          CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n AS DOUBLE) * syy - sy * sy) <= 0.0 THEN NULL
            ELSE round((CAST(n AS DOUBLE) * sxy - sx * sy)
              / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                   * (CAST(n AS DOUBLE) * syy - sy * sy)), 12)
          END AS corr, n
        FROM p ORDER BY l_returnflag, col_a, col_b""")),

    Q("q268_fertility_incremental",
      (s, dir) => {
        // incremental fertility store: two batch advances over the
        // six-longs-per-language counter store reproduce the FULL
        // corpus report — history text never re-encoded. The oracle is
        // q260's full-corpus SQL verbatim, so the hash gate IS the
        // incremental ≡ full proof.
        Bpe.registerSql(s, "fertility_probe", fertilityMerges)
        val enc = graft.functions.GraftModels.resolve("fertility_probe", "bpe")
        val d = t(s, dir, "documents")
        val store1 = TextAnalysis.fertilityCounters(
          d.filter(col("doc_id") % 2 === 0), "lang", "text", enc)
        val store2 = TextAnalysis.fertilityAdvance(
          store1, d.filter(col("doc_id") % 2 === 1), "lang", "text", enc)
        TextAnalysis.fertilityReport(store2).orderBy("lang")
      },
      Some(fertilityOracleSql)),

    Q("q269_group_quantile_drift",
      (s, dir) => {
        // per-language p50/p90/p99 length shifts between the even/odd
        // halves — the LOCATION drift next to q261 (shape) and q266
        // (mix); nearest-rank over the q257 deterministic samples.
        val d = t(s, dir, "documents")
        graft.quality.Drift.quantileDriftByGroup(
          d.filter(col("doc_id") % 2 === 0),
          d.filter(col("doc_id") % 2 === 1),
          "lang", "doc_id", "n_chars", k = 200, qs = Seq(0.5, 0.9, 0.99))
          .orderBy("lang", "q")
      },
      Some("""WITH u AS (
          SELECT lang, CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
            CAST(n_chars AS DOUBLE) AS v,
            CAST(concat('0x',
              substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM documents),
        r AS (
          SELECT lang, side, v,
            row_number() OVER (PARTITION BY lang, side ORDER BY h) AS rn
          FROM u),
        sgrp AS (
          SELECT lang,
            coalesce(list(v ORDER BY v) FILTER (WHERE side = 'a'), []) AS va,
            coalesce(list(v ORDER BY v) FILTER (WHERE side = 'b'), []) AS vb
          FROM r WHERE rn <= 200 GROUP BY lang),
        m AS (
          SELECT lang, va, vb,
            CAST(len(va) AS BIGINT) AS m_a, CAST(len(vb) AS BIGINT) AS m_b
          FROM sgrp),
        qq AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
        SELECT lang, q,
          CASE WHEN m_a = 0 THEN NULL
            ELSE va[CAST(greatest(1, ceil(q * m_a)) AS INT)] END AS value_a,
          CASE WHEN m_b = 0 THEN NULL
            ELSE vb[CAST(greatest(1, ceil(q * m_b)) AS INT)] END AS value_b,
          CASE WHEN m_a = 0 OR m_b = 0 THEN NULL
            ELSE vb[CAST(greatest(1, ceil(q * m_b)) AS INT)]
               - va[CAST(greatest(1, ceil(q * m_a)) AS INT)] END AS delta,
          m_a, m_b, (m_a = 0 OR m_b = 0) AS one_sided
        FROM m, qq ORDER BY lang, q""")),

    Q("q270_unigram_roundtrip",
      (s, dir) => {
        // unigram-LM (Kudo 2018) encode + round trip under a FROZEN
        // (piece, logprob) table through the registered named-model
        // surface (Unigram.registerIdsSql → GraftModels): per document
        // the Viterbi segmentation, token count, and the decode∘encode
        // ≡ tokenizer-normalized-text identity. The piece table is an
        // input artifact with exact-binary-fraction logprobs, so the
        // max-log-prob DP — including the engineered "join" tie —
        // replays bit-identically in DuckDB's recursive CTE (the q260
        // discipline for the second tokenizer family).
        Unigram.registerIdsSql(s, "unigram_probe", unigramPieces)
        val enc = graft.functions.GraftModels.resolve("unigram_probe", "unigram")
        val norm = array_join(TextAnalysis.tokens(lower(col("text"))), " ")
        t(s, dir, "documents")
          .select(col("doc_id"), enc(col("text")).as("__tk"), norm.as("__norm"))
          .select(col("doc_id"),
            size(col("__tk")).cast("long").as("n_tokens"),
            array_join(col("__tk"), " ").as("tokens"),
            (Unigram.decode(col("__tk")) === coalesce(col("__norm"), lit("")))
              .as("round_trip"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH RECURSIVE $unigramDpSql,
        doc AS (
          SELECT ws.doc_id,
            CAST(sum(len(seg.pieces)) AS BIGINT) AS n_tokens,
            string_agg(array_to_string(seg.pieces, ' '), ' ' ORDER BY ws.i) AS tokens,
            string_agg(array_to_string(seg.pieces, ''), '' ORDER BY ws.i) AS cat,
            string_agg(ws.wd, ' ' ORDER BY ws.i) AS norm
          FROM ws JOIN seg ON seg.wd = ws.wd
          GROUP BY ws.doc_id)
        SELECT d.doc_id,
          coalesce(t2.n_tokens, 0) AS n_tokens,
          coalesce(t2.tokens, '') AS tokens,
          (rtrim(replace(coalesce(t2.cat, ''), '</w>', ' '))
            = coalesce(t2.norm, '')) AS round_trip
        FROM documents d LEFT JOIN doc t2 ON d.doc_id = t2.doc_id
        ORDER BY d.doc_id""")),

    Q("q271_unigram_fertility",
      (s, dir) => {
        // q260's per-language fertility audit under the SECOND
        // tokenizer family: the identical counter/ratio surface with
        // the unigram Viterbi encoder swapped in by model name — the
        // audit-portability the GraftModels kind system exists for.
        Unigram.registerSql(s, "unigram_probe", unigramPieces)
        val enc = graft.functions.GraftModels.resolve("unigram_probe", "unigram")
        TextAnalysis
          .tokenizerFertility(t(s, dir, "documents"), "lang", "text", enc)
          .orderBy("lang")
      },
      Some(raw"""WITH RECURSIVE $unigramDpSql,
        wagg AS (
          SELECT ws.lang,
            CAST(count(*) AS BIGINT) AS n_words,
            CAST(sum(length(ws.wd)) AS BIGINT) AS n_chars,
            CAST(sum(strlen(ws.wd)) AS BIGINT) AS n_bytes,
            CAST(sum(len(seg.pieces)) AS BIGINT) AS n_tokens
          FROM ws JOIN seg ON seg.wd = ws.wd GROUP BY ws.lang),
        docs AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY lang)
        SELECT d.lang, d.n_docs,
          coalesce(a.n_words, 0) AS n_words,
          coalesce(a.n_chars, 0) AS n_chars,
          coalesce(a.n_bytes, 0) AS n_bytes,
          coalesce(a.n_tokens, 0) AS n_tokens,
          CASE WHEN coalesce(a.n_words, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_tokens AS DOUBLE) / CAST(a.n_words AS DOUBLE), 6)
          END AS tokens_per_word,
          CASE WHEN coalesce(a.n_chars, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_tokens AS DOUBLE) / CAST(a.n_chars AS DOUBLE), 6)
          END AS tokens_per_char,
          CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN NULL
            ELSE round(CAST(a.n_bytes AS DOUBLE) / CAST(a.n_tokens AS DOUBLE), 6)
          END AS bytes_per_token
        FROM docs d LEFT JOIN wagg a ON a.lang = d.lang
        ORDER BY d.lang""")),

    Q("q272_crawl_to_shards",
      (s, dir) => {
        // THE FLAGSHIP SCENARIO: the complete public-recipe training-
        // data pipeline as ONE composition with no glue — crawl pages →
        // HTML extraction (q187) → mojibake repair (q210) → C4 line
        // cleaning (q206) → Gopher quality gate (q183) → SimHash
        // near-dup dedup (q148) → span-level decontamination against a
        // held-out benchmark (q200) → PII scrub (q102) → temperature-α
        // language mix (q219/q226) → fixed-budget shards + integrity
        // manifest (q217/q233). Every stage is the REAL operator the
        // stage query declares, every stage's arithmetic is engine-
        // replayable, so the WHOLE run carries one hash oracle: the
        // final manifest digests the surviving doc ids and exact token
        // totals, so a drift ANYWHERE upstream — one mis-kept line, one
        // extra dedup pair, one mis-cut span — changes the output hash.
        // The benchmark slice (doc_id % 10 = 9) is held OUT of the
        // crawl and used only as the decontamination reference (the
        // q200 protocol); the crawl page injects a deterministic email
        // + one cp1252 mojibake ghost per doc so the scrub and repair
        // stages demonstrably fire.
        val d = t(s, dir, "documents")
        val crawl = d.filter(pmod(col("doc_id"), lit(10)) =!= 9)
        val bench = d.filter(pmod(col("doc_id"), lit(10)) === 9)
          .select("doc_id", "text")
        val did = col("doc_id").cast("string")
        val gA = lit("\u00C3\u00A9") // cp1252 ghost pair of U+00E9 (q210 arm A)
        val html = concat(
          lit("<html><head><title>Page "), did, lit(" of "), col("source"),
          lit("</title><style>p{color:red}</style></head><body>"),
          lit("<nav><a href=\"/\">Home navigation link</a> " +
            "<a href=\"/arc\">Archive of everything</a></nav>"),
          lit("<h1>Document number "), did,
          lit(" retrieved from source "), col("source"), lit(" &amp; friends</h1>"),
          lit("<p>"), col("text"), lit(". Contact u"), did,
          lit("@ex-mail.org for caf"), gA,
          lit(" details. It was all verified again.</p>"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("<div class=\"rel\"><a href=\"/r1\">Read the related story here</a> " +
              "<a href=\"/r2\">And another related one</a></div>"))
            .otherwise(
              lit("<p>Closing editorial remark long enough to clear the gate.</p>")),
          lit("<footer><a href=\"/tos\">Terms</a> <a href=\"/p\">Privacy</a></footer>"),
          lit("<script>track()</script></body></html>"))
        // 1. extraction  2. mojibake repair
        val repaired = Fence(fannedOut(crawl.select(col("doc_id"), col("source"), col("text")))
          .select(col("doc_id"),
            org.apache.spark.sql.graft.NativeExprs.fixMojibake(
              HtmlText.extractText(html)).as("text")), "q272.repaired")
        // 3. C4 line cleaning (blocks are the lines), then flatten the
        //    line structure for the token-grain stages.
        //    Each stage frame below feeds TWO+ downstream consumers
        //    (the gate probe + the survivor join; the pair generator +
        //    the anti-join; the shingler + the cut) — without sharing,
        //    the whole extract/regex chain re-executes once per path
        //    through the DAG (measured: 33.8 s → 11.1 s at sf0.1 — the
        //    checkpointed composition costs ≈ the sum of its nine
        //    stage queries, which is the floor), so
        //    each multi-consumer frame is lazily checkpointed (the
        //    q264 shared-pairs idiom; executor-local blocks, no
        //    CacheManager pin).
        val flat = Barrier(TextAnalysis.c4Clean(repaired, "doc_id", "text")
          .select(col("doc_id"),
            regexp_replace(col("clean_text"), "\n", " ").as("text")), "q272.flat")
        // 4. Gopher gate (published thresholds)
        val surv = Barrier(flat.join(
          TextAnalysis.gopherSignals(flat).filter(col("passes_gopher"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi"), "q272.survivors")
        // 5. near-dup dedup: smaller id of each pair survives
        val pairs = Dedup.simHashMd5NearDups(
          surv, "doc_id", "text", maxDist = 3, maxBucket = 100000)
        val deduped = Barrier(surv.join(
          pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"), "q272.deduped")
        // 6. span-level decontamination vs the held-out benchmark
        val decon = Dedup.decontaminateSpans(
          deduped, bench, "doc_id", "text", w = 8)
        // 7. PII scrub + exact token count (+ lang rejoined by id)
        val scrubbed = Barrier(decon
          .select(col("doc_id"),
            TextAnalysis.redactPii(col("text_dedup")).as("text"))
          .join(crawl.select("doc_id", "lang"), Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")), "q272.scrubbed")
        // 8. temperature-α language mix to a fixed token budget
        val mixed = ScaleOps.temperatureSample(
          scrubbed, "doc_id", "lang", "n_tok", alpha = 0.3, totalTokens = 8000L)
        // 9. fixed-budget shards + integrity manifest
        ScaleOps.shardManifest(
            mixed.select("doc_id", "n_tok"), "doc_id", "n_tok", budget = 2000L)
          .orderBy("shard")
      },
      Some(crawlToShardsOracleSql)),

    Q("q279_crawl_advance",
      (s, dir) => {
        // THE FLAGSHIP'S OPERATIONAL TWIN: q272's nine stages as a
        // DAILY-BATCH advance against persisted stores — the form a
        // recurring ingest actually runs. Per day, stages 1–4
        // (extract → repair → C4 → Gopher) are batch-local; stage 5
        // advances a persisted simhash FINGERPRINT store
        // (simHashMd5NearDupsVsStore — history text never
        // re-fingerprinted; the store holds EVERY gopher survivor,
        // dropped-or-not, because the full pass's min-id rule counts
        // pairs against dropped docs too); stage 6 cuts spans against
        // the frozen benchmark SHINGLE store (built once); stage 7
        // appends the scrubbed (doc_id, lang, n_tok) LEDGER. Stages
        // 8–9 (temperature-α mix + shards + manifest) are
        // EMISSION-time functions of the accumulated metadata ledger
        // (the frontierNext argument: a global budget can't be
        // advanced per-batch without discarding information the next
        // batch legitimately changes). Days split at the 80th
        // percentile of crawl doc_id — MONOTONE batches, the
        // precondition that makes min-id-survives dedup
        // merge-exact. Incremental ≡ full: the two days' union is
        // q272's corpus, so the oracle is q272's manifest oracle
        // VERBATIM (crawlToShardsOracleSql — shared text, zero
        // drift possible). Store reads between days sit behind
        // barriers (standing in for the table read a real deployment
        // does; the exactly-once commit protocol is
        // StreamingFlagship's, crash windows spec-pinned there).
        val d = t(s, dir, "documents")
        val crawl = d.filter(pmod(col("doc_id"), lit(10)) =!= 9)
        val bench = d.filter(pmod(col("doc_id"), lit(10)) === 9)
          .select("doc_id", "text")
        val cut = crawl.agg(expr(
          "percentile_disc(0.8) WITHIN GROUP (ORDER BY doc_id)"))
          .head().getDouble(0).toLong
        val benchStore = Barrier(Dedup.heldOutShingles(bench, "doc_id", "text", w = 8),
          "q279.benchStore")
        val did = col("doc_id").cast("string")
        val gA = lit("\u00C3\u00A9") // cp1252 ghost pair of U+00E9 (q272's fixture)
        val html = concat(
          lit("<html><head><title>Page "), did, lit(" of "), col("source"),
          lit("</title><style>p{color:red}</style></head><body>"),
          lit("<nav><a href=\"/\">Home navigation link</a> " +
            "<a href=\"/arc\">Archive of everything</a></nav>"),
          lit("<h1>Document number "), did,
          lit(" retrieved from source "), col("source"), lit(" &amp; friends</h1>"),
          lit("<p>"), col("text"), lit(". Contact u"), did,
          lit("@ex-mail.org for caf"), gA,
          lit(" details. It was all verified again.</p>"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("<div class=\"rel\"><a href=\"/r1\">Read the related story here</a> " +
              "<a href=\"/r2\">And another related one</a></div>"))
            .otherwise(
              lit("<p>Closing editorial remark long enough to clear the gate.</p>")),
          lit("<footer><a href=\"/tos\">Terms</a> <a href=\"/p\">Privacy</a></footer>"),
          lit("<script>track()</script></body></html>"))
        // ONE chain execution over the whole crawl for the BATCH-LOCAL
        // stages 1–4 + fingerprinting (all row-local: per-row outputs
        // are independent of the day split, so computing them over the
        // union and slicing by day afterwards is identical — the q277
        // composition argument; a production day-2 run processes only
        // day-2 rows, which costs the same rows). The day protocol
        // lives where it matters: stage 5's store advance runs PER DAY
        // against the day's pre-batch store (day 1 vs the empty store,
        // day 2 vs day 1's fingerprints — fps is checkpointed, so the
        // day slices are filters over the materialized frame, standing
        // in for the store read a real deployment does). Stages 6–7
        // (span cut vs the FROZEN benchmark store, PII scrub, ledger)
        // are again row-local given the per-day dropped-id sets, so
        // they run once over the union of the two days' survivors —
        // r14 optimization: this halves the stage-job count of the old
        // per-day advance() closure (8 checkpoint materializations →
        // 4) without moving a single row differently; measured 13.2 →
        // ~7 s at sf0.1, ledger rows identical (OPTIMIZATION_r14.md).
        val batch = fannedOut(crawl.select("doc_id", "source", "text", "lang"))
        val repaired = Fence(batch
          .select(col("doc_id"),
            org.apache.spark.sql.graft.NativeExprs.fixMojibake(
              HtmlText.extractText(html)).as("text")), "q279.repaired")
        val flat = Barrier(TextAnalysis.c4Clean(repaired, "doc_id", "text")
          .select(col("doc_id"),
            regexp_replace(col("clean_text"), "\n", " ").as("text")), "q279.flat")
        val surv = Barrier(flat.join(
          TextAnalysis.gopherSignals(flat).filter(col("passes_gopher"))
            .select("doc_id"),
          Seq("doc_id"), "left_semi"), "q279.survivors")
        val fps = Barrier(Dedup.simHashMd5Fingerprints(surv, "doc_id", "text"), "q279.fingerprints")
        // stage 5, the ORDER-DEPENDENT advance, day by day: day 1's
        // pre-batch store is empty, day 2's is day 1's fingerprints
        // (every gopher survivor, dropped-or-not — the min-id rule
        // counts pairs against dropped docs too)
        val fp0 = Dedup.simHashMd5Fingerprints(crawl.limit(0), "doc_id", "text")
        val pairs1 = Dedup.simHashMd5NearDupsVsStore(
          fps.filter(col("id") <= cut), fp0, maxDist = 3, maxBucket = 100000)
        val pairs2 = Dedup.simHashMd5NearDupsVsStore(
          fps.filter(col("id") > cut), fps.filter(col("id") <= cut),
          maxDist = 3, maxBucket = 100000)
        val dropped = pairs1.select(col("id_b").as("doc_id"))
          .unionByName(pairs2.select(col("id_b").as("doc_id"))).distinct()
        // two consumers inside the span cut (shingler + cut join) —
        // barrier so the pair anti-join runs once (q272's deduped
        // checkpoint)
        val deduped = Barrier(surv.join(dropped, Seq("doc_id"), "left_anti"), "q279.deduped")
        val decon = Dedup.decontaminateSpansVsStore(
          deduped, benchStore, "doc_id", "text", w = 8)
        // the mix's planning aggregate (temperatureTargets' bounded
        // collect) AND its emission both read the ledger — barrier it
        // so the span-cut/PII chain runs once, not twice (q272's
        // `scrubbed` checkpoint; probed 3.4 s/extra pass at sf0.1)
        val ledger = Barrier(decon
          .select(col("doc_id"),
            TextAnalysis.redactPii(col("text_dedup")).as("text"))
          // lang joins from the raw crawl projection, NOT `batch`: the
          // same rows, but batch would re-pay the fan-out exchange in
          // this separate action (no cross-action shuffle reuse)
          .join(crawl.select("doc_id", "lang"), Seq("doc_id"))
          .select(col("doc_id"), col("lang"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")), "q279.ledger")
        val mixed = ScaleOps.temperatureSample(
          ledger, "doc_id", "lang", "n_tok", alpha = 0.3, totalTokens = 8000L)
        ScaleOps.shardManifest(
            mixed.select("doc_id", "n_tok"), "doc_id", "n_tok", budget = 2000L)
          .orderBy("shard")
      },
      Some(crawlToShardsOracleSql)),

    Q("q274_robots_gate",
      (s, dir) => {
        // crawl-policy compliance (RFC 9309): per-host robots.txt →
        // the effective rule set for ONE agent (group runs, longest
        // agent-prefix specificity beats '*') → per-URL decision
        // (longest pattern wins, allow wins ties, trailing-$ anchors,
        // '*' wildcards, no-match/no-robots ⇒ allowed). The robots
        // text is a FIXED input artifact (the policy under audit, the
        // q260/q270 discipline); the pattern→regex translation is the
        // SHARED replace chain (WebOps.robotsEscapeChars), so both
        // engines compile the identical regex and the decision matrix
        // carries a FULL hash oracle. The URL mix exercises every
        // precedence arm: unmatched paths, prefix disallow, longer
        // allow overriding, $-anchored wildcard hit AND miss, an
        // exact allow/disallow tie, and a QUERY-string pattern
        // (RFC 9309 matches path+query, so `Disallow: /open/*?sid=`
        // fires on `/open/docN?sid=5` and misses the same path bare).
        val robotsTxt = Seq(
          "# crawl policy", "User-agent: *", "Disallow: /", "",
          "User-agent: graftbot", "Disallow: /deep/", "Allow: /deep/pub",
          "Disallow: /*.pdf$", "Allow: /mixed", "Disallow: /mixed",
          "Disallow: /open/*?sid=")
          .mkString("\n")
        val d = t(s, dir, "documents")
        val robots = d
          .select(concat(col("source"), lit(".example.com")).as("host")).distinct()
          .withColumn("robots_txt", lit(robotsTxt))
        val rules = WebOps.robotsRules(robots, "host", "robots_txt", "graftbot/1.3")
        val did = col("doc_id").cast("string")
        val path = when(pmod(col("doc_id"), lit(6)) === 0,
            concat(lit("/open/doc"), did,
              when(pmod(col("doc_id"), lit(12)) === 0, lit("?sid=5"))
                .otherwise(lit(""))))
          .when(pmod(col("doc_id"), lit(6)) === 1, concat(lit("/deep/secret/"), did))
          .when(pmod(col("doc_id"), lit(6)) === 2, concat(lit("/deep/pub/"), did))
          .when(pmod(col("doc_id"), lit(6)) === 3, concat(lit("/files/r"), did, lit(".pdf")))
          .when(pmod(col("doc_id"), lit(6)) === 4, concat(lit("/files/r"), did, lit(".pdfx")))
          .otherwise(lit("/mixed"))
        val urls = d.select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".example.com"), path).as("url"))
        WebOps.robotsDecision(urls, "url", rules)
          // matched_allow is derivable (allowed + a non-empty pattern)
          // and a NULLABLE BOOLEAN renders engine-differently in the
          // driver's hasher; the declared surface keeps total columns
          .select(col("doc_id"), col("url"), col("allowed"),
            coalesce(col("matched_pattern"), lit("")).as("matched_pattern"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH hosts AS (
          SELECT DISTINCT source || '.example.com' AS host FROM documents),
        rawl AS (
          SELECT host, i AS ln, trim(regexp_replace(ls[i], '#.*$$', '')) AS l
          FROM (SELECT host, string_split(
            '# crawl policy' || chr(10) || 'User-agent: *' || chr(10)
            || 'Disallow: /' || chr(10) || chr(10)
            || 'User-agent: graftbot' || chr(10) || 'Disallow: /deep/' || chr(10)
            || 'Allow: /deep/pub' || chr(10) || 'Disallow: /*.pdf$$' || chr(10)
            || 'Allow: /mixed' || chr(10) || 'Disallow: /mixed' || chr(10)
            || 'Disallow: /open/*?sid=',
            chr(10)) AS ls FROM hosts),
            LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)),
        kv AS (
          SELECT host, ln,
            lower(trim(regexp_extract(l, '^([^:]+):', 1))) AS k,
            trim(regexp_extract(l, '^[^:]+:(.*)$$', 1)) AS v
          FROM rawl WHERE l <> ''),
        kv2 AS (SELECT * FROM kv WHERE k IN ('user-agent', 'allow', 'disallow')),
        g1 AS (SELECT *, lag(k) OVER (PARTITION BY host ORDER BY ln) AS pk FROM kv2),
        g2 AS (
          SELECT *, sum(CASE WHEN k = 'user-agent'
              AND (pk IS NULL OR pk <> 'user-agent') THEN 1 ELSE 0 END)
            OVER (PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING) AS g
          FROM g1),
        uam AS (
          SELECT host, g,
            CASE WHEN lower(v) = '*' THEN 0 ELSE length(v) END AS spec
          FROM g2 WHERE k = 'user-agent'
            AND (lower(v) = '*' OR starts_with('graftbot/1.3', lower(v)))),
        chosen AS (
          SELECT DISTINCT host, g FROM uam
          WHERE spec = (SELECT max(spec) FROM uam u2 WHERE u2.host = uam.host)),
        rules AS (
          SELECT g2.host, v AS pattern, (k = 'allow') AS allow,
            CAST(length(v) AS BIGINT) AS plen,
            ${robotsRegexSql("v")} AS rx
          FROM g2 JOIN chosen USING (host, g)
          WHERE k IN ('allow', 'disallow') AND v <> ''),
        urls AS (
          SELECT doc_id,
            source || '.example.com' AS host,
            CASE doc_id % 6
              WHEN 0 THEN '/open/doc' || CAST(doc_id AS VARCHAR)
                || (CASE WHEN doc_id % 12 = 0 THEN '?sid=5' ELSE '' END)
              WHEN 1 THEN '/deep/secret/' || CAST(doc_id AS VARCHAR)
              WHEN 2 THEN '/deep/pub/' || CAST(doc_id AS VARCHAR)
              WHEN 3 THEN '/files/r' || CAST(doc_id AS VARCHAR) || '.pdf'
              WHEN 4 THEN '/files/r' || CAST(doc_id AS VARCHAR) || '.pdfx'
              ELSE '/mixed' END AS path
          FROM documents),
        u2 AS (
          SELECT doc_id, host, path,
            'https://' || host || path AS url
          FROM urls),
        m AS (
          SELECT u3.doc_id, r.pattern, r.allow, r.plen
          FROM u2 u3 JOIN rules r
            ON r.host = u3.host AND regexp_matches(u3.path, r.rx)),
        best AS (
          SELECT doc_id, pattern, allow
          FROM m
          QUALIFY row_number() OVER (PARTITION BY doc_id
            ORDER BY plen DESC, (CASE WHEN allow THEN 0 ELSE 1 END), pattern) = 1)
        SELECT u4.doc_id, u4.url,
          coalesce(b.allow, TRUE) AS allowed,
          coalesce(b.pattern, '') AS matched_pattern
        FROM u2 u4 LEFT JOIN best b USING (doc_id)
        ORDER BY u4.doc_id""")),

    Q("q275_outlink_graph",
      (s, dir) => {
        // outlink extraction → href resolution → canonical dedup keys:
        // the frontier-expansion chain that turns crawled pages into a
        // LINK GRAPH (feeds GraphOps' pagerank/degrees — q139's graph,
        // built from pages instead of dedup pairs). Every arm fires:
        // absolute (passes through), protocol-relative (takes the base
        // scheme, host lowercased by canonicalize), root-relative with
        // a tracking param (utm dropped, real param kept), relative
        // (resolved against the base path's directory), fragment +
        // mailto (resolve to NULL and drop). The ORACLE derives the
        // expected edges INDEPENDENTLY (direct construction from the
        // synthesis arithmetic, not an algorithm replay) — the
        // strongest oracle form: extraction regex, resolution CASE,
        // and canonicalization must all land exactly.
        val d = t(s, dir, "documents")
        val did = col("doc_id").cast("string")
        val base = concat(lit("https://"), col("source"), lit(".example.com/doc/"), did)
        val html = concat(
          lit("<html><body><a href=\"https://ext.partner.org/a/"), did,
          lit("\">partner</a>"),
          lit("<a href='//Cdn.Example.COM/widget'>cdn</a>"),
          lit("<a href=\"/doc/"), (col("doc_id") + 1).cast("string"),
          lit("?utm_source=x&ref=2\">next</a>"),
          lit("<a href=\"related/"), (col("doc_id") + 2).cast("string"),
          lit("\">rel</a>"),
          lit("<a href=\"#top\">t</a><a href=\"mailto:a@b.co\">m</a></body></html>"))
        WebOps.outlinkEdges(fannedOut(d.select(col("doc_id"), col("source"))),
            base, html, "doc_id")
          .orderBy("doc_id", "dst")
      },
      Some("""WITH e AS (
          SELECT doc_id, unnest([
            'https://ext.partner.org/a/' || CAST(doc_id AS VARCHAR),
            'https://cdn.example.com/widget',
            'https://' || source || '.example.com/doc/'
              || CAST(doc_id + 1 AS VARCHAR) || '?ref=2',
            'https://' || source || '.example.com/doc/related/'
              || CAST(doc_id + 2 AS VARCHAR)
          ]) AS dst FROM documents)
        SELECT doc_id, dst FROM e ORDER BY doc_id, dst""")),

    Q("q276_crawl_frontier",
      (s, dir) => {
        // the NEXT-CRAWL-ROUND composition, closing the crawl loop the
        // round-13 pieces opened: pages → outlink harvest + resolution
        // (q275) → canonical dedup keys → robots-gate the DESTINATIONS
        // (q274's policy, graftbot agent) → anti-join the already-
        // crawled canonical set → the ranked frontier (new URL,
        // reference count), over the shared CrawlFixture's link mix.
        // The oracle derives the frontier INDEPENDENTLY (construction,
        // not replay).
        val d = t(s, dir, "documents")
        val crawl = new CrawlFixture(d)
        val edges = WebOps.outlinkEdges(
          fannedOut(d.select(col("doc_id"), col("source"))), crawl.pageUrl, crawl.html)
        val gated = WebOps.robotsDecision(edges, "dst", crawl.rules)
          .filter(col("allowed"))
          .select("dst")
        val crawled = d.select(crawl.pageUrl.as("dst"))
        gated.join(crawled, Seq("dst"), "left_anti")
          .groupBy("dst").agg(count(lit(1)).as("n_refs"))
          .orderBy("dst")
      },
      Some("""WITH cand AS (
          SELECT doc_id, unnest([
            'https://ext.partner.org/a/' || CAST(doc_id AS VARCHAR),
            'https://cdn.example.com/widget',
            'https://' || source || '.example.com/doc/'
              || CAST(doc_id + 20 AS VARCHAR),
            'https://' || source || '.example.com/doc/related/'
              || CAST(doc_id + 2 AS VARCHAR)
          ]) AS dst
          FROM documents),
        crawled AS (
          SELECT 'https://' || source || '.example.com/doc/'
            || CAST(doc_id AS VARCHAR) AS dst
          FROM documents)
        SELECT dst, count(*) AS n_refs
        FROM cand
        WHERE dst NOT IN (SELECT dst FROM crawled)
        GROUP BY dst ORDER BY dst""")),

    Q("q277_frontier_advance",
      (s, dir) => {
        // the crawl loop's OPERATIONAL twin: q276's one-shot frontier
        // re-expressed as TWO daily advances against persisted
        // (frontier, visited) stores (WebOps.frontierAdvance), plus
        // the per-host politeness emission (frontierNext, k=3). Day 1
        // crawls doc_id % 3 != 2, day 2 the rest; day-1 'next' links
        // (/doc/{id+20}) whose targets day 2 crawls LEAVE the frontier
        // on day 2 — the candidate-then-crawled transition at query
        // scale — and the shared CDN link's reference count
        // accumulates across both days. The oracle is the ONE-SHOT
        // construction over the union (incremental ≡ full — the
        // exactness argument on frontierAdvance: counts sum
        // associatively, visited-exclusion commutes with batch order,
        // and the cap is a pure emission-time function of the store)
        // with the politeness cap replayed as a plain window.
        val d = t(s, dir, "documents")
        val crawl = new CrawlFixture(d)
        // both advances gate against the same rule table — barrier it
        // so the line-parse windows run once, not once per day
        val rules = Barrier(crawl.rules, "q277.rules")
        // ONE chain execution over the whole fixture, split into the
        // two days' edge frames afterwards (same edges either way; a
        // production day-2 harvest runs over day-2 pages only, which
        // costs the same rows — this just keeps the DECLARED query's
        // cost at one chain pass)
        val edges = WebOps.outlinkEdges(
          fannedOut(d.select(col("doc_id"), col("source")))
            .withColumn("__day", pmod(col("doc_id"), lit(3))),
          crawl.pageUrl, crawl.html, "__day")
        def urls(day: Column) = edges.filter(day).select(col("dst").as("url"))
        def pages(docs: DataFrame) = docs.select(crawl.pageUrl.as("url"))
        val b1 = d.filter(pmod(col("doc_id"), lit(3)) =!= 2)
        val b2 = d.filter(pmod(col("doc_id"), lit(3)) === 2)
        val (f1, v1) = WebOps.frontierAdvance(
          urls(col("__day") =!= 2), pages(b1), rules,
          WebOps.emptyFrontierStore(s), WebOps.emptyVisitedStore(s))
        // a real day-2 run reads the stores back from disk; the barrier
        // stands in for that read and keeps day 1 from re-executing
        // under day 2's plan
        val (f2, _) = WebOps.frontierAdvance(
          urls(col("__day") === 2), pages(b2), rules,
          Barrier(f1, "q277.day1Frontier"), Barrier(v1, "q277.day1Visited"))
        // barrier before emission: the cap's window + the presentation
        // range-sort would otherwise re-run the day-2 merge per pass
        WebOps.frontierNext(Barrier(f2, "q277.day2Frontier"), k = 3)
          .select(col("host"), col("url"), col("n_refs"))
          .orderBy("url")
      },
      Some("""WITH e AS (
          SELECT doc_id, unnest([
            {'host': 'ext.partner.org',
             'dst': 'https://ext.partner.org/a/' || CAST(doc_id AS VARCHAR)},
            {'host': 'cdn.example.com',
             'dst': 'https://cdn.example.com/widget'},
            {'host': source || '.example.com',
             'dst': 'https://' || source || '.example.com/doc/'
               || CAST(doc_id + 20 AS VARCHAR)},
            {'host': source || '.example.com',
             'dst': 'https://' || source || '.example.com/doc/related/'
               || CAST(doc_id + 2 AS VARCHAR)}
          ]) AS l
          FROM documents),
        crawled AS (
          SELECT 'https://' || source || '.example.com/doc/'
            || CAST(doc_id AS VARCHAR) AS dst
          FROM documents),
        agg AS (
          SELECT l.host AS host, l.dst AS url, count(*) AS n_refs
          FROM e
          WHERE l.dst NOT IN (SELECT dst FROM crawled)
          GROUP BY 1, 2)
        SELECT host, url, n_refs
        FROM (SELECT *, row_number() OVER (
                PARTITION BY host ORDER BY n_refs DESC, url) AS rk
              FROM agg)
        WHERE rk <= 3
        ORDER BY url""")),

    Q("q278_pagerank_frontier",
      (s, dir) => {
        // PageRank-prioritized frontier — the standard crawl-priority
        // recipe, composing q275's REAL link graph into GraphOps'
        // decimal-exact PageRank (the q139 replay discipline) and
        // ranking q276's frontier by each candidate URL's CENTRALITY
        // instead of its raw reference count. The graph keeps ALL six
        // resolved outlinks per page (robots-disallowed pages still
        // receive and pass link mass — policy gates what you FETCH,
        // not how the web links); the frontier emission then applies
        // the robots gate + crawled anti-join exactly as q276. Every
        // frontier URL is a graph node by construction (it has an
        // inbound edge), so the rank join is total. The oracle
        // re-derives the edges by construction and replays the
        // identical three unrolled decimal iterations over URL-string
        // node ids (pageRankIterSql — shared text with q139's oracle).
        val d = t(s, dir, "documents")
        val crawl = new CrawlFixture(d)
        // the barrier inside outlinkEdges runs the chain once for both
        // readers: pagerank and the frontier
        val edges = WebOps.outlinkEdges(
            fannedOut(d.select(col("doc_id"), col("source")))
              .withColumn("id_a", crawl.pageUrl),
            col("id_a"), crawl.html, "id_a")
          .withColumnRenamed("dst", "id_b")
        val ranks = graft.operators.GraphOps.pageRank(edges, iterations = 3)
        val cand = edges.select(col("id_b").as("dst")).distinct()
        val gated = WebOps.robotsDecision(cand, "dst", crawl.rules)
          .filter(col("allowed")).select("dst")
        val crawled = d.select(crawl.pageUrl.as("dst"))
        Barrier(gated.join(crawled, Seq("dst"), "left_anti")
          .join(ranks.withColumnRenamed("id", "dst"), Seq("dst"))
          .select(col("dst").as("url"), col("rank")), "q278.candidates")
          // barrier before the presentation sort: the range exchange's
          // sampling pass re-executes the child, which here re-runs the
          // robots gate + rank join (the q275 composition rule; probed
          // 1.5 s/extra pass at sf0.1)
          .orderBy("url")
      },
      Some("""WITH pages AS (
          SELECT doc_id, source,
            'https://' || source || '.example.com/doc/'
              || CAST(doc_id AS VARCHAR) AS src
          FROM documents),
        edges AS (
          SELECT src, unnest([
            'https://ext.partner.org/a/' || CAST(doc_id AS VARCHAR),
            'https://cdn.example.com/widget',
            'https://' || source || '.example.com/doc/'
              || CAST(doc_id + 20 AS VARCHAR),
            'https://' || source || '.example.com/doc/related/'
              || CAST(doc_id + 2 AS VARCHAR),
            'https://' || source || '.example.com/deep/internal/'
              || CAST(doc_id AS VARCHAR),
            'https://' || source || '.example.com/files/n'
              || CAST(doc_id AS VARCHAR) || '.pdf'
          ]) AS dst
          FROM pages),
        directed AS (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges),
        nodes AS (SELECT DISTINCT src AS id FROM directed),
        deg AS (SELECT src, count(*) AS deg FROM directed GROUP BY src),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)"""
        + pageRankIterSql(3) + """,
        cand AS (
          SELECT DISTINCT dst FROM (
            SELECT unnest([
              'https://ext.partner.org/a/' || CAST(doc_id AS VARCHAR),
              'https://cdn.example.com/widget',
              'https://' || source || '.example.com/doc/'
                || CAST(doc_id + 20 AS VARCHAR),
              'https://' || source || '.example.com/doc/related/'
                || CAST(doc_id + 2 AS VARCHAR)
            ]) AS dst FROM pages))
        SELECT c.dst AS url, round(r3.rank, 6) AS rank
        FROM cand c JOIN r3 ON c.dst = r3.id
        WHERE c.dst NOT IN (SELECT src FROM pages)
        ORDER BY url""")),

    Q("q280_sitemap_seeds",
      (s, dir) => {
        // sitemap (XML) SEED ingestion — the crawl-seed companion to
        // the robots gate (robots.txt's `Sitemap:` lines point at
        // these): per-host sitemap-INDEX documents referencing two
        // urlset children are synthesized byte-exact, walked by
        // WebOps.sitemapSeeds (index recursion from unreferenced
        // roots), and the harvested locs are robots-gated (q274's
        // graftbot policy). Entry arms per doc: plain loc WITH
        // lastmod-when-even, an &amp;-escaped query loc (entity
        // decode), a /deep/priv loc (prefix disallow), a /deep/pub loc
        // (longer allow wins), and a .pdf loc ($-anchored disallow).
        // The oracle derives (loc, lastmod, allowed) INDEPENDENTLY by
        // construction — extraction regexes, the index walk, entity
        // decode, and the robots precedence must all land exactly.
        val d = t(s, dir, "documents")
        val did = col("doc_id").cast("string")
        val host = concat(col("source"), lit(".example.com"))
        val lastmod = concat(lit("2026-01-"),
          lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"))
        val path = when(pmod(col("doc_id"), lit(5)) === 0, concat(lit("/doc/"), did))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit("/doc/"), did, lit("?a=1&amp;b=2")))
          .when(pmod(col("doc_id"), lit(5)) === 2, concat(lit("/deep/priv/"), did))
          .when(pmod(col("doc_id"), lit(5)) === 3, concat(lit("/deep/pub/"), did))
          .otherwise(concat(lit("/files/f"), did, lit(".pdf")))
        val entryXml = concat(
          lit("  <url>\n    <loc> https://"), host, path, lit(" </loc>\n"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("    <lastmod>"), lastmod, lit("</lastmod>\n")))
            .otherwise(lit("")),
          lit("  </url>\n"))
        // per-(host, parity) urlset children + one index per host — the
        // per-host collect_list is FIXTURE construction (q273's note)
        val children = d
          .select(host.as("host"), pmod(col("doc_id"), lit(2)).as("par"),
            col("doc_id"), entryXml.as("e"))
          .groupBy("host", "par")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("e")))),
              x => x.getField("e")), "").as("body"))
          .select(
            concat(lit("https://"), col("host"),
              when(col("par") === 0, lit("/sm/a.xml"))
                .otherwise(lit("/sm/b.xml"))).as("url"),
            concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"), col("body"),
              lit("</urlset>")).as("xml"))
        val roots = d.select(host.as("host")).distinct()
          .select(
            concat(lit("https://"), col("host"), lit("/sitemap.xml")).as("url"),
            concat(
              lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n  <sitemap>\n    <loc>https://"),
              col("host"),
              lit("/sm/a.xml</loc>\n  </sitemap>\n  <sitemap><loc>https://"),
              col("host"),
              lit("/sm/b.xml</loc></sitemap>\n</sitemapindex>")).as("xml"))
        val seeds = WebOps.sitemapSeeds(
          roots.unionByName(children), "url", "xml", maxDepth = 2)
        val robotsTxt = Seq(
          "User-agent: *", "Disallow: /", "",
          "User-agent: graftbot", "Disallow: /deep/", "Allow: /deep/pub",
          "Disallow: /*.pdf$", "Allow: /mixed", "Disallow: /mixed")
          .mkString("\n")
        val robots = d.select(host.as("h2")).distinct()
          .withColumn("robots_txt", lit(robotsTxt))
        val rules = WebOps.robotsRules(robots, "h2", "robots_txt", "graftbot/1.3")
        WebOps.robotsDecision(seeds, "loc", rules, hostCol = "h2")
          .select(col("loc"), col("lastmod"), col("allowed"))
          .orderBy("loc")
      },
      Some("""SELECT
          'https://' || source || '.example.com' ||
            CASE doc_id % 5
              WHEN 0 THEN '/doc/' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN '/doc/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
              WHEN 2 THEN '/deep/priv/' || CAST(doc_id AS VARCHAR)
              WHEN 3 THEN '/deep/pub/' || CAST(doc_id AS VARCHAR)
              ELSE '/files/f' || CAST(doc_id AS VARCHAR) || '.pdf' END AS loc,
          CASE WHEN doc_id % 2 = 0
               THEN '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               ELSE '' END AS lastmod,
          (doc_id % 5) IN (0, 1, 3) AS allowed
        FROM documents
        ORDER BY loc""")),

    Q("q281_wet_wat_sidecars",
      (s, dir) => {
        // Common Crawl's WET (text-conversion) and WAT (metadata)
        // sidecars are WARC-framed, so the ONE framing implementation
        // (WarcParse) ingests them as-is — this query proves the
        // sidecar path: per-source WET archives (warcinfo +
        // `conversion` records carrying text/plain payloads) and WAT
        // archives (warcinfo + `metadata` records carrying JSON) are
        // synthesized byte-exact (the q273 discipline), parsed back,
        // and joined by target URI. Non-http records pass their block
        // through untouched with the WARC-level Content-Type — a
        // mis-sliced payload or swallowed header corrupts the
        // recovered text length or the JSON field extraction and
        // fails the hash. JSON fields are pulled with shared-subset
        // regexes (not a JSON library) so both engines extract
        // character-identically.
        val did = col("doc_id").cast("string")
        val url = concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), did)
        def rec(wtype: String, ctype: String, payload: Column): Column = concat(
          lit(s"WARC/1.0\r\nWARC-Type: $wtype\r\nWARC-Target-URI: "), url,
          lit("\r\nWARC-Date: 2026-01-02T03:04:05Z\r\nWARC-Record-ID: <urn:uuid:" +
            s"$wtype-"), did,
          lit(s">\r\nContent-Type: $ctype\r\nContent-Length: "),
          octet_length(payload).cast("string"), lit("\r\n\r\n"), payload,
          lit("\r\n\r\n"))
        val warcinfo = "WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
          "Content-Type: application/warc-fields\r\nContent-Length: 19\r\n\r\n" +
          "software: graft/1.0\r\n\r\n"
        val watJson = concat(
          lit("{\"url\":\""), url, lit("\",\"n_chars\":"),
          col("n_chars").cast("string"),
          lit(",\"lang\":\""), col("lang"), lit("\"}"))
        val d = t(s, dir, "documents")
        def archive(body: Column) = concat(lit(warcinfo), body)
        val files = Barrier(d
          .select(col("source"), col("doc_id"),
            rec("conversion", "text/plain", col("text")).as("wet"),
            rec("metadata", "application/json", watJson).as("wat"))
          .groupBy("source")
          .agg(
            archive(array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("wet")))),
              x => x.getField("wet")), "")).as("wet_file"),
            archive(array_join(transform(
              array_sort(collect_list(struct(col("doc_id"), col("wat")))),
              x => x.getField("wat")), "")).as("wat_file")),
          "q281.files") // both parses read the same fixture frame
        def parsed(fileCol: String, keep: String) = files
          .select(explode(
            graft.io.WarcParse.recordsCol(col(fileCol).cast("binary"))).as("r"))
          .filter(col("r.warc_type") === keep) // warcinfo passes through, drops here
          .select(col("r.url").as("url"), col("r.mime").as(s"${keep}_mime"),
            col("r.payload").as("payload"))
        val wet = parsed("wet_file", "conversion")
          .select(col("url"), col("conversion_mime").as("wet_mime"),
            length(col("payload")).cast("long").as("wet_len"))
        val wat = parsed("wat_file", "metadata")
          .select(col("url"), col("metadata_mime").as("wat_mime"),
            regexp_extract(col("payload").cast("string"),
              "\"n_chars\":([0-9]+)", 1).cast("long").as("wat_n_chars"),
            regexp_extract(col("payload").cast("string"),
              "\"lang\":\"([^\"]*)\"", 1).as("wat_lang"))
        wet.join(wat, Seq("url"))
          .select(
            regexp_extract(col("url"), "/doc/(\\d+)", 1).cast("long").as("doc_id"),
            col("url"), col("wet_mime"), col("wat_mime"),
            col("wet_len"), col("wat_n_chars"), col("wat_lang"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
          'text/plain' AS wet_mime,
          'application/json' AS wat_mime,
          CAST(octet_length(encode(text)) AS BIGINT) AS wet_len,
          CAST(n_chars AS BIGINT) AS wat_n_chars,
          lang AS wat_lang
        FROM documents
        ORDER BY doc_id""")),

    Q("q282_polite_fetch_schedule",
      (s, dir) => {
        // the POLITE fetch schedule, closing the seed side of the
        // crawl loop: robots.txt → `Sitemap:` DISCOVERY (group-free)
        // → fetch the discovered roots, walk the index tree (q280's
        // machinery — an undiscovered STALE root sits in the corpus
        // and provably never contributes) → robots-gate the harvested
        // locs (graftbot policy; the '*' group disallows EVERYTHING
        // and carries Crawl-delay 99, so group selection demonstrably
        // matters for rules AND delay) → per-host fetch budget =
        // ⌊window / crawl-delay⌋ (hosts without a parsable delay take
        // the crawler default) → the top-budget locs per host by
        // (lastmod desc, loc). The oracle derives (host, loc, lastmod,
        // budget) INDEPENDENTLY by construction.
        val d = t(s, dir, "documents")
        val did = col("doc_id").cast("string")
        val host = concat(col("source"), lit(".example.com"))
        val srcN = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
        // delay by host: srcN%5==4 -> none (crawler default 20 s);
        // else srcN%3: 0 -> 30, 1 -> 10, 2 -> 4  (60 s window ->
        // budgets 2 / 6 / 15; default -> 3)
        val delayLine = when(pmod(srcN, lit(5)) === 4, lit(""))
          .otherwise(concat(lit("Crawl-delay: "),
            when(pmod(srcN, lit(3)) === 0, lit("30"))
              .when(pmod(srcN, lit(3)) === 1, lit("10"))
              .otherwise(lit("4")), lit("\n")))
        val robotsTxt = concat(
          lit("Sitemap: https://"), host, lit("/sitemap.xml\n"),
          lit("User-agent: *\nDisallow: /\nCrawl-delay: 99\n\n"),
          lit("User-agent: graftbot\nDisallow: /deep/\nAllow: /deep/pub\n"),
          lit("Disallow: /*.pdf$\n"), delayLine)
        val robots = Barrier(d.select(host.as("host"), col("source")).distinct()
          .select(col("host"), robotsTxt.as("robots_txt")),
          "q282.robots") // discovery + rules + delay read it
        // per-(host, parity) urlset children + one INDEX per host +
        // one STALE root robots never lists (q280's fixture machinery)
        val lastmod = concat(lit("2026-01-"),
          lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"))
        val path = when(pmod(col("doc_id"), lit(5)) === 0, concat(lit("/doc/"), did))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            concat(lit("/doc/"), did, lit("?a=1&amp;b=2")))
          .when(pmod(col("doc_id"), lit(5)) === 2, concat(lit("/deep/priv/"), did))
          .when(pmod(col("doc_id"), lit(5)) === 3, concat(lit("/deep/pub/"), did))
          .otherwise(concat(lit("/files/f"), did, lit(".pdf")))
        val entryXml = concat(
          lit("  <url>\n    <loc> https://"), host, path, lit(" </loc>\n"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("    <lastmod>"), lastmod, lit("</lastmod>\n")))
            .otherwise(lit("")),
          lit("  </url>\n"))
        val children = d
          .select(host.as("host"), pmod(col("doc_id"), lit(2)).as("par"),
            col("doc_id"), entryXml.as("e"))
          .groupBy("host", "par")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("e")))),
              x => x.getField("e")), "").as("body"))
          .select(
            concat(lit("https://"), col("host"),
              when(col("par") === 0, lit("/sm/a.xml"))
                .otherwise(lit("/sm/b.xml"))).as("url"),
            concat(lit("<?xml version=\"1.0\"?>\n<urlset>\n"), col("body"),
              lit("</urlset>")).as("xml"))
        val hostsOnly = d.select(host.as("host")).distinct()
        val roots = hostsOnly
          .select(
            concat(lit("https://"), col("host"), lit("/sitemap.xml")).as("url"),
            concat(
              lit("<?xml version=\"1.0\"?>\n<sitemapindex>\n  <sitemap>\n    <loc>https://"),
              col("host"),
              lit("/sm/a.xml</loc>\n  </sitemap>\n  <sitemap><loc>https://"),
              col("host"),
              lit("/sm/b.xml</loc></sitemap>\n</sitemapindex>")).as("xml"))
        val stale = hostsOnly
          .select(
            concat(lit("https://"), col("host"), lit("/stale.xml")).as("url"),
            concat(lit("<urlset><url><loc>https://"), col("host"),
              lit("/stale/never</loc></url></urlset>")).as("xml"))
        // fetch closure: only DISCOVERED roots are fetched; children
        // come back through the walk. The stale root never enters.
        val discovered = WebOps.robotsSitemaps(robots, "host", "robots_txt")
        val fetchedRoots = roots.unionByName(stale)
          .join(discovered.select(col("sitemap_url").as("url")), Seq("url"),
            "left_semi")
        val seeds = WebOps.sitemapSeeds(
          fetchedRoots.unionByName(children), "url", "xml", maxDepth = 2)
        val rules = WebOps.robotsRules(robots, "host", "robots_txt", "graftbot/1.3")
        val gated = WebOps.robotsDecision(seeds, "loc", rules)
          .filter(col("allowed"))
          .withColumn("host", lower(WebOps.urlParts(col("loc")).getField("host")))
          .select("host", "loc", "lastmod")
        val delays = WebOps.robotsCrawlDelay(robots, "host", "robots_txt", "graftbot/1.3")
        val budgeted = gated
          .join(delays, Seq("host"), "left")
          .withColumn("budget",
            floor(lit(60.0) / coalesce(col("crawl_delay"), lit(20.0))).cast("long"))
        WebOps.capPerDomainBudget(budgeted, "host", "loc", "lastmod", "budget")
          .select(col("host"), col("loc"), col("lastmod"), col("budget"))
          .orderBy("loc")
      },
      Some("""WITH e AS (
          SELECT doc_id,
            source || '.example.com' AS host,
            CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) AS n,
            'https://' || source || '.example.com' ||
              CASE doc_id % 5
                WHEN 0 THEN '/doc/' || CAST(doc_id AS VARCHAR)
                WHEN 1 THEN '/doc/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
                WHEN 3 THEN '/deep/pub/' || CAST(doc_id AS VARCHAR)
                ELSE NULL END AS loc,
            CASE WHEN doc_id % 2 = 0
                 THEN '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                 ELSE '' END AS lastmod
          FROM documents
          WHERE doc_id % 5 IN (0, 1, 3)),
        b AS (
          SELECT *,
            CASE WHEN n % 5 = 4 THEN 3
                 WHEN n % 3 = 0 THEN 2
                 WHEN n % 3 = 1 THEN 6
                 ELSE 15 END AS budget
          FROM e)
        SELECT host, loc, lastmod, CAST(budget AS BIGINT) AS budget
        FROM (SELECT *, row_number() OVER (
                PARTITION BY host ORDER BY lastmod DESC, loc) AS rk
              FROM b)
        WHERE rk <= budget
        ORDER BY loc""")),

    Q("q283_recrawl_selection",
      (s, dir) => {
        // FRESHNESS-driven re-crawl selection — the loop sitemap
        // lastmod entries exist for: harvested seeds join the visited
        // store's fetch timestamps, and a URL is worth fetching when
        // it was never fetched ('new') or its advertised lastmod
        // postdates the recorded fetch ('stale'); fetched pages that
        // are fresh, or advertise no lastmod, DROP (conservative — a
        // silent site doesn't get re-fetched every pass). Per doc:
        // lastmod = 2026-01-(id%28+1), visited covers id%4≠3 at fetch
        // ts 2026-01-14 — so all three outcomes fire and the oracle
        // derives (loc, lastmod, reason) independently by arithmetic.
        // Odd docs advertise NO lastmod (the optional field): fetched
        // ones drop, unfetched ones are still 'new'.
        val d = t(s, dir, "documents")
        val did = col("doc_id").cast("string")
        val loc = concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), did)
        val lastmod = when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("2026-01-"),
              lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0")))
          .otherwise(lit(""))
        val seeds = d.select(loc.as("loc"), lastmod.as("lastmod"))
        val visited = d.filter(pmod(col("doc_id"), lit(4)) =!= 3)
          .select(loc.as("url"), lit("2026-01-14").as("fetch_ts"))
        WebOps.recrawlCandidates(seeds, visited)
          .select(col("loc"), col("lastmod"), col("reason"))
          .orderBy("loc")
      },
      Some("""SELECT
          'https://' || source || '.example.com/doc/'
            || CAST(doc_id AS VARCHAR) AS loc,
          CASE WHEN doc_id % 2 = 0
               THEN '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
               ELSE '' END AS lastmod,
          CASE WHEN doc_id % 4 = 3 THEN 'new'
               WHEN doc_id % 2 = 0 AND doc_id % 28 + 1 > 14 THEN 'stale'
               ELSE NULL END AS reason
        FROM documents
        WHERE doc_id % 4 = 3
           OR (doc_id % 2 = 0 AND doc_id % 28 + 1 > 14)
        ORDER BY loc""")),

    Q("q273_warc_ingest",
      (s, dir) => {
        // the COMPLETE crawl-container chain: per-source multi-record
        // WARC files are SYNTHESIZED in-plan with byte-exact ISO 28500
        // framing (Content-Length = octet_length over the UTF-8 http
        // block), parsed back by the WarcParse kernel, then the q187
        // extraction + canonical-URL + q207-style blocklist stages run
        // over the RECOVERED frame. The oracle replays the post-parse
        // arithmetic directly on documents (parse ∘ synthesize =
        // identity), so any framing drift — a mis-sliced payload, a
        // swallowed header, a charset-confused length — corrupts the
        // recovered text or URL and fails the hash. The per-source
        // collect_list is FIXTURE CONSTRUCTION (building the archive
        // bytes to parse), not a production shape — production reads
        // real segment files through Sources.warc, where parallelism
        // is per file and nothing aggregates.
        val did = col("doc_id").cast("string")
        val html = concat(
          lit("<html><head><title>Page "), did, lit(" of "), col("source"),
          lit("</title><style>p{color:red}</style></head><body>"),
          lit("<nav><a href=\"/\">Home navigation link</a> " +
            "<a href=\"/arc\">Archive of everything</a></nav>"),
          lit("<h1>Document number "), did,
          lit(" retrieved from source "), col("source"), lit(" &amp; friends</h1>"),
          lit("<p>"), col("text"), lit("</p>"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("<div class=\"rel\"><a href=\"/r1\">Read the related story here</a> " +
              "<a href=\"/r2\">And another related one</a></div>"))
            .otherwise(
              lit("<p>Closing editorial remark long enough to clear the gate.</p>")),
          lit("<footer><a href=\"/tos\">Terms</a> <a href=\"/p\">Privacy</a></footer>"),
          lit("<script>track()</script></body></html>"))
        val host = concat(col("source"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit(".BadCrawl.NET"))
            .otherwise(lit(".Example.COM")))
        val url = concat(lit("HTTPS://"), host, lit(":443/doc/"), did,
          lit("?utm_source=mail"))
        val http = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
          html)
        val rec = concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
          lit("\r\nWARC-Date: 2026-01-02T03:04:05Z\r\nWARC-Record-ID: <urn:uuid:doc-"),
          did,
          lit(">\r\nContent-Type: application/http; msgtype=response\r\nContent-Length: "),
          octet_length(http).cast("string"), lit("\r\n\r\n"), http, lit("\r\n\r\n"))
        val files = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), rec.as("rec"))
          .groupBy("source")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("rec")))),
              x => x.getField("rec")), "").as("warc"))
        val recs = files
          .select(explode(
            graft.io.WarcParse.recordsCol(col("warc").cast("binary"))).as("r"))
          .select(col("r.url").as("url"), col("r.fetch_ts").as("fetch_ts"),
            col("r.mime").as("mime"),
            col("r.http_status").cast("long").as("http_status"),
            col("r.payload").cast("string").as("html"))
        val extracted = recs.select(
          regexp_extract(col("url"), "/doc/(\\d+)", 1).cast("long").as("doc_id"),
          WebOps.canonicalizeUrl(col("url")).as("canonical_url"),
          col("fetch_ts"), col("mime"), col("http_status"),
          HtmlText.extractTitle(col("html")).as("title"),
          HtmlText.extractText(col("html")).as("extracted"))
        WebOps.blockDomains(extracted, "canonical_url", Seq("badcrawl.net"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (
          SELECT doc_id, source,
            '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) || ' of ' || source
            || '</title><style>p{color:red}</style></head><body>'
            || '<nav><a href="/">Home navigation link</a> <a href="/arc">Archive of everything</a></nav>'
            || '<h1>Document number ' || CAST(doc_id AS VARCHAR)
            || ' retrieved from source ' || source || ' &amp; friends</h1>'
            || '<p>' || text || '</p>'
            || CASE WHEN doc_id % 3 = 0
               THEN '<div class="rel"><a href="/r1">Read the related story here</a> <a href="/r2">And another related one</a></div>'
               ELSE '<p>Closing editorial remark long enough to clear the gate.</p>' END
            || '<footer><a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>'
            || '<script>track()</script></body></html>' AS html
          FROM documents
          WHERE doc_id % 7 <> 0),
        stripped AS (
          SELECT doc_id, source,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              html,
              '(?s)<!--.*?-->', '', 'g'),
              '(?is)<script(>|[ \t\r\n/][^>]*>).*?</script>', '', 'g'),
              '(?is)<style(>|[ \t\r\n/][^>]*>).*?</style>', '', 'g'),
              '(?is)<noscript(>|[ \t\r\n/][^>]*>).*?</noscript>', '', 'g'),
              '(?is)<head(>|[ \t\r\n/][^>]*>).*?</head>', '', 'g') AS s
          FROM h),
        blocked AS (
          SELECT doc_id, source,
            string_split_regex(
              regexp_replace(
                regexp_replace(s, '[\r\n\t]', ' ', 'g'),
                '(?is)</?(p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|section|article|aside|header|footer|nav|main|blockquote|pre|form|fieldset|figure|figcaption|hr|br)(>|[ \t\r\n/][^>]*>)',
                chr(10), 'g'),
              '\n') AS blks
          FROM stripped),
        b AS (
          SELECT doc_id, i, blks[i] AS blk
          FROM blocked, LATERAL (SELECT unnest(range(1, len(blks) + 1)) AS i)),
        vis AS (
          SELECT doc_id, i, blk,
            trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(blk, '<[^>]*>', '', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '[ \t\r\n]+', ' ', 'g')) AS txt
          FROM b),
        lc AS (
          SELECT doc_id, i,
            coalesce(list_sum([len(trim(regexp_replace(
              replace(replace(replace(replace(replace(replace(
                regexp_replace(l, '<[^>]*>', '', 'g'),
                '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
              '[ \t\r\n]+', ' ', 'g')))
              for l in regexp_extract_all(blk, '(?is)<a(>|[ \t\r\n/][^>]*>)(.*?)</a>', 2)]), 0) AS linkchars
          FROM vis),
        kept AS (
          SELECT v.doc_id, v.i, v.txt
          FROM vis v JOIN lc USING (doc_id, i)
          WHERE len(v.txt) >= 25 AND linkchars <= 0.5 * len(v.txt)),
        agg AS (
          SELECT doc_id, string_agg(txt, chr(10) ORDER BY i) AS extracted
          FROM kept GROUP BY doc_id)
        SELECT hh.doc_id,
          'https://' || hh.source || '.example.com/doc/' || CAST(hh.doc_id AS VARCHAR)
            AS canonical_url,
          '2026-01-02T03:04:05Z' AS fetch_ts,
          'text/html' AS mime,
          CAST(200 AS BIGINT) AS http_status,
          trim(regexp_replace(
            regexp_extract(hh.html, '(?is)<title(>|[ \t\r\n/][^>]*>)(.*?)</title>', 2),
            '[ \t\r\n]+', ' ', 'g')) AS title,
          coalesce(a.extracted, '') AS extracted
        FROM h hh LEFT JOIN agg a USING (doc_id)
        ORDER BY hh.doc_id"""))
  )

  /** Differential fuzz bundles (FuzzQueries): 340 generated cases over
    * orders/lineitem, one declared query per family. The Spark side runs
    * the generated dialect-neutral SQL; the oracle is the SAME text run
    * by DuckDB — so the driver hash-compares every generated case.
    * FuzzSpec additionally cross-checks each case against an independent
    * DataFrame-API program inside `sbt test`.
    */
  private val fuzz: Seq[Q] = FuzzQueries.bundles.map { case (name, cs) =>
    Q(name,
      (s, dir) => {
        viewed(s, dir, "orders", "lineitem", "documents")
        s.sql(FuzzQueries.bundleSql(cs))
      },
      Some(FuzzQueries.bundleSql(cs)))
  }

  val all: Seq[Q] =
    projectionFilter ++ joins ++ aggregations ++ windows ++ sortLimit ++
      setOps ++ scalars ++ subqueries ++ extensions ++ fuzz

  /** Headline queries for Bench.scala — one per major operator family. */
  val benchNames: Seq[String] = Seq(
    "q01_pricing_summary", "q03_between", "q11_join_multi5", "q12_join_left_hist",
    "q17_join_asof", "q21_count_distinct", "q30_window_rank", "q35_window_range",
    "q40_topk", "q64_json", "q66_pivot",
    "q80_dedup_exact", "q81_dedup_minhash", "q90_sim_topk", "q93_knn_join",
    "q95_text_stats", "q99_sessionize", "q101_corpus_pipeline", "q103_chunking",
    "q109_pack_sequences", "q110_line_dedup",
    "q111_scd2", "q112_binned_range", "q115_tfidf",
    "q121_fuzz_groupagg",
    "q131_sliding_window",
    "q134_neardup_incremental",
    "q136_tpch_q3_shipping", "q137_tpch_q5_local_volume", "q138_tpch_q10_returns",
    "q139_pagerank_neardup", "q140_triangles_neardup", "q141_clustering_neardup",
    "q142_weighted_token_sample",
    "q144_substring_dedup", "q145_bm25",
    "q197_bpe_roundtrip",
    "q199_span_removal", "q200_contamination_spans", "q201_kmv_overlap",
    "q202_span_dedup_incremental", "q203_importance_resample",
    "q204_mix_budget_solver", "q205_gazetteer_redact", "q206_c4_line_filter",
    "q207_domain_blocklist", "q208_domain_cap_incremental",
    "q209_span_cut_incremental", "q210_fix_mojibake", "q211_countmin_freq",
    "q212_audio_neardup", "q213_script_profile", "q214_ccnet_buckets",
    "q215_data_card", "q216_pr_curve", "q217_shard_by_budget",
    "q218_word_blocklist", "q219_temperature_sample", "q220_paragraph_dedup",
    "q221_dp_noised_counts", "q222_cluster_safe_split",
    "q223_split_advance_incremental", "q224_dedup_minhash_bbit",
    "q225_dedup_minhash_oneperm", "q226_training_data_run",
    "q227_kmv_overlap_matrix", "q228_kmv_matrix_advance",
    "q229_dedup_ledger", "q230_ivf_append", "q231_golden_advance",
    "q232_mix_realization", "q233_shard_manifest", "q234_ngram_novelty",
    "q235_dup_attribution", "q236_dup_cluster_histogram",
    "q237_novelty_incremental", "q238_streaming_governance",
    "q239_containment_direction", "q240_dedup_savings", "q241_zipf_profile",
    "q242_contamination_attribution", "q243_pii_density",
    "q244_fd_violations", "q245_eval_leakage", "q246_ref_integrity",
    "q247_embedding_covariance", "q248_pca_projection",
    "q249_embedding_drift", "q250_corpus_diff",
    "q251_sample_quantiles", "q252_skew_advisor",
    "q253_ks_drift", "q254_psi_drift", "q255_embedding_isotropy",
    "q256_join_cardinality", "q257_group_quantiles",
    "q258_correlation_matrix", "q259_mutual_information",
    "q260_tokenizer_fertility", "q261_group_ks_drift",
    "q262_langid_confusion", "q263_psi_binned", "q264_threshold_sensitivity",
    "q265_vocab_coverage", "q266_group_psi_drift", "q267_group_correlation",
    "q268_fertility_incremental", "q269_group_quantile_drift",
    "q270_unigram_roundtrip", "q271_unigram_fertility",
    "q272_crawl_to_shards", "q273_warc_ingest", "q274_robots_gate",
    "q275_outlink_graph", "q276_crawl_frontier", "q277_frontier_advance",
    "q278_pagerank_frontier", "q279_crawl_advance", "q280_sitemap_seeds",
    "q281_wet_wat_sidecars", "q282_polite_fetch_schedule",
    "q283_recrawl_selection",
    "q148_simhash_md5", "q149_lake_merge", "q151_heavy_tokens",
    "q153_ngram_perplexity", "q154_cohort_retention", "q155_lake_zone_read",
    "q156_lake_bloom_read", "q157_lake_changes", "q158_lake_ivm",
    "q159_upsample_mix", "q160_split_leakage", "q161_lake_delete",
    "q188_lake_maintenance",
    "q162_fuzz_lateral", "q163_image_neardup",
    "q164_semantic_dedup", "q165_boilerplate", "q166_semantic_incremental",
    "q168_semantic_multiprobe", "q169_cluster_quality",
    "q170_contamination_score", "q171_bpe_train", "q173_winnow_pairs",
    "q193_winnow_incremental",
    "q174_hybrid_rrf", "q175_nb_classify", "q176_knn_propagate",
    "q177_jaccard_prefix_join", "q178_record_linkage",
    "q179_entity_resolution", "q186_golden_record", "q192_golden_incremental",
    "q180_k_anonymity",
    "q182_linkage_incremental", "q183_gopher_quality", "q184_url_canonical",
    "q185_domain_cap", "q187_html_extract", "q190_luhn_redact",
    "q191_encoding_noise")
}
