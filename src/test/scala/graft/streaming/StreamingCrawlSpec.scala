package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.VersionedTable
import graft.operators.WebOps

/** The streaming twin of the crawl-frontier advance (q277's operator):
  * the ledger∖visited emission equals the batch operator's frontier
  * store at every step, the per-host politeness emission matches, and
  * the exactly-once interleavings hold — full replay, and the crash
  * window between the ledger merge and the visited append.
  */
class StreamingCrawlSpec extends SparkSpec {
  import spark.implicits._

  private val robotsTxt = Seq("User-agent: *", "Disallow: /private/").mkString("\n")

  private def rules = WebOps.robotsRules(
    Seq(("a.com", robotsTxt), ("b.com", robotsTxt)).toDF("host", "robots_txt"),
    "host", "robots_txt", "anybot")

  private def b1Edges: DataFrame = Seq(
    "https://a.com/x", "https://a.com/x",
    "https://b.com/y",
    "https://a.com/private/z", // robots drops at entry
    "https://a.com/p1").toDF("url")
  private def b1Crawled: DataFrame =
    Seq("https://a.com/p1", "https://b.com/p2").toDF("url")
  private def b2Edges: DataFrame = Seq(
    "https://a.com/x",                    // 3rd ref — but crawled below
    "https://b.com/y", "https://b.com/y", // 1 -> 3
    "https://c.org/new").toDF("url")
  private def b2Crawled: DataFrame =
    Seq("https://a.com/p3", "https://a.com/x").toDF("url")

  private def freshTables(): (VersionedTable, VersionedTable) = (
    VersionedTable(scratchDir("graft-crawl-ledger").toString, "url_key"),
    VersionedTable(scratchDir("graft-crawl-visited").toString, "url_key"))

  /** The batch operator run over the same two batches — the parity
    * reference (advance ∘ advance, exactly the q277 shape).
    */
  private def operatorFrontier: Seq[(String, String, Long)] = {
    val r = rules
    val (f1, v1) = WebOps.frontierAdvance(b1Edges, b1Crawled, r,
      WebOps.emptyFrontierStore(spark), WebOps.emptyVisitedStore(spark))
    val (f2, _) = WebOps.frontierAdvance(b2Edges, b2Crawled, r, f1, v1)
    f2.orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
  }

  test("ledger ∖ visited equals the batch operator's frontier; politeness emission matches") {
    val (ledger, visited) = freshTables()
    StreamingCrawl.advanceBatch(ledger, visited, b1Edges, b1Crawled, rules, "crawl-w", 0L)
    StreamingCrawl.advanceBatch(ledger, visited, b2Edges, b2Crawled, rules, "crawl-w", 1L)

    val got = StreamingCrawl.frontier(spark, ledger, visited)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == operatorFrontier, s"got $got")

    val next = StreamingCrawl.nextRound(spark, ledger, visited, 1)
      .orderBy("url").select("url").as[String].collect().toSeq
    assert(next == Seq("https://b.com/y", "https://c.org/new"), s"got $next")

    // the ledger NEVER forgets: the fetched a.com/x keeps its
    // accumulated count (3 refs) in the ledger while the frontier
    // emission excludes it
    val x = ledger.read(spark).filter(col("url") === "https://a.com/x")
      .select("n_refs").as[Long].head()
    assert(x == 3L)
  }

  test("one foreachBatch stream advances both tables; parity with the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val (ledger, visited) = freshTables()
    val ckpt = scratchDir("graft-crawl-ckpt").toString
    val in = MemoryStream[(String, String)]
    val q = StreamingCrawl.frontierStream(
      in.toDF.toDF("url", "kind"), ledger, visited, rules, "crawl-s", ckpt)
    def rows(edges: DataFrame, crawled: DataFrame): Seq[(String, String)] =
      edges.as[String].collect().map(_ -> "edge").toSeq ++
        crawled.as[String].collect().map(_ -> "crawled").toSeq
    try {
      in.addData(rows(b1Edges, b1Crawled): _*)
      q.processAllAvailable()
      in.addData(rows(b2Edges, b2Crawled): _*)
      q.processAllAvailable()
    } finally q.stop()

    val got = StreamingCrawl.frontier(spark, ledger, visited)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == operatorFrontier, s"got $got")
  }

  test("full replay of an applied batch is a no-op on both tables") {
    val (ledger, visited) = freshTables()
    StreamingCrawl.advanceBatch(ledger, visited, b1Edges, b1Crawled, rules, "crawl-w", 0L)
    StreamingCrawl.advanceBatch(ledger, visited, b2Edges, b2Crawled, rules, "crawl-w", 1L)
    val (vl, vv) = (ledger.currentVersion(), visited.currentVersion())
    val want = StreamingCrawl.frontier(spark, ledger, visited)
      .orderBy("url").collect().toSeq

    StreamingCrawl.advanceBatch(ledger, visited, b2Edges, b2Crawled, rules, "crawl-w", 1L)
    assert(ledger.currentVersion() == vl && visited.currentVersion() == vv,
      "replay must not commit new versions")
    assert(StreamingCrawl.frontier(spark, ledger, visited)
      .orderBy("url").collect().toSeq == want)
  }

  test("crash between the ledger merge and the visited append recovers exactly once") {
    val (ledger, visited) = freshTables()
    StreamingCrawl.advanceBatch(ledger, visited, b1Edges, b1Crawled, rules, "crawl-w", 0L)

    // simulate the crash window: apply ONLY the ledger half of batch 2
    // (the ledger commits first by protocol), leaving visited pre-batch
    val gated = WebOps.gatedCandidates(b2Edges, rules)
      .withColumn("url_key", xxhash64(col("url")))
      .withColumn("host", lower(WebOps.urlParts(col("url")).getField("host")))
      .select("url_key", "url", "host", "n_refs")
    val touched = ledger.read(spark)
      .join(gated.select("url_key"), Seq("url_key"), "left_semi")
    ledger.upsertIfNew(
      touched.unionByName(gated)
        .groupBy("url_key", "url", "host").agg(sum("n_refs").as("n_refs")),
      "crawl-w", 1L)
    val ledgerVersion = ledger.currentVersion()

    // recovery replay: the visited half applies once, the ledger merge
    // skips on its marker (no reference is ever counted twice)
    StreamingCrawl.advanceBatch(ledger, visited, b2Edges, b2Crawled, rules, "crawl-w", 1L)
    assert(ledger.currentVersion() == ledgerVersion,
      "replayed ledger merge must skip on the txn marker")
    val got = StreamingCrawl.frontier(spark, ledger, visited)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == operatorFrontier, "recovery must land on the operator's frontier")
    assert(ledger.read(spark).filter(col("url") === "https://b.com/y")
      .select("n_refs").as[Long].head() == 3L,
      "y's count must be 1+2, not doubled by the replay")
  }
}
