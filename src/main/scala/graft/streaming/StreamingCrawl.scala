package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Barrier
import graft.lake.VersionedTable
import graft.operators.WebOps

/** Streaming twin #31: the crawl frontier as an EXACTLY-ONCE daily
  * ingest (`WebOps.frontierAdvance`, q277's operator) over two
  * [[graft.lake.VersionedTable]]s —
  *
  *   - `ledger` — the reference-count ledger `(url_key, url, host,
  *     n_refs)`: every robots-gated candidate URL ever harvested, with
  *     its ACCUMULATED reference count. MERGE-advanced with only the
  *     batch-touched keys; rows are never removed (removal-free is
  *     what makes the advance a pure mergeable-counter upsert, the
  *     StreamingNovelty shape);
  *   - `visited` — the fetched set `(url_key, url)`, APPEND-only (a
  *     URL is fetched once; re-fetches dedup against the pre-batch
  *     set).
  *
  * The operator's eager visited-exclusion moves to EMISSION here:
  * [[frontier]] = ledger ∖ visited (an anti-join on the full `url`,
  * not the hash key), and [[nextRound]] applies the per-host
  * politeness cap on top. That lazy exclusion is output-equivalent to
  * `frontierAdvance`'s eager one — a URL's ledger count keeps
  * accumulating after it is fetched, but the anti-join removes it from
  * every emission either way — and it is what lets BOTH store advances
  * be pure merges (parity with the batch operator is spec-pinned).
  *
  * Exactly-once is the StreamingEr/StreamingSplit two-table protocol:
  * ledger commits FIRST, visited LAST, and each advance is derived
  * ONLY from its own pre-batch table and the batch (the ledger delta
  * from the pre-batch ledger, the visited delta from the pre-batch
  * visited — neither reads the other). A crash between the two commits
  * replays: the ledger upsert skips on its txn marker, the visited
  * append applies once. The visited marker alone proves full
  * application (it commits last).
  *
  * `url_key = xxhash64(url)` is the table ZONE key (VersionedTable
  * prunes rewrite work by numeric key range); collisions are safe by
  * construction — the touched-slice semi-join is on `url_key`, so
  * every colliding row rides into the merged update frame and is
  * re-inserted, and all row-level logic (count merge, visited
  * anti-join) keys on the full `url`.
  *
  * Scale shape per batch: candidate counts aggregate batch-side and
  * gate against the broadcast rule table once per distinct URL
  * (`WebOps.gatedCandidates`); the ledger MERGE rewrites only files
  * whose key zone the batch touches; the visited append is
  * batch-width. O(batch + touched-zone rows), never O(history).
  */
object StreamingCrawl {

  private def keyed(df: DataFrame): DataFrame =
    df.withColumn("url_key", xxhash64(col("url")))

  /** Apply ONE batch exactly once (the foreachBatch body, public so a
    * driver-orchestrated daily job can reuse the identical protocol).
    * `batchEdges` — one row per harvested reference (column `url`,
    * canonical, non-null); `batchCrawled` — the URLs fetched this
    * batch (column `url`).
    */
  def advanceBatch(
      ledger: VersionedTable,
      visited: VersionedTable,
      batchEdges: DataFrame,
      batchCrawled: DataFrame,
      rules: DataFrame,
      appId: String,
      batchId: Long): Unit = {
    val spark = batchEdges.sparkSession
    // visited commits LAST ⇒ its marker alone proves full application
    if (visited.lastTxn(appId).exists(_ >= batchId)) return
    if (batchEdges.isEmpty && batchCrawled.isEmpty) return

    // feeds the semi-join AND the union
    val gated = Barrier(keyed(WebOps.gatedCandidates(batchEdges, rules))
      .withColumn("host", lower(WebOps.urlParts(col("url")).getField("host")))
      .select("url_key", "url", "host", "n_refs"), "StreamingCrawl.gated")
    val pre =
      if (ledger.currentVersion() == 0) gated.limit(0)
      else ledger.read(spark)
    // merge counts for batch-touched ZONES only: the semi-join is on
    // url_key so zone-colliding rows ride along and re-insert (see doc)
    val touched = pre.join(gated.select("url_key"), Seq("url_key"), "left_semi")
    val merged = touched.unionByName(gated)
      .groupBy("url_key", "url", "host").agg(sum("n_refs").as("n_refs"))
    ledger.upsertIfNew(merged, appId, batchId)

    val newV = keyed(batchCrawled.select(col("url")).distinct())
      .select("url_key", "url")
    val preV =
      if (visited.currentVersion() == 0) newV.limit(0)
      else visited.read(spark)
    visited.appendIfNew(
      newV.join(preV.select("url"), Seq("url"), "left_anti"),
      appId, batchId): Unit
  }

  /** The live frontier: ledger ∖ visited — `(url, host, n_refs)`,
    * output-equivalent to the batch operator's frontier store.
    */
  def frontier(spark: SparkSession, ledger: VersionedTable,
      visited: VersionedTable): DataFrame = {
    val l = ledger.read(spark).select("url", "host", "n_refs")
    if (visited.currentVersion() == 0) l
    else l.join(visited.read(spark).select("url"), Seq("url"), "left_anti")
  }

  /** The next round's fetch list under the per-host politeness budget
    * — [[frontier]] through `WebOps.frontierNext`.
    */
  def nextRound(spark: SparkSession, ledger: VersionedTable,
      visited: VersionedTable, k: Int): DataFrame =
    WebOps.frontierNext(frontier(spark, ledger, visited), k)

  /** Start the exactly-once streaming frontier sink: each micro-batch
    * carries crawl results rows `(url, kind)` with kind ∈
    * {'edge', 'crawled'} — edges are harvested references, crawled are
    * this batch's fetches (one stream, the union shape, so a single
    * foreachBatch advances both tables atomically per batch).
    */
  def frontierStream(
      updates: DataFrame,
      ledger: VersionedTable,
      visited: VersionedTable,
      rules: DataFrame,
      appId: String,
      checkpoint: String): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = Barrier(batch.toDF(), "StreamingCrawl.batch") // one materialization, two slices
        advanceBatch(ledger, visited,
          b.filter(col("kind") === "edge").select("url"),
          b.filter(col("kind") === "crawled").select("url"),
          rules, appId, batchId)
      }
      .start()
}
