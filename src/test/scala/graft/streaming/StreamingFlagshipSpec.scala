package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.VersionedTable
import graft.operators.{Dedup, ScaleOps, TextAnalysis}

/** The streaming twin of the flagship's stateful stages (q279's
  * operator half): run-over-monotone-batches reproduces the one-shot
  * batch composition's manifest exactly, and the exactly-once
  * interleavings hold — full replay, and the crash window between the
  * ledger append and the fps append.
  */
class StreamingFlagshipSpec extends SparkSpec {
  import spark.implicits._

  // post-stage-1–4 documents: gopher-survivor text with a near-dup
  // pair ACROSS batches, a benchmark-contaminated span, and an email
  // for the scrub — every stateful stage demonstrably fires
  private val base = "the measured pipeline processed records carefully and " +
    "reported steady throughput while operators watched the queue drain"
  private def b1: DataFrame = Seq(
    (1L, "en", s"alpha start $base first variant with extra tokens here"),
    (2L, "en", "benchmark sentence alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa surrounded by ordinary training words u2@ex-mail.org after"),
    (3L, "fr", "contenu francais distinct sans jumeau nulle part ici vraiment"))
    .toDF("doc_id", "lang", "text")
  private def b2: DataFrame = Seq(
    (4L, "en", s"alpha start $base first variant with extra tokens here"), // dup of 1
    (5L, "fr", "deuxieme document francais egalement unique dans le corpus"))
    .toDF("doc_id", "lang", "text")
  private def bench: DataFrame = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    .toDF("doc_id", "text")

  private def benchStore = Dedup.heldOutShingles(bench, "doc_id", "text", w = 8)

  private def freshTables(): (VersionedTable, VersionedTable) = (
    VersionedTable(scratchDir("graft-flag-fps").toString, "id"),
    VersionedTable(scratchDir("graft-flag-ledger").toString, "doc_id"))

  /** The one-shot batch composition over the union — the parity
    * reference (q272 stages 5–9 on the same staged input).
    */
  private def oneShotManifest: Seq[org.apache.spark.sql.Row] = {
    val all = b1.unionByName(b2)
    val pairs = Dedup.simHashMd5NearDups(all, "doc_id", "text",
      maxDist = 3, maxBucket = 100000)
    val deduped = all.join(
      pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val decon = Dedup.decontaminateSpans(deduped, bench, "doc_id", "text", w = 8)
    val ledger = decon
      .select(col("doc_id"), TextAnalysis.redactPii(col("text_dedup")).as("__t"))
      .join(all.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("__t")), "\\s+")).cast("long").as("n_tok"))
    val mixed = ScaleOps.temperatureSample(
      ledger, "doc_id", "lang", "n_tok", alpha = 0.3, totalTokens = 8000L)
    ScaleOps.shardManifest(
        mixed.select("doc_id", "n_tok"), "doc_id", "n_tok", budget = 2000L)
      .orderBy("shard").collect().toSeq
  }

  test("advance over monotone batches reproduces the one-shot manifest; stages fire") {
    val (fps, ledger) = freshTables()
    StreamingFlagship.advanceBatch(fps, ledger, b1, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 0L)
    StreamingFlagship.advanceBatch(fps, ledger, b2, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 1L)

    val got = StreamingFlagship.manifest(spark, ledger).collect().toSeq
    assert(got == oneShotManifest, s"got $got\nwant $oneShotManifest")

    val led = ledger.read(spark).orderBy("doc_id").collect()
      .map(r => r.getLong(0)).toSeq
    assert(!led.contains(4L), "the cross-batch dup must be dropped via the fp store")
    assert(led == Seq(1L, 2L, 3L, 5L))
    // the fp store holds EVERY survivor, dropped docs included
    assert(fps.read(spark).count() == 5)
    // the contaminated span left doc 2's token count reduced, and the
    // email never reaches the ledger path (PII scrub ran before count)
    val n2 = ledger.read(spark).filter(col("doc_id") === 2L)
      .select("n_tok").as[Long].head()
    assert(n2 < 20L, s"span cut + scrub must shrink doc 2, got $n2 tokens")
  }

  test("full replay of an applied batch is a no-op on both tables") {
    val (fps, ledger) = freshTables()
    StreamingFlagship.advanceBatch(fps, ledger, b1, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 0L)
    StreamingFlagship.advanceBatch(fps, ledger, b2, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 1L)
    val (vf, vl) = (fps.currentVersion(), ledger.currentVersion())
    val want = StreamingFlagship.manifest(spark, ledger).collect().toSeq

    StreamingFlagship.advanceBatch(fps, ledger, b2, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 1L)
    assert(fps.currentVersion() == vf && ledger.currentVersion() == vl,
      "replay must not commit new versions")
    assert(StreamingFlagship.manifest(spark, ledger).collect().toSeq == want)
  }

  test("crash between the ledger append and the fps append recovers exactly once") {
    val (fps, ledger) = freshTables()
    StreamingFlagship.advanceBatch(fps, ledger, b1, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 0L)

    // simulate the crash window: apply ONLY the ledger half of batch 2
    // (the ledger commits first by protocol), leaving fps pre-batch
    val pre = fps.read(spark)
    val batchFps = Dedup.simHashMd5Fingerprints(b2, "doc_id", "text")
    val pairs = Dedup.simHashMd5NearDupsVsStore(batchFps, pre, 3, 100000)
    val deduped = b2.join(
      pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val decon = Dedup.decontaminateSpansVsStore(
      deduped, benchStore, "doc_id", "text", w = 8)
    val rows = decon
      .select(col("doc_id"), TextAnalysis.redactPii(col("text_dedup")).as("__t"))
      .join(b2.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("__t")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("batch_id", lit(1L))
    ledger.appendIfNew(rows, "flag-w", 1L)
    val ledgerVersion = ledger.currentVersion()

    // recovery replay: the fps half applies once, the ledger append
    // skips on its marker (no doc is ever counted twice)
    StreamingFlagship.advanceBatch(fps, ledger, b2, benchStore,
      "doc_id", "text", "lang", appId = "flag-w", batchId = 1L)
    assert(ledger.currentVersion() == ledgerVersion,
      "replayed ledger append must skip on the txn marker")
    assert(ledger.read(spark).groupBy("doc_id").count()
      .filter(col("count") > 1).isEmpty, "no doc may land in the ledger twice")
    assert(StreamingFlagship.manifest(spark, ledger).collect().toSeq == oneShotManifest,
      "recovery must land on the one-shot manifest")
    assert(fps.read(spark).count() == 5, "fps half must have applied in recovery")
  }
}
