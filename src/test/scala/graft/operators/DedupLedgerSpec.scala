package graft.operators

import java.nio.file.Files

import graft.SparkSpec

class DedupLedgerSpec extends SparkSpec {

  import spark.implicits._

  test("ledger ingest: in-batch dedup, cross-batch dedup, idempotence") {
    val ledger = scratchDir("dedup_ledger").resolve("ledger").toString

    // batch 1: one internal duplicate pair (2 ~ normalization of 1)
    val b1 = Seq(
      (1L, "The Quick Brown Fox"),
      (2L, "  the quick brown fox  "), // same md5 fingerprint as 1
      (3L, "something else entirely")).toDF("doc_id", "text")
    val a1 = DedupLedger.ingest(spark, ledger, b1, "batch-1")
    assert(a1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))

    // batch 2: one dup of batch 1, one internal dup pair, one new doc
    val b2 = Seq(
      (10L, "the quick brown fox"), // already in the ledger → rejected
      (11L, "brand new content"),
      (12L, "BRAND NEW CONTENT"),   // internal dup of 11 → min id kept
      (13L, "another fresh document")).toDF("doc_id", "text")
    val a2 = DedupLedger.ingest(spark, ledger, b2, "batch-2")
    assert(a2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 13L))

    // ledger state: 4 fingerprints, batch attribution retained
    val state = DedupLedger.read(spark, ledger)
    assert(state.count() == 4)
    assert(state.filter(org.apache.spark.sql.functions.col("accepted_batch") === "batch-1")
      .count() == 2)

    // idempotence: replaying batch 2 accepts nothing and appends nothing
    val replay = DedupLedger.ingest(spark, ledger, b2, "batch-2-replay")
    assert(replay.count() == 0)
    assert(DedupLedger.read(spark, ledger).count() == 4)
  }

  test("filterNew is pure: does not grow the ledger") {
    val ledger = scratchDir("dedup_ledger2").resolve("ledger").toString
    val b = Seq((1L, "doc one"), (2L, "doc two")).toDF("doc_id", "text")
    assert(DedupLedger.filterNew(spark, ledger, b).count() == 2)
    assert(DedupLedger.read(spark, ledger).count() == 0, "filterNew must not write")
  }
}
