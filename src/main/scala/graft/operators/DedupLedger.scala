package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Barrier

/** Incremental CROSS-RUN exact dedup: a persisted ledger of content
  * fingerprints that every new batch is filtered against before its own
  * fingerprints are appended — the batch-compaction complement to
  * [[graft.streaming.StreamingCorpus]]'s watermark-bounded dedup
  * (which by design forgets duplicates older than the horizon; the
  * ledger never forgets).
  *
  * Keyed on the md5 content fingerprint
  * ([[TextAnalysis.md5Fingerprint]], q105): standard md5 over
  * normalized text, so ANY engine — Spark, DuckDB, a Python ingest
  * job — can read or extend the same ledger.
  *
  * Scale shape: the ledger is a parquet table of (fingerprint, doc_id,
  * accepted_batch) rows — 16-byte keys, not documents; the batch filter
  * is one anti-join on the fingerprint (AQE broadcasts while the ledger
  * is small, shuffles on the hash key at scale — the join key IS a
  * uniform hash, so no skew by construction); the append is one
  * partitioned write of the batch's accepted keys.
  *
  * CONCURRENCY CONTRACT: ingests must be serialized by the caller —
  * one writer at a time (the usual scheduler-ordered ingest). Plain
  * parquet appends are not transactional: two concurrent ingests that
  * share content could each pass filterNew before the other's append
  * lands and both accept the duplicate. Multi-writer deployments need
  * a transactional table format (or an external lock) at this
  * boundary; readers of a committed ledger are always safe.
  */
object DedupLedger {

  private val FpCol = "fingerprint"

  /** Read the ledger, or an empty frame when none exists yet. */
  def read(spark: SparkSession, ledgerPath: String): DataFrame = {
    val hadoopPath = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hadoopPath))
      spark.read.parquet(ledgerPath)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(FpCol,
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("accepted_batch",
            org.apache.spark.sql.types.StringType))))
  }

  /** The subset of `docs` whose content is new: in-batch exact dedup
    * (min id per fingerprint) then an anti-join against the ledger.
    * Pure — does not touch the ledger on disk.
    */
  def filterNew(
      spark: SparkSession,
      ledgerPath: String,
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val withFp = docs.withColumn(FpCol, TextAnalysis.md5Fingerprint(col(textCol)))
    val inBatch = Dedup.exactKeepMin(withFp, Seq(FpCol), idCol)
    inBatch.join(
      read(spark, ledgerPath).select(FpCol),
      Seq(FpCol), "left_anti")
  }

  /** Filter the batch against the ledger, APPEND the accepted
    * fingerprints under `batchId`, and return the accepted documents
    * (ledger columns dropped). The append materializes the accepted set
    * once; the returned frame re-reads nothing.
    *
    * Idempotence: re-ingesting the same batch accepts zero documents
    * (every fingerprint is already in the ledger) — spec-pinned.
    */
  def ingest(
      spark: SparkSession,
      ledgerPath: String,
      docs: DataFrame,
      batchId: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // one materialization feeds both the ledger append and the
    // returned frame
    val accepted = Barrier(filterNew(spark, ledgerPath, docs, idCol, textCol),
      "DedupLedger.accepted")
    accepted
      .select(col(FpCol), col(idCol).cast("long").as("doc_id"),
        lit(batchId).as("accepted_batch"))
      .write.mode("append").parquet(ledgerPath)
    accepted.drop(FpCol)
  }
}
