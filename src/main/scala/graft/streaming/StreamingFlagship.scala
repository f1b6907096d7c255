package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.lake.VersionedTable
import graft.operators.{Dedup, ScaleOps, TextAnalysis}

/** Streaming twin #32: the crawl-to-shards flagship's STATEFUL stages
  * (q279's operator half) as an exactly-once daily ingest. The
  * batch-LOCAL stages (extract → repair → C4 → Gopher, q272 stages
  * 1–4) need no exactly-once machinery — they are pure per-document
  * functions the caller runs before handing the batch in; what must
  * survive crashes is the state:
  *
  *   - `fps` — the simhash FINGERPRINT store `(id, fp_hi, fp_lo)`,
  *     APPEND-only, one row per gopher survivor ever seen (dropped-or-
  *     not: the full pass's min-id rule counts pairs against dropped
  *     docs too, so the store must as well);
  *   - `ledger` — the scrubbed metadata ledger `(idCol, langCol,
  *     n_tok, batch_id)`, APPEND-only: a document's surviving token
  *     count is defined at its arrival time and never rewritten.
  *
  * The benchmark shingle set is FROZEN reference data
  * (`Dedup.heldOutShingles`, built once when the benchmark freezes) —
  * a parameter, not a table.
  *
  * Emission ([[manifest]]) — temperature-α mix + fixed-budget shards —
  * is a pure function of the accumulated ledger (the q279/frontierNext
  * argument: a global token budget cannot be advanced per batch
  * without discarding information later batches legitimately change).
  *
  * Exactly-once is the two-table protocol (StreamingEr/StreamingSplit/
  * StreamingNovelty): ledger commits FIRST, fps LAST, both derived
  * ONLY from the pre-batch fps store, the frozen benchmark set, and
  * the batch. A crash between the commits replays against the
  * still-pre-batch fps store, recomputes bit-identically, skips the
  * ledger append on its txn marker, and applies the fps append once;
  * the fps marker alone proves full application (it commits last).
  *
  * PRECONDITION — monotone ids (the StreamingNovelty argument): every
  * batch id must exceed all earlier ids, so dropping each
  * batch-touching pair's id_b replays the full-corpus min-id-survives
  * rule and run-over-batches ≡ one full q272 pass (the q279 oracle
  * identity; parity spec-pinned here).
  */
object StreamingFlagship {

  /** Apply ONE batch exactly once: the body of a `foreachBatch` sink or
    * of a driver-orchestrated daily job, the identical protocol either way.
    * `batch` is the batch-local stages' output: one row per document
    * that SURVIVED extract→repair→C4→Gopher, columns (idCol, langCol,
    * textCol).
    */
  def advanceBatch(
      fps: VersionedTable,
      ledger: VersionedTable,
      batch: DataFrame,
      benchShingles: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      w: Int = 8,
      maxDist: Int = 3,
      maxBucket: Int = 100000,
      appId: String = "flagship",
      batchId: Long = 0L): Unit = {
    val spark = batch.sparkSession
    // fps commits LAST ⇒ its marker alone proves full application
    if (fps.lastTxn(appId).exists(_ >= batchId)) return
    if (batch.isEmpty) return // zero applications IS exactly once

    val batchFps = Barrier(Dedup.simHashMd5Fingerprints(batch, idCol, textCol),
      "StreamingFlagship.batchFingerprints") // pairs + the store append read it
    val pre =
      if (fps.currentVersion() == 0) batchFps.limit(0)
      else fps.read(spark)
    val pairs = Dedup.simHashMd5NearDupsVsStore(batchFps, pre, maxDist, maxBucket)
    val deduped = batch.join(
      pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
    val decon = Dedup.decontaminateSpansVsStore(
      deduped, benchShingles, idCol, textCol, w)
    val ledgerRows = decon
      .select(col(idCol), TextAnalysis.redactPii(col("text_dedup")).as("__t"))
      .join(batch.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol),
        size(split(trim(col("__t")), "\\s+")).cast("long").as("n_tok"))
      .withColumn("batch_id", lit(batchId))
    ledger.appendIfNew(ledgerRows, appId, batchId)
    fps.appendIfNew(batchFps, appId, batchId): Unit
  }

  /** The release manifest from the accumulated ledger — q272 stages
    * 8–9 verbatim (temperature-α mix to the token budget, fixed-budget
    * shards + integrity digests). Pure read; emitting never mutates
    * state.
    */
  def manifest(
      spark: SparkSession,
      ledger: VersionedTable,
      idCol: String = "doc_id",
      langCol: String = "lang",
      alpha: Double = 0.3,
      totalTokens: Long = 8000L,
      shardBudget: Long = 2000L): DataFrame = {
    val mixed = ScaleOps.temperatureSample(
      ledger.read(spark).select(idCol, langCol, "n_tok"),
      idCol, langCol, "n_tok", alpha = alpha, totalTokens = totalTokens)
    ScaleOps.shardManifest(
        mixed.select(idCol, "n_tok"), idCol, "n_tok", budget = shardBudget)
      .orderBy("shard")
  }
}
