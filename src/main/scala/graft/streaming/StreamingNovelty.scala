package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Barrier
import graft.lake.VersionedTable
import graft.operators.Dedup

/** Streaming twin of the incremental n-gram novelty profile
  * (`Dedup.ngramNoveltyIncremental`, q237's operator) with EXACTLY-ONCE
  * semantics: each micro-batch of documents is scored against
  * history ∪ batch and two [[graft.lake.VersionedTable]]s advance —
  *
  *   - `scores` — the per-document novelty ledger `(idCol, n_shingles,
  *     n_novel, novelty, batch_id)`, APPENDED each batch (a document's
  *     novelty is defined at its arrival time and never rewritten);
  *   - `store` — the (hash, first_id) shingle-minima state, advanced by
  *     MERGE with only the batch's touched hashes (min-merge is exact
  *     and idempotent, so the merged store equals the full-corpus store
  *     at every step).
  *
  * Exactly-once is the StreamingEr/StreamingSplit two-table protocol:
  * scores commit FIRST, store LAST, both derived ONLY from the
  * pre-batch store and the batch — a crash between the two commits
  * replays against the still-pre-batch store, recomputes
  * bit-identically, skips the scores append on its txn marker, and
  * applies the store merge once. The store's marker alone proves full
  * application (it commits last).
  *
  * Scale shape per batch: the q234 one-chain aggregation over the
  * BATCH's shingles only; history is touched through 16-byte
  * (hash, first_id) rows — by the store MERGE's zone overlap, only
  * files whose hash range the batch touches rewrite. A duplicate of a
  * year-old document scores novelty 0 here, unlike the
  * watermark-bounded streaming dedup whose state forgets beyond the
  * horizon — this store, like the DedupLedger, never forgets.
  *
  * PRECONDITION — monotone ids (inherited from
  * `ngramNoveltyIncremental`): every batch's ids must be strictly
  * greater than all ids in earlier batches. "First owner" is min(id),
  * so min-merge equals arrival order only then; a smaller late id would
  * steal first-ownership of shingles history already owns, and because
  * `scores` is append-only the stolen-from document's committed score
  * goes stale (double-credit). Streaming sources with monotone event
  * ids (sequence numbers, ingest timestamps) satisfy this for free;
  * validate at the source if ids can arrive out of order across
  * batches. Within one batch order is irrelevant (min is commutative).
  */
object StreamingNovelty {

  /** Apply ONE batch exactly once (the foreachBatch body, public so a
    * driver-orchestrated daily job can reuse the identical protocol).
    */
  def advanceBatch(
      store: VersionedTable,
      scores: VersionedTable,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      appId: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    // store commits LAST ⇒ its marker alone proves full application
    if (store.lastTxn(appId).exists(_ >= batchId)) return
    if (batch.isEmpty) return // zero applications IS exactly once

    val pre =
      if (store.currentVersion() == 0)
        Dedup.noveltyStore(batch.limit(0), idCol, textCol, w)
      else store.read(spark)
    // the batch's (hash, min-id) frame feeds BOTH the min-merge and the
    // touched-hash slice below — materialize it once instead of
    // shingling the batch twice (guide §7.2)
    val batchStore = Barrier(Dedup.noveltyStore(batch, idCol, textCol, w),
      "StreamingNovelty.batchStore")
    val (merged, batchScores) =
      Dedup.ngramNoveltyIncremental(pre, batch, idCol, textCol, w,
        batchStore = Some(batchStore))
    scores.appendIfNew(
      batchScores.withColumn("batch_id", lit(batchId)), appId, batchId)
    // MERGE only the hashes the batch touched: minima for untouched
    // hashes are unchanged by min-merge, so the semi-join slice is the
    // exact delta (plus unchanged-but-touched rows, which upsert to
    // their own value — idempotent)
    store.upsertIfNew(
      merged.join(batchStore.select("__h"), Seq("__h"), "left_semi"),
      appId, batchId): Unit
  }

  /** Start the exactly-once streaming novelty sink: unbounded document
    * arrivals → maintained (store, scores) tables.
    */
  def noveltyStream(
      updates: DataFrame,
      store: VersionedTable,
      scores: VersionedTable,
      idCol: String,
      textCol: String,
      w: Int,
      appId: String,
      checkpoint: String): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        advanceBatch(store, scores, batch.toDF(), idCol, textCol, w, appId, batchId)
      }
      .start()

  /** The maintained novelty ledger (all batches, arrival-time scores). */
  def noveltyScores(spark: SparkSession, scores: VersionedTable): DataFrame =
    scores.read(spark)
}
