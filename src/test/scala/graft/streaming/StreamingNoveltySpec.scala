package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.VersionedTable
import graft.operators.Dedup

/** The streaming twin of the incremental novelty profile (q237's
  * operator): batch≡stream parity of arrival-time scores (a later copy
  * of year-old text scores 0 — the never-forgetting store, unlike
  * watermark-bounded stream dedup), the store staying equal to the
  * full-corpus minima at every step, and the exactly-once
  * interleavings — full replay, and the crash window between the
  * scores append and the store merge.
  */
class StreamingNoveltySpec extends SparkSpec {
  import spark.implicits._

  private val a = "one two three four five six seven eight nine ten eleven twelve"
  private val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  private def batch1: DataFrame = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
  private def batch2: DataFrame = Seq(
    (3L, a),                                            // exact copy of history
    (4L, a.split(" ").take(8).mkString(" ") + " " + b), // remix
    (5L, "brand new words entirely unseen before in any earlier document here"))
    .toDF("doc_id", "text")

  private def freshTables(): (VersionedTable, VersionedTable) = (
    VersionedTable(scratchDir("graft-snv-store").toString, "__h"),
    VersionedTable(scratchDir("graft-snv-scores").toString, "doc_id"))

  private def fullNovelty: Map[Long, (Long, Long, Double)] =
    Dedup.ngramNovelty(batch1.unionByName(batch2), "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("streamed arrival-time scores equal the batch operator; store equals full minima") {
    implicit val sqlCtx = spark.sqlContext
    val (store, scores) = freshTables()
    val ckpt = scratchDir("graft-snv-ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingNovelty.noveltyStream(
      in.toDF.toDF("doc_id", "text"), store, scores, "doc_id", "text", 8,
      "nov-stream", ckpt)
    try {
      in.addData((1L, a), (2L, b))
      q.processAllAvailable()
      in.addData((3L, a), (4L, batch2.collect()(1).getString(1)),
        (5L, batch2.collect()(2).getString(1)))
      q.processAllAvailable()
    } finally q.stop()

    val got = StreamingNovelty.noveltyScores(spark, scores)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val want = fullNovelty
    assert(got.keySet == want.keySet, s"every doc scored once: ${got.keySet}")
    // arrival-time == full-corpus novelty: batch-1 docs saw only
    // themselves (novelty 1), and batch-2 scores match the full rebuild
    // because min-merge is exact
    got.foreach { case (id, v) =>
      assert(v == want(id), s"doc $id: stream $v vs rebuild ${want(id)}")
    }
    assert(got(3L)._3 == 0.0, "the year-old copy scores zero — the store never forgets")
    // the maintained store IS the full-corpus minima
    val fullStore = Dedup.noveltyStore(batch1.unionByName(batch2), "doc_id", "text", w = 8)
      .orderBy("__h").collect().toSeq
    assert(store.read(spark).orderBy("__h").collect().toSeq == fullStore)
  }

  test("full replay of an applied batch is a no-op on both tables") {
    val (store, scores) = freshTables()
    StreamingNovelty.advanceBatch(store, scores, batch1, "doc_id", "text", 8, "nov-w", 0L)
    StreamingNovelty.advanceBatch(store, scores, batch2, "doc_id", "text", 8, "nov-w", 1L)
    val (vs, vc) = (store.currentVersion(), scores.currentVersion())
    val want = scores.read(spark).orderBy("doc_id").collect().toSeq

    StreamingNovelty.advanceBatch(store, scores, batch2, "doc_id", "text", 8, "nov-w", 1L)
    assert(store.currentVersion() == vs && scores.currentVersion() == vc,
      "replay must not commit new versions")
    assert(scores.read(spark).orderBy("doc_id").collect().toSeq == want)
  }

  test("crash between the scores append and the store merge recovers exactly once") {
    val (store, scores) = freshTables()
    StreamingNovelty.advanceBatch(store, scores, batch1, "doc_id", "text", 8, "nov-w", 0L)

    // simulate the crash window: apply ONLY the scores half of batch 1
    // (scores commit first by protocol), leaving the store pre-batch
    val pre = store.read(spark)
    val (_, batchScores) = Dedup.ngramNoveltyIncremental(
      pre, batch2, "doc_id", "text", 8)
    scores.appendIfNew(batchScores.withColumn("batch_id", lit(1L)), "nov-w", 1L)
    val scoresVersion = scores.currentVersion()

    // recovery replay: the store half applies once, the scores append
    // skips on its marker (each doc scored exactly once)
    StreamingNovelty.advanceBatch(store, scores, batch2, "doc_id", "text", 8, "nov-w", 1L)
    assert(scores.currentVersion() == scoresVersion,
      "replayed scores append must skip on the txn marker")
    assert(scores.read(spark).groupBy("doc_id").count()
      .filter(col("count") > 1).isEmpty, "no doc may be scored twice")
    val fullStore = Dedup.noveltyStore(batch1.unionByName(batch2), "doc_id", "text", w = 8)
      .orderBy("__h").collect().toSeq
    assert(store.read(spark).orderBy("__h").collect().toSeq == fullStore,
      "store half must have applied in recovery")
  }
}
