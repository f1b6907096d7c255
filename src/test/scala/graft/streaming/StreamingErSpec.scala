package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.lake.VersionedTable
import graft.operators.EntityResolution

/** The streaming twin of the composed incremental ER advance
  * (q186/q192's operator): batch≡stream golden-record parity on the
  * BRIDGING fixture (a late row that merges two established entities),
  * plus the exactly-once interleavings foreachBatch replay can
  * produce — full replay, and the crash window between the state
  * commit and the rows commit.
  */
class StreamingErSpec extends SparkSpec {
  import spark.implicits._

  // the EntityResolutionSpec bridging fixture: two 2-row entities that
  // never link to each other, a singleton, then a bridge row whose f1
  // matches entity {1,2} and f2 matches row 5 — merging them
  private def storeRows: DataFrame = Seq(
    (1L, "B", "aaaaaaaa", "xxxxxxxx", 10.0, 1L),
    (2L, "B", "aaaaaaaa", "xxxxxxxz", 11.0, 2L),
    (5L, "B", "bbbbbbbb", "yyyyyyyy", 50.0, 3L),
    (6L, "B", "bbbbbbbb", "yyyyyyyz", 51.0, 4L),
    (7L, "B", "cccccccc", "wwwwwwww", 70.0, 5L)
  ).toDF("id", "blk", "f1", "f2", "price", "ver")

  private def bridgeRow: DataFrame =
    Seq((9L, "B", "aaaaaaaa", "yyyyyyyy", 90.0, 6L))
      .toDF("id", "blk", "f1", "f2", "price", "ver")

  private val cfg = StreamingEr.ErConfig(
    idCol = "id", blockCols = Seq("blk"),
    fields = Seq(("f1", 0.5), ("f2", 0.5)), threshold = 0.5,
    modeFields = Seq("f1"), longestFields = Seq("f2"),
    newestFields = Seq(("price", "ver")))

  private def freshTables(): (VersionedTable, VersionedTable) = (
    VersionedTable(scratchDir("graft-ser-rows").toString, "id"),
    VersionedTable(scratchDir("graft-ser-state").toString, "__ent"))

  private def rebuildGolden(all: DataFrame): Seq[org.apache.spark.sql.Row] =
    EntityResolution.goldenRecord(
      EntityResolution.resolve(all, "id", Seq("blk"), cfg.fields, cfg.threshold),
      "entity_id", cfg.modeFields, cfg.longestFields, cfg.newestFields)
      .orderBy("entity_id").collect().toSeq

  test("streamed batches equal the batch rebuild, including a bridging merge") {
    implicit val sqlCtx = spark.sqlContext
    val (rows, state) = freshTables()
    val ckpt = scratchDir("graft-ser-ckpt").toString
    val in = MemoryStream[(Long, String, String, String, Double, Long)]
    val q = StreamingEr.resolveStream(
      in.toDF.toDF("id", "blk", "f1", "f2", "price", "ver"),
      rows, state, cfg, "er-stream", ckpt)
    try {
      in.addData((1L, "B", "aaaaaaaa", "xxxxxxxx", 10.0, 1L),
        (2L, "B", "aaaaaaaa", "xxxxxxxz", 11.0, 2L),
        (5L, "B", "bbbbbbbb", "yyyyyyyy", 50.0, 3L),
        (6L, "B", "bbbbbbbb", "yyyyyyyz", 51.0, 4L),
        (7L, "B", "cccccccc", "wwwwwwww", 70.0, 5L))
      q.processAllAvailable()

      // pre-bridge: three entities, store assignment matches batch ER
      val ents = rows.read(spark).select("id", "entity_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ents == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L),
        s"fixture precondition broken: $ents")

      in.addData((9L, "B", "aaaaaaaa", "yyyyyyyy", 90.0, 6L))
      q.processAllAvailable()
    } finally q.stop()

    // the bridge merged entity 5 (and row 9) into entity 1
    val after = rows.read(spark).select("id", "entity_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 7L, 9L -> 1L),
      s"bridge merge missing: $after")

    val got = StreamingEr.goldenRecords(spark, state, storeRows, cfg)
      .orderBy("entity_id").collect().toSeq
    assert(got == rebuildGolden(storeRows.unionByName(bridgeRow)),
      s"stream must equal the from-scratch rebuild: $got")
  }

  test("full replay of an applied batch is a no-op on both tables") {
    val (rows, state) = freshTables()
    StreamingEr.advanceBatch(rows, state, storeRows, cfg, "er-w", 0L)
    StreamingEr.advanceBatch(rows, state, bridgeRow, cfg, "er-w", 1L)
    val (vr, vs) = (rows.currentVersion(), state.currentVersion())
    val want = StreamingEr.goldenRecords(spark, state, storeRows, cfg)
      .orderBy("entity_id").collect().toSeq

    StreamingEr.advanceBatch(rows, state, bridgeRow, cfg, "er-w", 1L) // replay
    assert(rows.currentVersion() == vr && state.currentVersion() == vs,
      "replay must not commit new versions")
    val got = StreamingEr.goldenRecords(spark, state, storeRows, cfg)
      .orderBy("entity_id").collect().toSeq
    assert(got == want)
  }

  test("crash between the state commit and the rows commit recovers exactly once") {
    val (rows, state) = freshTables()
    StreamingEr.advanceBatch(rows, state, storeRows, cfg, "er-w", 0L)

    // simulate the crash window: apply ONLY the state half of batch 1
    // (state commits first by protocol), leaving rows pre-batch
    val store = rows.read(spark)
    val (newState, remap) = EntityResolution.goldenRecordAdvance(
      store, state.read(spark), bridgeRow, cfg.idCol, cfg.blockCols,
      cfg.fields, cfg.threshold, cfg.modeFields, cfg.longestFields,
      cfg.newestFields, cfg.roundScale, cfg.pairBudget)
    remap.persist()
    state.overwriteIfNew(newState, "er-w", 1L)
    remap.unpersist()
    val vs = state.currentVersion()
    assert(rows.lastTxn("er-w").contains(0L) && state.lastTxn("er-w").contains(1L),
      "crash-window precondition: state applied, rows not")

    // recovery replays the batch: state skips on its marker, rows apply
    StreamingEr.advanceBatch(rows, state, bridgeRow, cfg, "er-w", 1L)
    assert(state.currentVersion() == vs, "state replay must be version-less")
    assert(rows.lastTxn("er-w").contains(1L), "rows half must have applied")
    val got = StreamingEr.goldenRecords(spark, state, storeRows, cfg)
      .orderBy("entity_id").collect().toSeq
    assert(got == rebuildGolden(storeRows.unionByName(bridgeRow)),
      "recovered result must equal the clean rebuild")
    val after = rows.read(spark).select("id", "entity_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after(9L) == 1L && after(5L) == 1L)
  }

  test("empty batch commits nothing") {
    val (rows, state) = freshTables()
    StreamingEr.advanceBatch(rows, state, storeRows, cfg, "er-w", 0L)
    val (vr, vs) = (rows.currentVersion(), state.currentVersion())
    StreamingEr.advanceBatch(rows, state, storeRows.limit(0), cfg, "er-w", 1L)
    assert(rows.currentVersion() == vr && state.currentVersion() == vs)
  }
}
