package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.VersionedTable

class StreamingLakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): VersionedTable =
    VersionedTable(scratchDir("graft-slake").toString, "k")

  test("upsertIfNew applies a batch once; the replay is a version-less no-op") {
    val t = freshTable()
    val batch = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    t.upsertIfNew(batch, "writer-1", 0L)
    val v = t.currentVersion()
    assert(v == 1 && t.lastTxn("writer-1").contains(0L))

    // exact replay (same appId + batchId): no new version, same data
    t.upsertIfNew(Seq((1L, "REPLAYED")).toDF("k", "v"), "writer-1", 0L)
    assert(t.currentVersion() == v)
    assert(t.read(spark).filter($"v" === "REPLAYED").count() == 0)

    // a DIFFERENT writer's batch 0 is not confused with writer-1's
    t.upsertIfNew(Seq((3L, "c")).toDF("k", "v"), "writer-2", 0L)
    assert(t.currentVersion() == v + 1 && t.read(spark).count() == 3)
  }

  test("txn markers survive unrelated commits, compaction, and vacuum") {
    val t = freshTable()
    t.upsertIfNew(Seq((1L, "a")).toDF("k", "v"), "w", 5L)
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.compact(spark, targetFiles = 1)
    t.vacuum(retainVersions = 1)
    assert(t.lastTxn("w").contains(5L), "carried-forward txn state lost")
    // the stale replay is still recognized after all that history
    t.upsertIfNew(Seq((9L, "late-replay")).toDF("k", "v"), "w", 3L)
    assert(t.read(spark).filter($"k" === 9).count() == 0)
  }

  test("streamed upserts equal the same batches applied by batch merge") {
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val ckpt = scratchDir("slake-ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = StreamingLake.upsertStream(
      in.toDF.toDF("k", "v"), t, "stream-a", ckpt)
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((2L, "b2"), (3L, "c")) // update 2, insert 3
      q.processAllAvailable()
    } finally q.stop()

    val expected = {
      val bt = freshTable()
      bt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      bt.merge(Seq((2L, "b2"), (3L, "c")).toDF("k", "v"))
      bt.read(spark).orderBy("k").collect().map(_.toSeq).toSeq
    }
    assert(t.read(spark).orderBy("k").collect().map(_.toSeq).toSeq == expected)
    assert(t.lastTxn("stream-a").exists(_ >= 1L))
  }

  test("streamed upserts maintain the materialized aggregate batch by batch") {
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val aggRoot = scratchDir("slake-magg").toString
    val m = new graft.lake.MaterializedAgg(t, aggRoot, Seq("g"), Seq("x"))
    val ckpt = scratchDir("slake-ckpt3").toString
    val in = MemoryStream[(Long, String, Double)]
    val q = StreamingLake.upsertStreamMaintaining(
      in.toDF.toDF("k", "g", "x"), t, m, "stream-m", ckpt)
    try {
      in.addData((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 5.0))
      q.processAllAvailable()
      in.addData((2L, "b", 99.0), (4L, "a", 1.0)) // move key 2 to group b
      q.processAllAvailable()
    } finally q.stop()

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"g", $"cnt", $"sum_x".cast("double"))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(m.currentVersion() == t.currentVersion())
    assert(snap(m.read(spark)) ==
      snap(graft.lake.IncrementalAgg.init(t.read(spark), Seq("g"), Seq("x"))))
    assert(snap(m.read(spark)) ==
      Seq(("a", 2L, 11.0), ("b", 2L, 104.0)))
  }

  test("checkpointed restart re-delivers the last batch; the table does not double-apply") {
    val srcDir = scratchDir("slake-src").toString
    val ckpt = scratchDir("slake-ckpt2").toString
    val t = freshTable()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))

    def writeSrc(rows: Seq[(Long, String)], name: String): Unit =
      rows.toDF("k", "v").coalesce(1).write.mode("append").parquet(s"$srcDir/$name")

    def start() = StreamingLake.upsertStream(
      spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(srcDir),
      t, "restart-w", ckpt)

    writeSrc(Seq((1L, "a"), (2L, "b")), "b1")
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val vAfterFirst = t.currentVersion()

    // restart from the same checkpoint with new source data; recovery
    // may replay the committed batch — the txn marker absorbs it
    writeSrc(Seq((2L, "b2"), (3L, "c")), "b2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = t.read(spark).orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")), s"got ${out.toSeq}")
    assert(t.currentVersion() == vAfterFirst + 1, "replay must not mint extra versions")
  }

  test("maintenance loop end-to-end: stream → CHECK → IVM → z-order → vacuum → time travel") {
    implicit val sqlCtx = spark.sqlContext
    val rootDir = scratchDir("slake-loop").toString
    val t = VersionedTable(rootDir, "k",
      statsCols = Seq("x"), checks = Seq("x >= 0", "g IS NOT NULL"))
    val m = new graft.lake.MaterializedAgg(
      t, scratchDir("slake-loop-agg").toString, Seq("g"), Seq("x"))
    val ckpt = scratchDir("slake-loop-ckpt").toString

    // 1) streamed exactly-once feed maintaining the aggregate: three
    // micro-batches, keys interleaved so every file's x-zone spans the
    // whole range (the layout z-order must later repair)
    val in = MemoryStream[(Long, String, Double)]
    val q = StreamingLake.upsertStreamMaintaining(
      in.toDF.toDF("k", "g", "x"), t, m, "loop", ckpt)
    try {
      // key-disjoint batches (so upserts don't force full rewrites)
      // with x UNCORRELATED to k: every file's x-zone spans nearly the
      // whole domain — exactly the layout z-order exists to repair
      in.addData((1 to 60).map(i =>
        (i.toLong, if (i % 2 == 0) "even" else "odd", ((i * 37) % 120).toDouble)): _*)
      q.processAllAvailable()
      in.addData((61 to 120).map(i =>
        (i.toLong, if (i % 2 == 0) "even" else "odd", ((i * 53) % 120).toDouble)): _*)
      q.processAllAvailable()
      in.addData((2L, "even", 200.0), (121L, "odd", 121.0))
      q.processAllAvailable()
    } finally q.stop()
    val vStream = t.currentVersion()
    val v1Count = t.tableCount(Some(1))

    def aggSnap() = m.read(spark)
      .select($"g", $"cnt", $"sum_x".cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq

    // 2) CHECK gate: the violating batch aborts pre-manifest — version
    // unchanged, IVM feed empty
    val before = aggSnap()
    val e = intercept[IllegalArgumentException](
      t.merge(Seq((5L, "even", -1.0)).toDF("k", "g", "x")))
    assert(e.getMessage.contains("x >= 0"))
    assert(t.currentVersion() == vStream && aggSnap() == before)

    // 3) IVM equals a from-scratch recompute after the whole feed
    assert(aggSnap() == graft.lake.IncrementalAgg
      .init(t.read(spark), Seq("g"), Seq("x"))
      .select($"g", $"cnt", $"sum_x".cast("double"))
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq)

    // 4) z-order compaction: layout-only (data + IVM invariant), and
    // the x-zones measurably tighten — the per-file zone widths must
    // strictly shrink in aggregate, normalized per file
    def meanZoneWidth(): Double = {
      val ws = t.snapshot(t.currentVersion()).files
        .flatMap(_.colStats.get("x")).map { case (lo, hi) => hi - lo }
      ws.sum / ws.size
    }
    val preWidth = meanZoneWidth()
    assert(preWidth > 60.0,
      s"fixture must start with wide x-zones (got mean $preWidth): " +
        "x is uncorrelated to the key layout by construction")
    val preData = t.read(spark).orderBy("k").collect().toSeq
    t.compactZOrder(spark, Seq("k", "x"), targetFiles = 6)
    m.refresh(spark)
    assert(t.read(spark).orderBy("k").collect().toSeq == preData,
      "compaction must not change data")
    assert(aggSnap() == before, "compaction's change feed must be empty for the IVM")
    assert(meanZoneWidth() < preWidth,
      s"z-order must tighten x-zones: mean width $preWidth -> ${meanZoneWidth()}")

    // 5) time-travel audit pre-vacuum: v1 is still the first key batch
    assert(v1Count == 60 && t.read(spark, asOf = Some(1)).count() == 60)
    assert(t.read(spark).filter($"k" === 2L).head.getDouble(2) == 200.0,
      "the live table carries the final upserted value")
    assert(t.read(spark, asOf = Some(2)).filter($"k" === 2L)
      .head.getDouble(2) == 74.0, "v2 still reads the pre-upsert value (2*37 % 120)")
    assert(t.read(spark, asOf = Some(3)).filter($"k" === 2L)
      .head.getDouble(2) == 200.0, "v3 carries the upsert")

    // 6) vacuum: only the live snapshot's files remain on disk; the
    // current read (and the IVM) survive
    t.vacuum(retainVersions = 1)
    val live = t.liveFiles().map(p => java.nio.file.Paths.get(new java.net.URI(p).getPath)).toSet
    val onDisk = {
      import scala.jdk.CollectionConverters._
      val it = Files.walk(java.nio.file.Paths.get(rootDir, "data"))
      try it.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
      finally it.close()
    }
    assert(onDisk == live, s"vacuum must leave exactly the live files: $onDisk vs $live")
    assert(t.read(spark).orderBy("k").collect().toSeq == preData)
    assert(aggSnap() == before)
  }
}
