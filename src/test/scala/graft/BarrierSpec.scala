package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerProbe

object BarrierSpec {
  /** Rows the specs' source UDF has evaluated, JVM-wide (local mode). */
  val evaluated = new AtomicLong
}

class BarrierSpec extends SparkSpec {
  import BarrierSpec.evaluated

  /** `rows` source rows in one partition, each evaluation counted and
    * slowed by `sleepMs`.
    */
  private def source(rows: Int, sleepMs: Long = 0) = {
    val tick = udf { (x: Long) =>
      evaluated.incrementAndGet()
      if (sleepMs > 0) Thread.sleep(sleepMs)
      x
    }
    spark.range(0, rows, 1, 1).select(tick(col("id")).as("k"))
  }

  test("localCheckpoint is called only inside Barrier") {
    val root = Paths.get("src/main/scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Barrier.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".localCheckpoint(") => s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(Files.isRegularFile(root.resolve("graft/Barrier.scala")))
    assert(offenders.isEmpty, s"raw localCheckpoint calls: ${offenders.mkString(", ")}")
  }

  test("a barrier runs no job at the call, computes once for two actions, and names its stage") {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => names.add(String.valueOf(r.name)))
    }
    evaluated.set(0)
    var b: org.apache.spark.sql.DataFrame = null
    assert(logJobs { b = Barrier(source(50), "spec.once") }.isEmpty)
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(b.count() == 50)
      assert(b.agg(sum("k")).head().getLong(0) == 1225L)
      ListenerProbe.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(evaluated.get == 50, "the second action recomputed the barrier")
    assert(names.contains("spec.once"), s"no stage showed the barrier's name: $names")
  }

  test("concurrent readers of a barrier partition compute it once") {
    // Dedup.nearDupClusters' shape: the branches of a union are tasks of
    // one stage, so all three start at once on the barrier's one
    // partition. One computes it and the others read its block. When two
    // of them both miss the block before either registers it, the loser
    // waits for the winner's write and logs BlockManager's "already
    // exists ... not re-adding it" without computing the partition; so
    // that WARN may or may not appear, but the count never grows.
    evaluated.set(0)
    for (i <- 1 to 3) {
      val b = Barrier(source(20, sleepMs = 20), s"spec.concurrent$i")
      val rows = b.filter(col("k") % 2 === 0)
        .union(b.filter(col("k") % 2 === 1))
        .union(b)
        .groupBy(col("k") % 2).count()
        .collect()
      assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(20L, 20L))
    }
    assert(evaluated.get == 60, s"the barriers' sources ran ${evaluated.get} times for 3 × 20 rows")
  }

  test("a reader that started before the barrier's lineage was cut drops no metric update") {
    // The first job to finish over a barrier cuts its lineage at the
    // blocks. A stage already running keeps the old lineage in its task
    // binary, and its tasks report the source plan's SQL metrics when they
    // end: Dedup's self-joins run two such stages at once. If the driver
    // has collected those metrics by then, DAGScheduler logs "Failed to
    // update accumulator ... non-existent accumulator" for each one.
    val b = Barrier(source(8), "spec.metrics")
    val slow = udf { (x: Long) => Thread.sleep(250); x }
    val started = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit = started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val errors = try logged("org.apache.spark.scheduler.DAGScheduler", Level.ERROR) {
      val reader = Future(b.select(slow(col("k"))).collect())
      started.await()
      Thread.sleep(500)
      assert(b.count() == 8)
      (1 to 3).foreach(_ => System.gc())
      assert(Await.result(reader, 1.minute).length == 8)
      ListenerProbe.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(errors.isEmpty, s"dropped metric updates: ${errors.take(3).mkString("; ")}")
  }
}
