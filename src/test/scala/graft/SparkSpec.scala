package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; suites must not stop() it).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    // the engine's canonical session config (incl. GraftExtensions SQL
    // functions), downsized for test parallelism
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  // override with GRAFT_TEST_SF to re-run plan audits against a larger
  // fixture (e.g. the GenScale-derived sf1) — see SCALE.md's sf1 audit
  val sf: String = sys.env.getOrElse("GRAFT_TEST_SF", "/root/testdata/sf0.001")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  private var scratchRoot: Option[Path] = None
  private var scratchDirs = 0

  /** A fresh directory for the suite's scratch files (tables, stream
    * checkpoints, written outputs). All of them live under one `graft-*`
    * tree in the temp dir, deleted after the suite.
    */
  def scratchDir(prefix: String): Path = synchronized {
    val root = scratchRoot.getOrElse {
      val r = Files.createTempDirectory("graft-")
      scratchRoot = Some(r)
      r
    }
    scratchDirs += 1
    Files.createDirectory(root.resolve(s"$prefix-$scratchDirs"))
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized(scratchRoot).foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))

  /** The messages at `level` or above that the logger named `name` logs
    * while `body` runs, with that logger at `level` meanwhile (the suites
    * run at ERROR).
    */
  def logged(name: String, level: Level)(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(name).asInstanceOf[org.apache.logging.log4j.core.Logger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("spark-spec-log", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(level)) lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    val old = logger.getLevel
    Configurator.setLevel(name, level)
    try body
    finally { Configurator.setLevel(name, old); logger.removeAppender(appender); appender.stop() }
    lines.asScala.toSeq
  }

  /** The Spark jobs `body` runs, as "job" in the order they start, with
    * a "write" at the end of each write command. Jobs that adaptive
    * execution submits for its shuffle stages count too.
    */
  def logJobs(body: => Unit): Seq[String] = listen(body).events.toSeq

  /** The physical plan of each write command `body` runs, as printed
    * when the command starts.
    */
  def logWritePlans(body: => Unit): Seq[String] = listen(body).plans.toSeq

  private def listen(body: => Unit): JobLog = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.ListenerProbe.drain(sc)
    val log = new JobLog
    sc.addSparkListener(log)
    try body
    finally {
      org.apache.spark.sql.graft.ListenerProbe.drain(sc)
      sc.removeSparkListener(log)
    }
    log
  }

  private class JobLog extends SparkListener {
    private val writes = mutable.Set.empty[Long]
    val events = mutable.ArrayBuffer.empty[String]
    val plans = mutable.ArrayBuffer.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(events += "job")
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writes += s.executionId
          plans += s.physicalPlanDescription
        case end: SparkListenerSQLExecutionEnd if writes(end.executionId) => events += "write"
        case _ =>
      }
    }
  }

  /** Epoch seconds from the events table's `ts`, whichever physical
    * type the fixture generation stored (TIMESTAMP(NANOS) read as nanos
    * BIGINT under nanosAsLong, or TIMESTAMP(MICROS) read as
    * TIMESTAMP_NTZ) — the test-side twin of Inventory's events()
    * normalization.
    */
  def tsSecExpr(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.functions.expr("ts div 1000000000")
      case _ =>
        org.apache.spark.sql.functions.expr("cast(cast(ts as timestamp) as bigint)")
    }
}
