package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
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
