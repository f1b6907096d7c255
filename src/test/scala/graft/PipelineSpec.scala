package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.config.LakeConfig
import graft.io.{Sinks, Sources, UnsupportedFormatException}
import graft.quality.{Cleaner, Profile, Validator}
import graft.transform.Derive

/** End-to-end pipeline semantics (SURVEY.md §2.A, §5): CSV all-string
  * typing, fill-before-drop ordering, temp-view plan snapshot, format
  * flip, spaced/case-insensitive column names.
  */
class PipelineSpec extends SparkSpec {

  lazy val (csvPath, pqPath) = PeopleFixture.writeBoth(spark, scratchDir("people_fixture"))

  test("CSV source reads header with all-string columns (no inference)") {
    val df = Sources.csv(spark, csvPath)
    assert(df.columns.toSeq == PeopleFixture.header)
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("parquet source keeps footer types") {
    val df = Sources.parquet(spark, pqPath)
    assert(df.columns.toSeq == PeopleFixture.header)
  }

  test("unsupported format raises typed error") {
    intercept[UnsupportedFormatException](Sources.read(spark, "avro", csvPath))
  }

  test("validator profile: rows, cols, dups, per-column nulls") {
    val p = Validator.profile(Sources.parquet(spark, pqPath))
    assert(p.rows == 7)
    assert(p.cols == 7)
    assert(p.dupRows == 1) // one exact duplicate pair
    assert(p.nullCounts("Phone") == 1)
    assert(p.nullCounts("Job Title") == 1)
    assert(p.nullCounts("Email") == 0)
  }

  test("cleaner: fill Phone BEFORE dropna, then dedup — exact order") {
    val cleaned = Cleaner.clean(Sources.parquet(spark, pqPath))
    val rows = cleaned.collect()
    // u2 (Phone-only null) survives with "Unknown"; u4 (Job null) dropped;
    // u5 dup collapsed → 7 - 1(dropped) - 1(dup) = 5 rows
    assert(rows.length == 5)
    val u2 = rows.find(_.getAs[String]("User Id") == "u2").get
    assert(u2.getAs[String]("Phone") == "Unknown")
    assert(!rows.exists(_.getAs[String]("User Id") == "u4"))
  }

  test("inverting fill/drop order would lose the Phone-null row (pinned)") {
    val raw = Sources.parquet(spark, pqPath)
    val wrong = raw.na.drop().na.fill(Map("Phone" -> "Unknown")).dropDuplicates()
    assert(!wrong.collect().exists(_.getAs[String]("User Id") == "u2"))
  }

  test("temp view snapshots plan BEFORE age transform (dead-branch semantics)") {
    val cfg = LakeConfig(
      "parquet", "data_lake_query",
      "SELECT * FROM data_lake_query WHERE `Date of birth` BETWEEN '2000-01-01' AND '2024-12-31'")
    val out = scratchDir("pipeline_out").resolve("result").toString
    val res = new Pipeline(spark).run(cfg, pqPath, out)
    // SQL ran against the snapshot: no age column, no age>30 filter
    assert(!res.result.columns.contains("age"))
    // format flip: parquet in → csv out
    assert(res.outputFormat == "csv")
    val back = Sources.csv(spark, out)
    assert(!back.columns.contains("age"))
    // `Date of birth` (config spelling) resolved case-insensitively against
    // `Date of Birth`; u3 (2001) and u6 (2003) qualify post-cleaning
    val ids = back.select("User Id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("u3", "u6"))
  }

  test("csv input direction flips to parquet output") {
    val cfg = LakeConfig("csv", "people_csv", "SELECT * FROM people_csv")
    val out = scratchDir("pipeline_out2").resolve("result").toString
    val res = new Pipeline(spark).run(cfg, csvPath, out)
    assert(res.outputFormat == "parquet")
    assert(Sources.parquet(spark, out).count() == 5)
  }

  test("derive.age computes int age against injectable as-of date") {
    val df = Derive.age(
      Sources.parquet(spark, pqPath).na.drop(), asOf = Some("2024-12-18"))
    val ada = df.filter(col("`User Id`") === "u1").select("age").head.getInt(0)
    assert(ada == 39) // 1985-12-10 → 2024-12-18 is 39y8d → 14253d/365 = 39
    val over30 = Derive.adultsOver(df)
    assert(!over30.collect().exists(_.getAs[String]("User Id") == "u3"))
  }

  test("scratch-cleanup prologue clears pre-existing scratch files (A23)") {
    val scratch = scratchDir("pipeline_scratch")
    Files.writeString(scratch.resolve("stale1.tmp"), "old")
    Files.createDirectory(scratch.resolve("sub"))
    Files.writeString(scratch.resolve("sub").resolve("stale2.tmp"), "old")
    assert(Files.list(scratch).count() == 2)

    val cfg = LakeConfig("csv", "people_scratch", "SELECT * FROM people_scratch")
    val out = scratchDir("pipeline_out3").resolve("result").toString
    new Pipeline(spark).run(cfg, csvPath, out, scratchDir = Some(scratch.toString))

    assert(Files.list(scratch).count() == 0, "scratch dir should be emptied before the run")
    assert(Sources.parquet(spark, out).count() == 5, "run itself unaffected")
  }

  test("scratch cleanup is best-effort: bogus path does not fail the run") {
    val cfg = LakeConfig("csv", "people_scratch2", "SELECT * FROM people_scratch2")
    val out = scratchDir("pipeline_out4").resolve("result").toString
    val res = new Pipeline(spark).run(
      cfg, csvPath, out, scratchDir = Some("badscheme://nope/x"))
    assert(res.outputFormat == "parquet")
  }

  test("dotted and backticked CSV headers profile, clean and write") {
    val dir = scratchDir("pipeline_dotted")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv, "l.price,a`b,plain\n1.5,x,p\n1.5,x,p\n,y,z\n2.0,w,\n")
    val cfg = LakeConfig("csv", "dotted", "SELECT * FROM dotted")
    val out = dir.resolve("result").toString
    val res = new Pipeline(spark).run(cfg, csv.toString, out)
    assert(res.profile == Profile(4, 3, 1, Map("l.price" -> 1L, "a`b" -> 0L, "plain" -> 1L)))
    val back = Sources.parquet(spark, out)
    assert(back.columns.toSeq == Seq("l.price", "a`b", "plain"))
    assert(back.count() == 1)
  }

  /** Every job that ran under `group`, with its tags and end time. */
  private final class JobLog(group: String) extends SparkListener {
    val tags = new ConcurrentHashMap[Int, String]
    val ended = new ConcurrentHashMap[Int, java.lang.Long]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
        tags.put(e.jobId, Option(e.properties.getProperty("spark.job.tags")).getOrElse(""))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ended.put(e.jobId, e.time)

    /** Waits until every logged job's end event has been delivered. */
    def settle(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tags.keySet.asScala.forall(ended.containsKey) && System.nanoTime() < deadline)
        Thread.sleep(20)
    }

    /** The logged jobs that ended after `t` or have not ended. */
    def endedAfter(t: Long): Set[Int] =
      tags.keySet.asScala.toSet.filter(j => Option(ended.get(j)).forall(_ > t))
  }

  /** Runs `body` under a fresh caller job group, and checks what the
    * caller sees afterwards: its job group still set, no job tag added,
    * no thread or job of the run still running or ended after `body`
    * returned. Returns the tags of the run's jobs.
    */
  private def underJobGroup(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"caller-${java.util.UUID.randomUUID()}"
    val log = new JobLog(group)
    sc.addSparkListener(log)
    sc.setJobGroup(group, "caller's description")
    try {
      body
      val returnedAt = System.currentTimeMillis()
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      assert(sc.getLocalProperty("spark.job.description") == "caller's description")
      assert(sc.getJobTags().isEmpty)
      val alive = Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-overlapped")
      assert(alive.isEmpty, "the run's profile thread outlived it")
      log.settle()
      val late = log.endedAfter(returnedAt)
      assert(late.isEmpty, s"jobs $late of the run ended after it returned")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
      log.tags.values.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(log)
    }
  }

  test("the overlapped profile keeps the caller's job group and ends with run") {
    val cfg = LakeConfig("csv", "people_group", "SELECT * FROM people_group")
    val out = scratchDir("pipeline_group").resolve("result").toString
    var res: PipelineResult = null
    val tags = underJobGroup { res = new Pipeline(spark).run(cfg, csvPath, out) }
    assert(res.profile.rows == 7 && res.profile.dupRows == 1)
    // the profile's jobs ran in the caller's group, under a tag of their own
    assert(tags.exists(_.contains("graft-overlapped-")), s"untagged profile jobs: $tags")
    assert(tags.exists(!_.contains("graft-overlapped-")), s"no write jobs: $tags")
  }

  test("a ps_query failing at execution fails the run and leaves no job behind") {
    var got = Seq.empty[String]
    val notifier = new Notifier {
      def send(subject: String, message: String): Unit = got :+= subject
    }
    // the query fails within milliseconds, while the profile of 300k
    // distinct rows is still running: the run must cancel it, not leave it
    val in = scratchDir("pipeline_fail").resolve("in").toString
    spark.range(300000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
      .write.parquet(in)
    val cfg = LakeConfig("parquet", "ids_fail",
      "SELECT CAST(raise_error('ps_query failed') AS STRING) AS x FROM range(1)")
    val out = scratchDir("pipeline_fail").resolve("result").toString
    underJobGroup {
      val e = intercept[Exception](new Pipeline(spark, notifier).run(cfg, in, out))
      assert(e.getMessage.contains("ps_query failed"), e.getMessage)
    }
    assert(got == Seq("Glue Job Failure"))
  }

  test("notifier receives failure on bad format") {
    var got: Option[String] = None
    val notifier = new Notifier {
      def send(subject: String, message: String): Unit = got = Some(subject)
    }
    // "avro": no connector on the classpath, so it stays an unsupported
    // format now that orc/json joined the dispatch
    val cfg = LakeConfig("avro", "x", "SELECT 1")
    intercept[UnsupportedFormatException] {
      new Pipeline(spark, notifier).run(cfg, pqPath, "/tmp/never")
    }
    assert(got.contains("Glue Job Failure"))
  }
}
