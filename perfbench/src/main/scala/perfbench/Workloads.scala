package perfbench

import java.nio.file.Paths
import java.security.MessageDigest

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Notifier, Pipeline}
import graft.config.LakeConfig
import graft.io.{Sinks, Sources}
import graft.lake.{Snapshot, VersionedTable}
import graft.operators.CorpusPipeline
import graft.quality.{Cleaner, Validator}
import graft.query.QueryRunner

/** Times one op: `kind` names it, the body returns facts for the checks. */
trait OpRunner {
  def apply(kind: String)(body: => Map[String, Any]): Unit
}

/** A workload: `warmUp` runs untimed (and records what the output checks
  * need), followed by `warmRounds` untimed rounds, so that the timed
  * rounds run on compiled code; `round` issues one fixed group of ops, so
  * every run measures whole rounds and the op mix stays the same whatever
  * the run length.
  */
trait Workload {
  def warmUp(): Map[String, Any]
  def warmRounds: Int
  def round(r: Int, op: OpRunner): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, tr: Tracer, plan: JsonNode,
      out: String): Workload = name match {
    case "etl_flip"    => new EtlFlip(spark, tr, plan, out)
    case "lake_sql"    => new LakeSql(spark, tr, plan, out)
    case "corpus_prep" => new CorpusPrep(spark, tr, plan)
    case "lake_commit" => new LakeCommit(spark, tr, plan, out)
    case other         => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Runs untimed warm-up work concurrently: the first execution of a
    * plan is dominated by class loading and code generation, which
    * overlap well across the cores.
    */
  def concurrently[A](items: Seq[A])(work: A => Unit): Unit =
    Await.result(Future.sequence(items.map(i => Future(work(i)))), Duration.Inf)
}

/** The reference job: read → profile → clean → ps_query → flipped write,
  * alternating CSV→Parquet and Parquet→CSV, with the seed's BETWEEN window.
  */
final class EtlFlip(spark: SparkSession, tr: Tracer, plan: JsonNode, out: String)
    extends Workload {
  private val inputs = Map("csv" -> plan.at("/paths/etl_csv").asText(),
    "parquet" -> plan.at("/paths/etl_lineitem").asText())
  private val table = plan.at("/etl/table").asText()
  private val sql = plan.at("/etl/query").asText()
  private object Silent extends Notifier { def send(s: String, m: String): Unit = () }

  private def run(fmt: String, sql: String, dest: String): Map[String, Any] = {
    val profile =
      if (tr.isEnabled) tracedRun(fmt, sql, dest)
      else new Pipeline(spark, Silent).run(LakeConfig(fmt, table, sql), inputs(fmt), dest).profile
    Map("out" -> dest, "in_format" -> fmt, "profile_rows" -> profile.rows,
      "profile_dup_rows" -> profile.dupRows,
      "profile_null_cells" -> profile.nullCounts.values.sum)
  }

  // the traced op makes the same calls Pipeline.run makes, one span each
  private def tracedRun(fmt: String, sql: String, dest: String) = {
    val raw = tr.span("io.read")(Sources.read(spark, fmt, inputs(fmt)))
    val profile = tr.span("quality.profile")(Validator.profile(raw))
    val cleaned = tr.span("quality.clean")(Cleaner.clean(raw))
    tr.span("query.register")(QueryRunner.register(cleaned, table))
    val result = tr.span("query.run")(QueryRunner.run(spark, sql))
    tr.span("query.plan")(result.queryExecution.executedPlan)
    tr.span("io.write")(Sinks.writeFlipped(result, fmt, dest))
    profile
  }

  def warmUp(): Map[String, Any] = Map.empty
  val warmRounds = 4

  def round(r: Int, op: OpRunner): Unit =
    for (fmt <- Seq("csv", "parquet")) op(s"${fmt}_in") {
      tr.span("op")(run(fmt, sql, s"$out/etl/r${r}_$fmt"))
    }
}

/** Analyst SQL over registered views: one pass over the query set per
  * round, in the seed's order; results forced through the noop sink.
  */
final class LakeSql(spark: SparkSession, tr: Tracer, plan: JsonNode, out: String)
    extends Workload {
  private val queries = plan.at("/sql/queries").elements().asScala.toSeq
    .map(q => q.get("name").asText() -> q.get("sql").asText())

  def warmUp(): Map[String, Any] = {
    plan.at("/sql/tables").fields().asScala.foreach { e =>
      QueryRunner.register(Sources.read(spark, "parquet", e.getValue.asText()), e.getKey)
    }
    // each query's first execution doubles as the output captured for the check
    Workload.concurrently(queries) { case (name, sql) =>
      QueryRunner.run(spark, sql).write.mode("overwrite").parquet(s"$out/sql/$name")
    }
    Map("results" -> s"$out/sql")
  }
  val warmRounds = 1

  def round(r: Int, op: OpRunner): Unit =
    queries.foreach { case (name, sql) =>
      op("query") {
        tr.span("op") {
          val df = tr.span("query.run")(QueryRunner.run(spark, sql))
          if (tr.isEnabled) tr.span("query.plan")(df.queryExecution.executedPlan)
          tr.span("query.exec")(Workload.noopWrite(df))
        }
        Map("query" -> name)
      }
    }
}

/** The LLM-data path: one CorpusPipeline.prepare pass per op. */
final class CorpusPrep(spark: SparkSession, tr: Tracer, plan: JsonNode) extends Workload {
  private val docs = Sources.read(spark, "parquet", plan.at("/paths/documents").asText())

  def warmUp(): Map[String, Any] = {
    // the warm-up pass is the checked one: its kept ids are digested
    val ids = CorpusPipeline.prepare(docs).select("doc_id").collect().map(_.getLong(0)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(ids.mkString(",").getBytes("UTF-8"))
    Map("kept" -> ids.length, "kept_digest" -> md.digest().map("%02x".format(_)).mkString)
  }
  val warmRounds = 5

  def round(r: Int, op: OpRunner): Unit = op("prepare") {
    tr.span("op") {
      tr.span("operators.prepare") {
        val prepared = CorpusPipeline.prepare(docs)
        tr.span("io.noop_write")(Workload.noopWrite(prepared))
      }
    }
    Map.empty
  }
}

/** The lake's write path beside its reads, one table lifetime per round:
  * overwrite, the seed's merges, an append, a zone-pruned range read and
  * a time-travel read of the first version.
  */
final class LakeCommit(spark: SparkSession, tr: Tracer, plan: JsonNode, out: String)
    extends Workload {
  private val key = "o_orderkey"
  private val base = Sources.read(spark, "parquet", plan.at("/paths/orders").asText())
    .repartitionByRange(plan.at("/lake/files").asInt(), col(key))
  private val merges = Workload.strings(plan.at("/lake/merges"))
    .map(Sources.read(spark, "parquet", _))
  private val appendBatch = Sources.read(spark, "parquet", plan.at("/lake/append").asText())
  private val (lo, hi) = (plan.at("/lake/range/0").asLong(), plan.at("/lake/range/1").asLong())

  private def commit(t: VersionedTable, prev: Option[Snapshot], name: String)(
      body: => Snapshot): (Snapshot, Map[String, Any]) = {
    val snap = tr.span(name)(body)
    val before = prev.fold(Set.empty[String])(_.files.map(_.path).toSet)
    (snap, Map("version" -> snap.version, "rows" -> snap.files.map(_.rows).sum,
      "files_live" -> snap.files.size,
      "files_new" -> snap.files.count(f => !before(f.path))))
  }

  private def cycle(root: String, initial: DataFrame, op: OpRunner): Unit = {
    FileUtils.deleteQuietly(Paths.get(root).toFile)
    val t = VersionedTable(root, key)
    var snap: Option[Snapshot] = None
    def commitOp(kind: String, batch: Int = 0)(body: => Snapshot): Unit = op(kind) {
      tr.span("op") {
        val (s, facts) = commit(t, snap, s"lake.$kind")(body)
        snap = Some(s)
        facts + ("batch" -> batch)
      }
    }
    commitOp("overwrite")(t.overwrite(initial))
    merges.zipWithIndex.foreach { case (m, i) => commitOp("merge", i)(t.merge(m)) }
    commitOp("append")(t.append(appendBatch))
    op("read_range") {
      tr.span("op") {
        val df = t.readRange(spark, lo, hi)
        val rows = tr.span("lake.read")(df.count())
        val extra: Map[String, Any] =
          if (tr.isEnabled) Map("files_read" -> df.inputFiles.length,
            "files_live" -> t.liveFiles().size)
          else Map.empty
        extra ++ Map("rows" -> rows)
      }
    }
    op("time_travel") {
      tr.span("op")(Map("rows" -> tr.span("lake.read")(t.read(spark, Some(1)).count())))
    }
  }

  // a table started from a merge batch exercises the same code, cheaply
  def warmUp(): Map[String, Any] = {
    cycle(s"$out/lake/warm", merges.head, new OpRunner {
      def apply(kind: String)(body: => Map[String, Any]): Unit = body
    })
    Map.empty
  }
  val warmRounds = 3

  // only the newest round's table is kept, for the final-content check
  private var last = s"$out/lake/warm"

  def round(r: Int, op: OpRunner): Unit = {
    FileUtils.deleteQuietly(Paths.get(last).toFile)
    last = s"$out/lake/r$r"
    cycle(last, base, op)
  }

  /** Data files of the newest version of the last round's table. */
  def liveFiles(): Seq[String] = VersionedTable(last, key).liveFiles()
}
