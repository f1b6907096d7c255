package graft

import java.io.{File, PrintWriter}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}

import graft.queries.Inventory

/** Dump `.explain("formatted")` for named declared queries to files —
  * the optimization round's plan-evidence artifact (plans/rN/
  * <query>_<tag>.txt). Usage:
  *
  *   sbt 'runMain graft.PlanDump plans/r16 final q277_frontier_advance …'
  *
  * SPARK_GRAFT_SF_DIR selects the fixture (default sf0.1 — plan SHAPE is
  * sf-independent for everything but AQE-decided strategies, which the
  * formatted explain of the unexecuted plan does not include anyway).
  * Queries that drive actions during CONSTRUCTION (store-building
  * composites) still work: construction runs, and the dumped plan is the
  * final returned frame's.
  *
  * A [[Barrier]] hides its subtree from every plan that reads it, so
  * each file continues, after the query's plan, with the plan of every
  * barrier the query built, in build order, each headed by the barrier's
  * name. Barriers materialize here exactly as in a run.
  *
  * Exits non-zero when a requested query is unknown or throws, so a
  * plan-evidence run cannot silently drop a query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query>...")
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSet
    val qs = (Inventory.all ++ Bench.productionTwins).filter(q => names(q.name))
    val missing = names -- qs.map(_.name)
    if (missing.nonEmpty) {
      System.err.println(s"[plandump] unknown queries: ${missing.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    new File(outDir).mkdirs()
    val spark = GraftSession.get("graft-plandump")
    def explain(qe: QueryExecution): String = qe.explainString(FormattedMode)
    val failed = qs.filterNot { q =>
      try {
        val (df, barriers) = Barrier.built(q.run(spark, sfDir))
        val w = new PrintWriter(new File(outDir, s"${q.name}_$tag.txt"), "UTF-8")
        try {
          w.println(explain(df.queryExecution))
          barriers.foreach { case (name, qe) => w.println(s"== Barrier $name ==\n${explain(qe)}") }
        } finally w.close()
        println(s"[plandump] wrote ${q.name}_$tag.txt (${barriers.size} barriers)")
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] ${q.name} failed: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
