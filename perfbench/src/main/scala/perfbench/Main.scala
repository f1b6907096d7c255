package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge

import graft.GraftSession

/** The benchmark's JVM side. `run.py` writes a plan (workload, inputs,
  * seed-derived choices, run length, tracing) and reads back one JSON
  * document of raw observations; it derives the metrics and runs the
  * output checks.
  *
  *   Main --setup <result.json>         time JVM start → ready session, exit
  *   Main --plan <plan.json> <result.json>
  *
  * A run warms up untimed, then issues whole rounds of ops while the
  * next round is expected to end by the run length (a round is expected
  * to take as long as the one before, and it starts if at least half of
  * it fits). With tracing on, rounds alternate between traced and
  * untraced, so one run also yields the tracing overhead.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def setupSeconds(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def write(path: String, doc: Map[String, Any]): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsBytes(doc))

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("--setup", result) =>
      GraftSession.get("perfbench")
      write(result, Map("setup_s" -> setupSeconds()))
      // the probe measures start-up only; skip the session's shutdown
      Runtime.getRuntime.halt(0)
    case Seq("--plan", planPath, result) => run(planPath, result)
    case _ =>
      System.err.println("usage: Main --setup <result.json> | --plan <plan.json> <result.json>")
      sys.exit(2)
  }

  private def run(planPath: String, result: String): Unit = {
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(planPath)))
    val spark = GraftSession.get("perfbench")
    val setupS = setupSeconds()
    val sc = spark.sparkContext
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    val tracer = new Tracer(sc)
    val traced = plan.get("trace").asBoolean()
    val seconds = plan.get("seconds").asDouble()
    val out = plan.get("out").asText()
    val workload = Workload(plan.get("workload").asText(), spark, tracer, plan, out)

    val warmStart = System.nanoTime()
    val warm = workload.warmUp()
    (1 to workload.warmRounds).foreach { i =>
      workload.round(-i, new OpRunner {
        def apply(kind: String)(body: => Map[String, Any]): Unit = body
      })
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    PerfbenchBridge.drainListeners(sc)
    ledger.reset()

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def rel(ns: Long): Double = (ns - t0) / 1e9
    var round = 0
    var lastRoundS = 0.0
    val minRounds = if (traced) 2 else 1
    while (round < minRounds || rel(System.nanoTime()) + lastRoundS / 2 < seconds) {
      val roundStart = System.nanoTime()
      val tracedRound = traced && round % 2 == 0
      workload.round(round, new OpRunner {
        def apply(kind: String)(body: => Map[String, Any]): Unit = {
          val id = ops.size
          tracer.startOp(id, tracedRound)
          val start = System.nanoTime()
          val (ok, facts, error) =
            try (true, body, "")
            catch { case e: Exception => (false, Map.empty[String, Any], e.toString) }
          val end = System.nanoTime()
          tracer.startOp(-1, traced = false)
          ops += Map("id" -> id, "kind" -> kind, "round" -> round, "traced" -> tracedRound,
            "start" -> rel(start), "end" -> rel(end), "ok" -> ok, "error" -> error,
            "facts" -> facts)
        }
      })
      round += 1
      lastRoundS = (System.nanoTime() - roundStart) / 1e9
    }
    val windowS = rel(System.nanoTime())
    PerfbenchBridge.drainListeners(sc)
    val (total, groups) = ledger.snapshot()

    val extra: Map[String, Any] = workload match {
      case lc: LakeCommit => Map("live_files" -> lc.liveFiles())
      case _              => Map.empty
    }
    // retained heap: what is still reachable after full collections. A
    // collection lets Spark's ContextCleaner free the blocks of unreferenced
    // checkpoints, which only the next collection reclaims, so collect
    // until the figure settles
    val heap = ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); Thread.sleep(200); heap.getHeapMemoryUsage.getUsed }
    var (prev, used, tries) = (Long.MaxValue, collected(), 0)
    while (prev - used > (1L << 20) && tries < 8) {
      prev = used; used = collected(); tries += 1
    }
    val heapMb = used / 1048576.0

    val spans = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start" -> rel(s.startNs), "end" -> rel(s.endNs)))
    write(result, Map(
      "setup_s" -> setupS, "cores" -> sc.defaultParallelism, "window_s" -> windowS,
      "rounds" -> round, "warm_rounds" -> workload.warmRounds, "warm_s" -> warmS, "warm" -> warm, "ops" -> ops, "spans" -> spans,
      "total" -> total, "groups" -> groups, "heap_mb" -> heapMb) ++ extra)
    spark.stop()
  }
}
