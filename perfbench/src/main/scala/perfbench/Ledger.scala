package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Runtime counters of one job group (or of everything, for the total). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var stageRetries = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "stage_retries" -> stageRetries,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "cpu_ns" -> cpuNs,
    "run_ms" -> runMs, "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords)
}

/** SparkListener that sums job, stage and task metrics, in total and per
  * job group. The tracer sets one job group per span, so in a traced run
  * the per-group counters are the runtime cost of each span's own calls.
  */
final class Ledger extends SparkListener {
  private val lock = new Object
  private var total = new Counters
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def each(group: Option[String])(f: Counters => Unit): Unit = {
    f(total)
    group.foreach(g => f(groups.getOrElseUpdate(g, new Counters)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(s => g.foreach(stageGroup(s) = _))
    each(g)(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    groupOf(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val g = stageGroup.get(e.stageInfo.stageId)
    each(g) { c =>
      c.stages += 1
      if (e.stageInfo.attemptNumber() > 0) c.stageRetries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    val info = e.taskInfo
    each(g) { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Forget everything counted so far (warm-up work). */
  def reset(): Unit = lock.synchronized {
    total = new Counters
    groups.clear()
  }

  def snapshot(): (Map[String, Long], Map[String, Map[String, Long]]) =
    lock.synchronized((total.toMap, groups.map { case (k, v) => k -> v.toMap }.toMap))
}
