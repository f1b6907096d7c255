package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.SparkBridge
import org.apache.spark.util.AccumulatorV2

/** The engine's one materialization barrier: a frame that several
  * consumers read — branches of one plan, or separate actions — is
  * computed once into executor-local blocks, and every later read scans
  * the blocks instead of re-running the subtree.
  *
  * `Barrier(df, name)` is a lazy local checkpoint. At the call it plans
  * `df` and fixes its physical plan, but runs no result-stage job and
  * pins no CacheManager entry. Under AQE (on in [[GraftSession]]) that
  * planning does run the subtree's UPSTREAM shuffle stages as jobs. The
  * blocks are written by the first job that reads the barrier, and that
  * job's end computes any partition it did not read, so a second action
  * never re-runs the subtree; other branches of the first job read the
  * blocks too. Downstream plans see a frozen `LogicalRDD` leaf, so the
  * barrier's plan is not part of theirs: [[PlanDump]] writes it
  * separately, from [[built]].
  *
  * The blocks are RDD-level and reference-tracked: the ContextCleaner
  * frees them once the result is unreferenced, and no CacheManager entry
  * exists, so a long-lived session cannot accumulate pinned caches
  * however many operator calls it makes. [[scoped]] releases them as
  * soon as its body returns or throws, for a barrier whose only reader
  * is that body.
  *
  * `name` is the barrier's RDD name, so Spark shows it for the RDD
  * (its `toString`, the stage's RDD infos): the stage that materializes
  * a barrier is identifiable by name. Naming costs O(1) on the driver
  * and adds no job.
  *
  * The first job to end over a barrier cuts its lineage at the blocks.
  * A stage that started before the cut (the other side of a self-join)
  * still reports the source plan's SQL metrics, and the row count of
  * each [[Fence]] in it, when its tasks end, so the barrier holds those
  * accumulators while its RDD lives; it does not hold the plan, whose
  * leaves may be earlier barriers.
  *
  * Trade-off: local blocks are not recomputable after executor loss. On
  * a cluster with dynamic allocation or aggressive decommissioning, a
  * reliable `Dataset.checkpoint` under a checkpoint dir is the drop-in
  * replacement here.
  */
object Barrier {

  def apply(df: DataFrame, name: String): DataFrame = {
    val barrier = df.localCheckpoint(eager = false)
    sourceMetrics.put(rdd(barrier).setName(name), metrics(df.queryExecution.executedPlan))
    recorder.value.foreach(_.add(name -> df.queryExecution))
    barrier
  }

  /** `body` over `Barrier(df, name)`, whose blocks are released when
    * `body` returns or throws. The release skips `RDD.unpersist`, which
    * warns on every call that a locally checkpointed RDD cannot be
    * recomputed once released: a barrier done with its rows never needs
    * to be.
    */
  def scoped[T](df: DataFrame, name: String)(body: DataFrame => T): T = {
    val barrier = apply(df, name)
    try body(barrier)
    finally { val r = rdd(barrier); SparkBridge.unpersistRDD(r.sparkContext, r.id) }
  }

  /** Runs `body` and returns, with its result, every barrier built while
    * it ran, in build order: the barrier's name and the query execution
    * that planned its subtree (the plan that ran). A thread created
    * while `body` runs, such as a streaming query's, reports to the same
    * list, also after `built` returns; a thread created before `body`
    * (a reused pool thread) does not report.
    */
  def built[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]
    val result = recorder.withValue(Some(seen))(body)
    (result, seen.asScala.toSeq)
  }

  private val recorder = new DynamicVariable[Option[ConcurrentLinkedQueue[(String, QueryExecution)]]](None)

  private val sourceMetrics =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[RDD[_], Seq[AccumulatorV2[_, _]]])

  private object Plans extends AdaptiveSparkPlanHelper

  private def metrics(plan: SparkPlan): Seq[AccumulatorV2[_, _]] =
    Plans.collectWithSubqueries(plan) {
      case fence: CollectMetricsExec =>
        fence.metrics.values ++ SparkBridge.observed(fence)
      case p => p.metrics.values
    }.flatten

  private def rdd(barrier: DataFrame): RDD[_] =
    barrier.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
}
