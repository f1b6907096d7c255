package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one optimizer fence: no filter above it is pushed into
  * the plan below it.
  *
  * THE GATE RULE. A filter that reads a column computed by a native
  * kernel (NativeExprs) sits on a fence placed directly above the
  * projection that computes the column. Without it Catalyst pushes the
  * filter below that projection and copies the projected expression into
  * each conjunct that reads it; FilterExec shares no subexpression across
  * conjuncts or with the projection above, so the kernel runs once more
  * per copy. The filters Spark infers do the same: an explode of a
  * kernel's array adds `size(a) > 0 AND isnotnull(a)` below the
  * generator, which is two more copies. With the fence each kernel runs
  * once per row. PlanShapeSpec walks every declared query's plans for
  * a kernel that a filter repeats.
  *
  * `Fence(df, name)` is a CollectMetrics node (`observe`): no pushdown
  * rule crosses it, it materializes nothing and adds no job, and it
  * counts the rows that pass it as the observation `name#n`. Name a
  * fence after its stage; the sequence number `n` keeps the names
  * unique, since observation names must be unique within one analyzed
  * plan and composed calls nest fences.
  *
  * Cost: one count per row. A fence also stops column pruning, so the
  * projection below it keeps only the columns read above it.
  */
object Fence {

  private val fences = new AtomicLong

  def apply(df: DataFrame, name: String): DataFrame =
    df.observe(s"$name#${fences.incrementAndGet()}", count(lit(1)).as("rows"))
}
