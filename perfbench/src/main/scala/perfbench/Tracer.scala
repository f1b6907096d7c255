package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One traced call: `parent` is -1 for an op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long,
    var endNs: Long = 0L)

/** In-memory spans around the benchmark's calls into the engine. Each
  * span also becomes the Spark job group of the jobs it launches, so the
  * [[Ledger]] rolls runtime counters up per span. Turned off, `span`
  * only runs its body.
  */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var enabled = false
  private var op = -1

  def isEnabled: Boolean = enabled

  /** Trace (or not) the op numbered `opId` until the next call. */
  def startOp(opId: Int, traced: Boolean): Unit = {
    op = opId
    enabled = traced
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  def group(spanId: Int): String = s"span-$spanId"
}
