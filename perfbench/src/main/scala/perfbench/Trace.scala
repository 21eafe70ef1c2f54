package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is 0 for a root span; every span
  * of one operation shares `op`. Times are wall-clock nanoseconds
  * (`System.currentTimeMillis` scale, nanosecond resolution), so they
  * line up with Spark listener event times. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for a single client thread. Disabled, it only
  * runs the body; `Main` enables it for traced passes. Spans stay in
  * memory until the run writes them out. */
final class Tracer(var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var currentOp = 0
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def now(): Long = System.nanoTime() + wallOffsetNs

  /** Open the root span of operation `opId`. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, start, now())
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self time summed per span name, in seconds. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  /** The innermost span that contains wall time `tNs`, if any. */
  def innermostAt(spans: Seq[Span], tNs: Long): Option[Span] =
    spans.filter(s => s.startNs <= tNs && tNs <= s.endNs).minByOption(_.durNs)
}
