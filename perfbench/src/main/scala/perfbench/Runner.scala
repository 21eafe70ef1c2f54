package perfbench

import scala.util.control.NonFatal

/** One benchmark operation: `prepare` stages its inputs off the clock,
  * `run` is the timed call, and `check` verifies the output afterwards,
  * also off the clock, returning an error message when it is wrong. */
trait Op {
  def name: String
  def prepare(): Unit = ()
  def run(): Unit
  def check(): Option[String]
}

/** An op's latency, its CPU seconds ([[CpuClock]]) and, when it threw or
  * failed its check, why. */
final case class Outcome(op: String, seconds: Double, cpuSeconds: Double, error: Option[String])

object Runner {

  private def failure(what: String, e: Throwable): Option[String] =
    Some(s"$what ${e.getClass.getSimpleName}: ${e.getMessage}")

  def runOp(op: Op): Outcome = {
    val unprepared =
      try { op.prepare(); None }
      catch { case NonFatal(e) => failure("prepare threw", e) }
    val c0 = CpuClock.snapshot()
    val t0 = System.nanoTime()
    val thrown = unprepared.orElse(
      try { op.run(); None }
      catch { case NonFatal(e) => failure("threw", e) })
    val seconds = (System.nanoTime() - t0) / 1e9
    val cpuSeconds = CpuClock.secondsSince(c0)
    val error = thrown.orElse(
      try op.check()
      catch { case NonFatal(e) => failure("check threw", e) })
    Outcome(op.name, seconds, cpuSeconds, error)
  }

  /** Ops that threw or failed their check, over ops attempted. */
  def failedRatio(outcomes: Seq[Outcome]): Double =
    if (outcomes.isEmpty) 0.0 else outcomes.count(_.error.nonEmpty).toDouble / outcomes.size
}
