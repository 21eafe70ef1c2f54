package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail: highest percentile that keeps at least ten samples beyond it") {
    val t = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t.percentile == 90.0 && t.value == 90.0 && t.beyond == 10 && t.samples == 100)

    val xs = (1 to 37).map(i => i * 1.5)
    val u = Stats.tail(xs).get
    assert(u.beyond >= 10)
    // one grid step higher would leave fewer than ten beyond
    val higher = math.ceil((u.percentile + 0.1) * 37 / 100.0 - 1e-9).toInt
    assert(37 - higher < 10)
    assert(u.value == xs.sorted.apply(37 - u.beyond - 1))

    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).get.beyond == 10)
  }

  test("self time subtracts the union of direct children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, 7, "op", 0, 100),
      Span(2, 1, 7, "queries.build", 10, 40),
      Span(3, 2, 7, "readers.read", 15, 20),      // grandchild: only its parent loses it
      Span(4, 1, 7, "spark.exec", 30, 60),        // overlaps its sibling
      Span(5, 1, 7, "spark.exec", 90, 120))       // runs past the parent's end
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (60 - 10) - (100 - 90))
    assert(self(2) == 30 - 5)
    assert(self(3) == 5)
    assert(self(4) == 30)
    assert(self(5) == 30)
    val byName = Trace.selfSecondsByName(spans)
    assert(byName("spark.exec") == 60 / 1e9)
    assert(Trace.innermostAt(spans, 17).map(_.id).contains(3))
    assert(Trace.innermostAt(spans, 95).map(_.id).contains(5))
  }

  test("result hash ignores row and collection order, not values or multiplicity") {
    val cols = Seq("k", "v", "tags")
    val rows = Seq(Row(1L, 0.1 + 0.2, Seq("a", "b")), Row(2L, 2.5, Seq.empty[String]), Row(3L, null, Seq("c")))
    val h = ResultHash.of(cols, rows)
    assert(ResultHash.of(cols, rows.reverse) == h)
    assert(ResultHash.of(cols, Seq(rows(1), rows(2), rows(0))) == h)
    assert(ResultHash.of(cols, Seq(Row(1L, 0.3, Seq("b", "a"))) ++ rows.tail) == h)
    assert(ResultHash.of(cols, rows :+ rows.head) != h)
    assert(ResultHash.of(cols, rows.updated(1, Row(2L, 2.6, Seq.empty[String]))) != h)
    assert(ResultHash.of(Seq("k", "w", "tags"), rows) != h)
  }

  private def op(n: String, body: => Unit, verdict: => Option[String]): Op = new Op {
    val name = n
    def run(): Unit = body
    def check(): Option[String] = verdict
  }

  test("failed ratio counts a throwing op and a wrong-result op") {
    val outcomes = Seq(
      op("ok", (), None),
      op("throws", throw new IllegalStateException("boom"), None),
      op("wrong", (), Some("expected 3 rows, got 2")),
      op("ok2", (), None)).map(Runner.runOp)
    assert(outcomes.map(_.error.isDefined) == Seq(false, true, true, false))
    assert(outcomes(1).error.get.contains("boom"))
    assert(Runner.failedRatio(outcomes) == 0.5)
  }

  test("the CPU clock counts a thread's run time, not its sleep") {
    val s0 = CpuClock.snapshot()
    Thread.sleep(300)
    val slept = CpuClock.secondsSince(s0)
    val p0 = CpuClock.seconds()
    val s1 = CpuClock.snapshot()
    val t0 = System.nanoTime()
    var spins = 0L
    while (System.nanoTime() - t0 < 300000000L) spins += 1
    val busy = CpuClock.secondsSince(s1)
    val process = CpuClock.seconds() - p0
    assert(spins > 0 && busy > 0.2 && slept < busy / 2)
    // the process reading has a 10 ms grain
    assert(process > busy - 0.05)
  }

  test("jobs are attributed to the innermost span open at submission") {
    val ms = 1000000L
    val spans = Seq(
      Span(1, 0, 1, "op", 0, 100 * ms),
      Span(2, 1, 1, "queries.build", 0, 40 * ms),
      Span(3, 1, 1, "spark.exec", 50 * ms, 100 * ms))
    val jobs = Seq(JobRec(0, 10, Seq(0)), JobRec(1, 60, Seq(1, 2)), JobRec(2, 70, Seq(3)))
    val tasks = Seq(TaskRec(0, 5, 0, 0, 0, 0, 0), TaskRec(1, 20, 3000000000L, 4, 100, 0, 0),
      TaskRec(2, 20, 0, 0, 0, 100, 7), TaskRec(3, 10, 0, 0, 0, 0, 0))
    val l = Layers.of(spans, jobs, tasks, Seq(PlanRec(5, 6, 7)), cores = 2, filesWritten = 3, bytesWritten = 9)
    assert(l("queries.build_jobs") == 1 && l("spark.jobs") == 2 && l("spark.tasks") == 3)
    assert(l("spark.task_cpu_s") == 3.0 && l("spark.spill_bytes") == 7)
    assert(math.abs(l("spark.idle_core_s") - (0.05 * 2 - 0.05)) < 1e-9)
    assert(l("plans.optimize_s") == 0.006 && l("output.files_written") == 3)
    assert(Layers.Units.map(_._1).toSet.subsetOf(l.keySet ++ Set("ops.survivor_ratio", "trace.overhead_s")))
  }
}
