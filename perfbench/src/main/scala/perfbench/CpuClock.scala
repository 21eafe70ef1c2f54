package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => NioFiles}
import scala.collection.mutable

/** On-CPU time of this JVM's work: what its threads (driver, Spark task,
  * GC and other service threads) ran, as the kernel's scheduler counts it.
  * On a paravirtualised guest that count leaves out the time the
  * hypervisor gave to other guests (steal), which wall time on a shared
  * host cannot; the benchmark's time metrics are therefore CPU seconds.
  *
  * The JIT compiler threads are left out. Spark generates and loads new
  * classes as queries run, so they compile all through a run, on the
  * spare cores beside the ops; how much they do in a stretch of time
  * follows the tiered-compilation policy's timing more than the ops, and
  * it would be over half of a pass's CPU. Code the JIT has not yet
  * compiled still shows, as longer run time of the threads that run it.
  *
  * Two readings: [[seconds]] covers every thread the process ever ran,
  * at the kernel's 10 ms reporting grain (for set-up and passes);
  * [[snapshot]] / [[secondsSince]] sum the live threads' nanosecond run
  * times (for ops of a fraction of a second). */
object CpuClock {

  private val Tasks = new File("/proc/self/task")

  /** USER_HZ: Linux reports /proc times in hundredths of a second on every
    * architecture the benchmark runs on. */
  private val ClockTicks = 100.0

  private def read(f: File): String = new String(NioFiles.readAllBytes(f.toPath), UTF_8)

  /** Thread ids known to be JIT compiler threads ("C1 CompilerThread0",
    * "C2 CompilerThre..."), or not; a thread's name is read once. */
  private val compiler = mutable.HashMap.empty[String, Boolean]

  private def isCompiler(tid: String): Boolean =
    live(compiler.getOrElseUpdate(tid, read(new File(Tasks, s"$tid/comm")).matches("(?s)C\\d CompilerThre.*")))
      .contains(true)

  private def tids(): Seq[String] = Option(Tasks.list()).toSeq.flatten

  /** Run time of thread `tid`, nanoseconds. */
  private def runNs(tid: String): Long = read(new File(Tasks, s"$tid/schedstat")).takeWhile(_ != ' ').toLong

  /** Work CPU seconds since the process started: utime + stime of
    * /proc/self/stat (every thread it ever ran; the kernel derives them
    * from the threads' summed run time) less the compiler threads' run
    * time. The JVM keeps its compiler threads for its whole life
    * (`-XX:-UseDynamicNumberOfCompilerThreads`), so none of theirs is lost. */
  def seconds(): Double = {
    val stat = read(new File("/proc/self/stat"))
    // fields after the parenthesised command name; utime and stime are fields 14 and 15
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    val jit = tids().filter(isCompiler).flatMap(t => live(runNs(t))).sum
    (f(11).toLong + f(12).toLong) / ClockTicks - jit / 1e9
  }

  /** A read about a thread that exited after the listing: None. */
  private def live[T](body: => T): Option[T] =
    try Some(body) catch { case _: java.io.IOException => None }

  /** Run time of each live thread but the compiler threads, nanoseconds,
    * by thread id. */
  type Snapshot = Map[String, Long]

  def snapshot(): Snapshot =
    tids().filterNot(isCompiler).flatMap(t => live(runNs(t)).map(t -> _)).toMap

  /** Work CPU seconds the threads alive now ran since `from`; a thread
    * that exited in between takes its share with it. */
  def secondsSince(from: Snapshot): Double =
    snapshot().iterator.map { case (tid, ns) => ns - from.getOrElse(tid, 0L) }.sum / 1e9
}
