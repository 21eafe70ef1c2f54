package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** State of one benchmark run, shared by its set-ups and passes. */
final class Run(val seed: Long, val tracer: Tracer) {
  var spark: SparkSession = _
  /** True while a measured pass runs (warm-up samples are not kept). */
  var measuring = false
  /** Name-to-10-rows latencies of measured passes, wall and CPU seconds. */
  val discoverSeconds = mutable.ArrayBuffer.empty[Double]
  val discoverCpuSeconds = mutable.ArrayBuffer.empty[Double]
  /** Files and bytes the writers added during the current pass. */
  var filesWritten = 0L
  var bytesWritten = 0L
  /** Per query: `count()` walls measured beside traced materializations. */
  val countSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Time a name-to-rows discovery; kept as a sample when measuring. */
  def timedDiscover[T](body: => T): T = {
    val c0 = CpuClock.snapshot()
    val t0 = System.nanoTime()
    val out = body
    if (measuring) {
      discoverSeconds += (System.nanoTime() - t0) / 1e9
      discoverCpuSeconds += CpuClock.secondsSince(c0)
    }
    out
  }

  /** Run `body` and add the files and bytes it left under `dirs`. */
  def countingWrites[T](dirs: File*)(body: => T): T =
    if (!tracer.enabled) body
    else {
      val before = dirs.flatMap(Files.listing).toMap
      val out = body
      val added = dirs.flatMap(Files.listing).filterNot { case (p, _) => before.contains(p) }
      filesWritten += added.size
      bytesWritten += added.map(_._2).sum
      out
    }
}

/** A workload: what a set-up stages, how it warms up, and the ops of a
  * pass. */
trait Workload {
  /** Stage inputs under `dir` for the run's session; called once, in
    * set-up. */
  def stage(ctx: Run, dir: File): Unit
  /** Run every kind of op once on the staged inputs. Returns their
    * outcomes (they are checked like any op). */
  def warmUp(ctx: Run): Seq[Outcome]
  /** Fewest measured passes a run makes, whatever `--seconds` says: two,
    * so a run's figures span more than one stretch of a shared machine's
    * varying speed. */
  def minPasses: Int = 2
  /** True when each pass leaves more state behind (files, table versions),
    * so later passes do more work: a run then measures exactly `minPasses`,
    * and its figures depend on the program, not on how many passes fit in
    * `--seconds`. */
  def fixedPasses: Boolean = false
  /** The ops of measured pass `pass`, in the seed's order. */
  def passOps(ctx: Run, pass: Int): Seq[Op]
  /** Bytes on disk under the workload's data directories over the bytes
    * of one compacted parquet copy of their live rows. */
  def storageAmp(ctx: Run, scratch: File): Double
  /** Workload-specific fields for the run record. */
  def record: Map[String, Any] = Map.empty
  /** Workload-level per-layer values (the rest come from spans). */
  def layerValues: Map[String, Double] = Map.empty
}

object Files {
  /** Every regular file under `dir` with its size. */
  def listing(dir: File): Seq[(String, Long)] =
    if (!dir.exists()) Nil
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toSeq
      finally s.close()
    }

  def bytesUnder(dirs: File*): Long = dirs.flatMap(listing).map(_._2).sum

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).foreach(_.foreach { f =>
      val dst = new File(to, f.getName)
      if (f.isDirectory) copyTree(f, dst)
      else java.nio.file.Files.copy(f.toPath, dst.toPath)
    })
  }
}
