package graft.readers

import graft.plans.{DeferredScan, SnapshotPin}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The one path from (format, path, options) to a DataFrame over files:
  * `queries.table` and every [[FormatReader]] — hence every catalog
  * entry, pipeline and `discover()` — load through [[load]] and sample
  * through [[sample]].
  *
  * Spark infers a file table's schema with a job on every load (parquet
  * footers, a JSON/CSV sampling scan), and a discover sample costs a
  * scan plan and a limit job. A session re-reads mostly unchanged files,
  * so both are memoized under everything they depend on: format, path,
  * options, the session's runtime SQL conf and the [[listing]]
  * fingerprint of the files; a sample's key adds its row count `n`. A
  * schema hit loads with `.schema(s)` and launches no inference job; a
  * sample hit realizes from the stored rows with no file scan and no
  * job. A rewritten, added or deleted file changes the fingerprint, so
  * the next load infers afresh and the next sample scans afresh. The
  * memo is one bounded LRU holding schemas and samples (each sample
  * within a fixed byte cap); the listing enters the key as a digest and
  * no file index is kept. A miss, an empty, racy or unreadable listing,
  * or a failed inference loads exactly as a bare `spark.read` does and
  * stores nothing.
  */
object Resolve {

  /** Formats (lower case) whose schema Spark infers by reading the files;
    * every other format has a fixed or log-defined schema and loads
    * unmemoized. */
  private val inferredFormats = Set("parquet", "orc", "json", "csv", "xml", "avro",
    "org.apache.spark.sql.avro.avrofileformat")

  /** Coarsest file timestamp granularity trusted (FAT/SMB-class
    * filesystems: 2 s). A file rewritten within one tick of its previous
    * write can keep its name, length and mtime. */
  private val MtimeGranularityMs = 2000L

  private val MaxEntries = 256

  /** Data files under a path: (qualified path, length, mtime) of every
    * file Spark would read — recursively, skipping `_`/`.`-prefixed names
    * except partition directories and parquet summary files — sorted,
    * with the wall time the listing started. */
  final case class Listing(files: Seq[(String, Long, Long)], takenAt: Long) {
    /** True when the newest mtime lies within [[MtimeGranularityMs]] of
      * `takenAt` (the "racy mtime" rule): a later same-tick rewrite could
      * leave this listing unchanged, so it proves nothing untouched. */
    def racy: Boolean = files.exists { case (_, _, mtime) => takenAt - mtime < MtimeGranularityMs }

    /** True when `later` proves these files untouched since this listing
      * was taken: non-empty, not racy, and identical. */
    def unchangedIn(later: Listing): Boolean = files.nonEmpty && !racy && later.files == files
  }

  def listing(path: String, conf: Configuration): Listing = {
    val takenAt = System.currentTimeMillis()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      n.startsWith("_metadata") || n.startsWith("_common_metadata") ||
        !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(leaves) else Seq(st)
    val files =
      if (!fs.exists(root)) Nil
      else leaves(fs.getFileStatus(root)).map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    Listing(files.sorted, takenAt)
  }

  /** `limit` is None for a schema entry and `Some(n)` for the `n`-row
    * discover sample of the same file set. */
  private final case class Key(format: String, path: String, options: Map[String, String],
      conf: Map[String, String], listingDigest: String, limit: Option[Int])

  /** Schema entries hold a `StructType`, sample entries a `LocalRelation`. */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, AnyRef]): Boolean = size > MaxEntries
    })

  private def digest(files: Seq[(String, Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { case (p, len, mtime) =>
      md.update(s"$p\u0000$len\u0000$mtime\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Spark's glob metacharacters: a glob's file set is not one listing. */
  private def isGlob(path: String): Boolean = path.exists("{}[]*?\\".contains(_))

  /** The non-empty listing of a path whose format [[load]] memoizes, or
    * None (a fixed-schema format, a glob, an unreadable or empty path). */
  private def fingerprint(spark: SparkSession, format: String, path: String,
      options: Map[String, String]): Option[Listing] =
    if (!inferredFormats.contains(format.toLowerCase(java.util.Locale.ROOT)) || isGlob(path)) None
    else try {
      Some(listing(path, spark.sessionState.newHadoopConfWithOptions(options))).filter(_.files.nonEmpty)
    } catch { case NonFatal(_) => None }

  private def key(spark: SparkSession, format: String, path: String, options: Map[String, String],
      l: Listing, limit: Option[Int]): Key =
    Key(format.toLowerCase(java.util.Locale.ROOT), path, options, spark.conf.getAll, digest(l.files), limit)

  /** `spark.read.format(format).options(options).load(path)`, without the
    * schema-inference job when the files are unchanged since an earlier
    * load under the same options and session conf. */
  def load(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    fingerprint(spark, format, path, options) match {
      case None => spark.read.format(format).options(options).load(path)
      case Some(l) => loadListed(spark, format, path, options, l)
    }

  private def loadListed(spark: SparkSession, format: String, path: String,
      options: Map[String, String], l: Listing): DataFrame = {
    val reader = spark.read.format(format).options(options)
    val k = key(spark, format, path, options, l, None)
    memo.get(k) match {
      case schema: StructType => reader.schema(schema).load(path)
      case _ =>
        val df = reader.load(path)
        if (!l.racy) memo.put(k, df.schema)
        df
    }
  }

  /** Largest `n` sampled through the memo: a first action collects the
    * sample to the driver while planning, so `n` must stay small. */
  private val MaxSampleRows = 1000

  /** Largest sample stored, in row bytes; a larger one is collected on
    * every action and never kept. */
  private val MaxSampleBytes = 256L * 1024

  /** `load(spark, format, path, options).limit(n)`: the same rows, but a
    * file set sampled before under the same options and session conf is
    * served from the memo. The call launches no job. The frame is a
    * [[DeferredScan]] leaf that realizes from the current listing each
    * time a query over it is planned: unchanged files reuse the stored
    * rows (no file scan, no job); otherwise planning runs the one limit
    * job, and stores the rows when the listing is still the one seen
    * here and the sample is within [[MaxSampleBytes]]. A filter over the
    * frame applies to the sampled rows, never inside the scan. Formats
    * and paths [[load]] does not fingerprint, racy listings and large
    * `n` keep `load(...).limit(n)`. */
  def sample(spark: SparkSession, format: String, path: String,
      options: Map[String, String], n: Int): DataFrame =
    fingerprint(spark, format, path, options) match {
      case Some(l) if !l.racy && n >= 0 && n <= MaxSampleRows =>
        val registered = key(spark, format, path, options, l, Some(n))
        val probe = memo.get(registered) match {
          case rel: LocalRelation => org.apache.spark.sql.graft.bridge.ofRows(spark, rel.newInstance())
          case _ => loadListed(spark, format, path, options, l)
        }
        val schema = probe.schema
        def rows(): LocalRelation = {
          val unchanged = fingerprint(spark, format, path, options)
            .exists(now => key(spark, format, path, options, now, Some(n)) == registered)
          memo.get(registered) match {
            case rel: LocalRelation if unchanged => rel
            case _ =>
              val rel = collected(
                spark.read.format(format).options(options).schema(schema).load(path).limit(n))
              val bytes = rel.data.iterator.map {
                case u: UnsafeRow => u.getSizeInBytes.toLong
                case _ => MaxSampleBytes + 1
              }.sum
              if (unchanged && bytes <= MaxSampleBytes) memo.put(registered, rel)
              rel
          }
        }
        DeferredScan.frame(spark, s"sample($n) $format $path", () => probe, { filter =>
          // self-join legs in one planning pass share one sample
          val rel = SnapshotPin.pin(s"sample\u0000$format\u0000$path\u0000$options\u0000$n")(rows())
          val df = org.apache.spark.sql.graft.bridge.ofRows(spark, rel.newInstance())
          filter.fold(df)(f => df.where(f))
        })
      case _ => load(spark, format, path, options).limit(n)
    }

  /** Runs `df` as `collect()` does and keeps its rows as a relation. */
  private def collected(df: DataFrame): LocalRelation = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    LocalRelation(DataTypeUtils.toAttributes(df.schema), rows.toSeq)
  }

  /** Paths with a memoized schema (for specs). */
  private[graft] def memoizedPaths: Set[String] = memo.synchronized {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.filter(_.limit.isEmpty).map(_.path).toSet
  }

  /** Paths with a stored discover sample (for specs). */
  private[graft] def sampledPaths: Set[String] = memo.synchronized {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.filter(_.limit.isDefined).map(_.path).toSet
  }
}
