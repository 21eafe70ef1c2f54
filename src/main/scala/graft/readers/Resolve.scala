package graft.readers

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The one path from (format, path, options) to a DataFrame over files:
  * `queries.table` and every [[FormatReader]] — hence every catalog
  * entry, pipeline and `discover()` — load through [[load]].
  *
  * Spark infers a file table's schema with a job on every load (parquet
  * footers, a JSON/CSV sampling scan). A session re-reads mostly
  * unchanged files, so [[load]] memoizes the inferred schema under
  * everything the inference depends on: format, path, options, the
  * session's runtime SQL conf and the [[listing]] fingerprint of the
  * files. A hit loads with `.schema(s)` and launches no inference job; a
  * rewritten, added or deleted file changes the fingerprint, so the next
  * load infers afresh. The memo holds schemas only (never rows or file
  * indexes; the listing enters the key as a digest) and is a bounded LRU.
  * A miss, an empty or unreadable listing, or a failed inference loads
  * exactly as a bare `spark.read` does and stores nothing.
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

  private final case class Key(format: String, path: String, options: Map[String, String],
      conf: Map[String, String], listingDigest: String)

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean = size > MaxEntries
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

  /** `spark.read.format(format).options(options).load(path)`, without the
    * schema-inference job when the files are unchanged since an earlier
    * load under the same options and session conf. */
  def load(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    val fingerprint =
      if (!inferredFormats.contains(fmt) || isGlob(path)) None
      else try Some(listing(path, spark.sessionState.newHadoopConfWithOptions(options)))
      catch { case NonFatal(_) => None }
    fingerprint.filter(_.files.nonEmpty) match {
      case None => reader.load(path)
      case Some(l) =>
        val key = Key(fmt, path, options, spark.conf.getAll, digest(l.files))
        Option(memo.get(key)) match {
          case Some(schema) => reader.schema(schema).load(path)
          case None =>
            val df = reader.load(path)
            if (!l.racy) memo.put(key, df.schema)
            df
        }
    }
  }

  /** Paths with a memoized schema (for specs). */
  private[graft] def memoizedPaths: Set[String] = memo.synchronized {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.map(_.path).toSet
  }
}
