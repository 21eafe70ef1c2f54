package graft.inspect

import graft.datatypes.{DataRef, Detect}
import graft.readers.SparkReaders
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Cheap structured dataset summary (reference
  * intake/readers/inspect.py:778 inspect_dataset): detected kind, chosen
  * reader, schema, sample row count, file stats — without a full read.
  *
  * Tiering collapses on Spark (SURVEY §3 EP3): the schema comes from the
  * reader's memoized resolution and the sample from its `discover`,
  * which serves a repeat inspect of unchanged files from the stored
  * sample rows with no Spark job; file stats from Hadoop FS. `maxBytes`
  * guards full reads like the reference's 50 MB default (inspect.py:781).
  */
final case class InspectResult(
    url: String,
    kind: String,
    reader: String,
    schemaJson: String,
    columns: Seq[String],
    nFiles: Long,
    totalBytes: Long,
    sampleRows: Long,
    candidates: Seq[String]
)

object Inspect {

  def inspectDataset(
      spark: SparkSession,
      url: String,
      maxBytes: Long = 50L * 1000 * 1000
  ): InspectResult = {
    val candidates = Detect.recommendPath(url, spark.sparkContext.hadoopConfiguration)
    val (reader, ref) = candidates.iterator
      .map(s => (SparkReaders.recommend(DataRef(s.kind.name, s.url, s.options)), s))
      .collectFirst { case ((imp, _), s) if imp.nonEmpty => (imp.head, DataRef(s.kind.name, s.url, s.options)) }
      .getOrElse(throw new IllegalArgumentException(s"no importable reader for $url"))

    val (nFiles, totalBytes) = fileStats(url, spark.sparkContext.hadoopConfiguration)
    val df = reader.read(spark, ref)
    val sample =
      if (totalBytes <= maxBytes) reader.discover(spark, ref).collect().length.toLong
      else 0L // guarded, like tier-3 max_bytes
    InspectResult(
      url = url,
      kind = ref.kind,
      reader = reader.name,
      schemaJson = df.schema.json,
      columns = df.schema.fieldNames.toSeq,
      nFiles = nFiles,
      totalBytes = totalBytes,
      sampleRows = sample,
      candidates = candidates.map(_.kind.name)
    )
  }

  /** Text rendering of any DataFrame — schema tree + sample rows
    * (reference output.py:177 Repr / :184 IPythonDisplay collapse onto
    * Spark's own renderers).
    */
  def repr(df: org.apache.spark.sql.DataFrame, n: Int = 10): Map[String, String] = Map(
    "schema" -> df.schema.treeString,
    "sample" -> org.apache.spark.sql.graft.bridge.showString(df, n, 20),
    "is_streaming" -> df.isStreaming.toString
  )

  def fileStats(url: String, conf: Configuration = graft.core.SerializableHadoopConf.sessionConf()): (Long, Long) = {
    val path = new Path(url)
    val fs = FileSystem.get(new URI(url).resolve("/"), conf)
    val status = fs.getFileStatus(path)
    if (status.isDirectory) {
      val summary = fs.getContentSummary(path)
      (summary.getFileCount, summary.getLength)
    } else (1L, status.getLen)
  }
}
