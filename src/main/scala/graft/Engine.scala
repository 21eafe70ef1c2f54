package graft

import org.apache.spark.sql.SparkSession

/** The one place this engine builds a Spark session. Every main and the
  * test fixture get `local[cores]`, one shuffle partition per core, the
  * UTC session timezone that query results depend on (date literals,
  * `date_trunc`, timestamp parquet columns) and no web UI; `extra` adds
  * a caller's own confs, e.g. `"spark.scheduler.mode" -> "FAIR"`.
  * Library code never calls this: its callers bring their own session.
  */
object Engine {
  def session(cores: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
