package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Verify <sfDir> <outDir> [comma-separated query names]")
    val (sfDir, outDir) = (args(0), args(1))
    // optional filter: run just the named queries (local iteration aid)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1)))
    val failed = Seq.newBuilder[String]
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val nFailed = failed.result().size
    System.err.println(s"[verify] ${attempted.size - nFailed}/${attempted.size} queries dumped" +
      (if (nFailed > 0) s" — FAILED: ${failed.result().mkString(", ")}" else ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the full attempted inventory, so a checker can tell "query failed
    // and wrote nothing" apart from "query was never declared" — without
    // this, a failed query silently SHRINKS the gate (the round-10
    // micros-era ts break reported 81/81 instead of 2 failures)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      attempted.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
