package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Time named queries, interleaved, with an optional plan dump — the
  * A/B harness for two shapes of one query or any handful of queries:
  * `sbt "runMain graft.tools.RunOne q42_minhash_lsh[,q63_neardup_clusters] /root/testdata/sf0.1 [explain] [repeat=N]"`.
  *
  * Each query runs one warm-up, then the queries alternate a,b,a,b for
  * N rounds in one session: sequential blocks bias whichever query runs
  * later (warmer JIT and codegen cache). Every run prints its
  * build / plan / exec split. Exec collects the DataFrame whose plan
  * was just timed (`count()` would plan and run a different, pruned
  * query), so `explain`, printed after each warm-up, shows the adaptive
  * plan that actually ran.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val explain = args.contains("explain")
    val repeat = args.collectFirst { case s if s.startsWith("repeat=") => s.drop(7).toInt }.getOrElse(1)
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val spark = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    def run(name: String, label: String): DataFrame = {
      val t0 = System.nanoTime()
      val df = fns(name)(spark, sfDir)
      val tBuild = System.nanoTime()
      df.queryExecution.executedPlan // force analysis + optimization + physical planning
      val tPlan = System.nanoTime()
      val n = df.collect().length
      val tEnd = System.nanoTime()
      println(f"[$name] $label: total=${(tEnd - t0) / 1e9}%.2fs build=${(tBuild - t0) / 1e9}%.2fs plan=${(tPlan - tBuild) / 1e9}%.2fs exec=${(tEnd - tPlan) / 1e9}%.2fs rows=$n")
      df
    }
    names.foreach { name =>
      val df = run(name, "warm-up")
      if (explain) println(df.queryExecution.explainString(FormattedMode))
    }
    (1 to repeat).foreach(i => names.foreach(run(_, s"run $i")))
    spark.stop()
  }
}
