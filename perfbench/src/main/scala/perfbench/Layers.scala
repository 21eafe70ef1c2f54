package perfbench

/** Per-layer metrics of one traced pass, from its spans and the Spark
  * listener records collected while it ran. Layer names are the engine's
  * modules; a span is named `<module>.<call>`. */
object Layers {

  /** Spans whose self time is reported as `<name>_s`. */
  val Timed: Seq[String] = Seq(
    "queries.build", "spark.exec",
    "catalog.open", "catalog.search", "catalog.resolve", "catalog.save",
    "datatypes.recommend", "pipeline.auto", "readers.discover", "readers.read",
    "ops.index_probe", "ops.index_append", "ops.index_compact",
    "output.append", "readers.merge", "readers.readback", "readers.compact")

  /** Spans whose jobs are reader build work (schema inference, log and
    * manifest replay) rather than materialization. */
  private val ReaderBuild = Set("readers.read", "readers.discover", "readers.readback")

  /** Every per-layer metric with its unit, in report order. */
  val Units: Seq[(String, String)] =
    Seq("queries.build_s" -> "s", "queries.build_jobs" -> "count",
      "plans.analyze_s" -> "s", "plans.optimize_s" -> "s", "plans.physical_s" -> "s") ++
    Timed.filterNot(_ == "queries.build").map(n => s"${n}_s" -> "s") ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.idle_core_s" -> "s",
      "readers.build_jobs" -> "count", "ops.survivor_ratio" -> "1",
      "output.files_written" -> "count", "output.bytes_written" -> "bytes",
      "trace.overhead_s" -> "s")

  def of(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec], plans: Seq[PlanRec],
      cores: Int, filesWritten: Long, bytesWritten: Long): Map[String, Double] = {
    val self = Trace.selfSecondsByName(spans)
    // attribute each job to the innermost span open when it was submitted
    val jobSpan: Map[Int, String] = jobs.flatMap { j =>
      Trace.innermostAt(spans, j.timeMs * 1000000L + 500000L).map(s => j.id -> s.name)
    }.toMap
    def jobsIn(names: Set[String]): Set[Int] = jobSpan.collect { case (id, n) if names(n) => id }.toSet
    val execJobs = jobsIn(Set("spark.exec"))
    val execStages = jobs.filter(j => execJobs(j.id)).flatMap(_.stages).toSet
    val execTasks = tasks.filter(t => execStages(t.stage))
    val execS = self.getOrElse("spark.exec", 0.0)
    Timed.map(n => s"${n}_s" -> self.getOrElse(n, 0.0)).toMap ++ Map(
      "queries.build_jobs" -> jobsIn(Set("queries.build")).size.toDouble,
      "readers.build_jobs" -> jobsIn(ReaderBuild).size.toDouble,
      "plans.analyze_s" -> plans.map(_.analysisMs).sum / 1e3,
      "plans.optimize_s" -> plans.map(_.optimizationMs).sum / 1e3,
      "plans.physical_s" -> plans.map(_.planningMs).sum / 1e3,
      "spark.jobs" -> execJobs.size.toDouble,
      "spark.tasks" -> execTasks.size.toDouble,
      "spark.task_cpu_s" -> execTasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> execTasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> execTasks.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> execTasks.map(_.shuffleReadBytes).sum.toDouble,
      "spark.spill_bytes" -> execTasks.map(_.spillBytes).sum.toDouble,
      "spark.idle_core_s" -> (execS * cores - execTasks.map(_.runMs).sum / 1e3),
      "output.files_written" -> filesWritten.toDouble,
      "output.bytes_written" -> bytesWritten.toDouble)
  }
}
