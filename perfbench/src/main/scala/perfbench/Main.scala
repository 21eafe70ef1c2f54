package perfbench

import graft.SparkEntry
import graft.queries.{CoreQueries, FunctionQueries, QFn, StreamingBatchQueries, TextQueries, WindowQueries}
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => NioFiles}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The benchmark: one workload, one client thread, closed loop, on a
  * `local[N]` session. Prints one JSON result line on stdout; everything
  * else goes to stderr and to the run record file.
  *
  * {{{
  * perfbench.Main --workload relational --seed 1 --seconds 20 --trace 0 --cores 2
  *   --data <inputs dir> --work <scratch dir> --record <record.json>
  *   --expected <expected.json> [--ops bench|all]
  *   [--t0-ms <launch time>] [--git-head <sha>] [--heap <JVM memory flags>]
  * perfbench.Main --record-expected <Verify output dir> --data <dir> --expected <file>
  *   --work <scratch dir> --cores 2
  * }}}
  */
object Main {

  /** The queries each query workload runs. Each is a fixed cut of its
    * modules' inventory (`--ops all` runs the whole inventory).
    *
    * The relational cut follows the materialized/count ratios measured in
    * COUNT_VS_MATERIALIZED.md: all nine queries whose `count()` under-times
    * the materialized op by 1.96x or more, then the other 45 in descending
    * ratio order split into five blocks of nine, and the middle query of
    * each block (ratios 1.64 down to 0.83). */
  val Relational: Seq[String] = Seq(
    "q33_stats", "q36_approx_distinct", "q83_distinct_exact", "q23_window_frames",
    "q35_collect_agg", "q34_percentiles", "q30_math_funcs", "q64_describe_stats", "q25_asof_join",
    "q56_group_sketch_union", "q62_explode_outer", "q19_exists_correlated", "q12_rollup_grouping",
    "q14_setops")
  val LlmOps: Seq[String] = Seq(
    "q42_minhash_lsh", "q63_neardup_clusters", "q76_cc_exact", "q49_knn_cosine",
    "q87_ivf_knn_portable", "q88_duplicate_spans", "q90_dup_span_stats",
    "q94_incremental_dedup", "q96_incremental_cosine", "q98_incremental_clusters")

  /** Input tables a query workload browses by name in each pass. */
  val Browsed: Seq[String] = Seq("customer", "documents", "lineitem", "orders", "part")

  private def inventory(workload: String): Seq[(String, QFn)] = {
    val entries = workload match {
      case "relational" => CoreQueries.entries ++ WindowQueries.entries ++ FunctionQueries.entries ++
          StreamingBatchQueries.entries
      case "llm_ops" => TextQueries.entries
    }
    entries.map { case (n, fn, _) => n -> fn }
  }

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = args.get(k)
  }

  private def parse(argv: Array[String]): Opts = {
    require(argv.length % 2 == 0 && argv.grouped(2).forall(_(0).startsWith("--")),
      s"arguments must be --key value pairs: ${argv.mkString(" ")}")
    Opts(argv.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def loadavg(): Seq[Double] =
    new String(NioFiles.readAllBytes(new File("/proc/loadavg").toPath), UTF_8)
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq

  /** CPU time the hypervisor gave to other guests (steal, all CPUs),
    * seconds: a busy host slows a run without raising its load average. */
  private def stealS(): Double =
    new String(NioFiles.readAllBytes(new File("/proc/stat").toPath), UTF_8)
      .linesIterator.next().trim.split("\\s+")(8).toDouble / 100.0

  /** This JVM's peak resident set (VmHWM), MB. */
  private def peakRssMb(): Double =
    NioFiles.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  private def readExpected(f: File): (Map[String, Expected], Map[String, Long]) = {
    val root = Json.read(new String(NioFiles.readAllBytes(f.toPath), UTF_8))
    val q = root.get("queries").fields().asScala.map { e =>
      e.getKey -> Expected(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
    val d = root.get("discover").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    (q, d)
  }

  private def metricMap(ms: Seq[(String, Double, String)]): ListMap[String, Any] =
    ListMap.from(ms.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) })

  final case class PassRec(index: Int, traced: Boolean, wallS: Double, cpuS: Double, ops: Seq[Outcome],
      loadBefore: Seq[Double], loadAfter: Seq[Double], stealS: Double, layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    if (o.get("record-expected").isDefined) recordExpected(o) else bench(o)
  }

  private def bench(o: Opts): Unit = {
    val launchMs = o.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val workloadName = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val work = new File(o("work")).getAbsoluteFile
    val data = new File(o("data")).getAbsoluteFile
    work.mkdirs()

    val workload: Workload = workloadName match {
      case "relational" | "llm_ops" =>
        val (expected, discover) = readExpected(new File(o("expected")))
        val cut = if (workloadName == "relational") Relational else LlmOps
        val all = inventory(workloadName)
        val chosen = if (o.get("ops").contains("all")) all else cut.map(n => n -> all.toMap.apply(n))
        new QueryWorkload(chosen, expected, discover, data, Browsed)
      case "catalog_ingest" => new IngestWorkload(seed)
      case other => sys.error(s"unknown workload $other (relational | llm_ops | catalog_ingest)")
    }

    val tracer = new Tracer(false)
    val run = new Run(seed, tracer)
    val counters = if (traced) Some(new SparkCounters) else None
    // Set-up, from process launch to the first measured op: JVM and session
    // start, staging of the inputs, and one warm-up. It includes every
    // one-time cost (class and object initialisation), so work moved out of
    // the measured ops into set-up shows in setup_s, which is the JVM's
    // work CPU seconds up to here (CpuClock); the wall time from launch is
    // in the record.
    run.spark = session(work, cores)
    counters.foreach(_.register(run.spark))
    workload.stage(run, new File(work, "setup"))
    val stageS = (System.currentTimeMillis() - launchMs) / 1e3
    val w0 = System.nanoTime()
    val warm = workload.warmUp(run)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupWallS = stageS + warmS
    val setupCpuS = CpuClock.seconds()
    log(f"set-up: staged $stageS%.3f s after launch, warm-up $warmS%.3f s, $setupCpuS%.2f CPU s")
    counters.foreach(_.drain(run.spark))

    val passes = ArrayBuffer.empty[PassRec]
    // Measure whole passes until `seconds` have passed, and at least the
    // workload's minimum (exactly that many when its state grows from pass
    // to pass). A traced run orders its passes plain, traced, traced,
    // plain, ... so that warming up through the run biases neither side,
    // and runs at least four. Storage and peak memory are read once the
    // minimum has run, so they do not depend on how many passes fit in
    // `seconds`.
    val t0 = System.nanoTime()
    run.measuring = true
    val minPasses = if (traced) 4 else workload.minPasses
    var amp, rss = Double.NaN
    while (passes.size < minPasses ||
        (!workload.fixedPasses && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val p = passes.size
      val tracedPass = traced && (p % 4 == 1 || p % 4 == 2)
      tracer.enabled = tracedPass
      run.filesWritten = 0
      run.bytesWritten = 0
      val spansBefore = tracer.recorded.size
      val load0 = loadavg()
      val steal0 = stealS()
      val pc = CpuClock.seconds()
      val ps = System.nanoTime()
      val outs = workload.passOps(run, p).map(Runner.runOp)
      val wall = (System.nanoTime() - ps) / 1e9
      val cpu = CpuClock.seconds() - pc
      val load1 = loadavg()
      val steal = stealS() - steal0
      tracer.enabled = false
      val layers = counters.map(_.drain(run.spark)) match {
        case Some((jobs, tasks, plans)) if tracedPass =>
          val l = Layers.of(tracer.recorded.drop(spansBefore), jobs, tasks, plans, cores,
            run.filesWritten, run.bytesWritten)
          workload match {
            case q: QueryWorkload =>
              q.timeCounts(run)
              counters.foreach(_.drain(run.spark))
            case _ =>
          }
          l
        case _ => Map.empty[String, Double]
      }
      passes += PassRec(p, tracedPass, wall, cpu, outs, load0, load1, steal, layers)
      log(f"pass $p${if (tracedPass) " (traced)" else ""}: $wall%.3f s, $cpu%.2f CPU s, steal $steal%.2f s, ${outs.count(_.error.nonEmpty)} failed")
      if (passes.size == minPasses) {
        rss = peakRssMb()
        amp = workload.storageAmp(run, new File(work, "amp"))
      }
    }
    run.measuring = false

    val outcomes = warm.toSeq ++ passes.flatMap(_.ops)
    val failures = outcomes.filter(_.error.nonEmpty)
    failures.take(20).foreach(f => log(s"FAILED ${f.op}: ${f.error.get}"))

    val plain = passes.filterNot(_.traced)
    val opS = plain.flatMap(_.ops.map(_.seconds)).toSeq
    val opCpuS = plain.flatMap(_.ops.map(_.cpuSeconds)).toSeq
    val tail = Stats.tail(opS)
    val cpuTail = Stats.tail(opCpuS)
    // too few ops for ten beyond any percentile: the slowest op
    def tailValue(t: Option[Stats.Tail], xs: Seq[Double]) = t.map(_.value).getOrElse(xs.max)
    val wallClock: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupWallS, "s"),
      ("pass_s", Stats.median(plain.map(_.wallS).toSeq), "s"),
      ("op_p50_s", Stats.median(opS), "s"),
      ("op_tail_s", tailValue(tail, opS), "s"),
      ("discover_p50_s", Stats.median(run.discoverSeconds.toSeq), "s"))
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupCpuS, "s"),
      ("pass_cpu_s", Stats.median(plain.map(_.cpuS).toSeq), "s"),
      ("op_cpu_p50_s", Stats.median(opCpuS), "s"),
      ("op_cpu_tail_s", tailValue(cpuTail, opCpuS), "s"),
      ("discover_cpu_p50_s", Stats.median(run.discoverCpuSeconds.toSeq), "s"),
      ("peak_rss_mb", rss, "MB"),
      ("storage_amp", amp, "1"))
    val tracedPasses = passes.filter(_.traced)
    val perLayer: Seq[(String, Double, String)] =
      if (!traced) Nil
      else Layers.Units.map { case (n, unit) =>
        val v = n match {
          case "trace.overhead_s" =>
            Stats.median(tracedPasses.map(_.cpuS).toSeq) - Stats.median(plain.map(_.cpuS).toSeq)
          case _ => workload.layerValues.getOrElse(n, Stats.median(tracedPasses.map(_.layers.getOrElse(n, 0.0)).toSeq))
        }
        (n, v, unit)
      }
    val reported = if (traced) perLayer else endToEnd

    val record = ListMap(
      "workload" -> workloadName, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
      "git_head" -> o.get("git-head").getOrElse("unknown"),
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
      "jvm_heap" -> o.get("heap").getOrElse("default"),
      "stage_s" -> stageS, "warm_up_s" -> warmS,
      "end_to_end" -> metricMap(endToEnd),
      "wall_clock" -> metricMap(wallClock),
      "op_cpu_tail" -> cpuTail.map(t => Map("percentile" -> t.percentile, "value" -> t.value,
        "samples_beyond" -> t.beyond, "samples" -> t.samples))
        .getOrElse(Map("percentile" -> 100.0, "value" -> opCpuS.max, "samples_beyond" -> 0, "samples" -> opCpuS.size)),
      "per_layer" -> metricMap(perLayer),
      "failed_ratio" -> Runner.failedRatio(outcomes),
      "attempted" -> outcomes.size, "failed" -> failures.size,
      "failures" -> failures.take(50).map(f => Map("op" -> f.op, "error" -> f.error.get)),
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "loadavg_before" -> p.loadBefore, "loadavg_after" -> p.loadAfter, "cpu_steal_s" -> p.stealS,
        "ops" -> p.ops.map(x => Map("op" -> x.op, "s" -> x.seconds, "cpu_s" -> x.cpuSeconds, "ok" -> x.error.isEmpty)),
        "layers" -> ListMap.from(p.layers.toSeq.sortBy(_._1)))),
      "count_vs_materialized" -> run.countSeconds.map { case (q, cs) =>
        val mat = tracedPasses.flatMap(_.ops).filter(_.op == q).map(_.seconds).toSeq
        q -> Map("count_s" -> Stats.median(cs.toSeq), "materialized_s" -> Stats.median(mat))
      },
      "workload_record" -> workload.record)
    val recordFile = new File(o("record"))
    recordFile.getParentFile.mkdirs()
    NioFiles.write(recordFile.toPath, Json.writePretty(record).getBytes(UTF_8))
    NioFiles.write(new File(recordFile.getPath.stripSuffix(".json") + ".spans.json").toPath,
      Json.write(tracer.recorded.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs))).getBytes(UTF_8))
    stop(run.spark)

    println(Json.write(ListMap(
      "correct" -> failures.isEmpty,
      "attempted" -> outcomes.size,
      "failed" -> failures.size,
      "metrics" -> metricMap(reported))))
  }

  /** Writes the expected-results file from a Verify output directory: row
    * count and [[ResultHash]] of every query's dumped result, and each
    * input table's discover row count. */
  private def recordExpected(o: Opts): Unit = {
    val verify = new File(o("record-expected"))
    val data = new File(o("data"))
    val spark = session(new File(o("work")), o("cores").toInt)
    val queries = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val df = spark.read.parquet(new File(verify, q).getPath)
      val rows = df.collect()
      q -> Map("rows" -> rows.length, "hash" -> ResultHash.of(df.columns.toSeq, rows))
    }
    val discover = data.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.map { t =>
      t.stripSuffix(".parquet") -> math.min(10L, spark.read.parquet(new File(data, t).getPath).count())
    }
    NioFiles.write(new File(o("expected")).toPath, Json.writePretty(ListMap(
      "source" -> "graft.Verify output on these inputs, oracle-checked by tools/selfcheck.py",
      "queries" -> ListMap.from(queries), "discover" -> ListMap.from(discover))).getBytes(UTF_8))
    stop(spark)
  }
}
