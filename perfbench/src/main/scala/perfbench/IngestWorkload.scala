package perfbench

import graft.catalog.{Catalog, CatalogIO, SearchExpr}
import graft.datatypes.{DataRef, Detect}
import graft.ops.Dedup
import graft.output.Writers
import graft.output.Writers.WriteSpec
import graft.pipeline.Pipeline
import graft.readers.{DeltaReader, DeltaWriter, IcebergReader, IcebergWriter, SparkReaders}
import java.io.{File, PrintWriter}
import java.sql.Date
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.util.Random

/** The day-2 loop of intake's own surface, with writes beside reads.
  *
  * Staging writes a signature index over a seed-made history of documents,
  * seeds one Delta and one Iceberg `orders` table and catalogs all three;
  * the warm-up is one cycle. In each cycle the next seed-made batch of
  * documents lands as a new parquet, JSON-lines or CSV file (off the
  * clock); the cycle is one op of these steps, and after it each step's
  * output is checked against the model:
  *  1. load and search the catalog, discover the newest document entries;
  *  2. detect the new file and build its pipeline;
  *  3. discover and read it;
  *  4. probe it against the index;
  *  5. append the survivors to the index;
  *  6. append new orders to one table and merge a seed-chosen slice into
  *     it (a pass is two cycles: Delta, then Iceberg);
  *  7. read both tables back through the native readers;
  *  8. add the new catalog entry and save the catalog;
  *  9. every second cycle, compact the index and the Delta table.
  *
  * Every batch mixes fresh documents with exact and near copies of indexed
  * ones, so a plain in-memory model knows which documents survive, and the
  * model of both tables knows every live row. */
final class IngestWorkload(seed: Long) extends Workload {

  private val HistoryDocs = 300
  private val BatchDocs = 32
  private val SeedOrders = 2000
  private val AppendOrders = 100
  private val MergeOrders = 80
  /** Document entries discovered by name in each cycle: the history and
    * the newest batches. */
  private val DiscoverEntries = 3
  /** Cycles whose survivor counts make `ops.survivor_ratio`: the warm-up
    * cycle and the first measured pass, which every run completes. */
  private val RatioCycles = 3

  private val Vocab: IndexedSeq[String] = {
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo")
    for (a <- syll; b <- syll) yield a + b
  }.toIndexedSeq

  private def freshText(rng: Random): String =
    Seq.fill(60 + rng.nextInt(41))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  /** A copy of `text` with one word replaced. At most three of its 58+
    * word 3-shingles change, so Jaccard stays >= 0.9 and the probe's 16
    * bands of 4 minhashes miss it with probability below 1e-7. */
  private def nearCopy(text: String, rng: Random): String = {
    val w = text.split(' ')
    w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.size))
    w.mkString(" ")
  }

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType)))

  private val OrderColumns = OrderSchema.fieldNames.toSeq.map(col)

  private def order(key: Long, rng: Random): Row =
    Row(key, 1L + rng.nextInt(1500), Seq("O", "F", "P")(rng.nextInt(3)),
      (100000 + rng.nextInt(40000000)) / 100.0, Date.valueOf(f"199${rng.nextInt(8)}-0${1 + rng.nextInt(9)}-1${rng.nextInt(9)}"))

  private def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Everything one set-up owns, and the model the cycles are checked
    * against. */
  private final class State(val dir: File) {
    val landing = new File(dir, "landing")
    val index = new File(dir, "index/docs_sig")
    val delta = new File(dir, "tables/orders_delta")
    val iceberg = new File(dir, "tables/orders_iceberg")
    val catalog = new File(dir, "catalog.yaml")
    val texts = mutable.LinkedHashMap.empty[Long, String]   // model: indexed documents
    val orders = Map(                                       // model: each table's live rows
      "delta" -> mutable.LinkedHashMap.empty[Long, Row], "iceberg" -> mutable.LinkedHashMap.empty[Long, Row])
    var entries = 0                                         // model: catalog entry count
    var cycle = 0
    var survivors = 0L
    var batchRows = 0L
  }
  private var st: State = _

  def stage(ctx: Run, dir: File): Unit = {
    st = new State(dir)
    st.landing.mkdirs()
    val spark = ctx.spark
    val rng = new Random(seed)
    (1L to HistoryDocs).foreach(id => st.texts(id) = freshText(rng))
    (1L to SeedOrders).foreach { k =>
      val r = order(k, rng)
      st.orders.values.foreach(_(k) = r)
    }
    val history = new File(st.landing, "history.parquet")
    stageParquet(spark, st.texts.toSeq.map { case (id, t) => Row(id, t) }, history)
    Dedup.writeSignatureIndex(spark.read.parquet(history.getPath), "doc_id", "text", st.index.getPath)
    val seedOrders = df(spark, st.orders("delta").values.toSeq, OrderSchema)
    def importable(ref: DataRef) = (ref, SparkReaders.recommend(ref)._1.head.name)
    val refs = Seq(
      "history_docs" -> importable(Pipeline.auto(history.getPath).ref),
      "orders_delta" -> importable(Writers.delta(seedOrders, st.delta.getPath)),
      "orders_iceberg" -> importable(Writers.iceberg(seedOrders, st.iceberg.getPath)))
    val cat = refs.foldLeft(Catalog()) { case (c, (n, (ref, reader))) => c.add(n, ref, reader) }
    CatalogIO.toYamlFile(cat, st.catalog.getPath)
    st.entries = refs.size
  }

  /** One cycle through every step, writing both tables. */
  def warmUp(ctx: Run): Seq[Outcome] =
    Seq(Runner.runOp(new Cycle(ctx, Seq("delta", "iceberg"), compact = true)))

  /** Every cycle adds files and table versions, so a run measures exactly
    * `minPasses` passes. */
  override def fixedPasses: Boolean = true

  /** A pass is two cycles: the first merges into the Delta table, the
    * second into the Iceberg table and then compacts. */
  def passOps(ctx: Run, pass: Int): Seq[Op] =
    Seq(new Cycle(ctx, Seq("delta"), compact = false), new Cycle(ctx, Seq("iceberg"), compact = true))

  /** Write `rows` as one parquet file named `to` (staging, off the clock). */
  private def stageParquet(spark: SparkSession, rows: Seq[Row], to: File): Unit = {
    val tmp = new File(to.getPath + ".tmp")
    df(spark, rows, DocSchema).coalesce(1).write.parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, to.toPath)
    Files.deleteTree(tmp)
  }

  /** A step of a cycle: its calls, and the checks of its outputs against
    * the model (which they advance), run after the whole cycle. */
  private final class Step(val run: () => Unit, val verify: () => Seq[(Boolean, String)])
  private def step(body: => Unit)(verify: => Seq[(Boolean, String)]): Step = new Step(() => body, () => verify)

  /** One cycle, one op. `tables` names the tables the write step appends
    * to and merges into (measured cycles alternate). */
  private final class Cycle(ctx: Run, tables: Seq[String], compact: Boolean) extends Op {
    private val c = st.cycle
    st.cycle += 1
    val name = f"cycle$c%04d"
    private val rng = new Random(seed * 1000003L + c)

    // the batch: fresh documents plus exact and near copies of indexed ones
    private val nCopies = 4 + rng.nextInt(9)
    private val fresh: Seq[(Long, String)] =
      (0 until BatchDocs - nCopies).map(j => (1000000L + c * 1000L + j, freshText(rng)))
    private val copies: Seq[(Long, String)] = {
      val ids = st.texts.keys.toIndexedSeq
      (0 until nCopies).map { j =>
        val src = st.texts(ids(rng.nextInt(ids.size)))
        (2000000L + c * 1000L + j, if (j % 2 == 0) src else nearCopy(src, rng))
      }
    }
    private val batch = rng.shuffle(fresh ++ copies)
    // formats rotate by cycle, not by seed, so every run lands the same mix
    private val kind = Seq("parquet", "json", "csv")(c % 3)
    private val file = new File(st.landing, f"batch_$c%04d." + Map("parquet" -> "parquet", "json" -> "jsonl", "csv" -> "csv")(kind))
    private val newOrders = (0 until AppendOrders).map(j => order(100000L + c * 1000L + j, rng))
    private val mergeRows: Map[String, Seq[Row]] = tables.map { t =>
      val updates = rng.shuffle(st.orders(t).keys.toIndexedSeq).take(MergeOrders - 20).map(k => order(k, rng))
      t -> (updates ++ (0 until 20).map(j => order(100000L + c * 1000L + 500 + j, rng)))
    }.toMap

    // carried from step to step
    private var cat: Catalog = _
    private var pipeline: Pipeline = _
    private var batchDf: DataFrame = _
    private var kept: Array[Row] = Array.empty

    private lazy val steps: Seq[Step] = makeSteps

    /** The new batch file lands off the clock. */
    override def prepare(): Unit = kind match {
      case "parquet" => stageParquet(ctx.spark, batch.map { case (i, t) => Row(i, t) }, file)
      case "json" => write(batch.map { case (i, t) => s"""{"doc_id": $i, "text": "$t"}""" })
      case _ => write("doc_id,text" +: batch.map { case (i, t) => s"$i,$t" })
    }
    private def write(lines: Seq[String]): Unit = {
      val w = new PrintWriter(file, "UTF-8")
      try lines.foreach(w.println) finally w.close()
    }

    private def orderKey(r: Row) = (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getDate(4).toString)
    private def matches(table: String, rows: Array[Row]): (Boolean, String) = {
      val want = st.orders(table)
      (rows.length == want.size && rows.map(orderKey).toSet == want.values.map(orderKey).toSet) ->
        s"$table read-back: ${rows.length} rows vs model ${want.size}"
    }

    def run(): Unit = ctx.tracer.op(c, "cycle")(steps.foreach(_.run()))

    def check(): Option[String] = {
      val problems = steps.flatMap(_.verify()).collect { case (false, msg) => msg }
      if (problems.isEmpty) None else Some(s"$name: ${problems.mkString("; ")}")
    }

    private def makeSteps: Seq[Step] = {
      val spark = ctx.spark
      var discovered = Seq.empty[Int]
      var detected = ""
      var sample: Array[Row] = Array.empty
      var readBack = Map.empty[String, Array[Row]]
      var compactedRows = 0L
      // 1. load and search the catalog, discover document entries by name
      val browse = step {
        cat = ctx.span("catalog.open")(CatalogIO.fromYamlFile(st.catalog.getPath))
        // the text search also matches urls, so keep the document entries by name
        val docs = ctx.span("catalog.search")(cat.search(SearchExpr.anyText("batch_", "history_"))).names
          .filter(n => n.startsWith("batch_") || n == "history_docs")
        discovered = docs.takeRight(DiscoverEntries).map { e =>
          ctx.timedDiscover {
            val p = ctx.span("catalog.resolve")(cat(e))
            val d = ctx.span("readers.discover")(p.discover(spark))
            ctx.span("spark.exec")(d.collect()).length
          }
        }
      }(discovered.map(n => (n == 10) -> s"catalog discover gave $n rows"))
      // 2. detect the new file and build its pipeline
      val detect = step {
        detected = ctx.span("datatypes.recommend")(Detect.recommendPath(file.getPath)).head.kind.name
        pipeline = ctx.span("pipeline.auto")(Pipeline.auto(file.getPath)
          .andThen("ids", _.select(col("doc_id").cast(LongType), col("text"))))
      }(Seq((detected == kind) -> s"staged $kind file detected as $detected"))
      // 3. discover, then read
      val read = step {
        sample = ctx.span("spark.exec")(ctx.span("readers.discover")(pipeline.discover(spark)).collect())
        batchDf = ctx.span("readers.read")(pipeline.read(spark))
      }(Seq((sample.length == 10) -> s"batch discover gave ${sample.length} rows"))
      // 4. probe the batch against the index; only the fresh documents survive
      val probe = step {
        kept = ctx.span("ops.index_probe") {
          val k = Dedup.incrementalDedupAgainstIndex(batchDf, "doc_id", "text", st.index.getPath,
            withinBatch = false)
          ctx.span("spark.exec")(k.select("doc_id", "text").collect())
        }
      } {
        if (c < RatioCycles) { st.survivors += kept.length; st.batchRows += batch.size }
        Seq((kept.map(_.getLong(0)).toSet == fresh.map(_._1).toSet) ->
          s"survivors ${kept.map(_.getLong(0)).sorted.mkString(",")} are not the fresh documents")
      }
      // 5. add the survivors to the index
      val append = step {
        ctx.countingWrites(st.index) {
          ctx.span("ops.index_append")(Dedup.appendToSignatureIndex(
            df(spark, kept.toSeq, DocSchema), "doc_id", "text", st.index.getPath))
        }
      } {
        fresh.foreach { case (i, t) => st.texts(i) = t }
        val ids = spark.read.parquet(st.index.getPath).select("doc_id").collect().map(_.getLong(0))
        Seq((ids.length == st.texts.size && ids.toSet == st.texts.keySet) ->
          s"index holds ${ids.length} rows, model ${st.texts.size}")
      }
      // 6. append new orders to this cycle's table, then merge a slice into it
      val write = step {
        val tablePath = Map("delta" -> st.delta, "iceberg" -> st.iceberg)
        ctx.countingWrites(tables.map(tablePath): _*) {
          val appended = df(spark, newOrders, OrderSchema)
          ctx.span("output.append")(tables.foreach {
            case "delta" => Writers.delta(appended, st.delta.getPath, WriteSpec(mode = "append"))
            case _ => Writers.iceberg(appended, st.iceberg.getPath, WriteSpec(mode = "append"))
          })
          ctx.span("readers.merge")(tables.foreach { t =>
            val slice = df(spark, mergeRows(t), OrderSchema)
            if (t == "delta") DeltaWriter.merge(spark, slice, st.delta.getPath, Seq("o_orderkey"))
            else IcebergWriter.merge(spark, slice, st.iceberg.getPath, Seq("o_orderkey"))
          })
        }
      } {
        for (t <- tables; r <- newOrders ++ mergeRows(t)) st.orders(t)(r.getLong(0)) = r
        Nil
      }
      // 7. read both tables back through the native readers
      val readback = step {
        ctx.span("readers.readback") {
          val d = DeltaReader.read(spark, st.delta.getPath).select(OrderColumns: _*)
          val i = IcebergReader.read(spark, st.iceberg.getPath).select(OrderColumns: _*)
          readBack = Map("delta" -> ctx.span("spark.exec")(d.collect()), "iceberg" -> ctx.span("spark.exec")(i.collect()))
        }
      }(Seq(matches("delta", readBack("delta")), matches("iceberg", readBack("iceberg"))))
      // 8. add the new entry and save the catalog
      val save = step {
        ctx.span("catalog.save")(CatalogIO.toYamlFile(
          cat.add(f"batch_$c%04d", pipeline.ref, pipeline.source.name), st.catalog.getPath))
      } {
        st.entries += 1
        Seq((CatalogIO.fromYamlFile(st.catalog.getPath).names.size == st.entries) -> "catalog entry count")
      }
      // every few cycles: compact the index and the Delta table
      val compaction = if (!compact) Nil else Seq(step {
        compactedRows = ctx.span("ops.index_compact")(Dedup.compactSignatureIndex(spark, st.index.getPath)).rowsAfter
        ctx.span("readers.compact")(DeltaWriter.compact(spark, st.delta.getPath))
      }(Seq((compactedRows == st.texts.size) -> s"index compaction kept $compactedRows rows")))
      Seq(browse, detect, read, probe, append, write, readback, save) ++ compaction
    }
  }

  override def layerValues: Map[String, Double] =
    Map("ops.survivor_ratio" -> st.survivors.toDouble / st.batchRows)

  override def record: Map[String, Any] = Map(
    "cycles" -> st.cycle, "ratio_cycles" -> RatioCycles,
    "survivors" -> st.survivors, "batch_rows" -> st.batchRows)

  def storageAmp(ctx: Run, scratch: File): Double = {
    val spark = ctx.spark
    val live = Seq(
      "index" -> spark.read.parquet(st.index.getPath),
      "delta" -> DeltaReader.read(spark, st.delta.getPath),
      "iceberg" -> IcebergReader.read(spark, st.iceberg.getPath))
    val compacted = new File(scratch, "compacted")
    live.foreach { case (n, d) => d.coalesce(1).write.parquet(new File(compacted, n).getPath) }
    Files.bytesUnder(st.index, st.delta, st.iceberg).toDouble / Files.bytesUnder(compacted)
  }
}
