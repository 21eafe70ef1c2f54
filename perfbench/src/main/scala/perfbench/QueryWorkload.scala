package perfbench

import graft.catalog.{Catalog, CatalogIO, TextExpr}
import graft.pipeline.Pipeline
import graft.queries.QFn
import java.io.File
import org.apache.spark.sql.Row

/** Expected output of one query op: row count and [[ResultHash]]. */
final case class Expected(rows: Long, hash: String)

/** A workload of named queries over the staged input tables, with the
  * tables browsed by name through a catalog built over the staged files.
  * A query op builds the query's DataFrame, plans it and collects every
  * row and column to the Spark driver; the check compares the rows with
  * the recorded expectation. A browse op loads and searches the catalog
  * and discovers one `browsed` table (name to 10 rows). A pass runs every
  * op once, in the seed's order. */
final class QueryWorkload(
    queries: Seq[(String, QFn)],
    expected: Map[String, Expected],
    discoverRows: Map[String, Long],
    inputs: File,
    browsed: Seq[String]
) extends Workload {

  private var dataDir: File = _
  private def catalogFile = new File(dataDir.getParentFile, "catalog.yaml")
  private def tables: Seq[String] =
    inputs.listFiles().map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq

  private final class QueryOp(qname: String, fn: QFn, opId: Int, ctx: Run) extends Op {
    val name: String = qname
    private var rows: Array[Row] = Array.empty
    private var columns: Seq[String] = Nil

    def run(): Unit = ctx.tracer.op(opId, "op") {
      val df = ctx.span("queries.build")(fn(ctx.spark, dataDir.getPath))
      ctx.span("plans.plan")(df.queryExecution.executedPlan)
      rows = ctx.span("spark.exec")(df.collect())
      columns = df.columns.toSeq
    }

    def check(): Option[String] = expected.get(qname) match {
      case None => Some(s"no expected result recorded for $qname")
      case Some(e) =>
        val got = Expected(rows.length.toLong, ResultHash.of(columns, rows))
        if (got == e) None else Some(s"$qname: expected $e, got $got")
    }
  }

  def stage(ctx: Run, dir: File): Unit = {
    dataDir = new File(dir, "tables")
    Files.copyTree(inputs, dataDir)
    val cat = tables.foldLeft(Catalog()) { (c, t) =>
      val p = Pipeline.auto(new File(dataDir, s"$t.parquet").getPath)
      c.add(t, p.ref, p.source.name)
    }
    CatalogIO.toYamlFile(cat, catalogFile.getPath)
  }

  /** Enough passes for 30 op samples, which puts the tail (ten samples
    * beyond it) at or above the 66th percentile. */
  override def minPasses: Int = math.max(2, math.ceil(30.0 / (queries.size + browsed.size)).toInt)

  def warmUp(ctx: Run): Seq[Outcome] = passOps(ctx, -1).map(Runner.runOp)

  def passOps(ctx: Run, pass: Int): Seq[Op] = {
    val ops: Seq[Int => Op] = queries.map { case (q, fn) => (id: Int) => new QueryOp(q, fn, id, ctx) } ++
      browsed.map(t => (id: Int) => new BrowseOp(t, id, ctx))
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(ops)
      .zipWithIndex.map { case (op, i) => op((pass + 2) * 10000 + i) }
  }

  /** Beside a traced pass, time each query's `count()` (the cheaper
    * action a count-based benchmark times) for the count-vs-materialized
    * table. */
  def timeCounts(ctx: Run): Unit = queries.foreach { case (q, fn) =>
    val t0 = System.nanoTime()
    fn(ctx.spark, dataDir.getPath).count()
    ctx.countSeconds.getOrElseUpdate(q, scala.collection.mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
  }

  private final class BrowseOp(table: String, opId: Int, ctx: Run) extends Op {
    val name = s"browse:$table"
    private var found = Seq.empty[String]
    private var got: Array[Row] = Array.empty

    def run(): Unit = ctx.tracer.op(opId, "browse") {
      val cat = ctx.span("catalog.open")(CatalogIO.fromYamlFile(catalogFile.getPath))
      // the text search also matches urls, so keep the entry named exactly
      found = ctx.span("catalog.search")(cat.search(TextExpr(table))).names.filter(_ == table)
      got = ctx.timedDiscover {
        val p = ctx.span("catalog.resolve")(cat(table))
        val df = ctx.span("readers.discover")(p.discover(ctx.spark))
        ctx.span("spark.exec")(df.collect())
      }
    }

    def check(): Option[String] = {
      val want = discoverRows.getOrElse(table, -1L)
      if (found != Seq(table)) Some(s"search for $table found ${found.mkString(",")}")
      else if (got.length != want) Some(s"discover $table: expected $want rows, got ${got.length}")
      else None
    }
  }

  def storageAmp(ctx: Run, scratch: File): Double = {
    val compacted = new File(scratch, "compacted")
    tables.foreach { t =>
      ctx.spark.read.parquet(new File(dataDir, s"$t.parquet").getPath)
        .coalesce(1).write.parquet(new File(compacted, t).getPath)
    }
    Files.bytesUnder(dataDir).toDouble / Files.bytesUnder(compacted)
  }
}
