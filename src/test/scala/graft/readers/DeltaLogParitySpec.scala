package graft.readers

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** The retired writer-side log replay (`DeltaWriter.stateAt` with its
  * classic-checkpoint reader) — kept here only as the parity oracle for
  * [[DeltaLog.snapshot]]. */
object DeltaStateOracle {
  private val mapper = new ObjectMapper()

  case class LiveFile(path: String, partitionValues: Map[String, String],
      hasDv: Boolean, stats: Option[String], dvJson: Option[String], size: Long)
  case class HeadState(schemaJson: String, partitionCols: Seq[String],
      liveFiles: Seq[LiveFile], metaJson: String)

  private def checkpointLines(spark: SparkSession, f: FileSystem,
      logDir: Path): (Long, Seq[String]) = {
    val lastCp = new Path(logDir, "_last_checkpoint")
    if (!f.exists(lastCp)) return (-1L, Nil)
    val in = f.open(lastCp)
    val node = try mapper.readTree(in) finally in.close()
    val v = node.get("version").asLong()
    val classic = new Path(logDir, f"$v%020d.checkpoint.parquet")
    require(f.exists(classic) && !node.hasNonNull("parts"),
      s"delta writer: checkpoint $v is not a classic single-file checkpoint")
    import org.apache.spark.sql.functions.{col, to_json}
    val cp = spark.read.parquet(classic.toString)
    val cols = cp.columns.toSet
    val lines = Seq.newBuilder[String]
    Seq("protocol", "metaData", "txn", "add").filter(cols.contains).foreach { c =>
      cp.where(col(c).isNotNull).select(to_json(col(c))).collect()
        .foreach(r => lines += s"""{"$c":${r.getString(0)}}""")
    }
    (v, lines.result())
  }

  def stateAt(spark: SparkSession, table: String, versionAsOf: Option[Long]): HeadState = {
    val conf = spark.sparkContext.hadoopConfiguration
    val logDir = new Path(table.stripSuffix("/") + "/_delta_log")
    val f = FileSystem.get(new URI(table).resolve("/"), conf)
    val (cpV0, cpLines0) = checkpointLines(spark, f, logDir)
    val allCommits = f.listStatus(logDir).toSeq
      .filter(_.getPath.getName.matches("\\d{20}\\.json"))
      .sortBy(_.getPath.getName.stripSuffix(".json").toLong)
    def verOf(st: org.apache.hadoop.fs.FileStatus): Long =
      st.getPath.getName.stripSuffix(".json").toLong
    val (cpV, cpLines, commits) = versionAsOf match {
      case None => (cpV0, cpLines0, allCommits.filter(verOf(_) > cpV0))
      case Some(v) =>
        require(allCommits.exists(verOf(_) == v) || cpV0 == v,
          s"delta: version $v does not exist at $table")
        if (cpV0 <= v) (cpV0, cpLines0, allCommits.filter(st => verOf(st) > cpV0 && verOf(st) <= v))
        else {
          val upTo = allCommits.filter(verOf(_) <= v)
          require(upTo.map(verOf) == (0L to v),
            s"delta: cannot reconstruct version $v of $table — the log below " +
              s"checkpoint $cpV0 was cleaned")
          (-1L, Nil, upTo)
        }
    }
    require(cpV >= 0 || commits.nonEmpty,
      s"delta writer: cannot resolve the head state of $table — no commit jsons or checkpoint")
    var schemaJson: String = null
    var partitionCols: Seq[String] = Nil
    var metaJson: String = null
    val live = scala.collection.mutable.LinkedHashMap[String, LiveFile]()
    import scala.jdk.CollectionConverters._
    def applyLine(line: String): Unit = {
      val a = mapper.readTree(line)
      Option(a.get("metaData")).filterNot(_.isNull).foreach { m =>
        schemaJson = Option(m.get("schemaString")).map(_.asText()).getOrElse(schemaJson)
        partitionCols = Option(m.get("partitionColumns"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(partitionCols)
        metaJson = m.toString
      }
      Option(a.get("add")).filterNot(_.isNull).foreach { ad =>
        val p = ad.get("path").asText()
        val pv = Option(ad.get("partitionValues")).map(_.properties().asScala.map(e =>
          e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
          .getOrElse(Map.empty[String, String])
        live(p) = LiveFile(p, pv, hasDv = ad.hasNonNull("deletionVector"),
          stats = Option(ad.get("stats")).filterNot(_.isNull).map(_.asText()).filter(_.nonEmpty),
          dvJson = Option(ad.get("deletionVector")).filterNot(_.isNull).map(_.toString),
          size = Option(ad.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L))
      }
      Option(a.get("remove")).filterNot(_.isNull).foreach(rm => live -= rm.get("path").asText())
    }
    cpLines.foreach(applyLine)
    commits.foreach { st =>
      val in = f.open(st.getPath)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach(applyLine)
    }
    require(schemaJson != null, s"delta writer: no metaData action in $table")
    HeadState(schemaJson, partitionCols, live.values.toSeq, metaJson)
  }
}

/** Model-based parity for the one Delta log module: random sequences of
  * writer operations, and after every step (1) the [[DeltaLog]] snapshot
  * equals the retired writer replay ([[DeltaStateOracle]]), (2) the
  * native read equals an in-memory row model, and (3) time travel to
  * every version the log can still reconstruct equals the model at that
  * version. Fixed seeds, no shrinking (each case runs Spark jobs). */
class DeltaLogParitySpec extends SparkSpec {

  private type Row3 = (Long, Long, Int) // (id, v, p) — partitioned by p

  private sealed trait Op
  private case class Append(rows: Seq[Row3]) extends Op
  private case class Overwrite(rows: Seq[Row3]) extends Op
  private case class Merge(rows: Seq[Row3]) extends Op // distinct ids: upsert by id
  private case class DeleteWhere(below: Long) extends Op
  private case object Compact extends Op
  private case class SetConf(key: String, value: String) extends Op
  private case object Checkpoint extends Op
  private case object CleanupLog extends Op

  private val row: Gen[Row3] = for {
    id <- Gen.choose(0L, 12L); v <- Gen.choose(0L, 99L); p <- Gen.choose(0, 2)
  } yield (id, v, p)
  private val rows: Gen[Seq[Row3]] = Gen.choose(1, 4).flatMap(Gen.listOfN(_, row))
  private val op: Gen[Op] = Gen.frequency(
    4 -> rows.map(Append(_)),
    1 -> rows.map(Overwrite(_)),
    3 -> rows.map(rs => Merge(rs.distinctBy(_._1))),
    2 -> Gen.choose(0L, 60L).map(DeleteWhere(_)),
    2 -> Gen.const(Compact),
    2 -> Gen.oneOf(
      Gen.alphaLowerStr.map(s => SetConf("graft.parity.tag", s.take(6))),
      Gen.const(SetConf("delta.enableChangeDataFeed", "true")),
      Gen.const(SetConf("delta.enableDeletionVectors", "true"))),
    2 -> Gen.const(Checkpoint),
    2 -> Gen.const(CleanupLog))
  private val ops: Gen[(Seq[Row3], List[Op])] = for {
    seed <- rows; n <- Gen.choose(4, 7); steps <- Gen.listOfN(n, op)
  } yield (seed, steps)

  private def sameSnapshot(t: String): Unit = {
    val s = DeltaLog.snapshot(spark, t)
    val o = DeltaStateOracle.stateAt(spark, t, None)
    assert(s.schemaJson == o.schemaJson && s.partitionCols == o.partitionCols &&
      s.metaJson == o.metaJson, s"metadata differs at $t")
    val got = s.liveFiles.map(a => (a.path, a.partitionValues, a.hasDv, a.stats, a.dvJson, a.size))
    val want = o.liveFiles.map(l => (l.path, l.partitionValues.map { case (k, v) => k -> Option(v) },
      l.hasDv, l.stats, l.dvJson, l.size))
    assert(got == want, s"live files differ at $t")
  }

  private def read(t: String, version: Option[Long]): Seq[Row3] = {
    import spark.implicits._
    DeltaReader.read(spark, t, versionAsOf = version).select("id", "v", "p")
      .as[Row3].collect().toSeq.sorted
  }

  // a table whose every row was deleted has no live file and reads empty
  private def matches(t: String, version: Option[Long], model: Seq[Row3]): Boolean =
    read(t, version) == model.sorted

  private def runCase(seedRows: Seq[Row3], steps: List[Op]): Boolean = {
    import spark.implicits._
    val t = Files.createTempDirectory("dlparity").toString
    DeltaWriter.write(spark, seedRows.toDF("id", "v", "p"), t, partitionBy = Seq("p"))
    var model = seedRows
    val byVersion = scala.collection.mutable.Map(0L -> model)
    var checkpointAt = -1L
    var cleaned = false
    steps.foreach { step =>
      step match {
        case Append(rs) =>
          DeltaWriter.write(spark, rs.toDF("id", "v", "p"), t, partitionBy = Seq("p"))
          model = model ++ rs
        case Overwrite(rs) =>
          DeltaWriter.write(spark, rs.toDF("id", "v", "p"), t, mode = "overwrite",
            partitionBy = Seq("p"))
          model = rs
        case Merge(rs) =>
          DeltaWriter.merge(spark, rs.toDF("id", "v", "p"), t, on = Seq("id"))
          val src = rs.map(r => r._1 -> r).toMap
          model = model.map(r => src.getOrElse(r._1, r)) ++
            rs.filterNot(r => model.exists(_._1 == r._1))
        case DeleteWhere(below) =>
          DeltaWriter.deleteWhere(spark, t, s"v < $below")
          model = model.filterNot(_._2 < below)
        case Compact => DeltaWriter.compact(spark, t)
        case SetConf(k, v) => DeltaWriter.setTableConf(spark, t, Map(k -> v))
        case Checkpoint => checkpointAt = DeltaWriter.checkpoint(spark, t)
        case CleanupLog =>
          if (checkpointAt >= 0) {
            DeltaWriter.cleanupLog(spark, t, retentionMs = 0, force = true)
            cleaned = true
          }
      }
      val head = DeltaReader.currentVersion(spark, t)
      byVersion(head) = model // an op commits at most one version
      sameSnapshot(t)
      assert(matches(t, None, model), s"head read differs from the model after $step")
      // the log reconstructs every version until a cleanup; after one,
      // only the latest checkpoint and what follows it
      byVersion.keys.toSeq.sorted.filter(v => v < head && (!cleaned || v >= checkpointAt))
        .foreach(v => assert(matches(t, Some(v), byVersion(v)),
          s"time travel to $v differs from the model after $step"))
    }
    true
  }

  private def check(seed: Long, cases: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(cases).withWorkers(1)
      .withInitialSeed(Seed(seed)), Prop.forAllNoShrink(ops) { case (s, steps) => runCase(s, steps) })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("snapshot, native read and time travel agree with the oracle and the model (seed 1)") {
    check(seed = 1L, cases = 3)
  }

  test("snapshot, native read and time travel agree with the oracle and the model (seed 2)") {
    check(seed = 20261019L, cases = 3)
  }
}
