package graft.readers

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.SparkSpec
import graft.readers.IcebergManifestCodec.{ManifestListRow, ManifestRow}
import java.nio.file.Files
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneId}
import java.time.temporal.ChronoUnit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._

/** The retired Spark-avro parse of one manifest list / manifest — kept
  * here only as the parity oracle for [[IcebergManifestCodec]]. */
object SparkAvroManifestOracle {
  private val AvroFmt = "org.apache.spark.sql.avro.AvroFileFormat"

  def manifestList(spark: SparkSession, path: String): Seq[ManifestListRow] = {
    val mlDf = spark.read.format(AvroFmt).load(path)
    val mlCols = mlDf.columns.toSet
    def cntCol(v2: String, v1: String): String =
      if (mlCols.contains(v2)) v2
      else if (mlCols.contains(v1)) v1
      else "cast(null as int)"
    mlDf.selectExpr("manifest_path",
      if (mlCols.contains("sequence_number")) "sequence_number" else "cast(null as bigint) as sequence_number",
      if (mlCols.contains("content")) "content" else "0 as content",
      if (mlCols.contains("partition_spec_id")) "partition_spec_id" else "cast(0 as int) as partition_spec_id",
      if (mlCols.contains("partitions")) "to_json(partitions) as partitions_json"
      else "cast(null as string) as partitions_json",
      s"cast(${cntCol("added_files_count", "added_data_files_count")} as bigint) + " +
        s"cast(${cntCol("existing_files_count", "existing_data_files_count")} as bigint) + " +
        s"cast(${cntCol("deleted_files_count", "deleted_data_files_count")} as bigint) as entry_count")
      .collect().toSeq
      .map(r => ManifestListRow(r.getString(0),
        Option(r.getAs[Number](1)).map(_.longValue()).getOrElse(0L),
        Option(r.getAs[Number](2)).exists(_.intValue() == 1),
        Option(r.getAs[Number](3)).map(_.intValue()).getOrElse(0),
        r.getString(4),
        Option(r.getAs[Number](5)).map(_.longValue())))
  }

  def manifest(spark: SparkSession, path: String): Seq[ManifestRow] = {
    val manifests = spark.read.format(AvroFmt).load(path)
    val entryCols = manifests.columns.toSet
    val dfCols = manifests.select("data_file.*").columns.toSet
    def opt(c: String, expr: String, as: String, tpe: String): String =
      if (dfCols.contains(c)) s"$expr as $as" else s"cast(null as $tpe) as $as"
    manifests.selectExpr("status", "data_file.file_path as file_path",
        "lower(data_file.file_format) as file_format",
        if (dfCols.contains("content")) "data_file.content as content" else "0 as content",
        if (entryCols.contains("sequence_number")) "sequence_number" else "cast(null as bigint) as sequence_number",
        if (dfCols.contains("equality_ids")) "data_file.equality_ids as equality_ids" else "null as equality_ids",
        opt("partition", "to_json(data_file.partition)", "partition_json", "string"),
        opt("lower_bounds", "to_json(data_file.lower_bounds)", "lower_json", "string"),
        opt("upper_bounds", "to_json(data_file.upper_bounds)", "upper_json", "string"),
        opt("referenced_data_file", "data_file.referenced_data_file", "ref_data_file", "string"),
        opt("content_offset", "data_file.content_offset", "content_offset", "bigint"),
        opt("content_size_in_bytes", "data_file.content_size_in_bytes", "content_size", "bigint"),
        opt("record_count", "data_file.record_count", "record_count", "bigint"),
        opt("file_size_in_bytes", "data_file.file_size_in_bytes", "file_size", "bigint"))
      .collect().toSeq.map { r =>
        ManifestRow(r.getAs[Int]("status"), r.getAs[String]("file_path"),
          r.getAs[String]("file_format"),
          Option(r.getAs[Number]("content")).map(_.intValue()).getOrElse(0),
          Option(r.getAs[Number]("sequence_number")).map(_.longValue()),
          Option(r.getAs[scala.collection.Seq[Any]]("equality_ids"))
            .map(_.map(_.asInstanceOf[Number].intValue()).toSeq).getOrElse(Nil),
          r.getAs[String]("partition_json"),
          r.getAs[String]("lower_json"), r.getAs[String]("upper_json"),
          Option(r.getAs[String]("ref_data_file")),
          Option(r.getAs[Number]("content_offset")).map(_.longValue()),
          Option(r.getAs[Number]("content_size")).map(_.longValue()),
          Option(r.getAs[Number]("record_count")).map(_.longValue()),
          Option(r.getAs[Number]("file_size")).map(_.longValue()))
      }
  }
}

/** Round-trip and parity properties of [[IcebergManifestCodec]] over
  * generated manifests and manifest lists: typed identity partition
  * tuples (int, long, string, date, timestamp, local timestamp,
  * decimal, binary, nulls), map- and array-form column bounds, data and
  * delete content, v1 and v2 column sets, zero-entry files. What the
  * codec writes reads back as the input, and the codec's parse of each
  * file equals the retired Spark-avro parse of the same file in the
  * session zones the partition JSON renders timestamps in. */
class IcebergManifestCodecSpec extends SparkSpec {

  private val mapper = new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  private def conf = spark.sparkContext.hadoopConfiguration

  // ---- generated inputs ----

  private case class PartField(name: String, dt: DataType, value: Gen[Any])
  private case class Entry(status: Int, path: String, format: String, content: Int,
      seq: Option[Long], eqIds: Option[Seq[Int]], records: Option[Long], size: Option[Long],
      lower: Option[Map[Int, Array[Byte]]], upper: Option[Map[Int, Array[Byte]]], tuple: Seq[Any])
  private case class ManifestCase(v2: Boolean, arrayBounds: Boolean,
      part: Option[Seq[PartField]], entries: Seq[Entry])
  private case class Summary(containsNull: Boolean, containsNan: Option[Boolean],
      lower: Option[Array[Byte]], upper: Option[Array[Byte]])
  private case class ListEntry(path: String, length: Long, specId: Option[Int], content: Int,
      seq: Option[Long], counts: Seq[Option[Int]], partitions: Option[Seq[Summary]])
  private case class ListCase(v2: Boolean, withCounts: Boolean, entries: Seq[ListEntry])

  private val text: Gen[String] =
    Gen.listOf(Gen.frequency(8 -> Gen.alphaNumChar, 1 -> Gen.oneOf('é', 'ß', '中', ' ', '"', '\\', '/', '%')))
      .map(_.mkString)
  private val bytes: Gen[Array[Byte]] =
    Gen.choose(0, 9).flatMap(Gen.listOfN(_, Arbitrary.arbitrary[Byte])).map(_.toArray)
  private def orNull(o: Option[Any]): Any = o.orNull
  private def nullable[T](g: Gen[T]): Gen[Option[T]] = Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))
  private val minDay = LocalDate.of(1900, 1, 1).toEpochDay
  private val maxDay = LocalDate.of(2100, 12, 31).toEpochDay
  private val micros: Gen[Long] = Gen.choose(minDay * 86400000000L, maxDay * 86400000000L)
  private def instant(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)

  private val decimalField: Gen[DecimalType] = for {
    p <- Gen.choose(1, 38)
    s <- Gen.choose(0, math.min(p, 10))
  } yield DecimalType(p, s)
  private def partField(i: Int): Gen[PartField] = Gen.oneOf(
    Gen.const(PartField(s"p$i", IntegerType, Arbitrary.arbitrary[Int])),
    Gen.const(PartField(s"p$i", LongType, Arbitrary.arbitrary[Long])),
    Gen.const(PartField(s"p$i", StringType, text)),
    Gen.const(PartField(s"p$i", DateType, Gen.choose(minDay, maxDay).map(LocalDate.ofEpochDay))),
    Gen.const(PartField(s"p$i", TimestampType, micros.map(instant))),
    Gen.const(PartField(s"p$i", TimestampNTZType,
      micros.map(us => LocalDateTime.ofInstant(instant(us), java.time.ZoneOffset.UTC)))),
    decimalField.map(d => PartField(s"p$i", d,
      Gen.zip(Gen.listOfN(d.precision, Gen.numChar), Arbitrary.arbitrary[Boolean]).map { case (ds, neg) =>
        val unscaled = new java.math.BigInteger(ds.mkString)
        new java.math.BigDecimal(if (neg) unscaled.negate() else unscaled, d.scale)
      })),
    Gen.const(PartField(s"p$i", BinaryType, bytes)))
  private val boundsMap: Gen[Map[Int, Array[Byte]]] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(1, 30), bytes))).map(_.toMap)

  private def entry(v2: Boolean, part: Option[Seq[PartField]]): Gen[Entry] = for {
    status <- Gen.oneOf(0, 1, 2)
    path <- text.map(t => s"/warehouse/t/data/$t.parquet")
    format <- Gen.oneOf("PARQUET", "parquet", "ORC", "AVRO", "PUFFIN")
    content <- if (v2) Gen.oneOf(0, 1, 2) else Gen.const(0)
    seq <- nullable(Gen.choose(0L, 1000L))
    eqIds <- if (content == 2) nullable(Gen.listOf(Gen.choose(1, 40))) else Gen.const(None)
    records <- nullable(Gen.choose(0L, 1L << 40))
    size <- nullable(Gen.choose(0L, 1L << 40))
    lower <- nullable(boundsMap)
    upper <- nullable(boundsMap)
    tuple <- Gen.sequence[Seq[Any], Any](part.toSeq.flatten.map(pf =>
      Gen.frequency(1 -> Gen.const(null), 4 -> pf.value)))
  } yield Entry(status, path, format, content, seq.filter(_ => v2), eqIds, records, size,
    lower, upper, tuple)

  private val manifestCase: Gen[ManifestCase] = for {
    v2 <- Arbitrary.arbitrary[Boolean]
    arrayBounds <- Arbitrary.arbitrary[Boolean]
    nPart <- Gen.choose(-1, 3) // -1: no partition field at all; 0: empty struct
    part <- if (nPart < 0) Gen.const(None)
            else Gen.sequence[Seq[PartField], PartField]((0 until nPart).map(partField)).map(Some(_))
    n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 6))
    entries <- Gen.listOfN(n, entry(v2, part))
  } yield ManifestCase(v2, arrayBounds, part, entries)

  private val listCase: Gen[ListCase] = for {
    v2 <- Arbitrary.arbitrary[Boolean]
    withCounts <- Arbitrary.arbitrary[Boolean]
    n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 5))
    entries <- Gen.listOfN(n, for {
      path <- text.map(t => s"/warehouse/t/metadata/$t-m0.avro")
      length <- Gen.choose(0L, 1L << 30)
      specId <- nullable(Gen.choose(0, 5))
      content <- if (v2) Gen.oneOf(0, 1) else Gen.const(0)
      seq <- if (v2) nullable(Gen.choose(0L, 1000L)) else Gen.const(None)
      counts <- Gen.listOfN(3, nullable(Gen.choose(0, 100000)))
      partitions <- nullable(Gen.listOf(for {
        cn <- Arbitrary.arbitrary[Boolean]
        nan <- nullable(Arbitrary.arbitrary[Boolean])
        lo <- nullable(bytes)
        hi <- nullable(bytes)
      } yield Summary(cn, nan, lo, hi)))
    } yield ListEntry(path, length, specId, content, seq, counts, partitions))
  } yield ListCase(v2, withCounts, entries)

  // ---- the files the cases describe ----

  private def boundsType(arrayBounds: Boolean): DataType =
    if (arrayBounds) ArrayType(StructType(Seq(StructField("key", IntegerType, nullable = false),
      StructField("value", BinaryType, nullable = false))), containsNull = false)
    else MapType(StringType, BinaryType)
  private def boundsValue(arrayBounds: Boolean, m: Option[Map[Int, Array[Byte]]]): Any =
    m.map(b => if (arrayBounds) b.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
      else b.map { case (k, v) => k.toString -> v }).orNull

  private def writeManifest(c: ManifestCase, path: Path): Unit = {
    val dataFile = StructType(
      (if (c.v2) Seq(StructField("content", IntegerType, nullable = false)) else Nil) ++ Seq(
        StructField("file_path", StringType, nullable = false),
        StructField("file_format", StringType, nullable = false)) ++
      c.part.map(ps => StructField("partition",
        StructType(ps.map(pf => StructField(pf.name, pf.dt))), nullable = false)).toSeq ++ Seq(
        StructField("record_count", LongType), StructField("file_size_in_bytes", LongType),
        StructField("lower_bounds", boundsType(c.arrayBounds)),
        StructField("upper_bounds", boundsType(c.arrayBounds))) ++
      (if (c.v2) Seq(StructField("equality_ids", ArrayType(IntegerType, containsNull = false))) else Nil))
    val schema = StructType(Seq(StructField("status", IntegerType, nullable = false),
      StructField("snapshot_id", LongType)) ++
      (if (c.v2) Seq(StructField("sequence_number", LongType)) else Nil) :+
      StructField("data_file", dataFile, nullable = false))
    val rows = c.entries.map { e =>
      val df = Row.fromSeq((if (c.v2) Seq(e.content) else Nil) ++ Seq(e.path, e.format) ++
        c.part.map(_ => Row.fromSeq(e.tuple)).toSeq ++
        Seq(orNull(e.records), orNull(e.size), boundsValue(c.arrayBounds, e.lower),
          boundsValue(c.arrayBounds, e.upper)) ++
        (if (c.v2) Seq(e.eqIds.orNull) else Nil))
      Row.fromSeq(Seq(e.status, 42L) ++ (if (c.v2) Seq(orNull(e.seq)) else Nil) :+ df)
    }
    IcebergManifestCodec.write(path, conf, schema, rows)
  }

  private def writeList(c: ListCase, path: Path): Unit = {
    val countNames =
      if (c.v2) Seq("added_files_count", "existing_files_count", "deleted_files_count")
      else Seq("added_data_files_count", "existing_data_files_count", "deleted_data_files_count")
    val summary = ArrayType(StructType(Seq(StructField("contains_null", BooleanType, nullable = false),
      StructField("contains_nan", BooleanType), StructField("lower_bound", BinaryType),
      StructField("upper_bound", BinaryType))), containsNull = false)
    val schema = StructType(Seq(StructField("manifest_path", StringType, nullable = false),
      StructField("manifest_length", LongType, nullable = false),
      StructField("partition_spec_id", IntegerType)) ++
      (if (c.v2) Seq(StructField("content", IntegerType, nullable = false),
        StructField("sequence_number", LongType)) else Nil) ++
      Seq(StructField("added_snapshot_id", LongType)) ++
      (if (c.withCounts) countNames.map(StructField(_, IntegerType)) else Nil) :+
      StructField("partitions", summary))
    val rows = c.entries.map { e =>
      Row.fromSeq(Seq(e.path, e.length, orNull(e.specId)) ++
        (if (c.v2) Seq(e.content, orNull(e.seq)) else Nil) ++ Seq(7L) ++
        (if (c.withCounts) e.counts.map(orNull) else Nil) :+
        e.partitions.map(_.map(s => Row(s.containsNull, orNull(s.containsNan), s.lower.orNull,
          s.upper.orNull))).orNull)
    }
    IcebergManifestCodec.write(path, conf, schema, rows)
  }

  // ---- what a parse must give back ----

  private def b64(n: JsonNode): Array[Byte] = java.util.Base64.getDecoder.decode(n.asText())

  private def sameBounds(json: String, in: Option[Map[Int, Array[Byte]]]): Boolean =
    (json, in) match {
      case (null, None) => true
      case (j, Some(m)) if j != null =>
        val node = mapper.readTree(j)
        val parsed: Map[Int, Seq[Byte]] =
          if (node.isArray) node.elements().asScala.map(e => e.get("key").asInt() -> b64(e.get("value")).toSeq).toMap
          else node.properties().asScala.map(e => e.getKey.toInt -> b64(e.getValue).toSeq).toMap
        parsed == m.map { case (k, v) => k -> v.toSeq }
      case _ => false
    }

  /** Partition JSON against the input tuple; timestamps compare at the
    * milliseconds the JSON text keeps (Spark's `to_json` pattern). */
  private def sameTuple(json: String, part: Option[Seq[PartField]], tuple: Seq[Any], zone: ZoneId): Boolean =
    part match {
      case None => json == null
      case Some(fields) =>
        val node = mapper.readTree(json)
        node.size() == tuple.count(_ != null) && fields.zip(tuple).forall { case (pf, v) =>
          val n = node.get(pf.name)
          if (v == null) n == null
          else n != null && ((pf.dt, v) match {
            case (IntegerType, i: Int)      => n.isInt && n.asInt() == i
            case (LongType, l: Long)        => n.asLong() == l
            case (StringType, s: String)    => n.asText() == s
            case (DateType, d: LocalDate)   => LocalDate.parse(n.asText()) == d
            case (TimestampType, t: Instant) =>
              val odt = OffsetDateTime.parse(n.asText())
              odt.toInstant == t.truncatedTo(ChronoUnit.MILLIS) &&
                odt.getOffset == zone.getRules.getOffset(odt.toInstant)
            case (TimestampNTZType, t: LocalDateTime) =>
              LocalDateTime.parse(n.asText()) == t.truncatedTo(ChronoUnit.MILLIS)
            case (d: DecimalType, x: java.math.BigDecimal) => n.decimalValue().setScale(d.scale) == x
            case (BinaryType, b: Array[Byte]) => b64(n).sameElements(b)
            case _ => false
          })
        }
    }

  private def sameEntry(c: ManifestCase, e: Entry, r: ManifestRow, zone: ZoneId): Boolean =
    r.status == e.status && r.filePath == e.path && r.fileFormat == e.format.toLowerCase &&
      r.content == e.content && r.seqOpt == e.seq && r.equalityIds == e.eqIds.getOrElse(Nil) &&
      r.recordCount == e.records && r.fileSize == e.size &&
      r.refDataFile.isEmpty && r.contentOffset.isEmpty && r.contentSize.isEmpty &&
      sameTuple(r.partitionJson, c.part, e.tuple, zone) &&
      sameBounds(r.lowerJson, e.lower) && sameBounds(r.upperJson, e.upper)

  private def sameListEntry(e: ListEntry, r: ManifestListRow, withCounts: Boolean): Boolean =
    r.path == e.path && r.seq == e.seq.getOrElse(0L) && r.isDelete == (e.content == 1) &&
      r.specId == e.specId.getOrElse(0) &&
      r.entryCount == (if (withCounts && e.counts.forall(_.isDefined)) Some(e.counts.flatten.map(_.toLong).sum) else None) &&
      ((r.partitionsJson, e.partitions) match {
        case (null, None) => true
        case (j, Some(ss)) if j != null =>
          val arr = mapper.readTree(j)
          arr.size() == ss.size && ss.zipWithIndex.forall { case (s, i) =>
            val n = arr.get(i)
            def bin(f: String, v: Option[Array[Byte]]) =
              v.fold(!n.has(f))(b => n.has(f) && b64(n.get(f)).sameElements(b))
            n.get("contains_null").asBoolean() == s.containsNull &&
              s.containsNan.fold(!n.has("contains_nan"))(b => n.get("contains_nan").asBoolean() == b) &&
              bin("lower_bound", s.lower) && bin("upper_bound", s.upper)
          }
        case _ => false
      })

  // ---- properties ----

  private def check(name: String, prop: Prop, seed: Long): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25).withWorkers(1)
      .withInitialSeed(Seed(seed)), prop)
    assert(res.passed, s"$name: ${org.scalacheck.util.Pretty.pretty(res)}")
  }

  private def tempFile(name: String): Path =
    new Path(Files.createTempDirectory("codec").resolve(name).toString)

  private val zones = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata")
  private def inZone[T](zone: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, prev)
  }

  test("manifests read back as written") {
    check("manifest round trip", Prop.forAll(manifestCase) { c =>
      val p = tempFile("m.avro")
      writeManifest(c, p)
      val rows = IcebergManifestCodec.readManifest(p.toString, conf, ZoneId.of("UTC"))
      rows.size == c.entries.size &&
        IcebergManifestCodec.countEntries(p.toString, conf) == c.entries.size &&
        c.entries.zip(rows).forall { case (e, r) => sameEntry(c, e, r, ZoneId.of("UTC")) }
    }, seed = 9101L)
  }

  test("manifest lists read back as written") {
    check("list round trip", Prop.forAll(listCase) { c =>
      val p = tempFile("snap.avro")
      writeList(c, p)
      val rows = IcebergManifestCodec.readManifestList(p.toString, conf, ZoneId.of("UTC"))
      rows.size == c.entries.size &&
        c.entries.zip(rows).forall { case (e, r) => sameListEntry(e, r, c.withCounts) }
    }, seed = 9102L)
  }

  test("the codec's manifest parse equals the Spark-avro parse in every session zone") {
    check("manifest parity", Prop.forAll(manifestCase, Gen.oneOf(zones)) { (c, zone) =>
      val p = tempFile("m.avro")
      writeManifest(c, p)
      inZone(zone) {
        IcebergManifestCodec.readManifest(p.toString, conf, ZoneId.of(zone)) ==
          SparkAvroManifestOracle.manifest(spark, p.toString)
      }
    }, seed = 9103L)
  }

  test("the codec's manifest-list parse equals the Spark-avro parse") {
    check("list parity", Prop.forAll(listCase) { c =>
      val p = tempFile("snap.avro")
      writeList(c, p)
      IcebergManifestCodec.readManifestList(p.toString, conf, ZoneId.of("UTC")) ==
        SparkAvroManifestOracle.manifestList(spark, p.toString)
    }, seed = 9104L)
  }
}
