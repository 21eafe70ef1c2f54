package graft.readers

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import java.io.StringWriter
import java.nio.ByteBuffer
import java.time.{Instant, LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.avro.{Conversions, LogicalType, LogicalTypes, Schema}
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericFixed, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.avro.SchemaConverters
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Driver-local codec for Iceberg manifest lists and manifests: small,
  * immutable Avro files read and written straight through Hadoop's
  * `FileSystem` with `org.apache.avro` — no Spark job, no Catalyst plan.
  *
  * Reads parse each file under its OWN writer schema (v1 and v2 column
  * names, optional fields, any partition struct) into the rows the
  * reader caches. Struct-, map- and array-valued fields (partition
  * tuples, column bounds, manifest summaries) are rendered as the JSON
  * Spark's `to_json` gives for the same value read through Spark's avro
  * source: null struct fields omitted, binary as base64, dates
  * `yyyy-MM-dd`, timestamps `yyyy-MM-dd'T'HH:mm:ss.SSSXXX` in the
  * session zone, local timestamps without a zone, decimals as plain
  * numbers, NaN as a string. So consumers see one text form whichever
  * path parsed the file.
  *
  * Writes produce the file Spark's avro writer produced for the same
  * `StructType` and rows: the schema from Spark's own
  * [[SchemaConverters]] (record `topLevelRecord`), snappy blocks and the
  * `org.apache.spark.version` file key, so Spark's avro source (the
  * metadata tables' distributed frame) reads them with the same
  * calendar rules as files written by Spark.
  */
private[readers] object IcebergManifestCodec {

  /** One manifest entry as parsed from the Avro — the file's OWN fields
    * only. Sequence inheritance and spec ids are properties of the
    * manifest-list REFERENCE, attached after retrieval. */
  case class ManifestRow(status: Int, filePath: String, fileFormat: String,
      content: Int, seqOpt: Option[Long], equalityIds: Seq[Int], partitionJson: String,
      lowerJson: String, upperJson: String,
      // v3 deletion-vector reference fields (null on v1/v2 manifests)
      refDataFile: Option[String] = None, contentOffset: Option[Long] = None,
      contentSize: Option[Long] = None, recordCount: Option[Long] = None,
      // data_file.file_size_in_bytes — the streaming source's byte-budget
      // admission reads it off cache hits without re-opening the Avro
      fileSize: Option[Long] = None)

  /** One manifest-list row as stored: the raw `manifest_path` (the
    * reader resolves it against the table), the list-scoped sequence
    * number, content flag, spec id, `partitions` summaries and the
    * entry count (added + existing + deleted, None when any is absent). */
  case class ManifestListRow(path: String, seq: Long, isDelete: Boolean,
      specId: Int, partitionsJson: String, entryCount: Option[Long])

  /** Parse one manifest list. */
  def readManifestList(path: String, conf: Configuration, zone: ZoneId): Seq[ManifestListRow] =
    records(path, conf) { (schema, recs) =>
      val has = fieldNames(schema)
      // entry count = added + existing + deleted; the v1 names carry a
      // data_ infix
      def count(r: GenericRecord, v2: String, v1: String): Option[Long] =
        if (has(v2)) long(r.get(v2)) else if (has(v1)) long(r.get(v1)) else None
      recs.map { r =>
        ManifestListRow(str(r.get("manifest_path")),
          (if (has("sequence_number")) long(r.get("sequence_number")) else None).getOrElse(0L),
          has("content") && int(r.get("content")).contains(1),
          (if (has("partition_spec_id")) int(r.get("partition_spec_id")) else None).getOrElse(0),
          if (has("partitions")) json(r.get("partitions"), schema.getField("partitions").schema, zone)
          else null,
          for {
            a <- count(r, "added_files_count", "added_data_files_count")
            e <- count(r, "existing_files_count", "existing_data_files_count")
            d <- count(r, "deleted_files_count", "deleted_data_files_count")
          } yield a + e + d)
      }
    }

  /** Parse every entry of one manifest, whatever its status. */
  def readManifest(path: String, conf: Configuration, zone: ZoneId): Seq[ManifestRow] =
    records(path, conf) { (schema, recs) =>
      val hasSeq = fieldNames(schema)("sequence_number")
      val dfSchema = nonNull(schema.getField("data_file").schema)
      val has = fieldNames(dfSchema)
      def field(df: GenericRecord, name: String): Any =
        if (df != null && has(name)) df.get(name) else null
      def jsonOf(df: GenericRecord, name: String): String =
        json(field(df, name), if (has(name)) dfSchema.getField(name).schema else null, zone)
      recs.map { r =>
        val df = r.get("data_file").asInstanceOf[GenericRecord]
        ManifestRow(int(r.get("status")).getOrElse(0),
          str(field(df, "file_path")),
          Option(str(field(df, "file_format"))).map(_.toLowerCase(java.util.Locale.ROOT)).orNull,
          int(field(df, "content")).getOrElse(0),
          if (hasSeq) long(r.get("sequence_number")) else None,
          Option(field(df, "equality_ids")).map(_.asInstanceOf[java.util.Collection[_]].asScala
            .map(_.asInstanceOf[Number].intValue()).toSeq).getOrElse(Nil),
          jsonOf(df, "partition"), jsonOf(df, "lower_bounds"), jsonOf(df, "upper_bounds"),
          Option(str(field(df, "referenced_data_file"))),
          long(field(df, "content_offset")), long(field(df, "content_size_in_bytes")),
          long(field(df, "record_count")), long(field(df, "file_size_in_bytes")))
      }
    }

  /** Entry count of one manifest from its block headers alone — no
    * record is decoded (the reader's cap holds before it parses). */
  def countEntries(path: String, conf: Configuration): Long = {
    val p = new Path(path)
    val s = new DataFileStream[GenericRecord](p.getFileSystem(conf).open(p),
      new GenericDatumReader[GenericRecord]())
    try {
      var n = 0L
      while (s.hasNext) { n += s.getBlockCount; s.nextBlock() }
      n
    } finally s.close()
  }

  /** Write `rows` (Spark external values of `schema`) as one Avro file at
    * `path`, which must not exist. Returns the file's length. */
  def write(path: Path, conf: Configuration, schema: StructType, rows: Seq[Row]): Long = {
    val avroSchema = SchemaConverters.toAvroType(schema, nullable = false, "topLevelRecord", "")
    val f = path.getFileSystem(conf)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
      .setCodec(CodecFactory.snappyCodec())
    w.setMeta("org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT)
    w.create(avroSchema, f.create(path, /* overwrite = */ false))
    try rows.foreach(r => w.append(avro(r, schema, avroSchema).asInstanceOf[GenericRecord]))
    finally w.close()
    f.getFileStatus(path).getLen
  }

  private def records[T](path: String, conf: Configuration)(
      body: (Schema, Seq[GenericRecord]) => T): T = {
    val p = new Path(path)
    val s = new DataFileStream[GenericRecord](p.getFileSystem(conf).open(p),
      new GenericDatumReader[GenericRecord]())
    try body(s.getSchema, s.iterator().asScala.toVector) finally s.close()
  }

  private def fieldNames(s: Schema): Set[String] = s.getFields.asScala.map(_.name).toSet
  private def nonNull(s: Schema): Schema =
    if (s.getType != Schema.Type.UNION) s
    else s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toSeq match {
      case Seq(one: Schema) => one
      case _                => s
    }
  private def str(v: Any): String = if (v == null) null else v.toString
  private def int(v: Any): Option[Int] = Option(v).map(_.asInstanceOf[Number].intValue())
  private def long(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Number].longValue())

  // ---- JSON rendering (Spark's to_json over the avro source's types) ----

  private val jsonFactory = new JsonFactory()
  private val dateFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd")
  private val tsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSXXX")
  private val ntzFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS")

  private def json(v: Any, schema: Schema, zone: ZoneId): String =
    if (v == null) null
    else {
      val out = new StringWriter()
      val g = jsonFactory.createGenerator(out)
      writeJson(g, v, schema, zone)
      g.close()
      out.toString
    }

  private def instantOf(v: Any, logical: LogicalType): Instant = {
    val n = v.asInstanceOf[Number].longValue()
    logical match {
      case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
        Instant.ofEpochMilli(n)
      case _ => Instant.ofEpochSecond(Math.floorDiv(n, 1000000L), Math.floorMod(n, 1000000L) * 1000L)
    }
  }

  private def writeJson(g: JsonGenerator, v: Any, s: Schema, zone: ZoneId): Unit = {
    import Schema.Type._
    val logical = s.getLogicalType
    s.getType match {
      case UNION =>
        val b = nonNull(s)
        require(b.getType != UNION, s"iceberg: Avro union $s outside the manifest profile")
        writeJson(g, v, b, zone)
      case RECORD =>
        val r = v.asInstanceOf[GenericRecord]
        g.writeStartObject()
        s.getFields.asScala.foreach { f =>
          val x = r.get(f.pos)
          if (x != null) { g.writeFieldName(f.name); writeJson(g, x, f.schema, zone) }
        }
        g.writeEndObject()
      case ARRAY =>
        g.writeStartArray()
        v.asInstanceOf[java.util.Collection[_]].forEach { x =>
          if (x == null) g.writeNull() else writeJson(g, x, s.getElementType, zone)
        }
        g.writeEndArray()
      case MAP =>
        g.writeStartObject()
        v.asInstanceOf[java.util.Map[_, _]].forEach { (k, x) =>
          g.writeFieldName(k.toString)
          if (x == null) g.writeNull() else writeJson(g, x, s.getValueType, zone)
        }
        g.writeEndObject()
      case INT if logical.isInstanceOf[LogicalTypes.Date] =>
        g.writeString(dateFmt.format(LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue())))
      case LONG if logical.isInstanceOf[LogicalTypes.TimestampMillis] ||
          logical.isInstanceOf[LogicalTypes.TimestampMicros] =>
        g.writeString(tsFmt.format(instantOf(v, logical).atZone(zone)))
      case LONG if logical.isInstanceOf[LogicalTypes.LocalTimestampMillis] ||
          logical.isInstanceOf[LogicalTypes.LocalTimestampMicros] =>
        g.writeString(ntzFmt.format(LocalDateTime.ofInstant(instantOf(v, logical), ZoneOffset.UTC)))
      case INT     => g.writeNumber(v.asInstanceOf[Number].intValue())
      case LONG    => g.writeNumber(v.asInstanceOf[Number].longValue())
      case FLOAT   => g.writeNumber(v.asInstanceOf[Number].floatValue())
      case DOUBLE  => g.writeNumber(v.asInstanceOf[Number].doubleValue())
      case BOOLEAN => g.writeBoolean(v.asInstanceOf[Boolean])
      case STRING | ENUM => g.writeString(v.toString)
      case BYTES | FIXED =>
        val bytes = v match {
          case b: ByteBuffer   => val d = b.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a); a
          case f: GenericFixed => f.bytes()
        }
        logical match {
          case d: LogicalTypes.Decimal =>
            g.writeNumber(new java.math.BigDecimal(new java.math.BigInteger(bytes), d.getScale))
          case _ => g.writeBinary(bytes)
        }
      case NULL => g.writeNull()
    }
  }

  // ---- Spark external values -> Avro datums (the writer's rows) ----

  private val decimals = new Conversions.DecimalConversion()

  private def micros(i: Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  private def avro(v: Any, dt: DataType, schema: Schema): Any =
    if (v == null) null
    else {
      val s = nonNull(schema)
      dt match {
        case st: StructType =>
          val r = v.asInstanceOf[Row]
          val rec = new GenericData.Record(s)
          st.fields.indices.foreach(i =>
            rec.put(i, avro(r.get(i), st.fields(i).dataType, s.getFields.get(i).schema)))
          rec
        case ArrayType(et, _) =>
          v.asInstanceOf[scala.collection.Seq[Any]].map(avro(_, et, s.getElementType)).asJava
        case MapType(_, vt, _) =>
          val m = new java.util.LinkedHashMap[String, Any]()
          v.asInstanceOf[scala.collection.Map[Any, Any]].foreach { case (k, x) =>
            m.put(k.toString, avro(x, vt, s.getValueType))
          }
          m
        case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
        case DateType => v match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
          case d: LocalDate     => d.toEpochDay.toInt
        }
        case TimestampType => v match {
          case t: java.sql.Timestamp => micros(t.toInstant)
          case i: Instant            => micros(i)
        }
        case TimestampNTZType => micros(v.asInstanceOf[LocalDateTime].toInstant(ZoneOffset.UTC))
        case d: DecimalType =>
          decimals.toFixed(v.asInstanceOf[java.math.BigDecimal].setScale(d.scale), s, s.getLogicalType)
        case _ => v // boolean, int, long, float, double, string
      }
    }
}
