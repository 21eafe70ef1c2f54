package graft.readers

import graft.core.Tokenizable
import graft.datatypes.DataRef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A lazy loader: knows which [[graft.datatypes.DataKind]]s it reads and
  * produces a DataFrame (the engine's sole tabular container — the
  * reference's ~160 readers across 10 backend container types collapse
  * onto this one; reference intake/readers/readers.py:23 BaseReader).
  */
trait Reader extends Tokenizable {
  def name: String
  def implementsKinds: Set[String]
  /** Qualified output container name (kept as a string for catalog/graph
    * compat, reference readers.py:29 output_instance). */
  def outputType: String = "org.apache.spark.sql.DataFrame"
  /** Is the underlying format resolvable on this classpath? (the
    * reference's importable split, readers.py:1799-1820). */
  def importable: Boolean = true
  /** Instance-level veto (reference readers.py:219-244 `is_ok`). */
  def isOk(ref: DataRef): Boolean = implementsKinds.contains(ref.kind)
  def read(spark: SparkSession, ref: DataRef): DataFrame
  /** Cheap sample: the rows `read(spark, ref).limit(n)` returns (the
    * reference's Spark reader does exactly this, readers.py:525-526
    * `.limit(10)`). The call launches no job. [[FormatReader]] serves a
    * repeat sample of unchanged files from [[Resolve.sample]]'s memo, so
    * its later actions run no file scan and no job. */
  def discover(spark: SparkSession, ref: DataRef, n: Int = 10): DataFrame =
    read(spark, ref).limit(n)

  def qname: String = s"graft.readers.$name"
  def tokenAttrs: Map[String, Any] = Map("name" -> name)
}

/** Generic `spark.read.format(fmt)` reader, loading through [[Resolve.load]]
  * and sampling through [[Resolve.sample]]. */
class FormatReader(
    val name: String,
    fmt: String,
    val implementsKinds: Set[String],
    requiredClass: Option[String] = None,
    defaults: Map[String, String] = Map.empty
) extends Reader {
  override lazy val importable: Boolean =
    requiredClass.forall(c => scala.util.Try(Class.forName(c)).isSuccess)
  def read(spark: SparkSession, ref: DataRef): DataFrame =
    Resolve.load(spark, fmt, ref.url, defaults ++ ref.options)
  override def discover(spark: SparkSession, ref: DataRef, n: Int = 10): DataFrame =
    Resolve.sample(spark, fmt, ref.url, defaults ++ ref.options, n)
}

object SparkReaders {
  val parquet = new FormatReader("spark_parquet", "parquet", Set("parquet"))
  val csv = new FormatReader("spark_csv", "csv", Set("csv"),
    defaults = Map("header" -> "true", "inferSchema" -> "true"))
  // model_config (HF-style config.json) IS json — one nested row
  val json = new FormatReader("spark_json", "json", Set("json", "geojson", "model_config"))
  val orc = new FormatReader("spark_orc", "orc", Set("orc"))
  val text = new FormatReader("spark_text", "text", Set("text", "markdown", "fasta", "fastq", "ini", "toml", "yaml", "rst", "python_source", "svg"))
  val binary = new FormatReader("spark_binary", "binaryFile",
    Set("png", "jpeg", "tiff", "wav", "mp3", "mp4", "pdf", "numpy", "npz", "gguf", "safetensors", "onnx", "pickle", "messagepack", "hdf5", "netcdf3", "excel", "sqlite", "duckdb_file", "zip", "shapefile", "pmtiles", "html", "tfrecord",
      "matlab", "matrixmarket", "grib2", "fits", "asdf", "dicom", "nifti", "flatgeobuf", "geopackage", "matroska", "avi", "webp", "bmp", "gif", "ppm", "stata", "spss", "sas",
      // classified-but-niche binary kinds: the bytes+metadata read is
      // the honest floor (header inspect adds structure where a parser
      // exists); a specialized reader earlier in `all` wins when present
      "docx", "epub", "osmpbf", "torchscript", "keras_model", "joblib",
      "bigwig", "e57", "exr", "flac", "heif", "metaimage", "ogg", "sdf", "wholeslide"))

  /** Document-text reader: binaryFile scan + executor-side extraction
    * (reference readers.py:2150 DocumentToText family) — DOCX/EPUB/PDF
    * kinds yield rows WITH a `text` column, not just opaque bytes; the
    * plain binary passthrough stays available as the later candidate. */
  val docText: Reader = new Reader {
    val name = "doc_text"
    val implementsKinds = Set("docx", "epub", "pdf")
    def read(spark: SparkSession, ref: DataRef): DataFrame = {
      val base = spark.read.format("binaryFile").load(ref.url)
      ref.kind match {
        case "docx" => graft.ops.TextExtract.docxToText(base)
        case "epub" => graft.ops.TextExtract.epubToText(base)
        case _      => graft.ops.TextExtract.pdfToText(base)
      }
    }
  }
  val image = new FormatReader("spark_image", "image", Set("png", "jpeg", "tiff"))
  val xml = new FormatReader("spark_xml", "xml", Set("xml"),
    requiredClass = Some("org.apache.spark.sql.execution.datasources.xml.XmlFileFormat"),
    defaults = Map("rowTag" -> "row"))
  // this distribution bundles the avro classes but not the "avro" short
  // name registration — address the FileFormat by FQCN
  val avro = new FormatReader("spark_avro", "org.apache.spark.sql.avro.AvroFileFormat", Set("avro"),
    requiredClass = Some("org.apache.spark.sql.avro.AvroFileFormat"))
  // Declared but not importable without its connector jar — mirrors the
  // reference's importable/non-importable reader split.
  val delta = new FormatReader("spark_delta", "delta", Set("delta"),
    requiredClass = Some("io.delta.tables.DeltaTable"))
  // Iceberg path-based read (reference readers.py:1139 PolarsIceberg
  // `scan_iceberg`, datatypes.py:861 IcebergDataset) — same connector
  // gate as delta: classifiable everywhere, readable once the
  // iceberg-spark runtime jar is on the classpath.
  val iceberg = new FormatReader("spark_iceberg", "iceberg", Set("iceberg"),
    requiredClass = Some("org.apache.iceberg.spark.source.IcebergSource"))

  /** JDBC service reader: url carries the JDBC URL; options carry
    * dbtable/query/credentials. */
  val jdbc: Reader = new Reader {
    val name = "spark_jdbc"
    val implementsKinds = Set("sql_query", "sqlite")
    // sqlite FILES go to the native reader below; this path needs a
    // real JDBC url (and driver)
    override def isOk(ref: DataRef): Boolean =
      implementsKinds.contains(ref.kind) && ref.url.startsWith("jdbc:")
    def read(spark: SparkSession, ref: DataRef): DataFrame =
      spark.read.format("jdbc").options(ref.options).option("url", ref.url).load()
  }

  /** Kafka streaming source — declared, requires the kafka connector. */
  val kafka: Reader = new Reader {
    val name = "spark_kafka"
    val implementsKinds = Set("kafka_topic")
    override lazy val importable: Boolean =
      scala.util.Try(Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess
    def read(spark: SparkSession, ref: DataRef): DataFrame =
      spark.readStream.format("kafka").options(ref.options)
        .option("subscribe", ref.url.stripPrefix("kafka://").split("/").last)
        .load()
  }

  /** Glob path with format-string captures, e.g.
    * `data/{year}/{month}.csv` — reads the matching files and derives the
    * captured fields as columns from `input_file_name()` (the reference's
    * CSVPattern/DaskCSVPattern, readers.py:1067 + utils.py:435-474
    * pattern_to_glob/reverse_formats — here one regexp over the file name,
    * evaluated executor-side, no driver loop).
    */
  val pattern: Reader = new Reader {
    val name = "spark_pattern"
    val implementsKinds = Set("csv", "text", "json", "parquet")
    override def isOk(ref: DataRef): Boolean = ref.url.contains("{")
    def read(spark: SparkSession, ref: DataRef): DataFrame = {
      val fieldRe = "\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
      val fields = fieldRe.findAllMatchIn(ref.url).map(_.group(1)).toSeq
      val glob = fieldRe.replaceAllIn(ref.url, "*")
      // Match against input_file_name() output, whose scheme prefix may be
      // normalized differently (file:/ vs file:///) — anchor on the path
      // part only, with a permissive prefix.
      val pathPart = ref.url.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
      val capture = ".*" + java.util.regex.Pattern.quote(pathPart)
        .replaceAll("\\{[A-Za-z_][A-Za-z0-9_]*\\}", "\\\\E(.*?)\\\\Q") + "$"
      val fmt = ref.options.getOrElse("format", "csv")
      val base = spark.read.format(fmt)
        .options(ref.options - "format" + ("header" -> ref.options.getOrElse("header", "true")))
        .load(glob)
        .withColumn("_path", input_file_name())
      fields.zipWithIndex
        .foldLeft(base) { case (df, (f, i)) =>
          df.withColumn(f, regexp_extract(col("_path"), capture, i + 1))
        }
        .drop("_path")
    }
  }

  val arrowIpc: Reader = new ArrowIPCReaderImpl
  val icebergNative: Reader = new IcebergReaderImpl
  val deltaNative: Reader = new DeltaReaderImpl
  val kafkaNative: Reader = new KafkaReaderImpl
  val archive: Reader = new ArchiveReaderImpl
  val netcdf3: Reader = new NetCDF3ReaderImpl
  val tfrecord: Reader = new TFRecordReaderImpl
  val sqlite: Reader = new SqliteReaderImpl
  val lance: Reader = new LanceReaderImpl
  val pmtiles: Reader = new PMTilesReaderImpl
  val msgpack: Reader = new MessagePackReaderImpl
  val matrixMarket: Reader = new MatrixMarketReaderImpl
  val stata: Reader = new StataReaderImpl
  val matlab: Reader = new MatlabReaderImpl
  val shapefile: Reader = new ShapefileReaderImpl
  val spss: Reader = new SpssReaderImpl
  val geopackage: Reader = new GeoPackageReaderImpl
  val fits: Reader = new FitsReaderImpl
  val nifti: Reader = new NiftiReaderImpl
  val grib2: Reader = new Grib2ReaderImpl
  val las: Reader = new LasReaderImpl
  val pdb: Reader = new PdbReaderImpl
  val hdf5: Reader = new Hdf5ReaderImpl
  val geotiff: Reader = new GeoTiffReaderImpl
  val excel: Reader = new ExcelReaderImpl
  val geojson: Reader = new GeoJsonReaderImpl
  val zarr: Reader = new ZarrReaderImpl
  val numpy: Reader = new NumpyReaderImpl
  val fasta: Reader = new FastaReaderImpl
  val fastq: Reader = new FastqReaderImpl
  val vcfR: Reader = new VcfReaderImpl
  val rawBuffer: Reader = new RawBufferReaderImpl
  val kml: Reader = new KmlReaderImpl
  val gpx: Reader = new GpxReaderImpl
  val mbtiles: Reader = new MBTilesReaderImpl
  val sas: Reader = new SasReaderImpl
  val xpt: Reader = new XptReaderImpl
  val flatgeobuf: Reader = new FlatGeobufReaderImpl
  val nrrd: Reader = new NrrdReaderImpl
  val arrayPattern: Reader = new ArrayPatternReaderImpl
  val ogcFeatures: Reader = new graft.catalog.OgcFeaturesReaderImpl
  val prometheus: Reader = new graft.catalog.PrometheusReaderImpl
  val socrata: Reader = new graft.catalog.SocrataReaderImpl
  val elasticsearch: Reader = new graft.catalog.ElasticsearchReaderImpl
  val redis: Reader = new RedisReaderImpl
  val influx: Reader = new InfluxReaderImpl
  val mongo: Reader = new MongoReaderImpl
  val mqtt: Reader = new MqttReaderImpl
  val websocket: Reader = new WebSocketReaderImpl
  val arrowFlight: Reader = new ArrowFlightReaderImpl
  val opendap: Reader = new OpenDapReaderImpl
  val iniR: Reader = new IniReaderImpl
  val tomlR: Reader = new TomlReaderImpl

  /** Huggingface dataset via the hub's parquet manifest (reference
    * readers.py HuggingfaceReader + catalogs.py:481 HuggingfaceHubCatalog):
    * `ref.url` points at the `/api/datasets/{id}/parquet` listing —
    * `{config: {split: [parquet urls]}}` — whose files are read directly
    * by the parquet source, so the hub's pre-converted shards stream
    * through Spark without the Python `datasets` library. An optional
    * `split` option keeps only URLs containing that path segment.
    */
  val hfParquet: Reader = new Reader {
    val name = "hf_parquet"
    val implementsKinds = Set("huggingface")
    def read(spark: SparkSession, ref: DataRef): DataFrame = {
      val conf = spark.sparkContext.hadoopConfiguration
      val uri = new java.net.URI(ref.url)
      val fs = org.apache.hadoop.fs.FileSystem.get(uri.resolve("/"), conf)
      val in = fs.open(new org.apache.hadoop.fs.Path(ref.url))
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      // manifest nests urls under {config: {split: [...]}} — the split
      // filter matches on the JSON key path, not the url text
      def leaves(n: com.fasterxml.jackson.databind.JsonNode, path: Seq[String]): Seq[(Seq[String], String)] = {
        import scala.jdk.CollectionConverters._
        if (n.isTextual) Seq(path -> n.asText())
        else if (n.isArray) n.elements().asScala.toSeq.flatMap(leaves(_, path))
        else if (n.isObject) n.properties().asScala.toSeq.flatMap(e => leaves(e.getValue, path :+ e.getKey))
        else Nil
      }
      val split = ref.options.get("split")
      val urls = leaves(node, Nil).collect { case (p, u) if split.forall(p.contains) => u }
      require(urls.nonEmpty, s"no parquet files listed at ${ref.url}" + split.fold("")(s => s" for split $s"))
      spark.read.parquet(urls: _*)
    }
  }

  /** Declared reader whose backend lives in another runtime (reference
    * readers with unsatisfied `imports`, readers.py:113 `check_imports`):
    * listable and catalogable, never importable here, and `read` says
    * why. The sklearn/torch/tfds example registries emit these — same
    * split as the connector-gated Delta/Kafka readers above.
    */
  class BackendGated(val name: String, kinds: Set[String], backend: String) extends Reader {
    val implementsKinds = kinds
    override val importable: Boolean = false
    def read(spark: SparkSession, ref: DataRef): DataFrame =
      throw new UnsupportedOperationException(
        s"$name entries describe datasets served by $backend, which is not on this runtime")
  }
  val sklearnExample: Reader = new BackendGated("sklearn_example", Set("sklearn_example"), "python sklearn.datasets")
  val torchDataset: Reader = new BackendGated("torch_dataset", Set("torch_dataset"), "python torch{vision,audio,text}")
  val tfdsDataset: Reader = new BackendGated("tfds_dataset", Set("tfds"), "python tensorflow_datasets")
  // Icechunk (reference datatypes.py:475 IcechunkRepo): a versioned
  // transactional store over zarr chunks — reading its snapshot/ref
  // layout as plain zarr would silently serve an arbitrary version, so
  // the kind detects and refuses with the client guidance instead
  val icechunk: Reader = new BackendGated("icechunk_repo", Set("icechunk"),
    "the icechunk client (transactional zarr-adjacent store; no native snapshot replay here)")

  /** Earthdata granule set (reference catalogs.py:664 EarthdataReader:
    * `search_data(concept_id) → earthaccess.open → xr.open_mfdataset`):
    * `ref.url` is a CMR granule search whose `feed.entry[].links` carry
    * the data file urls (rel `…/data#`); each netCDF granule reads
    * through the native NetCDF3 reader and the union carries a `granule`
    * column in place of xarray's concat dimension.
    */
  val earthdata: Reader = new Reader {
    val name = "earthdata_granules"
    val implementsKinds = Set("earthdata")
    def read(spark: SparkSession, ref: DataRef): DataFrame = {
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val uri = new java.net.URI(ref.url)
      val fs = org.apache.hadoop.fs.FileSystem.get(uri.resolve("/"), conf)
      val in = fs.open(new org.apache.hadoop.fs.Path(ref.url))
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        finally in.close()
      val urls = Option(node.get("feed")).flatMap(f => Option(f.get("entry"))).toSeq
        .flatMap(_.elements().asScala.toSeq)
        .flatMap(e => Option(e.get("links")).toSeq.flatMap(_.elements().asScala.toSeq))
        .filter(l => Option(l.get("rel")).exists(_.asText().endsWith("/data#")))
        .flatMap(l => Option(l.get("href")).map(_.asText()))
      require(urls.nonEmpty, s"no data links in granule listing at ${ref.url}")
      urls.map { u =>
        NetCDF3Reader.read(spark, u, ref.options.getOrElse("variable",
          NetCDF3Reader.variables(u, conf).headOption.getOrElse(
            throw new IllegalArgumentException(s"no variables in $u"))))
          .withColumn("granule", org.apache.spark.sql.functions.lit(u))
      }.reduce(_ unionByName _)
    }
  }

  /** Value embedded directly in the catalog entry (reference `Literal`
    * datatype, datatypes.py:923): `options("data")` holds JSON-lines
    * rows; no external storage involved.
    */
  val literal: Reader = new Reader {
    val name = "literal_reader"
    val implementsKinds = Set("literal")
    def read(spark: SparkSession, ref: DataRef): DataFrame = {
      import spark.implicits._
      val lines = ref.options.getOrElse("data", "").split("\n").toSeq.filter(_.nonEmpty)
      spark.read.json(lines.toDS())
    }
  }

  // order is preference order; the generic binaryFile fallback goes last
  // so format-specific readers win their kinds
  val all: Seq[Reader] = Seq(parquet, csv, orc, image, xml, avro, delta, deltaNative, iceberg, icebergNative, jdbc, kafka, kafkaNative, pattern, arrowIpc, netcdf3, tfrecord, sqlite, lance, pmtiles, msgpack, matrixMarket, stata, matlab, shapefile, spss, geopackage, fits, nifti, grib2, las, pdb, hdf5, geotiff, excel, geojson, kml, gpx, mbtiles, sas, xpt, flatgeobuf, nrrd, arrayPattern, ogcFeatures, prometheus, socrata, elasticsearch, redis, influx, mongo, mqtt, websocket, arrowFlight, opendap, zarr, numpy, fasta, fastq, vcfR, rawBuffer, iniR, tomlR, hfParquet, earthdata, sklearnExample, torchDataset, tfdsDataset, icechunk, literal, archive, docText, json, text, binary)

  /** kind → candidate readers, importable first (reference
    * readers.py:1799-1820 `recommend`).
    */
  def recommend(ref: DataRef): (Seq[Reader], Seq[Reader]) = {
    val candidates = all.filter(r => r.implementsKinds.contains(ref.kind) && r.isOk(ref))
    candidates.partition(_.importable)
  }

  def reader(name: String): Option[Reader] = all.find(_.name == name)
}
