package graft.convert

import graft.SparkSpec
import graft.catalog.Catalog
import graft.datatypes.DataRef
import graft.output.Writers
import graft.pipeline.Combinators
import java.nio.file.Files
import org.apache.spark.sql.functions._

class ConvertAndOutputSpec extends SparkSpec {
  import spark.implicits._

  test("conversion graph plans datatype -> DataFrame -> file -> datatype chains") {
    val g = ConversionGraph.default()
    val p = g.paths("datatype:csv", ConversionGraph.DataFrameType)
    assert(p.nonEmpty && p.head.length == 1)
    // round-trip: csv -> DataFrame -> parquet datatype
    val chain = g.paths("datatype:csv", "datatype:parquet")
    assert(chain.nonEmpty)
    assert(chain.head.map(_.label) == Seq("reader:spark_csv", "writer:parquet"))
    // avoid filter excludes the named reader edge (pattern reader remains)
    val avoided = g.paths("datatype:csv", ConversionGraph.DataFrameType, avoid = Seq("spark_csv"))
    assert(avoided.forall(_.forall(!_.label.contains("spark_csv"))))
    // prefer biases selection between multiple readers for one kind
    val best = g.bestPath("datatype:png", ConversionGraph.DataFrameType, prefer = Seq("spark_image"))
    assert(best.get.head.label == "reader:spark_image")
  }

  test("array and structured sinks are plannable graph endpoints") {
    val g = graft.convert.ConversionGraph.default()
    val dfType = graft.convert.ConversionGraph.DataFrameType
    for (fmt <- Seq("zarr", "netcdf3", "hdf5", "geojson", "delta", "iceberg")) {
      // write (DataFrame -> file datatype) and re-open (datatype ->
      // DataFrame) both plan, so write->read chains exist end-to-end
      assert(g.paths(dfType, s"datatype:$fmt", cutoff = 1).nonEmpty, s"no writer edge for $fmt")
      val back = g.paths(s"datatype:$fmt", dfType, cutoff = 1)
      assert(back.nonEmpty && back.head.head.label.startsWith("reader:"), s"$fmt writes must re-read")
    }
  }

  test("retry retries on allowed failures and eventually succeeds") {
    var calls = 0
    val out = Combinators.retry[Int](maxTries = 3, backoffMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky")
      42
    }
    assert(out == 42 && calls == 3)
    intercept[RuntimeException] {
      Combinators.retry[Int](maxTries = 2, backoffMs = 1, allowed = _ => false) {
        throw new RuntimeException("fatal")
      }
    }
  }

  test("condition branches on a data-driven predicate") {
    val big = Seq(1, 2, 3).toDF("v")
    val small = Seq(9).toDF("v")
    val out = Combinators.condition(big.count() > 2)(big)(small)
    assert(out.count() == 3)
  }

  test("catalogMap derives a new catalog marking every entry") {
    val cat = Catalog()
      .add("a", DataRef("parquet", "/a.parquet"), "spark_parquet")
      .add("b", DataRef("parquet", "/b.parquet"), "spark_parquet")
    val mapped = Combinators.catalogMap(cat, "audit") { rd => rd }
    assert(mapped.entries.values.forall(_.metadata("derived_by") == "audit"))
    assert(mapped.names == Seq("a", "b"))
  }

  test("writers round-trip and return catalog-ready descriptors") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val dir = Files.createTempDirectory("wr").toString
    for (fmt <- Seq("parquet", "csv", "json", "orc", "avro")) {
      val ref = fmt match {
        case "parquet" => Writers.parquet(df, s"$dir/t.parquet")
        case "csv"     => Writers.csv(df, s"$dir/t.csv")
        case "json"    => Writers.json(df, s"$dir/t.json")
        case "orc"     => Writers.orc(df, s"$dir/t.orc")
        case "avro"    => Writers.avro(df, s"$dir/t.avro")
      }
      assert(ref.kind == fmt)
      val readFmt = if (fmt == "avro") "org.apache.spark.sql.avro.AvroFileFormat" else fmt
      val back = spark.read.format(readFmt)
        .option("header", "true").option("inferSchema", "true")
        .load(ref.url)
      assert(back.count() == 2, s"round-trip $fmt")
    }
    // partitioned write produces partition directories
    Writers.parquet(df, s"$dir/part.parquet", Writers.WriteSpec(partitionBy = Seq("s")))
    val parts = new java.io.File(s"$dir/part.parquet").listFiles().map(_.getName).filter(_.startsWith("s="))
    assert(parts.toSet == Set("s=x", "s=y"))
    // the native Delta sink returns a delta DataRef the registry reads
    // back through the native log-replay reader
    val dref = Writers.delta(df, s"$dir/t.delta")
    assert(dref.kind == "delta")
    assert(new graft.readers.DeltaReaderImpl().read(spark, dref).count() == 2)
    // ...and the Iceberg sink through the native metadata walk
    val iref = Writers.iceberg(df, s"$dir/t.iceberg")
    assert(iref.kind == "iceberg")
    assert(new graft.readers.IcebergReaderImpl().read(spark, iref).count() == 2)
  }

  test("geojsonSeq writes newline-delimited features that re-read as GeoJSON") {
    import graft.readers.GeoJsonReader
    val dir = java.nio.file.Files.createTempDirectory("gjs")
    val features = Seq(
      ("""{"type":"Point","coordinates":[1.5,2.5]}""", "Point", "alpha", 10L),
      ("""{"type":"LineString","coordinates":[[0,0],[1,1]]}""", "LineString", "beta", 20L)
    ).toDF("geometry_json", "geometry_type", "name", "pop")
    val ref = Writers.geojsonSeq(features, s"file://$dir/out")
    assert(ref.kind == "geojsonseq")
    val lines = spark.read.text(s"file://$dir/out").as[String].collect().sorted
    assert(lines.length == 2)
    assert(lines.forall(l => l.startsWith("""{"type":"Feature","geometry":{""") && l.contains(""""properties":{""")))
    // parses back as JSON with intact geometry and properties
    val parsed = spark.read.json(spark.createDataset(lines.toSeq))
    val row = parsed.filter(col("properties.name") === "alpha").head()
    assert(row.getAs[org.apache.spark.sql.Row]("geometry").getAs[String]("type") == "Point")
    assert(row.getAs[org.apache.spark.sql.Row]("properties").getAs[Long]("pop") == 10L)
  }
}
