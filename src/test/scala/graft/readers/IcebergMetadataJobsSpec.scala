package graft.readers

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions.{col, element_at, typedLit}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Iceberg metadata IO launches no Spark job: manifest-list and
  * manifest loads and writes are driver-local, and an append, a MERGE
  * and a read-back run only data-file jobs (no plan reads or writes
  * Avro). Tables whose manifests use the earlier layout — one directory
  * per manifest, written by Spark's avro writer — still read, append,
  * merge, time-travel and expire. */
class IcebergMetadataJobsSpec extends SparkSpec {

  private val AvroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
  private def conf = spark.sparkContext.hadoopConfiguration

  private def usesAvro(qe: QueryExecution): Boolean = qe.analyzed.exists {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation => r.fileFormat.getClass.getName == AvroFmt
      case _                   => false
    }
    case c: InsertIntoHadoopFsRelationCommand => c.fileFormat.getClass.getName == AvroFmt
    case _ => false
  }

  /** `body`'s result, the Spark jobs it launched and the queries it ran
    * that read or wrote Avro. */
  private def observe[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val avro = new AtomicInteger
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = if (usesAvro(qe)) avro.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = if (usesAvro(qe)) avro.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get, avro.get)
    } finally {
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
  }

  private def rows(t: String, snapshotId: Option[Long] = None): Seq[(Long, Int, String)] = {
    import spark.implicits._
    IcebergReader.read(spark, t, snapshotId).select("id", "p", "v").as[(Long, Int, String)]
      .collect().toSeq.sorted
  }

  private def metaOf(t: String): ObjectNode =
    new ObjectMapper().readTree(IcebergReader.metadataText(t, conf)).asInstanceOf[ObjectNode]
  private def snapshots(t: String): Seq[(Long, String)] =
    metaOf(t).get("snapshots").elements().asScala
      .map(s => s.get("snapshot-id").asLong() -> s.get("manifest-list").asText()).toSeq

  test("manifest-list and manifest loads and manifest writes launch no Spark job") {
    import spark.implicits._
    val t = Files.createTempDirectory("ijobs").toString
    IcebergWriter.write(spark, Seq((1L, 1, "a"), (2L, 2, "b")).toDF("id", "p", "v"), t,
      partitionBy = Seq("p"))
    val list = snapshots(t).head._2
    val ((refs, entries), jobs, avro) = observe {
      val refs = IcebergReader.manifestListRowsOf(spark, list, t)
      (refs, refs.flatMap(r => IcebergReader.manifestEntriesOf(spark, t, r._1)))
    }
    assert(refs.size == 1 && entries.map(_.filePath).size == 2)
    assert(jobs == 0 && avro == 0)
    val copy = new Path(s"$t/metadata/copy-m0.avro")
    val schema = StructType(Seq(StructField("status", IntegerType, nullable = false),
      StructField("data_file", StructType(Seq(StructField("file_path", StringType))), nullable = false)))
    val (_, wJobs, wAvro) = observe {
      IcebergManifestCodec.write(copy, conf, schema,
        entries.map(e => org.apache.spark.sql.Row(e.status, org.apache.spark.sql.Row(e.filePath))))
      IcebergManifestCodec.readManifest(copy.toString, conf, java.time.ZoneOffset.UTC)
    }
    assert(wJobs == 0 && wAvro == 0)
    // the detector sees the Spark-avro parse it replaced
    val (_, oJobs, oAvro) = observe(SparkAvroManifestOracle.manifest(spark, refs.head._1))
    assert(oJobs > 0 && oAvro > 0)
  }

  test("an append, a MERGE and a read-back run only data-file jobs") {
    import spark.implicits._
    val t = Files.createTempDirectory("ijobs").toString
    IcebergWriter.write(spark, Seq((1L, 1, "a"), (2L, 2, "b")).toDF("id", "p", "v"), t,
      partitionBy = Seq("p"))
    val (out, jobs, avro) = observe {
      IcebergWriter.write(spark, Seq((3L, 1, "c")).toDF("id", "p", "v"), t)
      IcebergWriter.merge(spark, Seq((2L, 2, "B"), (4L, 2, "d")).toDF("id", "p", "v"), t, on = Seq("id"))
      rows(t)
    }
    assert(out == Seq((1L, 1, "a"), (2L, 2, "B"), (3L, 1, "c"), (4L, 2, "d")))
    assert(jobs > 0, "the data files are written and read by Spark jobs")
    assert(avro == 0, "no query reads or writes manifest Avro")
  }

  /** Schema and codec of one Avro file. */
  private def header(p: String): (String, String) = {
    val s = new org.apache.avro.file.DataFileStream[org.apache.avro.generic.GenericRecord](
      Files.newInputStream(Paths.get(p)), new org.apache.avro.generic.GenericDatumReader())
    try (s.getSchema.toString, s.getMetaString("avro.codec")) finally s.close()
  }

  test("driver-written manifests and lists carry the schema and codec Spark's writer gave them") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val t = Files.createTempDirectory("iformat").toString
    IcebergWriter.write(spark, Seq((1L, 1, "a")).toDF("id", "p", "v"), t, partitionBy = Seq("p"))
    val list = snapshots(t).head._2
    val manifest = IcebergReader.manifestListRowsOf(spark, list, t).head._1
    // the retired Spark-avro write of the same manifest and list shapes
    def sparkWrite(df: org.apache.spark.sql.DataFrame): String = {
      val dir = Files.createTempDirectory("iretired").resolve("out").toString
      df.coalesce(1).write.format(AvroFmt).save(dir)
      Files.list(Paths.get(dir)).iterator().asScala.map(_.toString).find(_.endsWith(".avro")).get
    }
    val rowSchema = StructType(Seq(StructField("p", StringType), StructField("sz", LongType),
      StructField("rc", LongType), StructField("lb", MapType(StringType, BinaryType)),
      StructField("ub", MapType(StringType, BinaryType)), StructField("_pv_p", IntegerType)))
    val retiredManifest = sparkWrite(spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row("/d.parquet", 1L, 1L, Map("1" -> Array[Byte](1)), Map("1" -> Array[Byte](1)), 1)), 1),
        rowSchema)
      .selectExpr("1 as status", "cast(7 as bigint) as snapshot_id",
        "cast(null as bigint) as sequence_number",
        """named_struct('file_path', p, 'file_format', 'PARQUET', 'content', 0,
          |'record_count', rc, 'file_size_in_bytes', sz, 'lower_bounds', lb, 'upper_bounds', ub,
          |'partition', named_struct('p', `_pv_p`)) as data_file""".stripMargin))
    val listSchema = StructType(Seq(
      StructField("manifest_path", StringType), StructField("manifest_length", LongType),
      StructField("sequence_number", LongType), StructField("partition_spec_id", IntegerType),
      StructField("content", IntegerType), StructField("added_snapshot_id", LongType),
      StructField("partitions", ArrayType(StructType(Seq(StructField("contains_null", BooleanType),
        StructField("lower_bound", BinaryType), StructField("upper_bound", BinaryType)))))))
    val retiredList = sparkWrite(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("/m.avro", 1L, 1L, 0, 0, 7L, Seq(Row(false, Array[Byte](1), Array[Byte](1))))), 1),
      listSchema))
    assert(header(manifest) == header(retiredManifest))
    assert(header(list) == header(retiredList))
    assert(header(list)._2 == "snappy")
  }

  /** Rewrites every manifest and manifest list of `t` in the earlier
    * layout — `metadata/m-<uuid>/part-….avro` and
    * `metadata/snap-<id>-<uuid>/part-….avro`, written by Spark's avro
    * writer — repoints the current metadata at them and deletes the
    * driver-written files. */
  private def toDirectoryLayout(t: String): Unit = {
    def sparkWrite(df: org.apache.spark.sql.DataFrame, dir: String): String = {
      df.coalesce(1).write.format(AvroFmt).save(dir)
      Files.list(Paths.get(dir)).iterator().asScala.map(_.toString).find(_.endsWith(".avro")).get
    }
    val lists = snapshots(t)
    val manifests = lists.flatMap(l => IcebergReader.manifestListRowsOf(spark, l._2, t).map(_._1)).distinct
    val movedManifests = manifests.map(m =>
      m -> sparkWrite(spark.read.format(AvroFmt).load(m),
        s"$t/metadata/m-${java.util.UUID.randomUUID()}")).toMap
    val movedLists = lists.map { case (id, l) =>
      l -> sparkWrite(spark.read.format(AvroFmt).load(l)
          .withColumn("manifest_path", element_at(typedLit(movedManifests), col("manifest_path"))),
        s"$t/metadata/snap-$id-${java.util.UUID.randomUUID()}")
    }.toMap
    val meta = metaOf(t)
    meta.get("snapshots").elements().asScala.foreach { s =>
      s.asInstanceOf[ObjectNode].put("manifest-list", movedLists(s.get("manifest-list").asText()))
    }
    val metaPath = new Path(IcebergReader.currentMetadataPath(t, conf))
    val out = metaPath.getFileSystem(conf).create(metaPath, /* overwrite = */ true)
    try out.write(new ObjectMapper().writeValueAsBytes(meta)) finally out.close()
    (manifests ++ lists.map(_._2)).foreach(p => new Path(p).getFileSystem(conf).delete(new Path(p), false))
  }

  private def filesUnder(t: String): Set[String] =
    Files.walk(Paths.get(t)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).filterNot(_.endsWith(".crc")).toSet

  test("tables with directory-layout manifests read, append, merge, time-travel and expire") {
    import spark.implicits._
    val t = Files.createTempDirectory("ilegacy").toString
    val a = Seq((1L, 1, "a"), (2L, 2, "b"))
    val b = Seq((3L, 1, "c"))
    IcebergWriter.write(spark, a.toDF("id", "p", "v"), t, partitionBy = Seq("p"))
    IcebergWriter.write(spark, b.toDF("id", "p", "v"), t)
    toDirectoryLayout(t)
    val Seq(s1, s2) = snapshots(t).map(_._1)
    assert(snapshots(t).forall(_._2.contains("/metadata/snap-")) &&
      snapshots(t).forall(_._2.endsWith(".avro")))
    assert(rows(t) == (a ++ b).sorted)
    assert(rows(t, Some(s1)) == a.sorted)
    // the earlier layout's data files are still pruned by partition
    assert(IcebergReader.read(spark, t, filter = Some("p = 2")).count() == 1L)

    val c = Seq((4L, 2, "d"))
    IcebergWriter.write(spark, c.toDF("id", "p", "v"), t)
    val retained = IcebergReader.manifestListRowsOf(spark, snapshots(t).last._2, t).map(_._1)
    assert(retained.count(_.endsWith("-m0.avro")) == 1 && retained.count(_.contains("/m-")) == 2)
    IcebergWriter.merge(spark, Seq((1L, 1, "A"), (5L, 1, "e")).toDF("id", "p", "v"), t, on = Seq("id"))
    val expected = Seq((1L, 1, "A"), (2L, 2, "b"), (3L, 1, "c"), (4L, 2, "d"), (5L, 1, "e"))
    assert(rows(t) == expected)
    assert(rows(t, Some(s1)) == a.sorted && rows(t, Some(s2)) == (a ++ b).sorted)

    // expire reclaims exactly the lists, manifests and data files that
    // only expired snapshots reference — computed here with the
    // Spark-avro parse of the same files
    val (retainedSnaps, expiredSnaps) = snapshots(t).splitAt(snapshots(t).size - 1) match {
      case (old, keep) => (keep, old)
    }
    def refsOf(ss: Seq[(Long, String)]): Set[String] = {
      val ms = ss.flatMap(s => SparkAvroManifestOracle.manifestList(spark, s._2).map(_.path))
      (ss.map(_._2) ++ ms ++ ms.flatMap(SparkAvroManifestOracle.manifest(spark, _).map(_.filePath))).toSet
    }
    val expectedGone = refsOf(expiredSnaps) -- refsOf(retainedSnaps)
    assert(expectedGone.exists(_.contains("/m-")) && expectedGone.exists(_.contains("/data/")))
    val before = filesUnder(t)
    assert(IcebergWriter.expireSnapshots(spark, t, keepLast = 1) == expiredSnaps.size)
    assert(before -- filesUnder(t) == expectedGone)
    assert(rows(t) == expected)
  }
}
