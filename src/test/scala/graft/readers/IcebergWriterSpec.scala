package graft.readers

import graft.SparkSpec
import java.nio.file.Files

/** Native Iceberg writer (unpartitioned append/overwrite profile):
  * round-trips through the native reader, time travel, changes reads
  * and the graft-iceberg stream; profile gates refuse loudly.
  */
class IcebergWriterSpec extends SparkSpec {

  test("create + append + overwrite round-trip; snapshots chain for time travel and changes") {
    import spark.implicits._
    val t = Files.createTempDirectory("iw").toString
    IcebergWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    assert(IcebergReader.read(spark, t).count() == 2L)
    IcebergWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t)
    val got = IcebergReader.read(spark, t).select("id", "name")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // snapshot time travel back to the first write
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    import scala.jdk.CollectionConverters._
    val snapIds = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSeq
    assert(snapIds.size == 2)
    assert(IcebergReader.read(spark, t, snapshotId = Some(snapIds.head)).count() == 2L)
    // incremental changes since the first snapshot: only the append
    val ch = IcebergReader.readChangesSince(spark, t, snapIds.head)
    assert(ch.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSeq == Seq(3L))
    // overwrite resets the table to the new frame
    IcebergWriter.write(spark, Seq((9L, "z")).toDF("id", "name"), t, mode = "overwrite")
    assert(IcebergReader.read(spark, t).select("id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSeq == Seq(9L))
    val e = intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, "x")).toDF("id", "name"), t, mode = "errorifexists"))
    assert(e.getMessage.contains("already exists"))
  }

  test("the graft-iceberg stream tails a written table across appends") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwstream").toString
    IcebergWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    val q = spark.readStream.format("graft-iceberg").load(t)
      .writeStream.format("memory").queryName("iw_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("iw_tail").count() == 1L)
      IcebergWriter.write(spark, Seq((2L, "b"), (3L, "c")).toDF("id", "name"), t)
      q.processAllAvailable()
      assert(spark.sql("SELECT id FROM iw_tail").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming sink: exactly-once appends via snapshot-summary txn markers") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val t = Files.createTempDirectory("iwsink").toString
    val ckpt = Files.createTempDirectory("iwsinkckpt").toString
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    src.addData((1L, "a"), (2L, "b"))
    def run(): Unit = {
      val q = src.toDF().toDF("id", "name").writeStream.format("graft-iceberg")
        .option("path", t).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(IcebergReader.read(spark, t).count() == 2L)
    src.addData((3L, "c"))
    run()
    assert(IcebergReader.read(spark, t).select("id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // a manual replay of an old batch id commits nothing
    val before = IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration)
    val sink = new IcebergStreamSink(spark, t,
      org.apache.spark.sql.streaming.OutputMode.Append(), ckpt, Nil)
    sink.addBatch(0L, Seq((99L, "dup")).toDF("id", "name"))
    assert(IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration) == before)
    assert(IcebergWriter.lastTxnVersion(spark, t, ckpt) == 1L)
  }

  test("profile gates: external tables, schema drift, complex types, rival commits") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwgates").toString
    IcebergWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    // schema drift refuses
    val e1 = intercept[Exception](IcebergWriter.write(spark,
      Seq((1, "x")).toDF("id", "name"), t)) // int id, table has long
    assert(e1.getMessage.contains("schema mismatch"))
    // unsupported LEAF types refuse up front, even nested inside a
    // struct (complex composition itself is in-profile since round 12)
    val e2 = intercept[Exception](IcebergWriter.write(spark,
      Seq(1L).toDF("id").selectExpr("id", "named_struct('d', make_dt_interval(0, 1)) as s"),
      Files.createTempDirectory("iwc").toString))
    assert(e2.getMessage.contains("outside the supported profile"))
    // a table whose metadata lacks the graft.writer stamp refuses —
    // regenerating an external table's metadata would drop its state
    val ext = Files.createTempDirectory("iwext").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$ext/metadata"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$ext/metadata/v1.metadata.json"),
      """{"format-version": 2, "location": "x", "current-schema-id": 0,
        |"schemas": [{"schema-id": 0, "type": "struct", "fields": [
        |  {"id": 1, "name": "id", "type": "long"},
        |  {"id": 2, "name": "name", "type": "string"}]}],
        |"default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        |"current-snapshot-id": -1, "snapshots": []}""".stripMargin)
    val e3 = intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, "a")).toDF("id", "name"), ext))
    assert(e3.getMessage.contains("not written by this writer"))
    // a rival metadata version lands first (same-state copy): the next
    // write resolves the new head and versions PAST it — the atomic
    // create-no-overwrite can never clobber the rival
    val cur = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      IcebergReader.currentMetadataPath(t, spark.sparkContext.hadoopConfiguration))
      .toUri.getPath)
    java.nio.file.Files.copy(cur, java.nio.file.Paths.get(s"$t/metadata/v2.metadata.json"))
    IcebergWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$t/metadata/v3.metadata.json")))
    assert(IcebergReader.read(spark, t).count() == 2L)
  }

  test("empty-string identity partition values refuse (the dir-text round trip maps '' to null)") {
    import spark.implicits._
    // Spark stages '' as __HIVE_DEFAULT_PARTITION__, so the manifest
    // tuple would record NULL: replaceWhere "p = ''" would match no
    // entries (old rows stay live) and tuple-projecting readers would
    // surface null — refuse instead
    val t = Files.createTempDirectory("iwempty").toString
    val e = intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, ""), (2L, "b")).toDF("id", "p"), t, partitionBy = Seq("p")))
    assert(e.getMessage.contains("empty-string"))
    // bucket partitioning is immune (the tuple is the int ordinal):
    // the same data writes and '' round-trips through the data file
    val t2 = Files.createTempDirectory("iwemptyb").toString
    IcebergWriter.write(spark, Seq((1L, ""), (2L, "b")).toDF("id", "p"), t2,
      partitionBy = Seq("bucket(4, p)"))
    assert(IcebergReader.read(spark, t2).select("id", "p")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == Seq((1L, ""), (2L, "b")))
    // and an unpartitioned write keeps '' as a plain data value
    val t3 = Files.createTempDirectory("iwemptyu").toString
    IcebergWriter.write(spark, Seq((1L, "")).toDF("id", "p"), t3)
    assert(IcebergReader.read(spark, t3).select("p").as[String].collect().toSeq == Seq(""))
  }

  test("nested columns (struct/array/map) round-trip with evolution, pruning and compaction intact") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwnested").toString
    val frame = Seq(
      (1L, ("web", 0.9), Seq("a", "b"), Map("k1" -> 10L), 7),
      (2L, ("api", 0.5), Seq("c"), Map("k2" -> 20L), 8))
      .toDF("id", "meta", "tags", "attrs", "p")
      .selectExpr("id", "named_struct('src', meta._1, 'score', meta._2) as meta",
        "tags", "attrs", "p")
    IcebergWriter.write(spark, frame.repartition(2,
      org.apache.spark.sql.functions.col("p")), t, partitionBy = Seq("p"))
    val back = IcebergReader.read(spark, t)
      .selectExpr("id", "meta.src", "meta.score", "tags", "attrs['k1']", "p")
      .as[(Long, String, Double, Seq[String], Option[Long], Int)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "web", 0.9, Seq("a", "b"), Some(10L), 7),
      (2L, "api", 0.5, Seq("c"), None, 8)))
    // every field id in the schema JSON is unique (top-level + nested)
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
    def allIds(n: com.fasterxml.jackson.databind.JsonNode): Seq[Int] = {
      import scala.jdk.CollectionConverters._
      if (n == null || !n.isContainerNode) Nil
      else if (n.isObject)
        n.properties().asScala.toSeq.flatMap(e =>
          (if (e.getKey == "id" || e.getKey.endsWith("-id")) Seq(e.getValue.asInt()) else Nil) ++
            allIds(e.getValue))
      else n.elements().asScala.toSeq.flatMap(allIds)
    }
    import scala.jdk.CollectionConverters._
    val cur = meta.get("current-schema-id").asInt()
    val schemaNode = meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == cur).get
    val ids = allIds(schemaNode.get("fields"))
    assert(ids.distinct.size == ids.size, s"duplicate field ids: $ids")
    assert(meta.get("last-column-id").asInt() == ids.max)
    // partition pruning and id-bounds stats pruning still work
    val all = IcebergReader.read(spark, t)
    val p7 = IcebergReader.read(spark, t, filter = Some("p = 7"))
    assert(p7.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(p7.inputFiles.length < all.inputFiles.length)
    // additive evolution appends a NESTED column with fresh non-
    // colliding ids; old rows null it
    val evolved = Seq((3L, ("ml", 0.7), Seq("d"), Map("k3" -> 30L), 7, ("x", 1L)))
      .toDF("id", "meta", "tags", "attrs", "p", "extra")
      .selectExpr("id", "named_struct('src', meta._1, 'score', meta._2) as meta",
        "tags", "attrs", "p", "named_struct('tag', extra._1, 'n', extra._2) as extra")
    IcebergWriter.write(spark, evolved, t, mergeSchema = true)
    val afterMeta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
    val cur2 = afterMeta.get("current-schema-id").asInt()
    val ids2 = allIds(afterMeta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == cur2).get.get("fields"))
    assert(ids2.distinct.size == ids2.size, s"duplicate field ids after evolution: $ids2")
    val got2 = IcebergReader.read(spark, t).selectExpr("id", "extra.n")
      .as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(got2.toSeq == Seq((1L, None), (2L, None), (3L, Some(1L))))
    // compaction rewrites the two p=7 files into one, nested data intact
    assert(IcebergWriter.compact(spark, t) >= 1)
    val after = IcebergReader.read(spark, t)
      .selectExpr("id", "meta.src", "tags[0]", "attrs", "extra.tag")
      .as[(Long, String, String, Map[String, Long], Option[String])].collect().sortBy(_._1)
    assert(after.toSeq == Seq(
      (1L, "web", "a", Map("k1" -> 10L), None),
      (2L, "api", "c", Map("k2" -> 20L), None),
      (3L, "ml", "d", Map("k3" -> 30L), Some("x"))))
  }

  test("truncate and temporal partition transforms write, round-trip, prune and adopt on append") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwtf").toString
    val df = Seq(
      (1L, "apple", "2024-01-05"),
      (2L, "apex", "2024-01-20"),
      (3L, "banana", "2024-02-10"))
      .toDF("id", "name", "d").selectExpr("id", "name", "cast(d as date) as d")
    IcebergWriter.write(spark, df.coalesce(1), t,
      partitionBy = Seq("truncate(2, name)", "month(d)"))
    val all = IcebergReader.read(spark, t)
    assert(all.select("id", "name").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "apple"), (2L, "apex"), (3L, "banana")))
    // the spec records the transforms; the reader's transform pruning
    // recomputes the same ordinals and skips files
    val ba = IcebergReader.read(spark, t, filter = Some("name = 'banana'"))
    assert(ba.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(ba.inputFiles.length < all.inputFiles.length,
      s"truncate pruning: ${ba.inputFiles.length} vs ${all.inputFiles.length}")
    val feb = IcebergReader.read(spark, t, filter = Some("d = date'2024-02-10'"))
    assert(feb.select("id").as[Long].collect().toSeq == Seq(3L))
    assert(feb.inputFiles.length < all.inputFiles.length)
    // an empty partitionBy APPEND adopts the table's transform spec
    IcebergWriter.write(spark,
      Seq((4L, "apricot", "2024-02-01")).toDF("id", "name", "d")
        .selectExpr("id", "name", "cast(d as date) as d"), t)
    assert(IcebergReader.read(spark, t, filter = Some("name = 'apricot'"))
      .select("id").as[Long].collect().toSeq == Seq(4L))
    // an hour() table over timestamps
    val t2 = Files.createTempDirectory("iwhour").toString
    val tsDf = Seq((1L, "2024-03-01 10:15:00"), (2L, "2024-03-01 11:45:00"))
      .toDF("id", "ts").selectExpr("id", "cast(ts as timestamp) as ts")
    IcebergWriter.write(spark, tsDf.coalesce(1), t2, partitionBy = Seq("hour(ts)"))
    val h = IcebergReader.read(spark, t2,
      filter = Some("ts = timestamp'2024-03-01 10:15:00'"))
    assert(h.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(h.inputFiles.length <
      IcebergReader.read(spark, t2).inputFiles.length)
    // transform/source-type gates refuse loudly
    val e1 = intercept[Exception](IcebergWriter.write(spark, df,
      Files.createTempDirectory("iwtfg1").toString, partitionBy = Seq("truncate(2, d)")))
    assert(e1.getMessage.contains("transform supports"))
    val e2 = intercept[Exception](IcebergWriter.write(spark, df,
      Files.createTempDirectory("iwtfg2").toString, partitionBy = Seq("hour(d)")))
    assert(e2.getMessage.contains("transform supports"))
    val e3 = intercept[Exception](IcebergWriter.write(spark, df,
      Files.createTempDirectory("iwtfg3").toString, partitionBy = Seq("year(name)")))
    assert(e3.getMessage.contains("transform supports"))
  }

  private def deleteDataFiles(t: String, dirPrefix: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && p.toString.contains(dirPrefix))
      .toSeq.foreach(java.nio.file.Files.delete)
  }

  test("identity-partitioned create + adopted append: round-trip, per-file pruning, spec gates") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwpart").toString
    def frame(rows: (Long, String, Int, String)*) =
      rows.toDF("id", "name", "p", "ds").withColumn("d", $"ds".cast("date")).drop("ds")
    IcebergWriter.write(spark, frame((1L, "a", 1, "2024-01-01"), (2L, "b", 2, "2024-02-01")),
      t, partitionBy = Seq("p", "d"))
    // append ADOPTS the table's spec without restating it (the Delta
    // writer's stance); data files keep every column, incl. the
    // partition sources
    IcebergWriter.write(spark, frame((3L, "c", 1, "2024-01-01")), t)
    val all = IcebergReader.read(spark, t).select("id", "p", "d")
      .as[(Long, Int, java.sql.Date)].collect().sortBy(_._1)
    assert(all.toSeq.map(r => (r._1, r._2, r._3.toString)) ==
      Seq((1L, 1, "2024-01-01"), (2L, 2, "2024-02-01"), (3L, 1, "2024-01-01")))
    // pruning observable the dangling-file way: p=2's data file is
    // DELETED, so a p=1 read can only answer if the manifest tuple
    // pruned the file before any IO touched it
    deleteDataFiles(t, "p=2")
    val pruned = IcebergReader.read(spark, t, filter = Some("p = 1"))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // …and the date leg of the tuple prunes on its own conjunct too
    assert(IcebergReader.read(spark, t, filter = Some("d = date'2024-01-01'"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    intercept[Exception](IcebergReader.read(spark, t).count())
    // a CHANGES read whose filter the manifest summaries exclude
    // entirely must keep its tag columns — the result schema cannot
    // vary with how much the filter pruned
    val firstSnap = {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
        .get("snapshots").elements().asScala.next().get("snapshot-id").asLong()
    }
    val ch = IcebergReader.readChangesSince(spark, t, firstSnap, filter = Some("p = 999"))
    assert(ch.columns.contains("_snapshot_id") && ch.count() == 0L)
    // explicit mismatching partitioning refuses — spec evolution stays
    // with the connector
    val e1 = intercept[Exception](IcebergWriter.write(spark,
      frame((9L, "z", 9, "2024-09-01")), t, partitionBy = Seq("p")))
    assert(e1.getMessage.contains("partitioning mismatch"))
    // non-round-trip partition types refuse up front
    val e2 = intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, 0.5)).toDF("id", "x"), Files.createTempDirectory("iwpt").toString,
      partitionBy = Seq("x")))
    assert(e2.getMessage.contains("transform supports"))
  }

  test("partition values with special characters and nulls round-trip the dir encoding") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwpenc").toString
    val vals = Seq("a b", "x=y", "a/b", "%41", null)
    IcebergWriter.write(spark,
      vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s"),
      t, partitionBy = Seq("s"))
    val got = IcebergReader.read(spark, t).select("s").as[String].collect().toSeq
    assert(got.toSet == vals.toSet)
    // the decoded tuple drives pruning: every other NON-NULL partition's
    // file is gone, so `s = 'x=y'` answers only if its manifest tuple
    // decoded back to the exact original text. The null partition's
    // file stays — its JSON tuple omits the key (to_json drops nulls),
    // so the reader keeps it fail-open by design and the residual
    // filter discards its rows
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
      .filter { p =>
        val dir = p.getParent.getFileName.toString
        p.toString.endsWith(".parquet") &&
          !dir.startsWith("s=x%3Dy") && !dir.startsWith("s=__HIVE_DEFAULT_PARTITION__")
      }.toSeq.foreach(java.nio.file.Files.delete)
    assert(IcebergReader.read(spark, t, filter = Some("s = 'x=y'"))
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("mergeSchema: additive evolution under fresh field ids; by-id nulls both directions; strict mode refuses") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwmerge").toString
    IcebergWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    val e = intercept[Exception](IcebergWriter.write(spark,
      Seq((2L, "b", 7)).toDF("id", "name", "score"), t))
    assert(e.getMessage.contains("mergeSchema"))
    IcebergWriter.write(spark, Seq((2L, "b", 7)).toDF("id", "name", "score"), t,
      mergeSchema = true)
    val df = IcebergReader.read(spark, t)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1).toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(7))))
    // a merged frame may omit a non-partition column — its files lack
    // that field id and the by-id read nulls it
    IcebergWriter.write(spark, Seq((3L, 9)).toDF("id", "score"), t, mergeSchema = true)
    val r3 = IcebergReader.read(spark, t).where("id = 3").collect().head
    assert(r3.isNullAt(r3.fieldIndex("name")) && r3.getInt(r3.fieldIndex("score")) == 9)
    // type changes refuse even merged
    val e2 = intercept[Exception](IcebergWriter.write(spark,
      Seq((4L, "oops")).toDF("id", "score"), t, mergeSchema = true))
    assert(e2.getMessage.contains("cannot change column types"))
    // the schema history is recorded: a new schema-id is current, the
    // creation schema object survives for its snapshots
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
    import scala.jdk.CollectionConverters._
    val ids = meta.get("schemas").elements().asScala.map(_.get("schema-id").asInt()).toSeq
    assert(ids == Seq(0, 1) && meta.get("current-schema-id").asInt() == 1)
    assert(meta.get("last-column-id").asInt() == 3)
    // time travel reads under the snapshot's OWN schema: the
    // pre-evolution snapshot has no `score` column at all
    val preEvolution = meta.get("snapshots").elements().asScala.toSeq.head
      .get("snapshot-id").asLong()
    val tt = IcebergReader.read(spark, t, snapshotId = Some(preEvolution))
    assert(tt.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(tt.count() == 1L)
    // compacting the evolved table must NOT lose the new column: the
    // group mixes pre- and post-evolution files, and a sampled parquet
    // schema would silently drop `score` from the rewrite
    assert(IcebergWriter.compact(spark, t) == 1)
    val after = IcebergReader.read(spark, t).collect().map(r => (r.getLong(0),
      if (r.isNullAt(1)) null else r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1).toSeq
    assert(after == Seq((1L, "a", None), (2L, "b", Some(7)), (3L, null, Some(9))))
  }

  test("manifest-list partition summaries skip whole manifests unread on written tables") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwsum").toString
    def manifests: Set[String] =
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$t/metadata")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith("-m0.avro")).toSet
    IcebergWriter.write(spark, Seq((1L, 1), (2L, 1)).toDF("id", "p"), t, partitionBy = Seq("p"))
    val before = manifests
    IcebergWriter.write(spark, Seq((3L, 2), (4L, 2)).toDF("id", "p"), t)
    // corrupt the p=2 append's manifest IN PLACE: a p=1 read can only
    // answer if the manifest LIST's summaries excluded it unread —
    // parsing the Avro is impossible
    val avro = java.nio.file.Paths.get(s"$t/metadata/${(manifests -- before).head}")
    java.nio.file.Files.write(avro, Array.fill[Byte](64)(0x5a))
    assert(IcebergReader.read(spark, t, filter = Some("p = 1"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    intercept[Exception](IcebergReader.read(spark, t).count())
  }

  test("written manifests carry per-file column bounds the reader's stats pruning uses") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwstats").toString
    def dataFiles: Set[java.nio.file.Path] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSet
    IcebergWriter.write(spark, (0L until 10L).map(i => (i, s"a$i")).toDF("id", "name"), t)
    val before = dataFiles
    IcebergWriter.write(spark, (100L until 110L).map(i => (i, s"b$i")).toDF("id", "name"), t)
    // dangling-file proof: the second append's files deleted — a
    // bounded read answers only if the manifest's id/name bounds
    // pruned them before any IO
    (dataFiles -- before).foreach(java.nio.file.Files.delete)
    assert(IcebergReader.read(spark, t, filter = Some("id < 50")).count() == 10L)
    assert(IcebergReader.read(spark, t, filter = Some("name < 'b'")).count() == 10L)
    intercept[Exception](IcebergReader.read(spark, t).count())
  }

  test("bounds pruning is literal-domain-guarded: a timestamp literal never mis-prunes a date column") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwdomain").toString
    def dataFiles: Set[java.nio.file.Path] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSet
    IcebergWriter.write(spark,
      Seq((1L, java.sql.Date.valueOf("2024-06-01"))).toDF("id", "d"), t)
    val before = dataFiles
    IcebergWriter.write(spark,
      Seq((2L, java.sql.Date.valueOf("2025-02-01"))).toDF("id", "d"), t)
    // days-vs-micros: the raw range test would see the date bounds
    // (~19875 days) far below the timestamp literal's micros and
    // wrongly exclude BOTH files; the domain guard fails open and the
    // residual filter answers exactly
    assert(IcebergReader.read(spark, t,
      filter = Some("d > TIMESTAMP '1970-01-05 00:00:00'")).count() == 2L)
    // prune PROOF both ways on the dangling 2025 file: the same-domain
    // DATE literal excludes it unread, while the mixed-domain filter
    // must keep it (fail open) and so must hit the missing file —
    // under the old bug it would have silently pruned to zero rows
    (dataFiles -- before).foreach(java.nio.file.Files.delete)
    assert(IcebergReader.read(spark, t,
      filter = Some("d < DATE '2024-12-31'")).count() == 1L)
    intercept[Exception](IcebergReader.read(spark, t,
      filter = Some("d > TIMESTAMP '1970-01-05 00:00:00'")).count())
  }

  test("timestamp column bounds prune written tables (epoch-micros domain)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwtsb").toString
    def dataFiles: Set[java.nio.file.Path] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSet
    def frame(ts: String*) = ts.zipWithIndex
      .map { case (s, i) => (i.toLong, java.sql.Timestamp.valueOf(s)) }.toDF("id", "ts")
    IcebergWriter.write(spark, frame("2024-01-01 00:00:00", "2024-01-02 00:00:00"), t)
    val before = dataFiles
    IcebergWriter.write(spark, frame("2024-06-01 00:00:00", "2024-06-02 00:00:00"), t)
    (dataFiles -- before).foreach(java.nio.file.Files.delete)
    assert(IcebergReader.read(spark, t,
      filter = Some("ts < TIMESTAMP '2024-03-01 00:00:00'")).count() == 2L)
    intercept[Exception](IcebergReader.read(spark, t).count())
  }

  test("bucket(N, col) partitioning: written tuples drive the reader's transform pruning") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwbucket").toString
    // ids 100..139 over 4 buckets; two appends so several files per bucket
    IcebergWriter.write(spark, (100L until 120L).map(i => (i, s"v$i")).toDF("id", "name"),
      t, partitionBy = Seq("bucket(4, id)"))
    IcebergWriter.write(spark, (120L until 140L).map(i => (i, s"v$i")).toDF("id", "name"), t)
    assert(IcebergReader.read(spark, t).count() == 40L)
    // the spec-pinned murmur3 decides which dirs exist
    val target = 107L
    val bucket = IcebergTransforms.bucketOf(target, 4).get
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(dirs.exists(_.startsWith("id_bucket=")))
    // dangling-file proof: every OTHER bucket's files deleted; an
    // `id = 107` read answers only if the stored bucket ordinal pruned
    // them before any IO
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !p.getParent.getFileName.toString.equals(s"id_bucket=$bucket"))
      .toSeq.foreach(java.nio.file.Files.delete)
    assert(IcebergReader.read(spark, t, filter = Some(s"id = $target"))
      .select("name").as[String].collect().toSeq == Seq(s"v$target"))
    intercept[Exception](IcebergReader.read(spark, t).count())
    // appends ADOPT the bucket spec; a mismatching token refuses
    val e = intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, "x")).toDF("id", "name"), t, partitionBy = Seq("bucket(8, id)")))
    assert(e.getMessage.contains("partitioning mismatch"))
  }

  test("replaceWhere overwrites exactly the matching partitions; gates refuse misuse") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwrw").toString
    IcebergWriter.write(spark, Seq((1L, 1), (2L, 2), (3L, 1)).toDF("id", "p"), t,
      partitionBy = Seq("p"))
    IcebergWriter.write(spark, Seq((9L, 1)).toDF("id", "p"), t,
      mode = "overwrite", replaceWhere = Some("p = 1"))
    assert(IcebergReader.read(spark, t).select("id", "p").as[(Long, Int)].collect().toSet ==
      Set((9L, 1), (2L, 2)))
    // the merged manifest still prunes: p=2's surviving file deleted on
    // disk, the p=1 read answers off its tuple alone
    deleteDataFiles(t, "p=2")
    assert(IcebergReader.read(spark, t, filter = Some("p = 1"))
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // incoming rows outside the replaced partitions refuse
    val e1 = intercept[Exception](IcebergWriter.write(spark, Seq((5L, 2)).toDF("id", "p"), t,
      mode = "overwrite", replaceWhere = Some("p = 1")))
    assert(e1.getMessage.contains("violate"))
    // data-column predicates refuse naming the connector's row rewrite
    val e2 = intercept[Exception](IcebergWriter.write(spark, Seq((5L, 1)).toDF("id", "p"), t,
      mode = "overwrite", replaceWhere = Some("id = 1")))
    assert(e2.getMessage.contains("partition columns only"))
    // an unpartitioned table has no partitions to scope
    val t2 = Files.createTempDirectory("iwrwu").toString
    IcebergWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t2)
    val e3 = intercept[Exception](IcebergWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t2,
      mode = "overwrite", replaceWhere = Some("id = 1")))
    assert(e3.getMessage.contains("partitioned table"))
  }

  test("mixed identity+bucket partitioning composes with evolution and replaceWhere") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwmixed").toString
    IcebergWriter.write(spark, Seq((1L, 1), (2L, 2)).toDF("id", "p"), t,
      partitionBy = Seq("p", "bucket(4, id)"))
    // evolution on the partitioned table: spec source-ids stay valid
    // (field ids are positions, and partition sources are table-prefix
    // fields)
    IcebergWriter.write(spark, Seq((3L, 1, "x")).toDF("id", "p", "tag"), t,
      mergeSchema = true)
    // replaceWhere scopes on the IDENTITY leg of the mixed spec
    IcebergWriter.write(spark, Seq((9L, 1, "y")).toDF("id", "p", "tag"), t,
      mode = "overwrite", replaceWhere = Some("p = 1"))
    val got = IcebergReader.read(spark, t).collect().map(r => (r.getLong(0), r.getInt(1),
      if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(got == Set((9L, 1, "y"), (2L, 2, null)))
    // the two-level dirs exist and the p leg still prunes: p=2's file
    // deleted, the p=1 read answers off the tuple
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
      .exists(p => p.toString.contains("p=1/id_bucket=")))
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("p=2"))
      .toSeq.foreach(java.nio.file.Files.delete)
    assert(IcebergReader.read(spark, t, filter = Some("p = 1"))
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // …and a bucket-source predicate cannot drive replaceWhere
    val e = intercept[Exception](IcebergWriter.write(spark,
      Seq((5L, 1, "z")).toDF("id", "p", "tag"), t,
      mode = "overwrite", replaceWhere = Some("id = 9")))
    assert(e.getMessage.contains("identity partition columns only"))
  }

  test("compact rewrites multi-file groups as a replace snapshot; expireSnapshots reclaims only unshared files") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwlife").toString
    IcebergWriter.write(spark, Seq((1L, 1), (2L, 2)).toDF("id", "p"), t, partitionBy = Seq("p")) // snap A
    IcebergWriter.write(spark, Seq((3L, 1)).toDF("id", "p"), t)                                  // snap B
    def filesIn(dir: String): Seq[java.nio.file.Path] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$t/data/$dir")).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    assert(filesIn("p=1").size == 2 && filesIn("p=2").size == 1)
    def snapIds: Seq[Long] = {
      val meta = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
      meta.get("snapshots").elements().asScala.map(_.get("snapshot-id").asLong()).toSeq
    }
    val Seq(snapA, snapB) = snapIds
    assert(IcebergWriter.compact(spark, t) == 1) // only p=1 had two files
    // content identical; the group is one file now (old files still on
    // disk — snap A/B's manifests reference them)
    assert(IcebergReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(filesIn("p=1").size == 3 && filesIn("p=1").count(_.toString.contains("compact-")) == 1)
    assert(IcebergReader.read(spark, t, snapshotId = Some(snapB)).count() == 3L)
    // a changes window that PRE-dates the compaction but not the adds:
    // the replace contributes nothing
    assert(IcebergReader.readChangesSince(spark, t, snapB).count() == 0L)
    // a crashed write's staging dir ages out with expiry; a fresh one
    // (a write possibly in flight) survives
    val oldStage = java.nio.file.Paths.get(s"$t/_staging_dead")
    val newStage = java.nio.file.Paths.get(s"$t/_staging_live")
    java.nio.file.Files.createDirectories(oldStage)
    java.nio.file.Files.createDirectories(newStage)
    java.nio.file.Files.setLastModifiedTime(oldStage,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
    assert(IcebergWriter.expireSnapshots(spark, t, keepLast = 1) == 2)
    assert(!java.nio.file.Files.exists(oldStage) && java.nio.file.Files.exists(newStage))
    assert(IcebergReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // expired time travel refuses; unshared files reclaimed (p=1's two
    // originals), shared ones kept (p=2's file rides snap A AND head)
    intercept[Exception](IcebergReader.read(spark, t, snapshotId = Some(snapA)).count())
    assert(filesIn("p=1").size == 1 && filesIn("p=2").size == 1)
    // compacting an already-compact table is a no-op
    assert(IcebergWriter.compact(spark, t) == 0)
  }

  test("streaming sink: partitionBy threads through to identity partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val t = Files.createTempDirectory("iwsinkpart").toString
    val ckpt = Files.createTempDirectory("iwsinkpartckpt").toString
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int)](spark)
    src.addData((1L, 1), (2L, 2))
    val q = src.toDF().toDF("id", "p").writeStream.format("graft-iceberg")
      .partitionBy("p").option("path", t).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    deleteDataFiles(t, "p=2")
    assert(IcebergReader.read(spark, t, filter = Some("p = 1"))
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("rollbackTo rewinds the lineage metadata-only; ancestry gates and changes windows hold") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("iwrollback").toString
    def curSnap(): Long = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
      .get("current-snapshot-id").asLong()
    IcebergWriter.write(spark, Seq((1L, "a")).toDF("id", "name").coalesce(1), t)
    val s1 = curSnap()
    IcebergWriter.write(spark, Seq((2L, "b")).toDF("id", "name").coalesce(1), t)
    val s2 = curSnap()
    IcebergWriter.write(spark, Seq((3L, "c")).toDF("id", "name").coalesce(1), t)
    val s3 = curSnap()
    IcebergWriter.rollbackTo(spark, t, s2)
    assert(IcebergReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // no snapshot was destroyed: the abandoned head still time-travels
    assert(IcebergReader.read(spark, t, snapshotId = Some(s3)).count() == 3L)
    // new writes build on the rolled-back lineage (parent = s2)
    IcebergWriter.write(spark, Seq((4L, "d")).toDF("id", "name").coalesce(1), t)
    assert(IcebergReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L))
    // s3 is now a dead branch: it is not an ancestor, so neither a
    // further rollback nor an incremental changes window may anchor on it
    val e = intercept[Exception](IcebergWriter.rollbackTo(spark, t, s3))
    assert(e.getMessage.contains("ancestor"))
    val e2 = intercept[Exception](IcebergReader.readChangesSince(spark, t, s3).count())
    assert(e2.getMessage.contains("ancestor"))
    // a changes window anchored BELOW the rollback point keeps serving
    assert(IcebergReader.readChangesSince(spark, t, s1)
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
    // an expired / unknown snapshot refuses by name
    val e3 = intercept[Exception](IcebergWriter.rollbackTo(spark, t, 424242L))
    assert(e3.getMessage.contains("not listed"))
    // rolling back to the current snapshot is a no-op (no new metadata version)
    val before = IcebergReader.currentMetadataPath(t, spark.sparkContext.hadoopConfiguration)
    IcebergWriter.rollbackTo(spark, t, curSnap())
    assert(IcebergReader.currentMetadataPath(t, spark.sparkContext.hadoopConfiguration) == before)
  }

  test("renameColumn/dropColumn: metadata-only by-field-id evolution; re-add never resurrects") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwrename").toString
    IcebergWriter.write(spark, Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "score"), t)
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(): Set[String] = {
      val fs = org.apache.hadoop.fs.FileSystem.get(conf)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(t), true)
      val b = Set.newBuilder[String]
      while (it.hasNext) { val p = it.next().getPath.toString
        if (p.endsWith(".parquet") && !p.contains("/metadata/")) b += p }
      b.result()
    }
    def meta() = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    val filesBefore = dataFiles()
    val preRenameSnap = meta().get("current-snapshot-id").asLong()

    // rename: OLD data files (old parquet column name, same field id) serve the NEW name
    IcebergWriter.renameColumn(spark, t, "name", "label")
    assert(dataFiles() == filesBefore) // metadata-only: zero data IO
    val r1 = IcebergReader.read(spark, t)
    assert(r1.schema.fieldNames.toSeq == Seq("id", "label", "score"))
    assert(r1.select("id", "label").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // appends under the renamed schema mix with pre-rename files
    IcebergWriter.write(spark, Seq((3L, "c", 30)).toDF("id", "label", "score"), t)
    assert(IcebergReader.read(spark, t).select("id", "label").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel serves the name that was current THEN
    val tt = IcebergReader.read(spark, t, snapshotId = Some(preRenameSnap))
    assert(tt.schema.fieldNames.toSeq == Seq("id", "name", "score"))

    // drop: the column disappears; bytes stay but no current-schema read projects them
    val filesPreDrop = dataFiles()
    IcebergWriter.dropColumn(spark, t, "score")
    assert(dataFiles() == filesPreDrop)
    assert(IcebergReader.read(spark, t).schema.fieldNames.toSeq == Seq("id", "label"))
    // re-add of the dropped NAME gets a FRESH id: old values can never resurrect
    IcebergWriter.write(spark, Seq((4L, "d", 99)).toDF("id", "label", "score"), t,
      mergeSchema = true)
    val m = meta()
    assert(m.get("last-column-id").asInt() == 4)
    val back = IcebergReader.read(spark, t).collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1).toSeq
    assert(back == Seq((1L, None), (2L, None), (3L, None), (4L, Some(99))))
    // schema history: creation(0) + rename(1) + drop(2) + re-add(3)
    assert(m.get("schemas").elements().asScala.map(_.get("schema-id").asInt()).toSeq ==
      Seq(0, 1, 2, 3) && m.get("current-schema-id").asInt() == 3)

    // refusals: collision, unknown column, last column, partition source
    assert(intercept[Exception](IcebergWriter.renameColumn(spark, t, "id", "label"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](IcebergWriter.dropColumn(spark, t, "nope"))
      .getMessage.contains("no top-level column"))
    val t1 = Files.createTempDirectory("iwone").toString
    IcebergWriter.write(spark, Seq(1L).toDF("id"), t1)
    assert(intercept[Exception](IcebergWriter.dropColumn(spark, t1, "id"))
      .getMessage.contains("only column"))
    val tp = Files.createTempDirectory("iwpart").toString
    IcebergWriter.write(spark, Seq((1L, "x")).toDF("id", "p"), tp,
      partitionBy = Seq("p"))
    assert(intercept[Exception](IcebergWriter.renameColumn(spark, tp, "p", "q"))
      .getMessage.contains("partition SOURCE"))
    assert(intercept[Exception](IcebergWriter.dropColumn(spark, tp, "p"))
      .getMessage.contains("partition SOURCE"))
  }

  test("rewrites after renameColumn resolve by field id — no silent nulls") {
    import spark.implicits._
    // every rewrite op scans existing files whose parquet columns keep
    // their PRE-RENAME names; a by-name read would null the renamed
    // column out of the rewrite (caught live by QuickStart §20)
    val t = Files.createTempDirectory("iwrenrw").toString
    IcebergWriter.write(spark,
      (0 until 100).map(i => (i.toLong, s"n$i")).toDF("id", "name").repartition(2), t)
    IcebergWriter.renameColumn(spark, t, "name", "label")
    def labels(): Seq[(Long, String)] = IcebergReader.read(spark, t)
      .select("id", "label").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(IcebergWriter.compact(spark, t) == 1)
    assert(labels() == (0 until 100).map(i => (i.toLong, s"n$i")))
    assert(IcebergWriter.deleteWhere(spark, t, "id < 10") == 10L)
    assert(labels() == (10 until 100).map(i => (i.toLong, s"n$i")))
    IcebergWriter.zorder(spark, t, Seq("id"), targetFileBytes = 1500)
    assert(labels() == (10 until 100).map(i => (i.toLong, s"n$i")))
    IcebergWriter.mergeClauses(spark, Seq((50L, "X")).toDF("id", "label"), t,
      on = Seq("id"), clauses = Seq(MergeClause.matchedUpdate(set = Map("label" -> "s.label"))))
    assert(labels() == (10 until 100).map(i =>
      (i.toLong, if (i == 50) "X" else s"n$i")))
  }

  test("zorder: clustered rewrite makes multi-column bound pruning real; one replace snapshot") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwz").toString
    // 2048 rows over a 32x32 grid, round-robined into 4 files so EVERY
    // file spans the full range of both columns — bounds cannot prune
    val rows = for { a <- 0 until 32; b <- 0 until 32; r <- 0 until 2 }
      yield (a, b, s"v-$a-$b-$r")
    IcebergWriter.write(spark, rows.toDF("a", "b", "v").repartition(4), t)
    val filter = "a >= 10 AND a <= 12 AND b >= 20 AND b <= 22"
    assert(IcebergReader.read(spark, t, filter = Some(filter)).inputFiles.length == 4)
    assert(IcebergWriter.zorder(spark, t, Seq("a", "b"), targetFileBytes = 2500) == 4)
    val all = IcebergReader.read(spark, t)
    val totalFiles = all.inputFiles.length
    assert(totalFiles > 4, s"expected a multi-file clustered layout, got $totalFiles")
    assert(all.count() == 2048L)
    assert(all.select("a", "b", "v").as[(Int, Int, String)].collect().sorted.toSeq ==
      rows.sorted)
    // the 3x3 box now lives in a few z-contiguous files: the manifests'
    // per-file lower/upper bounds prune on BOTH columns
    val post = IcebergReader.read(spark, t, filter = Some(filter))
    assert(post.select("a", "b").distinct().count() == 9L)
    assert(post.inputFiles.length * 2 <= totalFiles,
      s"expected at least half the $totalFiles files pruned, scanned ${post.inputFiles.length}")
    // ONE replace snapshot on top of the write
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
    import scala.jdk.CollectionConverters._
    val ops = meta.get("snapshots").elements().asScala.toSeq
      .map(_.get("summary").get("operation").asText())
    assert(ops == Seq("append", "replace"))
    // refusals: unknown column, partition source, delete-carrying table
    assert(intercept[Exception](IcebergWriter.zorder(spark, t, Seq("nope")))
      .getMessage.contains("no column"))
    val tp = Files.createTempDirectory("iwzp").toString
    IcebergWriter.write(spark, Seq((1L, 2L)).toDF("id", "p"), tp, partitionBy = Seq("p"))
    assert(intercept[Exception](IcebergWriter.zorder(spark, tp, Seq("p")))
      .getMessage.contains("partition SOURCE"))
    val td = Files.createTempDirectory("iwzd").toString
    IcebergWriter.write(spark, (0L until 50L).map(i => (i, s"n$i")).toDF("id", "name"), td)
    assert(IcebergWriter.deleteWhere(spark, td, "id = 3", mode = "merge-on-read") == 1L)
    assert(intercept[Exception](IcebergWriter.zorder(spark, td, Seq("id")))
      .getMessage.contains("materializeDeletes"))
  }

  test("refs: tags pin snapshots through writes and retention; tag reads use the snapshot's schema, branch refs the current one") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = Files.createTempDirectory("iwrefs").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def meta() = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    IcebergWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    val snap1 = meta().get("current-snapshot-id").asLong()
    IcebergWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t)
    IcebergWriter.tagSnapshot(spark, t, "baseline", Some(snap1))
    assert(IcebergReader.read(spark, t, ref = Some("baseline")).count() == 2L)
    // a TAG is immutable history: after a rename it still serves the
    // schema that was current AT the snapshot
    IcebergWriter.renameColumn(spark, t, "name", "label")
    assert(IcebergReader.read(spark, t, ref = Some("baseline"))
      .schema.fieldNames.toSeq == Seq("id", "name"))
    // refs ride through subsequent WRITES (the metadata template must
    // carry them — an unthreaded field would be silently dropped)
    IcebergWriter.write(spark, Seq((4L, "d")).toDF("id", "label"), t)
    assert(meta().get("refs").get("baseline").get("snapshot-id").asLong() == snap1)
    assert(IcebergReader.read(spark, t, ref = Some("baseline")).count() == 2L)
    // ref-pinned retention: keepLast=1 would expire snap1, but the tag
    // retains it (and its files stay readable)
    val expired1 = IcebergWriter.expireSnapshots(spark, t, keepLast = 1)
    assert(expired1 >= 1)
    assert(IcebergReader.read(spark, t, ref = Some("baseline"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a BRANCH ref (foreign writers create these) reads under the
    // table's CURRENT schema — the branch receives future writes
    val mPath = IcebergReader.currentMetadataPath(t, conf)
    val mNode = meta().deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val bRef = mNode.withObject("/refs").putObject("dev")
    bRef.put("snapshot-id", snap1)
    bRef.put("type", "branch")
    val v = mPath.split("/").last.stripPrefix("v").stripSuffix(".metadata.json").toLong + 1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "metadata", s"v$v.metadata.json"), mNode.toString)
    val branch = IcebergReader.read(spark, t, ref = Some("dev"))
    assert(branch.schema.fieldNames.toSeq == Seq("id", "label")) // current schema
    assert(branch.select("id", "label").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"))) // old files resolve the rename by field id
    // removeRef releases the pin: the next expire reclaims the snapshot
    IcebergWriter.removeRef(spark, t, "baseline")
    IcebergWriter.removeRef(spark, t, "dev")
    assert(IcebergWriter.expireSnapshots(spark, t, keepLast = 1) >= 1)
    assert(intercept[Exception](IcebergReader.read(spark, t, ref = Some("baseline")))
      .getMessage.contains("no ref"))
    // refusals: duplicate tag, unknown snapshot, unknown ref, both selectors
    IcebergWriter.tagSnapshot(spark, t, "head")
    assert(intercept[Exception](IcebergWriter.tagSnapshot(spark, t, "head"))
      .getMessage.contains("already exists"))
    assert(intercept[Exception](IcebergWriter.tagSnapshot(spark, t, "x", Some(12345L)))
      .getMessage.contains("not listed"))
    assert(intercept[Exception](IcebergWriter.removeRef(spark, t, "nope"))
      .getMessage.contains("no ref"))
    assert(intercept[Exception](IcebergReader.read(spark, t,
        snapshotId = Some(snap1), ref = Some("head")))
      .getMessage.contains("not both"))
  }

  test("write-to-branch: commits advance the branch ref only; fastForward publishes to main; streams keep flowing") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwbr").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def meta() = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    IcebergWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    val mainHead = meta().get("current-snapshot-id").asLong()
    // branch must exist first; tags refuse writes
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((3L, "c")).toDF("id", "name"), t, toBranch = Some("audit")))
      .getMessage.contains("createBranch first"))
    IcebergWriter.tagSnapshot(spark, t, "pinned")
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((3L, "c")).toDF("id", "name"), t, toBranch = Some("pinned")))
      .getMessage.contains("tags are immutable"))
    IcebergWriter.createBranch(spark, t, "audit")
    assert(intercept[Exception](IcebergWriter.createBranch(spark, t, "audit"))
      .getMessage.contains("already exists"))
    // two branch appends: branch sees 4 rows, main still 2, and main's
    // head + snapshot-log never moved
    IcebergWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t, toBranch = Some("audit"))
    IcebergWriter.write(spark, Seq((4L, "d")).toDF("id", "name"), t, toBranch = Some("audit"))
    assert(IcebergReader.read(spark, t).count() == 2L)
    assert(IcebergReader.read(spark, t, ref = Some("audit"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(meta().get("current-snapshot-id").asLong() == mainHead)
    import scala.jdk.CollectionConverters._
    assert(meta().get("snapshot-log").elements().asScala.size == 1)
    // branch lineage: audit head's parent chain reaches main's head
    val auditHead = meta().get("refs").get("audit").get("snapshot-id").asLong()
    val parents = meta().get("snapshots").elements().asScala
      .map(s => s.get("snapshot-id").asLong() ->
        Option(s.get("parent-snapshot-id")).map(_.asLong())).toMap
    assert(parents(auditHead).flatMap(p => parents(p)) == Some(mainHead))
    // an incremental main stream is running; fastForward publishes the
    // branch and the stream serves exactly the published rows
    val since = meta().get("current-snapshot-id").asLong()
    val newMain = IcebergWriter.fastForward(spark, t, "audit")
    assert(newMain == auditHead)
    assert(IcebergReader.read(spark, t).count() == 4L)
    val changes = IcebergReader.readChangesSince(spark, t, since)
    assert(changes.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // a diverged branch refuses the fast-forward: main moved past the
    // branch point by its own append
    IcebergWriter.createBranch(spark, t, "stale", Some(mainHead))
    IcebergWriter.write(spark, Seq((9L, "z")).toDF("id", "name"), t, toBranch = Some("stale"))
    assert(intercept[Exception](IcebergWriter.fastForward(spark, t, "stale"))
      .getMessage.contains("diverged"))
    assert(intercept[Exception](IcebergWriter.fastForward(spark, t, "pinned"))
      .getMessage.contains("not a branch"))
    // overwrite-to-branch replaces the BRANCH's live set only
    IcebergWriter.write(spark, Seq((7L, "w")).toDF("id", "name"), t,
      mode = "overwrite", toBranch = Some("stale"))
    assert(IcebergReader.read(spark, t, ref = Some("stale"))
      .select("id").as[Long].collect().toSeq == Seq(7L))
    assert(IcebergReader.read(spark, t).count() == 4L)
    // guards: replaceWhere and mergeSchema refuse branch targets;
    // branch writes on a missing table refuse
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((8L, "y")).toDF("id", "name"), t, mode = "overwrite",
      replaceWhere = Some("id = 7"), toBranch = Some("stale")))
      .getMessage.contains("replaceWhere cannot target a branch"))
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((8L, "y", 1)).toDF("id", "name", "extra"), t,
      mergeSchema = true, toBranch = Some("stale")))
      .getMessage.contains("mergeSchema on a branch write"))
    val t2 = Files.createTempDirectory("iwbr2").toString + "/nope"
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, "a")).toDF("id", "name"), t2, toBranch = Some("b")))
      .getMessage.contains("needs an existing table"))
  }

  test("notNull: required columns declared at create, gated in the staging scan on appends and rewrites") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwnn").toString
    IcebergWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t,
      notNull = Seq("id"))
    // the declaration landed as spec required-ness
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    import scala.jdk.CollectionConverters._
    val fields = meta.get("schemas").elements().asScala.next()
      .get("fields").elements().asScala.toSeq
    assert(fields.find(_.get("name").asText() == "id").get.get("required").asBoolean())
    assert(!fields.find(_.get("name").asText() == "name").get.get("required").asBoolean())
    // appends gate in the staging scan; nothing commits on violation
    val e = intercept[Exception](IcebergWriter.write(spark,
      Seq((Option.empty[Long], "c")).toDF("id", "name"), t))
    assert(e.getMessage.contains("id NOT NULL"))
    assert(IcebergReader.read(spark, t).count() == 2L)
    // nullable column still takes nulls; required-ness survives appends
    IcebergWriter.write(spark, Seq((3L, Option.empty[String])).toDF("id", "name"), t)
    assert(IcebergReader.read(spark, t).count() == 3L)
    val meta2 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    assert(meta2.get("schemas").elements().asScala.next()
      .get("fields").elements().asScala
      .find(_.get("name").asText() == "id").get.get("required").asBoolean())
    // a mergeSchema frame omitting the required column refuses up front
    val e2 = intercept[Exception](IcebergWriter.write(spark,
      Seq(Tuple1("x")).toDF("name"), t, mergeSchema = true))
    assert(e2.getMessage.contains("required (NOT NULL) column"))
    // rewrites gate too: a merge post-image nulling id refuses
    val e3 = intercept[Exception](IcebergWriter.mergeClauses(spark,
      Seq(("b", Option.empty[Long])).toDF("name", "nid"), t, on = Seq("name"),
      clauses = Seq(MergeClause.matchedUpdate(set = Map("id" -> "s.nid")))))
    assert(e3.getMessage.contains("id NOT NULL"))
    assert(IcebergReader.read(spark, t).where("name = 'b'").select("id")
      .as[Long].collect().toSeq == Seq(2L))
    // declaring on an existing table refuses; unknown column refuses
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((4L, "d")).toDF("id", "name"), t, notNull = Seq("id")))
      .getMessage.contains("CREATE only"))
    val t2 = Files.createTempDirectory("iwnn2").toString
    assert(intercept[Exception](IcebergWriter.write(spark,
      Seq((1L, "a")).toDF("id", "name"), t2, notNull = Seq("nope")))
      .getMessage.contains("not in the frame"))
  }

  test("compact where + bin-packing: scoped identity partitions compact toward targetFileBytes") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwoptw").toString
    (0 until 4).foreach { i =>
      IcebergWriter.write(spark,
        ((0 until 100).map(j => ((i * 1000 + j).toLong, s"r$j", 1)) ++
         (0 until 100).map(j => ((i * 1000 + j).toLong, s"r$j", 2)))
          .toDF("id", "name", "p").coalesce(1),
        t, partitionBy = Seq("p"))
    }
    def filesOf(p: Int) = IcebergReader.read(spark, t,
      filter = Some(s"p = $p")).inputFiles.length
    assert(filesOf(1) == 4 && filesOf(2) == 4)
    // where scopes: p=1 compacts into one bin, p=2 untouched
    assert(IcebergWriter.compact(spark, t, where = Some("p = 1")) == 1)
    assert(filesOf(1) == 1 && filesOf(2) == 4)
    assert(IcebergReader.read(spark, t).count() == 800L)
    // a tiny target yields multiple bins instead of one giant file
    val szs = IcebergReader.read(spark, t, filter = Some("p = 2")).inputFiles
      .map(u => java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(u)))).toSeq
    val target = szs.sorted.take(2).sum
    assert(IcebergWriter.compact(spark, t, where = Some("p = 2"),
      targetFileBytes = target) >= 1)
    val after = filesOf(2)
    assert(after > 1 && after < 4, s"expected partial coalesce, got $after")
    assert(IcebergReader.read(spark, t).count() == 800L)
    // data-column predicates refuse
    assert(intercept[Exception](IcebergWriter.compact(spark, t, where = Some("id = 1")))
      .getMessage.contains("identity partition columns only"))
  }

  test("removeOrphanFiles: crash leftovers in data/ reclaim past the age floor; referenced files survive") {
    import spark.implicits._
    val t = Files.createTempDirectory("iworph").toString
    IcebergWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    IcebergWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t)
    // a crash leftover: a parquet renamed into data/ whose commit died
    val orphan = java.nio.file.Paths.get(t, "data", "part-dead-00000.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    // inside the age floor: protected (could be an in-flight commit)
    assert(IcebergWriter.removeOrphanFiles(spark, t).isEmpty)
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 4L * 24 * 3600 * 1000))
    // dryRun lists without deleting; the real run reclaims exactly it
    val dry = IcebergWriter.removeOrphanFiles(spark, t, dryRun = true)
    assert(dry.size == 1 && dry.head.endsWith("part-dead-00000.parquet"))
    assert(java.nio.file.Files.exists(orphan))
    val gone = IcebergWriter.removeOrphanFiles(spark, t)
    assert(gone.size == 1 && !java.nio.file.Files.exists(orphan))
    // every snapshot's files survive — time travel included
    assert(IcebergReader.read(spark, t).count() == 3L)
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf))
    import scala.jdk.CollectionConverters._
    val first = meta.get("snapshots").elements().asScala.next().get("snapshot-id").asLong()
    assert(IcebergReader.read(spark, t, snapshotId = Some(first)).count() == 2L)
  }

  test("setProperties: metadata-only, survives writes verbatim; graft.* guarded") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwprops").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def props() = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, conf)).get("properties")
    IcebergWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    IcebergWriter.setProperties(spark, t,
      Map("write.target-file-size-bytes" -> "134217728", "owner" -> "etl"))
    assert(props().get("write.target-file-size-bytes").asText() == "134217728")
    // the next append's regenerated metadata THREADS them (an
    // unthreaded field would be silently dropped, the refs lesson)
    IcebergWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t)
    assert(props().get("owner").asText() == "etl")
    assert(props().get("graft.writer").asText() == "true")
    IcebergWriter.removeProperties(spark, t, Seq("owner"))
    assert(props().get("owner") == null)
    assert(intercept[Exception](IcebergWriter.setProperties(spark, t,
      Map("graft.writer" -> "false"))).getMessage.contains("ownership"))
    assert(intercept[Exception](IcebergWriter.removeProperties(spark, t,
      Seq("graft.writer"))).getMessage.contains("ownership"))
  }

  test("cloneTable: zero-copy metadata fork; root-guarded retention; maintenance respects clone roots") {
    import spark.implicits._
    val src = Files.createTempDirectory("iwclsrc").toString
    val dst = Files.createTempDirectory("iwcldst").toString + "/t"
    IcebergWriter.write(spark,
      (0 until 100).map(i => (i.toLong, i % 2, s"n$i")).toDF("id", "p", "name"), src,
      partitionBy = Seq("p"))
    IcebergWriter.write(spark, Seq((100L, 0, "x")).toDF("id", "p", "name"), src)
    val srcFiles = IcebergReader.read(spark, src).inputFiles.toSet
    assert(IcebergWriter.cloneTable(spark, src, dst) == srcFiles.size)
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(dst)).toArray
      .exists(_.toString.endsWith(".parquet")))
    val back = IcebergReader.read(spark, dst)
    assert(back.count() == 101L && back.inputFiles.toSet == srcFiles)
    // pruning and snapshot history carry verbatim
    assert(IcebergReader.read(spark, dst, filter = Some("p = 1")).count() == 50L)
    assert(IcebergReader.metadataTable(spark, dst, "snapshots").count() == 2L)
    // compact SKIPS zero-copy groups; zorder refuses naming the clone
    assert(IcebergWriter.compact(spark, dst) == 0)
    assert(intercept[Exception](IcebergWriter.zorder(spark, dst, Seq("id")))
      .getMessage.contains("shallow clone"))
    // a row-level rewrite stages under the CLONE's root; source untouched
    assert(IcebergWriter.deleteWhere(spark, dst, "id < 10") == 10L)
    assert(IcebergReader.read(spark, dst).count() == 91L)
    assert(IcebergReader.read(spark, src).count() == 101L)
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dst)).toArray
      .exists(_.toString.endsWith(".parquet"))) // the rewritten survivors
    // expire on the clone is ROOT-GUARDED: shared files it no longer
    // references survive for the source
    assert(IcebergWriter.expireSnapshots(spark, dst, keepLast = 1) >= 1)
    assert(IcebergReader.read(spark, src).count() == 101L)
    assert(IcebergReader.read(spark, dst).count() == 91L)
    assert(intercept[Exception](IcebergWriter.cloneTable(spark, src, dst))
      .getMessage.contains("already an iceberg table"))
  }

  test("metadataTable: history/snapshots/refs/manifests/files/partitions inspection surface") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwmeta").toString
    IcebergWriter.write(spark, Seq((1L, 0, "a"), (2L, 1, "b")).toDF("id", "p", "name"), t,
      partitionBy = Seq("p"))
    val snap1 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(IcebergReader.metadataText(t, spark.sparkContext.hadoopConfiguration))
      .get("current-snapshot-id").asLong()
    IcebergWriter.write(spark, Seq((3L, 0, "c")).toDF("id", "p", "name"), t)
    IcebergWriter.tagSnapshot(spark, t, "base", Some(snap1))

    val snapsT = IcebergReader.metadataTable(spark, t, "snapshots")
    assert(snapsT.count() == 2L)
    assert(snapsT.select("operation").as[String].collect().toSet == Set("append"))
    val hist = IcebergReader.metadataTable(spark, t, "history")
      .select("snapshot_id", "is_current_ancestor").as[(Long, Boolean)].collect()
    assert(hist.length == 2 && hist.forall(_._2))
    val refsT = IcebergReader.metadataTable(spark, t, "refs")
      .as[(String, String, Long)].collect().toSeq
    assert(refsT == Seq(("base", "tag", snap1)))
    assert(IcebergReader.metadataTable(spark, t, "manifests")
      .select("content").as[Int].collect().forall(_ == 0))
    val files = IcebergReader.metadataTable(spark, t, "files")
    assert(files.count() == IcebergReader.read(spark, t).inputFiles.length.toLong)
    assert(files.selectExpr("sum(record_count)").as[Long].collect().head == 3L)
    val parts = IcebergReader.metadataTable(spark, t, "partitions")
      .orderBy("partition").collect()
    assert(parts.length == 2)
    assert(parts.map(_.getLong(2)).sum == 3L) // record_count over both tuples
    // a rolled-back head shows is_current_ancestor=false for the
    // abandoned snapshot (iceberg's history-table shape)
    IcebergWriter.rollbackTo(spark, t, snap1)
    val hist2 = IcebergReader.metadataTable(spark, t, "history")
      .select("snapshot_id", "is_current_ancestor").as[(Long, Boolean)].collect().toSeq
    assert(hist2.count(_._1 == snap1) == 2 && hist2.filter(_._1 == snap1).forall(_._2))
    assert(hist2.filter(_._1 != snap1).forall(!_._2))
    // a merge-on-read delete (on the rolled-back head) surfaces its
    // delete file as content=1
    IcebergWriter.deleteWhere(spark, t, "id = 1", mode = "merge-on-read")
    val contents = IcebergReader.metadataTable(spark, t, "files")
      .select("content").as[Int].collect().toSeq
    assert(contents.count(_ == 0) >= 2 && contents.count(_ > 0) == 1)
    assert(intercept[Exception](IcebergReader.metadataTable(spark, t, "nope"))
      .getMessage.contains("unknown kind"))
    // the catalog route reaches the same surfaces via DataRef options
    assert(new IcebergReaderImpl().read(spark, graft.datatypes.DataRef("iceberg", t,
      Map("metadataTable" -> "snapshots"))).count() == 3L) // +1 from the MoR delete
    assert(new IcebergReaderImpl().read(spark, graft.datatypes.DataRef("iceberg", t,
      Map("ref" -> "base"))).count() == 2L)
  }

  test("zorder: identity-partitioned tables cluster within each partition dir") {
    import spark.implicits._
    val t = Files.createTempDirectory("iwzpart").toString
    IcebergWriter.write(spark,
      (0 until 400).map(i => (i.toLong, i % 2, s"n$i")).toDF("id", "p", "name")
        .repartition(3), t,
      partitionBy = Seq("p"))
    IcebergWriter.zorder(spark, t, Seq("id"), targetFileBytes = 2000)
    val after = IcebergReader.read(spark, t)
    assert(after.count() == 400L)
    assert(after.select("id").as[Long].collect().sorted.toSeq == (0L until 400L))
    val p0Files = IcebergReader.read(spark, t, filter = Some("p = 0")).inputFiles.length
    assert(p0Files > 1, s"expected the p=0 dir to hold multiple clustered files, got $p0Files")
    val pruned = IcebergReader.read(spark, t, filter = Some("p = 0 AND id < 50"))
    assert(pruned.select("id").as[Long].collect().toSet ==
      (0L until 50L).filter(_ % 2 == 0).toSet)
    assert(pruned.inputFiles.length < p0Files)
  }
}
