package graft.readers

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.streaming.Trigger

/** Native Delta writer + streaming sink: create/append/overwrite
  * round-trip through the native reader (and its pruning), schema and
  * partitioning gates, optimistic commit retries, txn idempotence, and
  * the full no-connector E2E loop — fake Kafka broker → graft-kafka
  * stream → graft-delta sink → native read + graft-delta stream.
  */
class DeltaWriterSpec extends SparkSpec {

  test("create + append + overwrite round-trip through the native reader") {
    import spark.implicits._
    val t = Files.createTempDirectory("dw").toString
    DeltaWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name"), t)
    assert(DeltaReader.read(spark, t).count() == 2L)
    DeltaWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t)
    val got = DeltaReader.read(spark, t).select("id", "name")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // version history: time travel still sees the first write alone
    assert(DeltaReader.read(spark, t, versionAsOf = Some(0L)).count() == 2L)
    DeltaWriter.write(spark, Seq((9L, "z")).toDF("id", "name"), t, mode = "overwrite")
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().toSeq == Seq(9L))
    // errorifexists refuses the existing table
    val e = intercept[Exception](DeltaWriter.write(spark,
      Seq((1L, "x")).toDF("id", "name"), t, mode = "errorifexists"))
    assert(e.getMessage.contains("already exists"))
  }

  test("partitioned writes carry partitionValues; reads prune by partition AND by stats") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwpart").toString
    val df = Seq((1L, "a", 7), (2L, "b", 7), (3L, "c", 8), (4L, "d", 8))
      .toDF("id", "name", "p").repartition(2, org.apache.spark.sql.functions.col("p"))
    DeltaWriter.write(spark, df, t, partitionBy = Seq("p"))
    val all = DeltaReader.read(spark, t)
    assert(all.count() == 4L)
    // partition pruning: only p=7's file(s) open
    val p7 = DeltaReader.read(spark, t, filter = Some("p = 7"))
    assert(p7.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(p7.inputFiles.length < all.inputFiles.length,
      s"partition filter must prune files: ${p7.inputFiles.length} vs ${all.inputFiles.length}")
    // stats pruning: the writer's footer min/max excludes files whose
    // id range cannot match
    val hi = DeltaReader.read(spark, t, filter = Some("id >= 3"))
    assert(hi.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    assert(hi.inputFiles.length < all.inputFiles.length,
      s"stats filter must prune files: ${hi.inputFiles.length} vs ${all.inputFiles.length}")
    // appends must keep the table's partitioning
    val e = intercept[Exception](DeltaWriter.write(spark,
      Seq((5L, "e", 9)).toDF("id", "name", "p"), t, partitionBy = Seq("name")))
    assert(e.getMessage.contains("partitioning mismatch"))
  }

  test("special-character and null partition values round-trip the log encoding") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwenc").toString
    // 'a b' exercises URI encoding in add.path; 'x%y' exercises the
    // double-encoding trap (Spark escapes % on disk, the log encodes
    // the DISK name again); null becomes __HIVE_DEFAULT_PARTITION__
    val df = Seq((1L, "a b"), (2L, "x%y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "p")
    DeltaWriter.write(spark, df, t, partitionBy = Seq("p"))
    val back = DeltaReader.read(spark, t).select("id", "p")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "a b"), (2L, "x%y"), (3L, null)))
    // partition pruning still evaluates the decoded values exactly
    val one = DeltaReader.read(spark, t, filter = Some("p = 'x%y'"))
    assert(one.select("id").as[Long].collect().toSeq == Seq(2L))
    assert(one.inputFiles.length == 1)
  }

  test("schema drift refuses; the commit race retries to the next version") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwrace").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    val e = intercept[Exception](DeltaWriter.write(spark,
      Seq((1, "x")).toDF("id", "name"), t)) // id int, not long
    assert(e.getMessage.contains("schema mismatch"))
    // a rival writer takes version 1 — the commit loop must land at 2
    val log = java.nio.file.Paths.get(t, "_delta_log")
    Files.writeString(log.resolve(f"${1L}%020d.json"),
      """{"commitInfo":{"timestamp":1,"operation":"RIVAL"}}""" + "\n")
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t)
    assert(Files.exists(log.resolve(f"${2L}%020d.json")))
    assert(DeltaReader.read(spark, t).count() == 2L)
  }

  test("a rival schema replacement landing mid-write refuses at commit instead of publishing stale adds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val t = Files.createTempDirectory("dwrivalschema").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t) // v0: (id long, name string)
    // the rival's overwriteSchema-style commit (id retyped to int)
    // lands as soon as the victim finishes its up-front validation and
    // starts staging — the staging dir is the observable boundary
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val retyped = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))).json
    val rival = s"""{"metaData":{"id":"r1","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${mapper.writeValueAsString(retyped)},"partitionColumns":[],""" +
      s""""configuration":{},"createdTime":1}}""" + "\n" +
      """{"commitInfo":{"timestamp":1,"operation":"RIVAL.OverwriteSchema"}}"""
    val log = java.nio.file.Paths.get(t, "_delta_log")
    @volatile var landed = false
    val watcher = new Thread(() => {
      val dir = java.nio.file.Paths.get(t)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!landed && System.nanoTime() < deadline) {
        val ls = Files.list(dir)
        val staging = try ls.toArray.exists(_.toString.contains("_staging_")) finally ls.close()
        if (staging) {
          Files.writeString(log.resolve(f"${1L}%020d.json"), rival + "\n")
          landed = true
        } else Thread.sleep(1)
      }
    })
    watcher.start()
    // slow the staging job enough that the watcher always wins the race
    val slow = udf((s: String) => { Thread.sleep(500); s })
    val df = Seq((2L, "b")).toDF("id", "name").withColumn("name", slow(col("name")))
    val e = intercept[Exception](DeltaWriter.write(spark, df, t))
    watcher.join()
    assert(landed, "test harness: the rival commit never landed")
    assert(e.getMessage.contains("changed under this write"))
    // the victim's adds must NOT have published at version 2
    assert(!Files.exists(log.resolve(f"${2L}%020d.json")))
  }

  test("txn versions make writes idempotent; lastTxnVersion tracks per app id") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwtxn").toString
    assert(DeltaWriter.lastTxnVersion(spark, t, "job-1") == -1L)
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t, txn = Some("job-1" -> 0L))
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t, txn = Some("job-1" -> 1L))
    DeltaWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t, txn = Some("job-2" -> 5L))
    assert(DeltaWriter.lastTxnVersion(spark, t, "job-1") == 1L)
    assert(DeltaWriter.lastTxnVersion(spark, t, "job-2") == 5L)
  }

  test("compact rewrites multi-file partitions as dataChange=false; streams emit nothing for it") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwcompact").toString
    DeltaWriter.write(spark, Seq((1L, "a", 7)).toDF("id", "name", "p"), t, partitionBy = Seq("p"))
    DeltaWriter.write(spark, Seq((2L, "b", 7)).toDF("id", "name", "p"), t)
    DeltaWriter.write(spark, Seq((3L, "c", 8)).toDF("id", "name", "p"), t)
    // tail the table WHILE compacting: the rearrangement must emit
    // nothing (its adds carry rows the stream already delivered)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("memory").queryName("dw_compact_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dw_compact_tail").count() == 3L)
      assert(DeltaWriter.compact(spark, t) == 2) // p=7's two files merged; p=8 untouched
      q.processAllAvailable()
      assert(spark.table("dw_compact_tail").count() == 3L) // no duplicates, no failure
    } finally q.stop()
    // rows identical, one file per partition, still prunable
    val all = DeltaReader.read(spark, t)
    assert(all.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(all.inputFiles.length == 2)
    assert(DeltaReader.read(spark, t, filter = Some("p = 8")).inputFiles.length == 1)
    // nothing left to compact
    assert(DeltaWriter.compact(spark, t) == 0)
  }

  test("replaceWhere overwrites exactly the matching partitions; gates refuse misuse") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwrw").toString
    DeltaWriter.write(spark,
      Seq((1L, "a", 7), (2L, "b", 8), (3L, "c", 9)).toDF("id", "name", "p"),
      t, partitionBy = Seq("p"))
    // replace p=8 only
    DeltaWriter.write(spark, Seq((20L, "B", 8)).toDF("id", "name", "p"),
      t, mode = "overwrite", replaceWhere = Some("p = 8"))
    val got = DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L, 20L)) // p=7 and p=9 untouched
    // incoming rows outside the predicate refuse
    val e1 = intercept[Exception](DeltaWriter.write(spark,
      Seq((9L, "x", 9)).toDF("id", "name", "p"),
      t, mode = "overwrite", replaceWhere = Some("p = 8")))
    assert(e1.getMessage.contains("violate replaceWhere"))
    // data-column predicates refuse (no row rewrite in this writer)
    val e2 = intercept[Exception](DeltaWriter.write(spark,
      Seq((9L, "x", 8)).toDF("id", "name", "p"),
      t, mode = "overwrite", replaceWhere = Some("name = 'a'")))
    assert(e2.getMessage.contains("partition columns only"))
  }

  test("vacuum deletes only unreferenced files past retention; live data survives") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwvac").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t, mode = "overwrite")
    // the v0 file is tombstoned but still on disk: time travel works...
    assert(DeltaReader.read(spark, t, versionAsOf = Some(0L)).count() == 1L)
    // retention floor: a short retention refuses without force
    val e = intercept[Exception](DeltaWriter.vacuum(spark, t, retentionMs = 0L))
    assert(e.getMessage.contains("force"))
    val listed = DeltaWriter.vacuum(spark, t, retentionMs = 0L, force = true, dryRun = true)
    assert(listed.size == 1, listed.toString)
    val deleted = DeltaWriter.vacuum(spark, t, retentionMs = 0L, force = true)
    assert(deleted == listed)
    // the live version still reads; the vacuumed version no longer can
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().toSeq == Seq(2L))
    intercept[Exception](DeltaReader.read(spark, t, versionAsOf = Some(0L)).count())
    // idempotent: nothing left to delete
    assert(DeltaWriter.vacuum(spark, t, retentionMs = 0L, force = true).isEmpty)
  }

  test("checkpoint lets the aged-out log replay from the parquet state; stats survive the round-trip") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwcp").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t)
    DeltaWriter.write(spark, Seq((3L, "c")).toDF("id", "name"), t)
    assert(DeltaWriter.checkpoint(spark, t) == 2L)
    // age out EVERY commit json at or below the checkpoint: replay can
    // only come from the checkpoint parquet now
    val log = java.nio.file.Paths.get(t, "_delta_log")
    (0L to 2L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
    // fresh session: the suite session's snapshot cache must not mask
    // a broken checkpoint path
    val s2 = spark.newSession()
    val got = DeltaReader.read(s2, t).select("id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
    // the add actions round-tripped VERBATIM: footer stats still prune
    val hi = DeltaReader.read(s2, t, filter = Some("id >= 3"))
    assert(hi.inputFiles.length == 1, hi.inputFiles.toSeq.toString)
    // commits after the checkpoint chain on top of it
    DeltaWriter.write(spark, Seq((4L, "d")).toDF("id", "name"), t)
    assert(DeltaReader.read(s2, t).count() == 4L)
    // txn actions PERSIST through checkpoint + cleanup: the sink's
    // exactly-once probe must not forget committed batch ids
    DeltaWriter.write(spark, Seq((5L, "e")).toDF("id", "name"), t, txn = Some("sinkapp" -> 7L))
    DeltaWriter.checkpoint(spark, t)
    (3L to 4L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
    assert(DeltaWriter.lastTxnVersion(spark, t, "sinkapp") == 7L)
    assert(DeltaReader.read(spark, t).count() == 5L)
  }

  test("streaming sink: exactly-once appends; a replayed batch id commits nothing") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwsink").toString
    val ckpt = Files.createTempDirectory("dwsinkckpt").toString
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    src.addData((1L, "a"), (2L, "b"))
    val q = src.toDF().toDF("id", "name").writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(DeltaReader.read(spark, t).count() == 2L)
    // restart with MORE data: only the new batch lands; the committed
    // txn version skips any replayed batch id
    src.addData((3L, "c"))
    val q2 = src.toDF().toDF("id", "name").writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val ids = DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
    // a manual replay of an old batch id is a no-op commit
    val before = DeltaReader.currentVersion(spark, t)
    val sink = new DeltaStreamSink(spark, t, Nil,
      org.apache.spark.sql.streaming.OutputMode.Append(), ckpt)
    sink.addBatch(0L, Seq((99L, "dup")).toDF("id", "name"))
    assert(DeltaReader.currentVersion(spark, t) == before)
    assert(DeltaReader.read(spark, t).count() == 3L)
  }

  test("no-connector E2E: fake Kafka -> graft-kafka stream -> graft-delta sink -> native reads") {
    import KafkaFake._
    import spark.implicits._
    val k = (s: String) => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val broker = new FakeBroker("events", Map(
      0 -> Seq((0L, 2L, encodeBatch(0L, 1000L, Seq(
        (k("k0"), k("v0"), Nil), (k("k1"), k("v1"), Nil), (k("k2"), k("v2"), Nil)))))))
    val t = Files.createTempDirectory("dwe2e").toString
    val ckpt = Files.createTempDirectory("dwe2eckpt").toString
    try {
      def runPipe(): Unit = {
        val q = spark.readStream.format("graft-kafka")
          .option("url", s"kafka://127.0.0.1:${broker.port}/events").load()
          .selectExpr("offset AS id", "cast(value as string) AS name")
          .writeStream.format("graft-delta")
          .option("path", t).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runPipe()
      assert(DeltaReader.read(spark, t).count() == 3L)
      // tail the RESULT table with the graft-delta stream while more
      // records land in Kafka and flow through the pipe
      val downstream = spark.readStream.format("graft-delta").load(t)
        .writeStream.format("memory").queryName("dw_e2e_tail").start()
      try {
        downstream.processAllAvailable()
        assert(spark.table("dw_e2e_tail").count() == 3L)
        broker.append(0, (3L, 3L, encodeBatch(3L, 2000L, Seq((k("k3"), k("v3"), Nil)))))
        runPipe()
        downstream.processAllAvailable()
        val got = spark.sql("SELECT id, name FROM dw_e2e_tail")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        assert(got.toSeq == Seq((0L, "v0"), (1L, "v1"), (2L, "v2"), (3L, "v3")))
      } finally downstream.stop()
    } finally broker.close()
  }

  test("mergeSchema appends nullable columns via a metaData action; strict mode still refuses") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwmerge").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    // strict append refuses, naming the option
    val e = intercept[Exception](DeltaWriter.write(spark,
      Seq((2L, "b", 7)).toDF("id", "name", "score"), t))
    assert(e.getMessage.contains("mergeSchema"))
    DeltaWriter.write(spark, Seq((2L, "b", 7)).toDF("id", "name", "score"), t,
      mergeSchema = true)
    val df = DeltaReader.read(spark, t)
    // table order first, the new column appended; old rows null it out
    assert(df.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(df.select("id", "name", "score").collect().map(r =>
        (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .sortBy(_._1).toSeq == Seq((1L, "a", None), (2L, "b", Some(7))))
    // a merged frame may omit a non-partition column: its files simply
    // lack it and the by-name read nulls it
    DeltaWriter.write(spark, Seq((3L, 9)).toDF("id", "score"), t, mergeSchema = true)
    val r3 = DeltaReader.read(spark, t).where("id = 3").collect().head
    assert(r3.isNullAt(r3.fieldIndex("name")) && r3.getInt(r3.fieldIndex("score")) == 9)
    // type changes refuse even under mergeSchema
    val e2 = intercept[Exception](DeltaWriter.write(spark,
      Seq((4L, "oops")).toDF("id", "score"), t, mergeSchema = true))
    assert(e2.getMessage.contains("cannot change column types"))
    // the change feed serves the evolution window (each commit's
    // metaData states what the head states)
    val feed = DeltaReader.readChangeFeed(spark, t, -1L)
    assert(feed.where("_change_type = 'insert'").count() == 3L)
  }

  test("overwriteSchema replaces the table layout on a full recompute") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwos").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    // a different layout refuses without the option…
    val e1 = intercept[Exception](DeltaWriter.write(spark,
      Seq(("k1", 0.5)).toDF("k", "v"), t, mode = "overwrite"))
    assert(e1.getMessage.contains("schema mismatch"))
    // …and lands with it, new partitioning included
    DeltaWriter.write(spark, Seq(("k1", 0.5), ("k2", 1.5)).toDF("k", "v"), t,
      mode = "overwrite", overwriteSchema = true, partitionBy = Seq("k"))
    val df = DeltaReader.read(spark, t)
    assert(df.schema.fieldNames.toSeq == Seq("v", "k") ||
      df.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(df.count() == 2L)
    // the new layout governs appends: the OLD schema now refuses and
    // the new one lands, partition-pruned under the new column
    intercept[Exception](DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t))
    DeltaWriter.write(spark, Seq(("k1", 2.5)).toDF("k", "v"), t)
    assert(DeltaReader.read(spark, t, filter = Some("k = 'k1'")).count() == 2L)
    // option misuse refuses loudly
    val e2 = intercept[Exception](DeltaWriter.write(spark,
      Seq(("k", 1.0)).toDF("k", "v"), t, overwriteSchema = true))
    assert(e2.getMessage.contains("requires mode = overwrite"))
    val e3 = intercept[Exception](DeltaWriter.write(spark,
      Seq(("k", 1.0)).toDF("k", "v"), t, mode = "overwrite",
      overwriteSchema = true, mergeSchema = true))
    assert(e3.getMessage.contains("mutually exclusive"))
    // a column-mapped table refuses: the replacement schemaString would
    // lack the physicalName metadata the mode demands of every field
    val tm = Files.createTempDirectory("dwosmap")
    val log = tm.resolve("_delta_log")
    java.nio.file.Files.createDirectories(log)
    val mappedSchema = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.LongType, nullable = true,
        org.apache.spark.sql.types.Metadata.fromJson(
          """{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-1"}"""))
    java.nio.file.Files.writeString(log.resolve(f"${0L}%020d.json"),
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
        s"""{"metaData":{"id":"m1","format":{"provider":"parquet","options":{}},"schemaString":${
          new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(mappedSchema.json)
        },"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"1"},"createdTime":1}}""" + "\n")
    val e4 = intercept[Exception](DeltaWriter.write(spark,
      Seq(("k", 1.0)).toDF("k", "v"), tm.toString, mode = "overwrite", overwriteSchema = true))
    assert(e4.getMessage.contains("column-mapped"))
  }

  test("RESTORE rewinds the table in one APPENDED commit; history, no-ops, vacuum and stream refusals hold") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("dwrestore").toString
    DeltaWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1), t) // v0
    DeltaWriter.write(spark, Seq((3L, "c")).toDF("id", "name").coalesce(1), t)            // v1
    DeltaWriter.write(spark, Seq((9L, "X")).toDF("id", "name").coalesce(1), t,
      mode = "overwrite")                                                                 // v2: bad overwrite
    assert(DeltaReader.read(spark, t).count() == 1L)
    assert(DeltaWriter.restore(spark, t, 1L) == ((1, 2)))                                 // v3
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // history is appended, never truncated: the bad head still time-travels
    assert(DeltaReader.read(spark, t, versionAsOf = Some(2L))
      .select("id").as[Long].collect().toSeq == Seq(9L))
    assert(DeltaReader.currentVersion(spark, t) == 3L)
    // restoring to the current state is a provable no-op — no commit
    assert(DeltaWriter.restore(spark, t, 3L) == ((0, 0)))
    assert(DeltaReader.currentVersion(spark, t) == 3L)
    // rewind further: back to v0
    assert(DeltaWriter.restore(spark, t, 0L) == ((1, 0)))
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    val e = intercept[Exception](DeltaWriter.restore(spark, t, 99L))
    assert(e.getMessage.contains("does not exist"))
    // vacuum reclaims a version's files -> that version is no longer
    // restorable, and the refusal says so instead of publishing
    // dangling adds
    val t2 = java.nio.file.Files.createTempDirectory("dwrestorevac").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name").coalesce(1), t2)
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name").coalesce(1), t2,
      mode = "overwrite")
    DeltaWriter.vacuum(spark, t2, retentionMs = 0L, force = true)
    val e2 = intercept[Exception](DeltaWriter.restore(spark, t2, 0L))
    assert(e2.getMessage.contains("vacuumed"))
    // a restore under a running stream is a data-removing version —
    // the graft-delta source refuses it by its existing rule
    val t3 = java.nio.file.Files.createTempDirectory("dwrestorestream").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name").coalesce(1), t3)
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name").coalesce(1), t3)
    val q = spark.readStream.format("graft-delta").load(t3)
      .writeStream.format("memory").queryName("dw_restore_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dw_restore_stream").count() == 2L)
      DeltaWriter.restore(spark, t3, 0L)
      val e3 = intercept[Exception](q.processAllAvailable())
      def chain(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ chain(x.getCause)
      assert(chain(e3).exists(_.contains("skip_change_commits")), chain(e3).mkString("|"))
    } finally q.stop()
  }

  test("CHECK constraints: declared only over satisfying rows; enforced on appends and merge post-images; NULL passes") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwcons").toString
    DeltaWriter.write(spark, (1 to 5).map(i => (i.toLong, i)).toDF("id", "qty"), t)
    DeltaWriter.addConstraint(spark, t, "qty_pos", "qty > 0")
    // the declaring commit bumps the protocol to writer version 3
    val logs = () => java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
      .toArray.map(_.toString).filter(_.endsWith(".json")).sorted
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    assert(logs().last.contains("\"minWriterVersion\":3"))
    assert(intercept[Exception](DeltaWriter.addConstraint(spark, t, "qty_pos", "qty > 1"))
      .getMessage.contains("already exists"))
    // a constraint the existing rows violate cannot be declared
    assert(intercept[Exception](DeltaWriter.addConstraint(spark, t, "small", "qty < 3"))
      .getMessage.contains("small CHECK"))
    // appends enforce; the violating batch names the constraint and commits nothing
    val e = intercept[Exception](DeltaWriter.write(spark,
      Seq((9L, -1)).toDF("id", "qty"), t))
    assert(e.getMessage.contains("qty_pos CHECK (qty > 0)"))
    assert(DeltaReader.read(spark, t).count() == 5L)
    // SQL CHECK: NULL passes — both an explicit null and an absent column
    DeltaWriter.write(spark, Seq((6L, Option.empty[Int])).toDF("id", "qty"), t)
    DeltaWriter.write(spark, Seq(Tuple1(7L)).toDF("id"), t, mergeSchema = true)
    assert(DeltaReader.read(spark, t).count() == 7L)
    // merge post-images enforce through the rewrite path
    val e2 = intercept[Exception](DeltaWriter.mergeClauses(spark,
      Seq((1L, -5)).toDF("id", "nv"), t, on = Seq("id"),
      clauses = Seq(MergeClause.matchedUpdate(set = Map("qty" -> "s.nv")))))
    assert(e2.getMessage.contains("qty_pos CHECK"))
    DeltaWriter.mergeClauses(spark, Seq((1L, 50)).toDF("id", "nv"), t, on = Seq("id"),
      clauses = Seq(MergeClause.matchedUpdate(set = Map("qty" -> "s.nv"))))
    assert(DeltaReader.read(spark, t).where("id = 1").select("qty")
      .as[Int].collect().toSeq == Seq(50))
    // drop releases the gate; unknown drop refuses
    DeltaWriter.dropConstraint(spark, t, "qty_pos")
    DeltaWriter.write(spark, Seq((9L, -1)).toDF("id", "qty"), t)
    assert(DeltaReader.read(spark, t).count() == 8L)
    assert(intercept[Exception](DeltaWriter.dropConstraint(spark, t, "nope"))
      .getMessage.contains("no constraint"))
    // feature-listed tables (DV, writer 7) append the checkConstraints feature
    val tdv = Files.createTempDirectory("dwconsdv").toString
    DeltaWriter.write(spark, Seq((1L, 2)).toDF("id", "qty"), tdv,
      tableConf = Map("delta.enableDeletionVectors" -> "true"))
    DeltaWriter.addConstraint(spark, tdv, "pos", "qty > 0")
    val lastDv = java.nio.file.Files.list(java.nio.file.Paths.get(tdv, "_delta_log"))
      .toArray.map(_.toString).filter(_.endsWith(".json")).sorted.last
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(lastDv))
      .contains("checkConstraints"))
  }

  test("NOT NULL + invariants + generated columns: declared at create, computed and enforced in the staging pass") {
    import spark.implicits._
    import java.sql.Timestamp
    val t = Files.createTempDirectory("dwgen").toString
    val src = Seq((1L, Timestamp.valueOf("2024-01-02 10:00:00")),
      (2L, Timestamp.valueOf("2024-02-03 11:00:00"))).toDF("id", "ts")
    // the generated partition column is ABSENT from the frame: computed
    DeltaWriter.write(spark, src, t, partitionBy = Seq("day"),
      notNull = Seq("id"), generatedColumns = Map("day" -> "CAST(ts AS DATE)"))
    val r = DeltaReader.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "ts", "day"))
    assert(r.where("day = DATE'2024-01-02'").select("id").as[Long].collect().toSeq == Seq(1L))
    // the declaration landed as protocol metadata: writer v4 +
    // delta.generationExpression + NOT NULL recorded, everything else
    // nullable (a frame's incidental nullable=false must not become a
    // constraint)
    val v0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_delta_log", "0" * 19 + "0.json"))
    assert(v0.contains("\"minWriterVersion\":4"))
    assert(v0.contains("delta.generationExpression"))
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .readTree(v0.linesIterator.find(_.contains("metaData")).get)
        .at("/metaData/schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!sch("id").nullable && sch("ts").nullable && sch("day").nullable)
    // NOT NULL enforced on appends (gate runs inside the staging scan)
    val e = intercept[Exception](DeltaWriter.write(spark,
      Seq((Option.empty[Long], Timestamp.valueOf("2024-03-04 09:00:00"))).toDF("id", "ts"), t))
    assert(e.getMessage.contains("id NOT NULL"))
    assert(DeltaReader.read(spark, t).count() == 2L)
    // appends compute the absent generated column (and partition by it)
    DeltaWriter.write(spark,
      Seq((3L, Timestamp.valueOf("2024-03-04 09:00:00"))).toDF("id", "ts"), t)
    assert(DeltaReader.read(spark, t).where("id = 3").select("day")
      .as[java.sql.Date].collect().toSeq == Seq(java.sql.Date.valueOf("2024-03-04")))
    // a PRESENT generated column must equal its expression
    val e2 = intercept[Exception](DeltaWriter.write(spark,
      Seq((4L, Timestamp.valueOf("2024-03-04 09:00:00"), java.sql.Date.valueOf("1999-01-01")))
        .toDF("id", "ts", "day"), t))
    assert(e2.getMessage.contains("day GENERATED AS"))
    // ...and a consistent one passes
    DeltaWriter.write(spark,
      Seq((4L, Timestamp.valueOf("2024-03-05 09:00:00"), java.sql.Date.valueOf("2024-03-05")))
        .toDF("id", "ts", "day"), t)
    assert(DeltaReader.read(spark, t).count() == 4L)
    // rewrites recompute generated columns and re-gate NOT NULL: a
    // merge update moving ts also moves day without being asked to
    DeltaWriter.mergeClauses(spark,
      Seq((3L, Timestamp.valueOf("2024-07-08 12:00:00"))).toDF("id", "nts"), t,
      on = Seq("id"),
      clauses = Seq(MergeClause.matchedUpdate(set = Map("ts" -> "s.nts"))))
    assert(DeltaReader.read(spark, t).where("id = 3").select("day")
      .as[java.sql.Date].collect().toSeq == Seq(java.sql.Date.valueOf("2024-07-08")))
    // declared NOT NULL column absent from a mergeSchema append: the
    // files would stage null — refuse
    val e3 = intercept[Exception](DeltaWriter.write(spark,
      Seq(Tuple1(Timestamp.valueOf("2024-05-06 08:00:00"))).toDF("ts"), t, mergeSchema = true))
    assert(e3.getMessage.contains("id NOT NULL"))
    // column invariants (delta.invariants metadata, writer v2) enforce
    // the same way — declared here via frame field metadata at create
    val t2 = Files.createTempDirectory("dwinv").toString
    val inv = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.invariants", """{"expression":{"expression":"qty < 100"}}""").build()
    val invSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qty",
        org.apache.spark.sql.types.IntegerType, nullable = true, inv)))
    val dfI = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](org.apache.spark.sql.Row(5)), invSchema)
    DeltaWriter.write(spark, dfI, t2)
    val e4 = intercept[Exception](DeltaWriter.write(spark,
      spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(500)), invSchema), t2))
    assert(e4.getMessage.contains("qty INVARIANT (qty < 100)"))
    assert(DeltaReader.read(spark, t2).count() == 1L)
    // CHECK constraints declare AT CREATE through tableConf (the
    // allowlist admits honored keys): the first write's own rows gate,
    // nothing is created on violation, and the protocol lands at v3
    val t3 = Files.createTempDirectory("dwconscr").toString + "/t"
    val e5 = intercept[Exception](DeltaWriter.write(spark,
      Seq((1L, -1)).toDF("id", "qty"), t3,
      tableConf = Map("delta.constraints.q" -> "qty > 0")))
    assert(e5.getMessage.contains("q CHECK (qty > 0)"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(t3, "_delta_log")))
    DeltaWriter.write(spark, Seq((1L, 1)).toDF("id", "qty"), t3,
      tableConf = Map("delta.constraints.q" -> "qty > 0"))
    val v0c = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t3, "_delta_log", "0" * 19 + "0.json"))
    assert(v0c.contains("\"minWriterVersion\":3"))
    assert(intercept[Exception](DeltaWriter.write(spark,
      Seq((2L, -9)).toDF("id", "qty"), t3)).getMessage.contains("q CHECK (qty > 0)"))
  }

  test("delta.appendOnly: appends and layout rewrites pass; overwrite/delete/merge-rewrite/restore refuse") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwao").toString
    DeltaWriter.write(spark, (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "name"), t,
      tableConf = Map("delta.appendOnly" -> "true"))
    DeltaWriter.write(spark, Seq((11L, "r11")).toDF("id", "name"), t)
    assert(DeltaReader.read(spark, t).count() == 11L)
    // OPTIMIZE preserves every row — allowed
    DeltaWriter.compact(spark, t)
    assert(DeltaReader.read(spark, t).count() == 11L)
    // anything that removes/rewrites rows refuses by the declaration
    assert(intercept[Exception](DeltaWriter.write(spark,
      Seq((1L, "x")).toDF("id", "name"), t, mode = "overwrite"))
      .getMessage.contains("append-only"))
    assert(intercept[Exception](DeltaWriter.deleteWhere(spark, t, "id = 1"))
      .getMessage.contains("append-only"))
    assert(intercept[Exception](DeltaWriter.merge(spark,
      Seq((1L, "x")).toDF("id", "name"), t, on = Seq("id")))
      .getMessage.contains("append-only"))
    assert(intercept[Exception](DeltaWriter.restore(spark, t, 0L))
      .getMessage.contains("append-only"))
    // an insert-only merge is an append — allowed
    DeltaWriter.mergeClauses(spark, Seq((12L, "r12")).toDF("id", "name"), t,
      on = Seq("id"), clauses = Seq(MergeClause.insert()))
    assert(DeltaReader.read(spark, t).count() == 12L)
  }

  test("OPTIMIZE WHERE + bin-packing: scoped partitions compact; bins respect targetFileBytes") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwoptw").toString
    // 4 files per partition (repartition by range within each p write)
    (0 until 4).foreach { i =>
      DeltaWriter.write(spark,
        ((0 until 250).map(j => ((i * 1000 + j).toLong, s"r$j", 1)) ++
         (0 until 250).map(j => ((i * 1000 + j).toLong, s"r$j", 2)))
          .toDF("id", "name", "p").coalesce(1),
        t, partitionBy = Seq("p"))
    }
    def filesOf(p: Int) = DeltaReader.read(spark, t)
      .where(s"p = $p").inputFiles.length
    assert(filesOf(1) == 4 && filesOf(2) == 4)
    // WHERE scopes the rewrite: p=1 compacts, p=2 untouched
    assert(DeltaWriter.compact(spark, t, where = Some("p = 1")) == 4)
    assert(filesOf(1) == 1 && filesOf(2) == 4)
    assert(DeltaReader.read(spark, t).count() == 2000L)
    // bin-packing: a tiny target keeps multiple output files (each
    // existing ~several-KB file pairs into bins of <= target)
    val szs = DeltaReader.read(spark, t).where("p = 2").inputFiles
      .map(u => java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(u)))).toSeq
    val target = szs.sorted.take(2).sum // fits exactly two smallest
    DeltaWriter.compact(spark, t, where = Some("p = 2"), targetFileBytes = target)
    val after = filesOf(2)
    assert(after > 1 && after < 4, s"expected partial coalesce, got $after")
    assert(DeltaReader.read(spark, t).count() == 2000L)
    // gates: data-column predicates refuse
    assert(intercept[Exception](DeltaWriter.compact(spark, t, where = Some("id = 1")))
      .getMessage.contains("partition columns only"))
  }

  test("mapped CREATE: delta.columnMapping.mode at create stages physical names; evolution and rewrites work from birth") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwmapcr").toString
    DeltaWriter.write(spark,
      (1 to 20).map(i => (i.toLong, s"n$i", i % 2)).toDF("id", "name", "p"), t,
      partitionBy = Seq("p"),
      tableConf = Map("delta.columnMapping.mode" -> "name"))
    // the protocol landed at reader 2 / writer 5 and the schema carries
    // physicalName/id; partition dirs are PHYSICAL (col-*)
    val v0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_delta_log", "0" * 19 + "0.json"))
    assert(v0.contains("\"minReaderVersion\":2") && v0.contains("\"minWriterVersion\":5"))
    assert(v0.contains("delta.columnMapping.physicalName") &&
      v0.contains("\"delta.columnMapping.maxColumnId\":\"3\""))
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(t))
      .toArray.map(_.toString.split("/").last).filter(_.contains("="))
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("col-")))
    // native read resolves logical names; pruning by the mapped
    // partition column works
    val r = DeltaReader.read(spark, t)
    assert(r.columns.toSeq == Seq("id", "name", "p"))
    assert(r.where("p = 1").count() == 10L)
    // appends keep staging physical; rename/drop evolve by id from birth
    DeltaWriter.write(spark, Seq((21L, "n21", 1)).toDF("id", "name", "p"), t)
    DeltaWriter.renameColumn(spark, t, "name", "label")
    assert(DeltaReader.read(spark, t).where("label = 'n21'").count() == 1L)
    // row-level rewrite on the mapped table
    DeltaWriter.deleteWhere(spark, t, "id <= 5")
    assert(DeltaReader.read(spark, t).count() == 16L)
    DeltaWriter.dropColumn(spark, t, "label")
    assert(DeltaReader.read(spark, t).columns.toSeq == Seq("id", "p"))
    // nested columns refuse at mapped create
    assert(intercept[Exception](DeltaWriter.write(spark,
      Seq((1L, (2, 3))).toDF("id", "s"),
      Files.createTempDirectory("dwmapnest").toString,
      tableConf = Map("delta.columnMapping.mode" -> "name")))
      .getMessage.contains("NESTED"))
  }

  test("setTableConf: CDF and DV enable mid-life with their protocol upgrades; unset stops emission") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwsetconf").toString
    DeltaWriter.write(spark,
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "name").coalesce(2), t)
    // enable CDF mid-life: protocol bumps to writer 4, the next
    // row-level rewrite emits precise cdc pairs
    DeltaWriter.setTableConf(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    val logs = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
      .toArray.map(_.toString).filter(_.endsWith(".json")).sorted
    val alterTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(logs.last))
    assert(alterTxt.contains("\"minWriterVersion\":4") && alterTxt.contains("SET TBLPROPERTIES"))
    val sinceV = DeltaReader.currentVersion(spark, t)
    DeltaWriter.deleteWhere(spark, t, "id = 1")
    assert(DeltaReader.readChangeFeed(spark, t, sinceV)
      .where("_change_type = 'delete'").count() == 1L)
    // enable DV mid-life: feature-protocol conversion carries the
    // implied features; deletes now commit vectors (bytes untouched)
    DeltaWriter.setTableConf(spark, t, Map("delta.enableDeletionVectors" -> "true"))
    val logs2 = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
      .toArray.map(_.toString).filter(_.endsWith(".json")).sorted
    val dvTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(logs2.last))
    assert(dvTxt.contains("\"minWriterVersion\":7") && dvTxt.contains("deletionVectors")
      && dvTxt.contains("changeDataFeed") && dvTxt.contains("invariants"))
    val bytesBefore = java.nio.file.Files.walk(java.nio.file.Paths.get(t)).toArray
      .map(_.toString).filter(p => p.endsWith(".parquet") && !p.contains("_change_data"))
      .sorted.toSeq
    DeltaWriter.deleteWhere(spark, t, "id = 2")
    val bytesAfter = java.nio.file.Files.walk(java.nio.file.Paths.get(t)).toArray
      .map(_.toString).filter(p => p.endsWith(".parquet") && !p.contains("_change_data"))
      .sorted.toSeq
    assert(bytesBefore == bytesAfter) // DV delete: no file rewritten
    assert(DeltaReader.read(spark, t).count() == 98L)
    // unset stops CDF emission; constraints refuse naming their ops
    DeltaWriter.unsetTableConf(spark, t, Seq("delta.enableChangeDataFeed"))
    assert(intercept[Exception](DeltaWriter.setTableConf(spark, t,
      Map("delta.constraints.x" -> "id > 0"))).getMessage.contains("addConstraint"))
    assert(intercept[Exception](DeltaWriter.setTableConf(spark, t,
      Map("delta.columnMapping.mode" -> "name"))).getMessage.contains("does not"))
  }

  test("change feed post-images recompute generated columns exactly like the data files") {
    import spark.implicits._
    import java.sql.Timestamp
    val t = Files.createTempDirectory("dwgencdf").toString
    DeltaWriter.write(spark,
      Seq((1L, Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "ts"), t,
      tableConf = Map("delta.enableChangeDataFeed" -> "true"),
      generatedColumns = Map("day" -> "CAST(ts AS DATE)"))
    DeltaWriter.mergeClauses(spark,
      Seq((1L, Timestamp.valueOf("2024-09-10 08:00:00"))).toDF("id", "nts"), t,
      on = Seq("id"),
      clauses = Seq(MergeClause.matchedUpdate(set = Map("ts" -> "s.nts"))))
    val post = DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_change_type = 'update_postimage'")
      .select("day").as[java.sql.Date].collect().toSeq
    assert(post == Seq(java.sql.Date.valueOf("2024-09-10")))
    assert(DeltaReader.read(spark, t).select("day").as[java.sql.Date].collect().toSeq ==
      Seq(java.sql.Date.valueOf("2024-09-10")))
  }

  test("cloneTable: zero-copy shallow clone; clones prune, evolve independently, and vacuum safely") {
    import spark.implicits._
    val src = Files.createTempDirectory("dwclsrc").toString
    val dst = Files.createTempDirectory("dwcldst").toString + "/t"
    DeltaWriter.write(spark,
      (0 until 100).map(i => (i.toLong, i % 2, s"n$i")).toDF("id", "p", "name"), src,
      partitionBy = Seq("p"))
    DeltaWriter.write(spark,
      Seq((100L, 0, "x")).toDF("id", "p", "name"), src, partitionBy = Seq("p"))
    val srcFiles = DeltaReader.read(spark, src).inputFiles.toSet
    assert(DeltaWriter.cloneTable(spark, src, dst) == srcFiles.size)
    // zero copy: the clone's own tree holds NO parquet, reads serve the
    // source's files and values identically
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(dst)).toArray
      .exists(_.toString.endsWith(".parquet")))
    val back = DeltaReader.read(spark, dst)
    assert(back.count() == 101L)
    assert(back.inputFiles.toSet == srcFiles)
    // pruning rides the carried stats/partitionValues
    val pruned = DeltaReader.read(spark, dst, filter = Some("p = 1"))
    assert(pruned.count() == 50L)
    assert(pruned.inputFiles.length < back.inputFiles.length)
    // the clone evolves independently: a delete + append there leaves
    // the source untouched; a source append is invisible to the clone
    assert(DeltaWriter.deleteWhere(spark, dst, "id < 10") == 10L)
    DeltaWriter.write(spark, Seq((200L, 1, "y")).toDF("id", "p", "name"), dst,
      partitionBy = Seq("p"))
    assert(DeltaReader.read(spark, dst).count() == 92L)
    assert(DeltaReader.read(spark, src).count() == 101L)
    DeltaWriter.write(spark, Seq((300L, 0, "z")).toDF("id", "p", "name"), src,
      partitionBy = Seq("p"))
    assert(DeltaReader.read(spark, dst).count() == 92L)
    // vacuum on the CLONE never touches source files (outside its root)
    DeltaWriter.vacuum(spark, dst, retentionMs = 0, force = true)
    assert(DeltaReader.read(spark, src).count() == 102L)
    assert(DeltaReader.read(spark, dst).count() == 92L)
    // refusals: existing destination; DV-carrying source names OPTIMIZE
    assert(intercept[Exception](DeltaWriter.cloneTable(spark, src, dst))
      .getMessage.contains("already a delta table"))
    val tdv = Files.createTempDirectory("dwcldv").toString
    DeltaWriter.write(spark, (0 until 50).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .coalesce(1), tdv, tableConf = Map("delta.enableDeletionVectors" -> "true"))
    assert(DeltaWriter.deleteWhere(spark, tdv, "id = 3") == 1L)
    assert(intercept[Exception](DeltaWriter.cloneTable(spark, tdv,
        Files.createTempDirectory("dwcldv2").toString + "/t"))
      .getMessage.contains("deletion vectors"))
  }

  test("cleanupLog ages out checkpoint-subsumed commits; the head replays, deep time travel refuses") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwclean").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name").coalesce(1), t)
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name").coalesce(1), t)
    DeltaWriter.write(spark, Seq((3L, "c")).toDF("id", "name").coalesce(1), t)
    // no checkpoint yet: refusal names the remedy
    assert(intercept[Exception](DeltaWriter.cleanupLog(spark, t, retentionMs = 0,
      force = true)).getMessage.contains("checkpoint"))
    assert(DeltaWriter.checkpoint(spark, t) == 2L)
    // dry run lists but deletes nothing
    val dry = DeltaWriter.cleanupLog(spark, t, retentionMs = 0, force = true, dryRun = true)
    assert(dry.size == 3)
    def logJsons() = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
      .toArray.map(_.toString).count(_.endsWith(".json"))
    assert(logJsons() == 3)
    // under-retention cleanup requires force (streams may still replay)
    assert(intercept[Exception](DeltaWriter.cleanupLog(spark, t, retentionMs = 0))
      .getMessage.contains("force"))
    assert(DeltaWriter.cleanupLog(spark, t, retentionMs = 0, force = true).size == 3)
    assert(logJsons() == 0)
    // the head replays from the checkpoint; new writes take the next version
    assert(DeltaReader.read(spark, t).count() == 3L)
    DeltaWriter.write(spark, Seq((4L, "d")).toDF("id", "name").coalesce(1), t)
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // time travel below the cleaned range refuses loudly
    assert(intercept[Exception](DeltaReader.read(spark, t, versionAsOf = Some(1L))
      .count()).getMessage.contains("not present in _delta_log"))
  }

  test("history: one row per commit, newest first, with counts and the data_change flag") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwhist").toString
    DeltaWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1), t)
    DeltaWriter.write(spark, Seq((3L, "c")).toDF("id", "name").coalesce(1), t)
    DeltaWriter.zorder(spark, t, Seq("id"))
    val h = DeltaReader.history(spark, t)
      .select("version", "operation", "num_added_files", "num_removed_files", "data_change")
      .as[(Long, String, Long, Long, Boolean)].collect().toSeq
    assert(h.map(_._1) == Seq(2L, 1L, 0L)) // newest first
    assert(h.map(_._2) == Seq("OPTIMIZE", "WRITE", "WRITE"))
    assert(h(0)._4 == 2L && !h(0)._5)      // layout-only rewrite removed both files
    assert(h(1)._3 == 1L && h(1)._5 && h(2)._3 == 1L && h(2)._5)
    // timestamps are monotone non-decreasing oldest->newest
    val ts = DeltaReader.history(spark, t).orderBy("version")
      .select("timestamp").collect().map(_.getTimestamp(0).getTime)
    assert(ts.sorted.toSeq == ts.toSeq)
    // the catalog route reaches it via the DataRef history option
    assert(new DeltaReaderImpl().read(spark, graft.datatypes.DataRef("delta", t,
      Map("history" -> "true"))).count() == 3L)
    // DESCRIBE DETAIL: one row of table facts from the state replay
    val d = DeltaReader.detail(spark, t).collect().head
    assert(d.getAs[String]("format") == "delta" && d.getAs[String]("id") != null)
    assert(d.getAs[Long]("numFiles") == 1L && d.getAs[Long]("sizeInBytes") > 0L)
    assert(d.getAs[Int]("minWriterVersion") == 2)
    val dp = Files.createTempDirectory("dwdet2").toString
    DeltaWriter.write(spark, Seq((1L, 7)).toDF("id", "p"), dp, partitionBy = Seq("p"),
      tableConf = Map("delta.enableChangeDataFeed" -> "true"))
    val d2 = DeltaReader.detail(spark, dp).collect().head
    assert(d2.getSeq[String](d2.fieldIndex("partitionColumns")).toSeq == Seq("p"))
    assert(d2.getAs[Map[String, String]]("properties")
      .get("delta.enableChangeDataFeed").contains("true"))
    assert(d2.getAs[Int]("minWriterVersion") == 4)
  }

  test("detail reports the checkpointed protocol after the log is cleaned") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwdetcp").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t,
      tableConf = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.write(spark, Seq((2L, "b")).toDF("id", "name"), t)
    assert(DeltaWriter.checkpoint(spark, t) == 1L)
    // both commit jsons (and with them the create's protocol action) go:
    // the protocol now lives only in the checkpoint
    assert(DeltaWriter.cleanupLog(spark, t, retentionMs = 0, force = true).size == 2)
    val d = DeltaReader.detail(spark, t).collect().head
    assert(d.getAs[Int]("minWriterVersion") == 4)
    assert(d.getAs[Int]("minReaderVersion") == 1)
    assert(d.getAs[Long]("numFiles") == 2L)
  }

  test("zorder: clustered rewrite makes multi-column skipping real; layout-only commit") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwz").toString
    // 2048 rows over a 32x32 grid, round-robined into 4 files so EVERY
    // file spans the full range of both columns — no filter can prune
    val rows = for { a <- 0 until 32; b <- 0 until 32; r <- 0 until 2 }
      yield (a, b, s"v-$a-$b-$r")
    DeltaWriter.write(spark, rows.toDF("a", "b", "v").repartition(4), t)
    val filter = "a >= 10 AND a <= 12 AND b >= 20 AND b <= 22"
    assert(DeltaReader.read(spark, t, filter = Some(filter)).inputFiles.length == 4)
    assert(DeltaWriter.zorder(spark, t, Seq("a", "b"), targetFileBytes = 2500) == 4)
    val all = DeltaReader.read(spark, t)
    val totalFiles = all.inputFiles.length
    assert(totalFiles > 4, s"expected a multi-file clustered layout, got $totalFiles")
    assert(all.count() == 2048L)
    assert(all.select("a", "b", "v").as[(Int, Int, String)].collect().sorted.toSeq ==
      rows.sorted)
    // the 3x3 box now lives in a few z-contiguous files: stats pruning
    // fires on BOTH columns (the point of z-order over a plain sort)
    val post = DeltaReader.read(spark, t, filter = Some(filter))
    assert(post.select("a", "b").distinct().count() == 9L)
    assert(post.inputFiles.length * 2 <= totalFiles,
      s"expected at least half the $totalFiles files pruned, scanned ${post.inputFiles.length}")
    // layout-only: every remove/add in the OPTIMIZE commit carries
    // dataChange=false, so streams and the change feed skip it
    val lastCommit = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
      .toArray.map(_.toString).filter(_.endsWith(".json")).sorted.last
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(lastCommit))
    assert(text.contains("\"operation\":\"OPTIMIZE\""))
    assert(text.contains("\"dataChange\":false") && !text.contains("\"dataChange\":true"))
    // refusals: unknown column, partition columns, arity, ranks
    assert(intercept[Exception](DeltaWriter.zorder(spark, t, Seq("nope")))
      .getMessage.contains("no column"))
    assert(intercept[Exception](DeltaWriter.zorder(spark, t, Seq("a", "b", "v", "a", "b")))
      .getMessage.contains("1-4"))
    assert(intercept[Exception](DeltaWriter.zorder(spark, t, Seq("a"), ranks = 3))
      .getMessage.contains("power of two"))
    val tp = Files.createTempDirectory("dwzp").toString
    DeltaWriter.write(spark, Seq((1, "x")).toDF("a", "p"), tp, partitionBy = Seq("p"))
    assert(intercept[Exception](DeltaWriter.zorder(spark, tp, Seq("p")))
      .getMessage.contains("partition column"))
  }

  test("zorder: partitioned tables cluster within each partition dir; DV rows purge through the rewrite") {
    import spark.implicits._
    val t = Files.createTempDirectory("dwzdv").toString
    DeltaWriter.write(spark,
      (0 until 200).map(i => (i.toLong, i % 2, s"n$i")).toDF("id", "p", "name")
        .repartition(3), t,
      partitionBy = Seq("p"),
      tableConf = Map("delta.enableDeletionVectors" -> "true"))
    assert(DeltaWriter.deleteWhere(spark, t, "id IN (4, 6, 8)") == 3L)
    // the delete committed vectors, not rewrites (DV-enabled table)
    val headBefore = DeltaReader.read(spark, t)
    assert(headBefore.count() == 197L)
    DeltaWriter.zorder(spark, t, Seq("id"), targetFileBytes = 1500)
    val after = DeltaReader.read(spark, t)
    assert(after.count() == 197L)
    assert(after.where("id IN (4, 6, 8)").count() == 0L, "masked rows must not resurrect")
    // vectors purged: no live add carries a deletionVector any more
    val live = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
      .toArray.map(_.toString).filter(_.endsWith(".json")).sorted
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    val lastText = live.last
    assert(lastText.contains("\"operation\":\"OPTIMIZE\""))
    assert(!lastText.contains("\"deletionVector\""),
      "the clustered rewrite must purge deletion vectors")
    // partition dirs keep their rows separated
    assert(after.where("p = 0").count() == after.collect().count(_.getInt(1) == 0))
    // a partition-scoped range query prunes within the dir
    val p0Files = DeltaReader.read(spark, t, filter = Some("p = 0")).inputFiles.length
    assert(p0Files > 1, s"expected the p=0 dir to hold multiple clustered files, got $p0Files")
    val pruned = DeltaReader.read(spark, t, filter = Some("p = 0 AND id < 20"))
    assert(pruned.select("id").as[Long].collect().toSet ==
      (0L until 20L).filter(i => i % 2 == 0 && !Set(4L, 6L, 8L).contains(i)).toSet)
    assert(pruned.inputFiles.length < p0Files)
  }

  test("zorder: column-mapped tables cluster through the physical round trip") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // NAME-mapped table fixture: logical (id, word) over physical
    // (col-aaa, col-bbb) — the create stays with the connector, so the
    // v0 commit is hand-written like the DeltaMergeSpec fixtures
    val t = Files.createTempDirectory("dwzmap").toString
    def mMeta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val mappedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, mMeta("col-aaa", 1)),
      StructField("word", StringType, nullable = true, mMeta("col-bbb", 2)))).json
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t, "_delta_log"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(t, "_delta_log", "0" * 20 + ".json"),
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
        s"""{"metaData":{"id":"zm1","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${js.writeValueAsString(mappedSchema)},"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""" + "\n")
    DeltaWriter.write(spark,
      (0 until 300).map(i => (i.toLong, s"w$i")).toDF("id", "word").repartition(3), t)
    DeltaWriter.zorder(spark, t, Seq("id"), targetFileBytes = 1500)
    val back = DeltaReader.read(spark, t)
    assert(back.count() == 300L)
    assert(back.select("id", "word").as[(Long, String)].collect().sorted.toSeq ==
      (0 until 300).map(i => (i.toLong, s"w$i")))
    val pruned = DeltaReader.read(spark, t, filter = Some("id BETWEEN 100 AND 110"))
    assert(pruned.select("id").as[Long].collect().toSet == (100L to 110L).toSet)
    assert(pruned.inputFiles.length < back.inputFiles.length)
  }
}
