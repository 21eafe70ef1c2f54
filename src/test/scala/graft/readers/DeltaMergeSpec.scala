package graft.readers

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.types._

/** Row-level writes on the native Delta writer: MERGE (upsert /
  * delete-by-key) and DELETE WHERE with data-column predicates —
  * copy-on-write per touched file over the existing commit machinery.
  * Covers: one-commit upsert round-tripping through the native read,
  * time travel and the change feed; exact delete semantics (predicate
  * TRUE deletes, FALSE and NULL survive); untouched files are never
  * rewritten (inputFiles proof); partition moves; the refusal gates
  * (duplicate source keys, deletion vectors, column mapping,
  * nondeterministic predicates, concurrent adds); txn idempotence
  * marks for the streaming upsert sink.
  */
class DeltaMergeSpec extends SparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def js(s: String): String = mapper.writeValueAsString(s)

  private def writeCommit(table: String, version: Long, actions: Seq[String]): Unit = {
    val log = java.nio.file.Paths.get(table, "_delta_log")
    Files.createDirectories(log)
    Files.writeString(log.resolve(f"$version%020d.json"), actions.mkString("\n") + "\n")
  }
  private val plainSchemaJson = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType))).json
  private def metaAction(configuration: String = "{}"): String =
    s"""{"metaData":{"id":"m1","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${js(plainSchemaJson)},"partitionColumns":[],""" +
      s""""configuration":$configuration,"createdTime":1}}"""

  test("merge upserts in ONE commit; native read, time travel and the change feed all agree") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmup").toString
    DeltaWriter.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v").coalesce(1), t)
    DeltaWriter.merge(spark,
      Seq((2L, "B", 21), (4L, "d", 40)).toDF("id", "name", "v"), t, on = Seq("id"))
    val got = DeltaReader.read(spark, t).select("id", "name", "v")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", 10), (2L, "B", 21), (3L, "c", 30), (4L, "d", 40)))
    // exactly one commit landed: version 1 is the head, version 0 pre-merge
    assert(DeltaReader.currentVersion(spark, t) == 1L)
    assert(DeltaReader.read(spark, t, versionAsOf = Some(0L)).count() == 3L)
    // the change feed derives the row diff: the touched file's 3 rows
    // delete, survivors + the update re-insert, plus the new key
    val feed = DeltaReader.readChangeFeed(spark, t, 0L)
    val byType = feed.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("delete" -> 3L, "insert" -> 4L))
  }

  test("merge rewrites ONLY touched files; multiplicity and null-key semantics match delta") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmtouch").toString
    DeltaWriter.write(spark, Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v").coalesce(1), t)
    DeltaWriter.write(spark, Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "name", "v").coalesce(1), t)
    val before = DeltaReader.read(spark, t).inputFiles.toSet
    assert(before.size == 2)
    // touches only the file holding id=1; a NULL-key source row never
    // matches and therefore inserts
    DeltaWriter.merge(spark,
      Seq((java.lang.Long.valueOf(1L), "A", 11), (null.asInstanceOf[java.lang.Long], "n", 0))
        .toDF("id", "name", "v"), t, on = Seq("id"))
    val after = DeltaReader.read(spark, t).inputFiles.toSet
    // the untouched file survives byte-identical (same path still live)
    assert((before -- after).size == 1, "exactly the touched file was replaced")
    assert((before & after).size == 1, "the untouched file must not be rewritten")
    val got = DeltaReader.read(spark, t).select("id", "name", "v")
      .as[(Option[Long], String, Int)].collect().sortBy(_._1.getOrElse(-1L))
    assert(got.toSeq == Seq((None, "n", 0), (Some(1L), "A", 11), (Some(2L), "b", 20),
      (Some(3L), "c", 30), (Some(4L), "d", 40)))
    // a source key matching TWO target rows updates both (multiplicity)
    val t2 = Files.createTempDirectory("dmmult").toString
    DeltaWriter.write(spark, Seq((1L, "a", 1), (1L, "a2", 2), (2L, "b", 3))
      .toDF("id", "name", "v").coalesce(1), t2)
    DeltaWriter.merge(spark, Seq((1L, "X", 9)).toDF("id", "name", "v"), t2, on = Seq("id"))
    val got2 = DeltaReader.read(spark, t2).select("id", "name", "v")
      .as[(Long, String, Int)].collect().sortBy(r => (r._1, r._3))
    assert(got2.toSeq == Seq((1L, "X", 9), (1L, "X", 9), (2L, "b", 3)))
  }

  test("merge moves a row across partitions; whenMatched=delete takes a key-only source") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmpart").toString
    val df = Seq((1L, "a", 7), (2L, "b", 7), (3L, "c", 8)).toDF("id", "name", "p")
      .repartition(2, org.apache.spark.sql.functions.col("p"))
    DeltaWriter.write(spark, df, t, partitionBy = Seq("p"))
    val p8Before = DeltaReader.read(spark, t, filter = Some("p = 8")).inputFiles.toSet
    // id=2 moves p 7 -> 8
    DeltaWriter.merge(spark, Seq((2L, "B", 8)).toDF("id", "name", "p"), t, on = Seq("id"))
    val got = DeltaReader.read(spark, t).select("id", "name", "p")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", 7), (2L, "B", 8), (3L, "c", 8)))
    val p8After = DeltaReader.read(spark, t, filter = Some("p = 8")).inputFiles.toSet
    assert(p8Before.subsetOf(p8After) && p8After.size == p8Before.size + 1,
      "p=8's original file is untouched; the moved row lands in a new file")
    // delete-by-key: the source carries ONLY the key column
    DeltaWriter.merge(spark, Seq(1L, 3L).toDF("id"), t, on = Seq("id"),
      whenMatched = "delete", insertNotMatched = false)
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("deleteWhere removes exactly the matching rows; NULL predicate rows survive; no-match is a no-op") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmdel").toString
    DeltaWriter.write(spark,
      Seq((1L, "alpha"), (2L, "beta"), (3L, null.asInstanceOf[String])).toDF("id", "name").coalesce(1), t)
    DeltaWriter.write(spark, Seq((4L, "delta")).toDF("id", "name").coalesce(1), t)
    val before = DeltaReader.read(spark, t).inputFiles.toSet
    // 'name < f' is TRUE for alpha/beta/delta, NULL for the null row —
    // SQL delete semantics keep the NULL row
    val n = DeltaWriter.deleteWhere(spark, t, "name < 'c' AND id <= 2")
    assert(n == 2L)
    val got = DeltaReader.read(spark, t).select("id", "name")
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(got.toSeq == Seq((3L, None), (4L, Some("delta"))))
    // the second file (id=4) was untouched
    val after = DeltaReader.read(spark, t).inputFiles.toSet
    assert((before & after).size == 1)
    // a predicate matching nothing publishes NO commit
    val v = DeltaReader.currentVersion(spark, t)
    assert(DeltaWriter.deleteWhere(spark, t, "id = 999") == 0L)
    assert(DeltaReader.currentVersion(spark, t) == v)
    // deleting every remaining row leaves a valid empty table
    assert(DeltaWriter.deleteWhere(spark, t, "id > 0") == 2L)
    assert(DeltaReader.read(spark, t).count() == 0L)
  }

  test("gates: duplicate source keys, deletion vectors, column mapping, nondeterministic predicates") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmgate").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    val e1 = intercept[Exception](DeltaWriter.merge(spark,
      Seq((1L, "x"), (1L, "y")).toDF("id", "name"), t, on = Seq("id")))
    assert(e1.getMessage.contains("duplicate"))
    val e2 = intercept[Exception](DeltaWriter.deleteWhere(spark, t, "rand() < 0.5"))
    assert(e2.getMessage.contains("cannot analyze"))
    // a live file carrying a deletion vector: rewriting raw parquet
    // would resurrect its deleted rows — merge/delete/compact refuse
    val tdv = Files.createTempDirectory("dmdv").toString
    writeCommit(tdv, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaAction(),
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":1,""" +
        """"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":1,"cardinality":1}}}"""))
    val e3 = intercept[Exception](DeltaWriter.deleteWhere(spark, tdv, "id = 1"))
    assert(e3.getMessage.contains("deletion vectors"))
    val e4 = intercept[Exception](DeltaWriter.merge(spark,
      Seq((1L, "a")).toDF("id", "name"), tdv, on = Seq("id")))
    assert(e4.getMessage.contains("deletion vectors"))
    val e5 = intercept[Exception](DeltaWriter.compact(spark, tdv))
    assert(e5.getMessage.contains("deletion vectors"))
    // a column-mapped table: APPENDS stage physical names (round 12,
    // spec'd separately), but logical-name REWRITE scans would silently
    // null physical columns — delete/merge/compact refuse
    val tcm = Files.createTempDirectory("dmcm").toString
    writeCommit(tcm, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaAction(configuration = """{"delta.columnMapping.mode":"name"}""")))
    // round 14: delete/merge/compact work on mapped tables (physical
    // round trip) — an empty mapped table deletes zero rows and
    // compacts nothing instead of refusing
    assert(DeltaWriter.deleteWhere(spark, tcm, "id = 1") == 0L)
    assert(DeltaWriter.compact(spark, tcm) == 0)
  }

  test("appends to a column-mapped table stage physical names; replaceWhere scopes by physical tuples; rewrites still refuse") {
    import spark.implicits._
    // a NAME-mapped partitioned table, logical (id, name, p) over
    // physical (col-aaa, col-bbb, col-ppp)
    def mMeta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val mappedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, mMeta("col-aaa", 1)),
      StructField("name", StringType, nullable = true, mMeta("col-bbb", 2)),
      StructField("p", IntegerType, nullable = true, mMeta("col-ppp", 3)))).json
    val t = Files.createTempDirectory("dmmapped").toString
    writeCommit(t, 0, Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m1","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${js(mappedSchema)},"partitionColumns":["p"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"3"},"createdTime":1}}"""))
    // append through the native writer: stages physical columns, so the
    // mapped read resolves them (an unmapped stage would read all-null)
    DeltaWriter.write(spark, Seq((1L, "a", 7), (2L, "b", 8)).toDF("id", "name", "p"), t,
      partitionBy = Seq("p"))
    val got = DeltaReader.read(spark, t).select("id", "name", "p")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a", 7), (2L, "b", 8)))
    // partition pruning works over the physical partitionValues keys
    val p7 = DeltaReader.read(spark, t, filter = Some("p = 7"))
    assert(p7.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(p7.inputFiles.length < DeltaReader.read(spark, t).inputFiles.length)
    // replaceWhere scopes by the physical tuple: only p=7 is replaced
    DeltaWriter.write(spark, Seq((9L, "z", 7)).toDF("id", "name", "p"), t,
      mode = "overwrite", partitionBy = Seq("p"), replaceWhere = Some("p = 7"))
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 9L))
    // ROW-LEVEL REWRITES work through the physical round trip (round
    // 14): the scan renames physical->logical, the restage renames
    // back with field ids, stats/partitionValues stay physical
    assert(DeltaWriter.deleteWhere(spark, t, "id = 9") == 1L)
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().toSeq == Seq(2L))
    DeltaWriter.mergeClauses(spark, Seq((2L, 99), (5L, 50)).toDF("id", "nv"), t,
      on = Seq("id"), clauses = Seq(
        MergeClause.matchedUpdate(set = Map("name" -> "concat(t.name, '+')")),
        MergeClause.insert(set = Map("id" -> "s.id", "p" -> "s.nv"))))
    assert(DeltaReader.read(spark, t).select("id", "name", "p")
      .selectExpr("id", "coalesce(name, '-') as name", "p")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq ==
      Seq((2L, "b+", 8), (5L, "-", 50)))
    // the rewritten files still serve PRUNED mapped reads (physical
    // partitionValues survived the restage)
    assert(DeltaReader.read(spark, t, filter = Some("p = 50"))
      .select("id").as[Long].collect().toSeq == Seq(5L))
    // OPTIMIZE compacts a mapped partition entirely in physical terms:
    // stack a second file into p=8, compact, and the mapped read still
    // serves and prunes
    DeltaWriter.write(spark, Seq((7L, "g", 8)).toDF("id", "name", "p"), t,
      partitionBy = Seq("p"))
    assert(DeltaWriter.compact(spark, t) == 2) // the two p=8 files merged
    assert(DeltaReader.read(spark, t, filter = Some("p = 8"))
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 7L))
    // detection pre-pruning over physical stats: a dangling file whose
    // physical-keyed stats exclude the predicate is never opened
    val hi = DeltaReader.read(spark, t, filter = Some("id >= 5 AND p = 50")).inputFiles
    assert(hi.length == 1)
    hi.foreach(u => assert(new java.io.File(new java.net.URI(u)).delete()))
    assert(DeltaWriter.deleteWhere(spark, t, "id = 2") == 1L)
    assert(DeltaReader.read(spark, t, filter = Some("p = 8"))
      .select("id").as[Long].collect().toSeq == Seq(7L))
  }

  test("a concurrent append landing mid-merge refuses at commit (its rows were never probed)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val t = Files.createTempDirectory("dmrace").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t) // v0
    val rival =
      """{"commitInfo":{"timestamp":1,"operation":"RIVAL.Append"}}""" + "\n" +
        """{"add":{"path":"rival.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""
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
    val slow = udf((s: String) => { Thread.sleep(500); s })
    val src = Seq((1L, "A")).toDF("id", "name").withColumn("name", slow(col("name")))
    val e = intercept[Exception](DeltaWriter.merge(spark, src, t, on = Seq("id")))
    watcher.join()
    assert(landed, "test harness: the rival commit never landed")
    assert(e.getMessage.contains("concurrent write added"))
  }

  test("Update-mode streaming sink upserts by key — exactly-once across a restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions.count
    import org.apache.spark.sql.streaming.Trigger
    val t = Files.createTempDirectory("dmupdsink").toString
    val ckpt = Files.createTempDirectory("dmupdckpt").toString
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)](spark)
    def run(): Unit = {
      val q = src.toDF().toDF("k", "v").groupBy("k").agg(count("*").as("n"))
        .writeStream.format("graft-delta").outputMode("update")
        .option("merge_keys", "k")
        .option("path", t).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    src.addData(("a", 1L), ("a", 2L), ("b", 1L))
    run()
    assert(DeltaReader.read(spark, t).select("k", "n").as[(String, Long)]
      .collect().sortBy(_._1).toSeq == Seq(("a", 2L), ("b", 1L)))
    // restart: 'a' grows to 3, 'c' appears — the changed groups upsert
    // in place, 'b' is untouched
    src.addData(("a", 5L), ("c", 9L))
    run()
    assert(DeltaReader.read(spark, t).select("k", "n").as[(String, Long)]
      .collect().sortBy(_._1).toSeq == Seq(("a", 3L), ("b", 1L), ("c", 1L)))
    // a manual replay of an old batch id is a no-op
    val before = DeltaReader.currentVersion(spark, t)
    val sink = new DeltaStreamSink(spark, t, Nil,
      org.apache.spark.sql.streaming.OutputMode.Update(), ckpt, Seq("k"))
    sink.addBatch(0L, Seq(("zz", 99L)).toDF("k", "n"))
    assert(DeltaReader.currentVersion(spark, t) == before)
    assert(DeltaReader.read(spark, t).where("k = 'zz'").count() == 0L)
    // Update without merge_keys refuses loudly
    val e = intercept[Exception] {
      src.toDF().toDF("k", "v").groupBy("k").agg(count("*").as("n"))
        .writeStream.format("graft-delta").outputMode("update")
        .option("path", Files.createTempDirectory("dmupdbad").toString)
        .option("checkpointLocation", Files.createTempDirectory("dmupdbadc").toString)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(e.getMessage.contains("merge_keys") ||
      Option(e.getCause).exists(_.getMessage.contains("merge_keys")))
  }

  test("CDF-enabled tables: merge/delete emit cdc files — the feed serves precise update pairs, never survivors") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmcdf").toString
    DeltaWriter.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v").coalesce(1), t,
      tableConf = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.merge(spark,
      Seq((2L, "B", 21), (4L, "d", 40)).toDF("id", "name", "v"), t, on = Seq("id"))
    val feed = DeltaReader.readChangeFeed(spark, t, 0L)
    val got = feed.select("id", "name", "v", "_change_type")
      .as[(Long, String, Int, String)].collect().toSet
    // PRECISE diff: survivors (1, 3) do NOT appear — only the matched
    // row's update pair and the new key's insert
    assert(got == Set(
      (2L, "b", 20, "update_preimage"),
      (2L, "B", 21, "update_postimage"),
      (4L, "d", 40, "insert")))
    // delete-where on the CDF table: exactly the deleted row
    assert(DeltaWriter.deleteWhere(spark, t, "v = 10") == 1L)
    val feed2 = DeltaReader.readChangeFeed(spark, t, 1L)
    assert(feed2.select("id", "_change_type").as[(Long, String)].collect().toSet ==
      Set((1L, "delete")))
    // the table itself reads correctly after both rewrites
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L))
    // partitioned CDF table: cdc files carry partition tuples
    val t2 = Files.createTempDirectory("dmcdfp").toString
    DeltaWriter.write(spark, Seq((1L, 7), (2L, 8)).toDF("id", "p")
      .repartition(2, org.apache.spark.sql.functions.col("p")), t2,
      partitionBy = Seq("p"), tableConf = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.merge(spark, Seq((1L, 7)).toDF("id", "p"), t2, on = Seq("id"))
    val pfeed = DeltaReader.readChangeFeed(spark, t2, 0L)
      .select("id", "p", "_change_type").as[(Long, Int, String)].collect().toSet
    assert(pfeed == Set((1L, 7, "update_preimage"), (1L, 7, "update_postimage")))
  }

  test(">64 partition tuples: detection/rewrite scans collapse to ONE FileScan + broadcast join; merge and delete stay correct") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmwide").toString
    // 70 distinct partition tuples — past the 64-tuple cap the union-
    // of-per-tuple-scans plan shape is a planner bottleneck; the writer
    // must fall back to the reader's one-scan + broadcast join shape
    val df = spark.range(70).select($"id", ($"id" % 70).cast("int").as("p"),
      ($"id" * 10).cast("int").as("v"))
    DeltaWriter.write(spark, df, t, partitionBy = Seq("p"))
    val head = DeltaLog.snapshot(spark, t)
    assert(head.liveFiles.map(_.partitionValues).distinct.size == 70)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(t).resolve("/"), spark.sparkContext.hadoopConfiguration)
    val scan = DeltaWriter.scanLive(spark, fs, t, head, head.liveFiles)
    val plan = scan.queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(plan).length
    assert(nScans == 1, s"expected ONE FileScan above the tuple cap, plan had $nScans")
    // the broadcast-attached partition values are typed and correct
    assert(scan.where("p = 13").select("id").as[Long].collect().toSeq == Seq(13L))
    // deleteWhere through the capped shape: correct rows, one commit
    assert(DeltaWriter.deleteWhere(spark, t, "v >= 650") == 5L)
    assert(DeltaReader.read(spark, t).count() == 65L)
    // merge through the capped shape: update one row, insert one
    DeltaWriter.merge(spark,
      Seq((3L, 3, 999), (200L, 71, 1)).toDF("id", "p", "v"), t, on = Seq("id"))
    val got = DeltaReader.read(spark, t).where("id = 3 OR id = 200")
      .select("id", "v").as[(Long, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((3L, 999), (200L, 1)))
    assert(DeltaReader.read(spark, t).count() == 66L)
  }

  test("deleteWhere pre-prunes detection: clean partitions' and stats-excluded files are NEVER opened") {
    import spark.implicits._
    // partition pruning: make p=8's data file DANGLE (bytes deleted,
    // add still live) — a detection scan that listed it would fail at
    // plan time, so a green partition-scoped delete proves the file
    // was never touched
    val t = Files.createTempDirectory("dmprune").toString
    val df = Seq((1L, "a", 7), (2L, "b", 7), (3L, "c", 8)).toDF("id", "name", "p")
      .repartition(2, org.apache.spark.sql.functions.col("p"))
    DeltaWriter.write(spark, df, t, partitionBy = Seq("p"))
    DeltaReader.read(spark, t, filter = Some("p = 8")).inputFiles.foreach { u =>
      assert(new java.io.File(new java.net.URI(u)).delete())
    }
    assert(DeltaWriter.deleteWhere(spark, t, "p = 7 AND id = 1") == 1L)
    assert(DeltaReader.read(spark, t, filter = Some("p = 7"))
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // stats pruning (unpartitioned): two files with disjoint id ranges,
    // the high-range file dangling — a delete scoped under its min must
    // skip it from the add.stats ranges alone
    val t2 = Files.createTempDirectory("dmprune2").toString
    DeltaWriter.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1), t2)
    DeltaWriter.write(spark, Seq((100L, "x"), (200L, "y")).toDF("id", "name").coalesce(1), t2)
    val hiFile = DeltaReader.read(spark, t2, filter = Some("id >= 100")).inputFiles
    assert(hiFile.length == 1)
    hiFile.foreach(u => assert(new java.io.File(new java.net.URI(u)).delete()))
    assert(DeltaWriter.deleteWhere(spark, t2, "id = 2") == 1L)
    assert(DeltaReader.read(spark, t2, filter = Some("id < 100"))
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("mergeClauses: partial-column updates, conditional clauses, whenNotMatchedBySource — precise CDC") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmclause").toString
    DeltaWriter.write(spark,
      Seq((1L, "a", 10, 1.0, "keep"), (2L, "b", 20, 2.0, "keep"),
          (3L, "c", 30, 3.0, "drop"), (4L, "d", 40, 4.0, "keep"))
        .toDF("id", "name", "v", "w", "tagc").coalesce(1), t,
      tableConf = Map("delta.enableChangeDataFeed" -> "true"))
    // the source carries ONLY the key and the columns being assigned —
    // updating two columns of a wide table must not require
    // reconstructing full rows
    val src = Seq((1L, 100, "x"), (3L, 300, "y"), (9L, 900, "z")).toDF("id", "nv", "nn")
    DeltaWriter.mergeClauses(spark, src, t, on = Seq("id"), clauses = Seq(
      MergeClause.matchedDelete(condition = "t.tagc = 'drop'"),
      MergeClause.matchedUpdate(set = Map("v" -> "s.nv", "name" -> "concat(t.name, '+')")),
      MergeClause.insert(set = Map("id" -> "s.id", "v" -> "s.nv", "name" -> "s.nn"),
        condition = "s.nv >= 900"),
      MergeClause.bySourceUpdate(set = Map("tagc" -> "'stale'"), condition = "t.id = 4")))
    val got = DeltaReader.read(spark, t)
      .selectExpr("id", "name", "v", "coalesce(w, -1.0) as w", "coalesce(tagc, '-') as tagc")
      .as[(Long, String, Int, Double, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a+", 100, 1.0, "keep"), // two-column update; w untouched
      (2L, "b", 20, 2.0, "keep"),   // unmatched, bySource cond false — unchanged
      (4L, "d", 40, 4.0, "stale"),  // bySource update
      (9L, "z", 900, -1.0, "-")))   // conditional partial insert, rest NULL
    // id=3 matched the delete condition; the nv=300 source row matched
    // no insert condition and id=3 was deleted, so 300 appears nowhere
    // CDC precision: pairs only for applied rows, never survivors
    val feed = DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_commit_version = 1")
      .selectExpr("id", "_change_type").as[(Long, String)].collect().toSeq
    assert(feed.sorted == Seq(
      (1L, "update_postimage"), (1L, "update_preimage"),
      (3L, "delete"),
      (4L, "update_postimage"), (4L, "update_preimage"),
      (9L, "insert")).sorted)
    assert(!feed.exists(_._1 == 2L), "survivors must never reach the change feed")
  }

  test("mergeClauses: unconditioned whenNotMatchedBySource delete removes every unmatched target row") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmbsdel").toString
    DeltaWriter.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name").coalesce(1), t)
    DeltaWriter.mergeClauses(spark, Seq((2L, "B"), (4L, "d")).toDF("id", "name"), t,
      on = Seq("id"), clauses = Seq(
        MergeClause.matchedUpdate(), // updateAll
        MergeClause.insert(),        // insertAll
        MergeClause.bySourceDelete()))
    // the table becomes exactly the source (classic sync-to-source merge)
    assert(DeltaReader.read(spark, t).select("id", "name").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((2L, "B"), (4L, "d")))
  }

  test("mergeClauses validation: bad shapes refuse before anything stages") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmcgate").toString
    DeltaWriter.write(spark, Seq((1L, "a", 1)).toDF("id", "name", "v").coalesce(1), t)
    val src = Seq((1L, "A", 2)).toDF("id", "name", "v")
    def refuse(msgPart: String)(clauses: Seq[MergeClause]): Unit = {
      val e = intercept[Exception](
        DeltaWriter.mergeClauses(spark, src, t, Seq("id"), clauses))
      assert(e.getMessage.contains(msgPart), s"expected '$msgPart' in: ${e.getMessage}")
    }
    refuse("at least one clause")(Nil)
    refuse("cannot take action")(Seq(MergeClause("matched", "insert")))
    refuse("unknown clause kind")(Seq(MergeClause("sometimes", "update")))
    refuse("not a table column")(Seq(MergeClause.matchedUpdate(set = Map("nope" -> "1"))))
    refuse("explicit set expressions")(
      Seq(MergeClause("notMatchedBySource", "update")))
    refuse("nondeterministic")(
      Seq(MergeClause.matchedDelete(condition = "rand() > 0.5")))
    refuse("delete clause cannot carry")(
      Seq(MergeClause("matched", "delete", None, Map("v" -> "1"))))
    // the table is untouched by every refusal
    assert(DeltaReader.read(spark, t).count() == 1L)
  }

  test("merge pre-prunes detection by the source keys' [min,max]: out-of-range files are NEVER opened") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmkprune").toString
    DeltaWriter.write(spark, Seq((1L, "a", 10), (2L, "b", 20))
      .toDF("id", "name", "v").coalesce(1), t)
    DeltaWriter.write(spark, Seq((100L, "x", 1), (200L, "y", 2))
      .toDF("id", "name", "v").coalesce(1), t)
    // the high-range file dangles: a detection semi-join that scanned
    // it would fail at plan time, so a green merge whose keys all sit
    // in [1,2] proves the key-bound conjuncts pruned it via add.stats
    val hiFile = DeltaReader.read(spark, t, filter = Some("id >= 100")).inputFiles
    assert(hiFile.length == 1)
    hiFile.foreach(u => assert(new java.io.File(new java.net.URI(u)).delete()))
    DeltaWriter.merge(spark, Seq((2L, "B", 21)).toDF("id", "name", "v"), t,
      on = Seq("id"), insertNotMatched = false)
    assert(DeltaReader.read(spark, t, filter = Some("id < 100"))
      .select("id", "name", "v").as[(Long, String, Int)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 10), (2L, "B", 21)))
  }

  test("merge leaves a source the CALLER cached exactly as it found it (no refcount-free unpersist)") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmcached").toString
    DeltaWriter.write(spark, Seq((1L, "a", 10)).toDF("id", "name", "v").coalesce(1), t)
    val src = Seq((1L, "A", 11), (2L, "b", 20)).toDF("id", "name", "v").persist()
    try {
      src.count() // materialize the caller's cache
      DeltaWriter.merge(spark, src, t, on = Seq("id"))
      assert(src.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "merge dropped the caller's cache — Spark's cache is not refcounted")
      assert(DeltaReader.read(spark, t).select("id", "v").as[(Long, Int)]
        .collect().sortBy(_._1).toSeq == Seq((1L, 11), (2L, 20)))
    } finally src.unpersist()
  }

  test("tableConf honors delta.enableChangeDataFeed in ANY case (canonicalized, not silently inert)") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmconfcase").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t,
      tableConf = Map("DELTA.EnableChangeDataFeed" -> "true"))
    assert(DeltaWriter.deleteWhere(spark, t, "id = 1") == 1L)
    // a differently-cased key that merely passed the gate verbatim
    // would leave writer version 2 and emit no cdc files
    assert(DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_change_type = 'delete'").count() == 1L)
  }

  test("string stats extremes are picked in code-point order across row groups (pruning-safe max)") {
    import spark.implicits._
    // one file, multiple row groups: the early groups' strings sort
    // HIGH in UTF-16 code-unit order (U+E000 block) but LOW in code
    // point / UTF8String byte order against the late groups'
    // supplementary-plane strings (U+1F600). A max picked with
    // String's natural ordering would record the U+E000 string,
    // sorting BELOW the true max in the pruner's domain — and the
    // delete below would be wrongly pruned to zero rows.
    val pad = "x" * 80
    val rows = (0 until 250).map(i => (i.toLong, "" + f"$i%04d" + pad)) ++
      (250 until 500).map(i => (i.toLong, "😀" + f"$i%04d" + pad))
    val t = Files.createTempDirectory("dmcp").toString
    val hc = spark.sparkContext.hadoopConfiguration
    val prior = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", "2048")
    try DeltaWriter.write(spark, rows.toDF("id", "s").coalesce(1), t)
    finally prior match {
      case Some(v) => hc.set("parquet.block.size", v)
      case None    => hc.unset("parquet.block.size")
    }
    // the fixture only bites with >1 row group in the single data file
    val file = DeltaReader.read(spark, t).inputFiles
    assert(file.length == 1)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      hc, new org.apache.hadoop.fs.Path(new java.net.URI(file(0))),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    assert(footer.getBlocks.size() > 1, "fixture needs multiple row groups")
    assert(DeltaWriter.deleteWhere(spark, t, "s >= '😀'") == 250L)
    assert(DeltaReader.read(spark, t).count() == 250L)
  }

  test("merge evaluates its source plan exactly ONCE (persisted across the four consumers)") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmsrc1").toString
    DeltaWriter.write(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v").coalesce(1), t)
    val acc = spark.sparkContext.longAccumulator("srcEvals")
    val src = spark.createDataset(Seq((2L, "B", 21), (4L, "d", 40)))
      .map { r => acc.add(1); r }.toDF("id", "name", "v")
    DeltaWriter.merge(spark, src, t, on = Seq("id"))
    assert(acc.value == 2L,
      s"source rows were evaluated ${acc.value} times across dup-gate/keys/update/insert — expected once each")
    assert(DeltaReader.read(spark, t).select("id", "v").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq == Seq((1L, 10), (2L, 21), (4L, 40)))
  }

  test("tableConf allowlists delta.* keys at create: behavior-bearing properties refuse, custom keys pass") {
    import spark.implicits._
    // rounds 13-15 moved columnMapping.mode / appendOnly / constraints
    // INTO the honored set — only genuinely-unimplemented behavior
    // keys still refuse
    for (bad <- Seq("delta.isolationLevel" -> "Serializable",
        "delta.enableRowTracking" -> "true", "delta.checkpointPolicy" -> "v2")) {
      val t = Files.createTempDirectory("dmconf").toString
      val e = intercept[Exception](DeltaWriter.write(spark,
        Seq((1L, "a")).toDF("id", "name"), t, tableConf = Map(bad)))
      assert(e.getMessage.contains("delta-spark connector"), s"$bad must refuse")
    }
    // non-delta custom properties are inert metadata — pass verbatim
    // alongside the honored CDF key
    val t = Files.createTempDirectory("dmconfok").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t,
      tableConf = Map("graft.pipeline" -> "nightly", "delta.enableChangeDataFeed" -> "true"))
    assert(DeltaWriter.deleteWhere(spark, t, "id = 1") == 1L)
    assert(DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_change_type = 'delete'").count() == 1L)
  }

  test("encodeDvData round-trips through the reader's decoder (array, bitset and multi-key shapes)") {
    val shapes = Seq(
      Array(1L, 5L, 7L),
      (0L until 5000L).toArray,       // > 4096 → 8 KiB bitset container
      Array(3L, 70000L),              // two containers under one key
      Array(1L, (1L << 32) + 7L))     // two high-32-bit bitmap keys
    shapes.foreach { rows =>
      val data = DeltaWriter.encodeDvData(rows)
      assert(data.length % 4 == 0, "z85 needs 4-byte multiples")
      assert(DeltaReader.decodeDvData(data, rows.length.toLong).toSeq == rows.sorted.toSeq)
    }
  }

  test("DV-enabled tables: deleteWhere commits an inline deletion vector — file bytes untouched") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmdv").toString
    DeltaWriter.write(spark,
      (0 until 100).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1), t,
      tableConf = Map("delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    // deletion vectors are a TABLE FEATURE: reader 3 / writer 7
    val v0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_delta_log", "0" * 20 + ".json"))
    assert(v0.contains("\"minReaderVersion\":3") && v0.contains("deletionVectors"))
    val file0 = DeltaReader.read(spark, t).inputFiles
    assert(file0.length == 1)
    val p0 = java.nio.file.Paths.get(new java.net.URI(file0(0)))
    val bytes0 = java.nio.file.Files.readAllBytes(p0)
    // a 3-row point delete commits a vector, not a rewrite
    assert(DeltaWriter.deleteWhere(spark, t, "id IN (3, 5, 9)") == 3L)
    // the read may reference the parquet once per plan leg (data + DV
    // mask) — the SET of files is what must be unchanged
    assert(DeltaReader.read(spark, t).inputFiles.toSet == file0.toSet)
    assert(java.util.Arrays.equals(bytes0, java.nio.file.Files.readAllBytes(p0)),
      "the data file's bytes must be untouched")
    assert(DeltaReader.read(spark, t).count() == 97L)
    assert(DeltaReader.read(spark, t).where("id IN (3, 5, 9)").count() == 0L)
    // the change feed serves exactly the three deleted rows (cdc files)
    assert(DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_commit_version = 1 AND _change_type = 'delete'")
      .select("id").as[Long].collect().sorted.toSeq == Seq(3L, 5L, 9L))
    // a second delete UNIONS into the vector; an already-deleted row
    // matching the predicate neither recounts nor reappears in cdc
    assert(DeltaWriter.deleteWhere(spark, t, "id IN (5, 7)") == 1L)
    assert(DeltaReader.read(spark, t).count() == 96L)
    assert(DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_commit_version = 2 AND _change_type = 'delete'")
      .select("id").as[Long].collect().toSeq == Seq(7L))
    // history intact: the pre-delete version serves all 100 rows
    assert(DeltaReader.read(spark, t, versionAsOf = Some(0L)).count() == 100L)
    // over the matched-fraction threshold the delete falls back to the
    // masked copy-on-write rewrite: new file, no vector, masked rows
    // stay deleted through the rewrite
    assert(DeltaWriter.deleteWhere(spark, t, "id < 60") == 56L)
    assert(DeltaReader.read(spark, t).inputFiles.toSet != file0.toSet,
      "an over-threshold delete must rewrite")
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      (60L until 100L))
  }

  test("MERGE-ON-READ: a small upsert extends the vector and stages only its new rows; big merges rewrite") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmdvmerge").toString
    DeltaWriter.write(spark,
      (0 until 10).map(i => (i.toLong, i * 10)).toDF("id", "v").coalesce(1), t,
      tableConf = Map("delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    val origPath = DeltaLog.snapshot(spark, t).liveFiles.head.path
    assert(DeltaWriter.deleteWhere(spark, t, "id IN (2, 4)") == 2L)
    // a 1-matched-row upsert: the old file's BYTES stay, its vector
    // grows by the updated row's position, and only the post-image +
    // the insert land in a new file — O(matched), not a rewrite
    DeltaWriter.merge(spark, Seq((3L, 999), (42L, 1)).toDF("id", "v"), t, on = Seq("id"))
    val got = DeltaReader.read(spark, t).select("id", "v").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 0), (1L, 10), (3L, 999), (5L, 50), (6L, 60),
      (7L, 70), (8L, 80), (9L, 90), (42L, 1)))
    val head1 = DeltaLog.snapshot(spark, t)
    val old1 = head1.liveFiles.find(_.path == origPath)
      .getOrElse(fail("the original file must still be live"))
    assert(old1.hasDv)
    assert(head1.liveFiles.filterNot(_.path == origPath).forall(!_.hasDv),
      "new-row files never carry vectors")
    // the feed stays precise across the MoR commit (version 2): one
    // update pair + one insert, nothing for survivors or masked rows
    assert(DeltaReader.readChangeFeed(spark, t, 0L)
      .where("_commit_version = 2").selectExpr("id", "_change_type")
      .as[(Long, String)].collect().sorted.toSeq == Seq(
        (3L, "update_postimage"), (3L, "update_preimage"), (42L, "insert")).sorted)
    val card = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(old1.dvJson.get).get("cardinality").asLong()
    assert(card == 3L, s"2 deletes + 1 update pre-image, got $card")
    // a merge matching most of the file's live rows exceeds the
    // fraction threshold: full masked rewrite, vectors cleared, masked
    // rows never resurrect
    DeltaWriter.merge(spark,
      Seq((0L, -1), (1L, -1), (5L, -1), (6L, -1), (7L, -1)).toDF("id", "v"), t,
      on = Seq("id"), insertNotMatched = false)
    assert(DeltaLog.snapshot(spark, t).liveFiles.forall(!_.hasDv))
    assert(DeltaReader.read(spark, t).select("id", "v").as[(Long, Int)]
      .collect().sortBy(_._1).toSeq == Seq((0L, -1), (1L, -1), (3L, 999),
      (5L, -1), (6L, -1), (7L, -1), (8L, 80), (9L, 90), (42L, 1)))
  }

  test("OPTIMIZE purges vectors: a lone DV'd file compacts to a clean file with identical rows") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmdvopt").toString
    DeltaWriter.write(spark,
      (0 until 10).map(i => (i.toLong, s"n$i")).toDF("id", "name").coalesce(1), t,
      tableConf = Map("delta.enableDeletionVectors" -> "true"))
    assert(DeltaWriter.deleteWhere(spark, t, "id IN (2, 4)") == 2L)
    assert(DeltaWriter.compact(spark, t) == 1) // the DV'd file is a group of one
    val head = DeltaLog.snapshot(spark, t)
    assert(head.liveFiles.size == 1 && head.liveFiles.forall(!_.hasDv),
      "compaction must rewrite the vector away")
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 5L, 6L, 7L, 8L, 9L))
    // nothing left to compact
    assert(DeltaWriter.compact(spark, t) == 0)
  }

  test("merge txn marks the commit for exactly-once streaming upserts") {
    import spark.implicits._
    val t = Files.createTempDirectory("dmtxn").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), t)
    DeltaWriter.merge(spark, Seq((1L, "A")).toDF("id", "name"), t, on = Seq("id"),
      txn = Some("upsert-app" -> 7L))
    assert(DeltaWriter.lastTxnVersion(spark, t, "upsert-app") == 7L)
    // even a provably-no-op merge records its txn (the sink's replay
    // probe must remember empty batches)
    DeltaWriter.merge(spark, Seq((9L, "z")).toDF("id", "name"), t, on = Seq("id"),
      insertNotMatched = false, txn = Some("upsert-app" -> 8L))
    assert(DeltaWriter.lastTxnVersion(spark, t, "upsert-app") == 8L)
    assert(DeltaReader.read(spark, t).select("name").as[String].collect().toSeq == Seq("A"))
  }

  test("mapped-table evolution: mergeSchema assigns fresh physicalName/id; rename and drop are metadata-only") {
    import spark.implicits._
    def mMeta(phys: String, id: Int) = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val mappedSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, mMeta("col-aaa", 1)),
      StructField("name", StringType, nullable = true, mMeta("col-bbb", 2)),
      StructField("p", IntegerType, nullable = true, mMeta("col-ppp", 3)))).json
    val t = Files.createTempDirectory("dmevolve").toString
    writeCommit(t, 0, Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"m1","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${js(mappedSchema)},"partitionColumns":["p"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"3"},"createdTime":1}}"""))
    DeltaWriter.write(spark, Seq((1L, "a", 7), (2L, "b", 8)).toDF("id", "name", "p"), t,
      partitionBy = Seq("p"))
    val filesV1 = DeltaReader.read(spark, t).inputFiles.toSet
    // mergeSchema ADD: the new column stages under a FRESH physical
    // name/id and the committed metaData carries the same mapping plus
    // the advanced maxColumnId
    DeltaWriter.write(spark, Seq((3L, "c", 7, 1.5)).toDF("id", "name", "p", "x"), t,
      partitionBy = Seq("p"), mergeSchema = true)
    val afterAdd = DeltaReader.read(spark, t)
      .selectExpr("id", "coalesce(x, -1.0) as x").as[(Long, Double)].collect().sortBy(_._1)
    assert(afterAdd.toSeq == Seq((1L, -1.0), (2L, -1.0), (3L, 1.5)))
    val head1 = DeltaLog.snapshot(spark, t)
    val xField = org.apache.spark.sql.types.DataType.fromJson(head1.schemaJson)
      .asInstanceOf[StructType].fields.find(_.name == "x").get
    assert(xField.metadata.getString("delta.columnMapping.physicalName").startsWith("col-"))
    assert(xField.metadata.getLong("delta.columnMapping.id") == 4L)
    assert(mapper.readTree(head1.metaJson).get("configuration")
      .get("delta.columnMapping.maxColumnId").asText() == "4")
    // the staged file carries the PHYSICAL column name, not 'x'
    val newFile = (DeltaReader.read(spark, t).inputFiles.toSet -- filesV1).head
    val rawCols = spark.read.parquet(newFile).columns.toSet
    assert(rawCols.contains(xField.metadata.getString("delta.columnMapping.physicalName"))
      && !rawCols.contains("x"), s"raw columns: $rawCols")
    // RENAME: metadata-only — values serve under the new logical name,
    // the version advances by exactly one commit, no data file changes
    val filesBefore = DeltaReader.read(spark, t).inputFiles.sorted.toSeq
    DeltaWriter.renameColumn(spark, t, "name", "title")
    assert(DeltaReader.read(spark, t).inputFiles.sorted.toSeq == filesBefore)
    assert(DeltaReader.read(spark, t).selectExpr("title")
      .as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
    // renaming a PARTITION column updates partitionColumns; pruning
    // still works (partitionValues key physically and stay valid)
    DeltaWriter.renameColumn(spark, t, "p", "pt")
    val p7 = DeltaReader.read(spark, t, filter = Some("pt = 7"))
    assert(p7.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(p7.inputFiles.length < DeltaReader.read(spark, t).inputFiles.length)
    // appends under the NEW logical names land; row-level rewrites
    // round-trip through the evolved mapping
    DeltaWriter.write(spark, Seq((5L, "e", 9, 2.5)).toDF("id", "title", "pt", "x"), t,
      partitionBy = Seq("pt"))
    assert(DeltaWriter.deleteWhere(spark, t, "title = 'b'") == 1L)
    assert(DeltaReader.read(spark, t).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L))
    // DROP: metadata-only; a later mergeSchema re-adding the same
    // LOGICAL name gets a FRESH physical column — old values can NEVER
    // resurrect (they sit under the orphaned physical name)
    DeltaWriter.dropColumn(spark, t, "x")
    assert(!DeltaReader.read(spark, t).columns.contains("x"))
    DeltaWriter.write(spark, Seq((6L, "f", 9, 9.9)).toDF("id", "title", "pt", "x"), t,
      partitionBy = Seq("pt"), mergeSchema = true)
    val resurrect = DeltaReader.read(spark, t)
      .selectExpr("id", "coalesce(x, -1.0) as x").as[(Long, Double)].collect().sortBy(_._1)
    assert(resurrect.toSeq == Seq((1L, -1.0), (3L, -1.0), (5L, -1.0), (6L, 9.9)),
      s"dropped values must not resurrect: ${resurrect.toSeq}")
    val head2 = DeltaLog.snapshot(spark, t)
    val x2 = org.apache.spark.sql.types.DataType.fromJson(head2.schemaJson)
      .asInstanceOf[StructType].fields.find(_.name == "x").get
    assert(x2.metadata.getLong("delta.columnMapping.id") == 5L)
    assert(x2.metadata.getString("delta.columnMapping.physicalName") !=
      xField.metadata.getString("delta.columnMapping.physicalName"))
    // refusals: unmapped tables, partition columns, collisions, misses
    val tu = Files.createTempDirectory("dmevplain").toString
    DeltaWriter.write(spark, Seq((1L, "a")).toDF("id", "name"), tu)
    val e1 = intercept[Exception](DeltaWriter.renameColumn(spark, tu, "name", "title"))
    assert(e1.getMessage.contains("not column-mapped"))
    val e2 = intercept[Exception](DeltaWriter.dropColumn(spark, tu, "name"))
    assert(e2.getMessage.contains("not column-mapped"))
    val e3 = intercept[Exception](DeltaWriter.renameColumn(spark, t, "id", "title"))
    assert(e3.getMessage.contains("already exists"))
    val e4 = intercept[Exception](DeltaWriter.dropColumn(spark, t, "pt"))
    assert(e4.getMessage.contains("partition column"))
    val e5 = intercept[Exception](DeltaWriter.renameColumn(spark, t, "nope", "x2"))
    assert(e5.getMessage.contains("does not exist"))
  }
}
