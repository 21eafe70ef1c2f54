package graft.examples

import graft.Engine
import graft.catalog.{Catalog, CatalogIO, SimpleUserParameter, TextExpr}
import graft.datatypes.DataRef
import graft.inspect.Inspect
import graft.ops.{Dedup, Relational, Similarity, TextOps}
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._

/** End-to-end tour of the public API — what a user of the reference
  * library would do after switching to this engine. Run with:
  * `sbt "runMain graft.examples.QuickStart [testdata-dir]"`.
  */
object QuickStart {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Engine.session(4, "spark.app.name" -> "graft-quickstart")
    spark.sparkContext.setLogLevel("WARN")

    // 1. URL → data, no format given: detect + pick reader + lazy pipeline
    val pipe = Pipeline.auto(s"file://$sf/lineitem.parquet")
      .andThen("high_qty", _.filter(col("l_quantity") > 45))
      .andThen("by_flag", _.groupBy("l_returnflag").count())
    println("[1] auto-pipeline stages: " + pipe.describe.mkString(" -> "))
    pipe.read(spark).show(5)

    // 2. Cheap inspection without a full read
    val info = Inspect.inspectDataset(spark, s"file://$sf/orders.parquet")
    println(s"[2] inspect: kind=${info.kind} reader=${info.reader} files=${info.nFiles} bytes=${info.totalBytes} cols=${info.columns.take(4).mkString(",")}...")

    // 3. Catalog: build, persist YAML, reload, templated access, search, SQL
    val cat = Catalog(userParameters = Seq(SimpleUserParameter("sf", "scale dir", "str", sf)))
      .add("lineitem", DataRef("parquet", "{sf}/lineitem.parquet"), "spark_parquet")
      .add("orders", DataRef("parquet", "{sf}/orders.parquet"), "spark_parquet")
      .add("documents", DataRef("parquet", "{sf}/documents.parquet"), "spark_parquet")
    val yamlPath = java.nio.file.Files.createTempFile("graft_cat", ".yaml").toString
    CatalogIO.toYamlFile(cat, yamlPath)
    val cat2 = CatalogIO.fromYamlFile(yamlPath)
    println(s"[3] catalog round-trip: ${cat2.names.mkString(",")} (yaml at $yamlPath)")
    println("    search('orders') -> " + cat2.search(TextExpr("orders")).names.mkString(","))
    cat2.sql(spark,
      "SELECT o_orderstatus, count(*) n FROM orders GROUP BY 1 ORDER BY 1").show()

    // 4. Training-data ops: dedup + text analysis + similarity
    val docs = cat2("documents").read(spark)
    val nearDups = Dedup.minhashNearDupPairs(docs, "doc_id", "text", shingleN = 2, threshold = 0.6)
    println(s"[4] minhash near-dup pairs (est_jaccard>=0.6): ${nearDups.count()}")
    docs.select(TextOps.langId(col("text")).as("lang")).groupBy("lang").count().show()

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      emb.limit(3), "vec_id", "embedding", k = 2).show()

    // 5. As-of join on the events stream table
    val ev = graft.queries.table(spark, sf, "events")
    val purchases = ev.filter(col("event_type") === "purchase").select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val asof = Relational.asofJoin(purchases, clicks, "ts", "click_ts", Seq(("user_id", "user_id")))
    println(s"[5] as-of join: ${asof.filter(col("click_id").isNotNull).count()} purchases with a prior click")

    // 6. SQL vector functions through the extension registry
    graft.functions.GraftExtensions.register(spark)
    spark.read.parquet(s"$sf/embeddings.parquet").createOrReplaceTempView("emb")
    val simRow = spark.sql(
      "SELECT cosine_sim(a.embedding, b.embedding) AS sim FROM emb a JOIN emb b ON a.vec_id=0 AND b.vec_id=1")
      .collect().head.getDouble(0)
    println(f"[6] SQL cosine_sim(v0, v1) = $simRow%.4f")

    // 7. Typed Dataset views
    val longDocs = graft.model.Tables.documents(spark, sf).filter(_.n_chars > 300).count()
    println(s"[7] typed view: $longDocs documents over 300 chars")

    // 8. Training-data prep: chunk documents into token windows, then
    // pack the windows into context-budget bins
    val docs8 = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val chunks = graft.ops.Chunking.chunkByTokens(docs8, "doc_id", "text", maxTokens = 64, overlap = 8)
    val packs = graft.ops.Chunking.packSequences(
      chunks.selectExpr("chunk_index + 1000 * doc_id AS id", "chunk_tokens"),
      "id", "chunk_tokens", budget = 512)
    println(s"[8] chunking: ${chunks.count()} windows packed into ${packs.count()} bins of <=512 tokens")

    // 9. Bloom pre-filter: drop probe rows before a join shuffle
    val bigSide = graft.queries.table(spark, sf, "lineitem").select(col("l_orderkey"))
    val smallSide = graft.queries.table(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val preFiltered = Relational.bloomPreFilter(bigSide, smallSide, "l_orderkey", "o_orderkey")
    println(s"[9] bloom pre-filter kept ${preFiltered.count()} of ${bigSide.count()} probe rows")

    // 10. Corpus hygiene: scrub PII, drop docs overlapping a benchmark
    // probe set, then shard the survivors in a reproducible order
    val docsTbl = graft.queries.table(spark, sf, "documents")
    val scrubbed = docsTbl.withColumn("text", graft.ops.TextOps.redactPii(col("text")))
    val probes = docsTbl.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("probe_id"), col("text"))
    val cleanDocs = graft.ops.Decontam.decontaminate(
      scrubbed, "doc_id", "text", probes, "probe_id", "text", n = 5)
    val sharded = graft.ops.Mixing.assignShards(
      graft.ops.Mixing.deterministicShuffle(cleanDocs, "doc_id"), "doc_id", 4)
    println(s"[10] hygiene: ${cleanDocs.count()} of ${docsTbl.count()} docs kept, " +
      s"${sharded.select("shard").distinct().count()} shards")

    // 11. Native Delta END TO END, no connector jar: write a
    // partitioned table (the writer publishes stats + partitionValues
    // into the log), register it as a LIVE deferred view whose queries
    // prune files from their own WHERE, then append and read only the
    // changes
    val dt = java.nio.file.Files.createTempDirectory("qs_delta").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 30).selectExpr("id", "cast(id % 3 AS int) AS p"),
      dt, partitionBy = Seq("p"))
    graft.readers.DeltaReader.table(spark, dt).createOrReplaceTempView("qs_dt")
    val pruned = spark.sql("SELECT count(*) AS n FROM qs_dt WHERE p = 1").collect().head.getLong(0)
    println(s"[11] native Delta write -> deferred view: p=1 holds $pruned rows " +
      "(file skipping drove off the query's own WHERE)")
    graft.readers.DeltaWriter.write(spark,
      spark.range(100, 103).selectExpr("id", "cast(id % 3 AS int) AS p"), dt)
    val changed = graft.readers.DeltaReader.readChangesSince(spark, dt, 0L)
    println(s"[11]   readChangesSince(0): ${changed.count()} new rows, versions " +
      changed.select("_commit_version").distinct().collect().map(_.getLong(0)).mkString(","))

    // 12. Stream the same table with the graft-delta source: snapshot
    // first, then the appended version — still no connector jar
    val tail = spark.readStream.format("graft-delta").load(dt)
      .writeStream.format("memory").queryName("qs_tail").start()
    try {
      tail.processAllAvailable()
      val n0 = spark.table("qs_tail").count()
      graft.readers.DeltaWriter.write(spark,
        spark.range(200, 202).selectExpr("id", "cast(id % 3 AS int) AS p"), dt)
      tail.processAllAvailable()
      println(s"[12] graft-delta stream: snapshot $n0 rows, " +
        s"then ${spark.table("qs_tail").count() - n0} more from the live append")
    } finally tail.stop()

    // 13. Row-level change feed + lifecycle on the same table: evolve
    // the schema additively, compact, and read the whole history as
    // typed changes — overwrites surface as delete+insert pairs
    graft.readers.DeltaWriter.write(spark,
      spark.range(300, 302).selectExpr("id", "cast(id % 3 AS int) AS p", "'fresh' AS tag"),
      dt, mergeSchema = true)
    graft.readers.DeltaWriter.compact(spark, dt)
    val feed = graft.readers.DeltaReader.readChangeFeed(spark, dt, 2L)
    println(s"[13] change feed since v2: " +
      feed.groupBy("_change_type").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ") +
      " (the OPTIMIZE commit is invisible — dataChange=false)")

    // 14. Native Iceberg: identity-partitioned write, snapshot
    // compaction, history expiry — written tables prune immediately
    val it = java.nio.file.Files.createTempDirectory("qs_iceberg").toString
    graft.readers.IcebergWriter.write(spark,
      spark.range(0, 20).selectExpr("id", "cast(id % 2 AS int) AS p"),
      it, partitionBy = Seq("p"))
    graft.readers.IcebergWriter.write(spark,
      spark.range(20, 30).selectExpr("id", "cast(id % 2 AS int) AS p"), it)
    val groupsCompacted = graft.readers.IcebergWriter.compact(spark, it)
    val expired = graft.readers.IcebergWriter.expireSnapshots(spark, it, keepLast = 1)
    println(s"[14] native Iceberg: $groupsCompacted partition groups compacted, " +
      s"$expired snapshots expired, " +
      s"${graft.readers.IcebergReader.read(spark, it, filter = Some("p = 1")).count()} rows in p=1")

    // 15. Row-level writes (round 12): MERGE upserts by key and DELETE
    // WHERE takes data-column predicates — copy-on-write per touched
    // file, one commit, and the change feed derives the row diff
    val mt = java.nio.file.Files.createTempDirectory("qs_merge").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 10).selectExpr("id", "concat('u', id) AS name"), mt)
    graft.readers.DeltaWriter.merge(spark,
      spark.range(8, 12).selectExpr("id", "concat('U', id) AS name"), mt, on = Seq("id"))
    val deletedRows = graft.readers.DeltaWriter.deleteWhere(spark, mt, "id < 3")
    println(s"[15] delta merge+delete: upserted 8..11, deleted $deletedRows rows, " +
      s"${graft.readers.DeltaReader.read(spark, mt).count()} remain; feed diff = " +
      graft.readers.DeltaReader.readChangeFeed(spark, mt, 0L)
        .groupBy("_change_type").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" "))

    // 16. Iceberg round 12: NESTED columns + transform partitioning +
    // the same row-level merge — written tables prune on the transform
    val it2 = java.nio.file.Files.createTempDirectory("qs_iceberg2").toString
    graft.readers.IcebergWriter.write(spark,
      spark.range(0, 12).selectExpr("id",
        "named_struct('src', concat('s', id % 3), 'score', cast(id AS double)) AS meta",
        "concat('cat-', id % 4) AS label"),
      it2, partitionBy = Seq("truncate(5, label)"))
    graft.readers.IcebergWriter.merge(spark,
      spark.range(0, 2).selectExpr("id",
        "named_struct('src', 'merged', 'score', 9.9d) AS meta",
        "concat('cat-', id % 4) AS label"),
      it2, on = Seq("id"))
    val prunedIce = graft.readers.IcebergReader.read(spark, it2,
      filter = Some("label = 'cat-1'"))
    println(s"[16] iceberg nested+truncate: merged structs, " +
      s"${prunedIce.count()} rows in cat-1 via " +
      s"${prunedIce.inputFiles.length} pruned file(s); merged meta.src = " +
      graft.readers.IcebergReader.read(spark, it2).where("id = 0")
        .selectExpr("meta.src").collect().head.getString(0))

    // 17. Row-level CHANGE FEEDS both formats: Iceberg derives
    // delete+insert pairs from its snapshot diffs; a CDF-enabled Delta
    // table gets PRECISE update pairs from the native merge's cdc files
    val feedIce = graft.readers.IcebergReader.readChangeFeed(spark, it2, -1L)
      .groupBy("_change_type").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    val ct = java.nio.file.Files.createTempDirectory("qs_cdf").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 6).selectExpr("id", "concat('u', id) AS name"), ct,
      tableConf = Map("delta.enableChangeDataFeed" -> "true"))
    graft.readers.DeltaWriter.merge(spark,
      spark.range(4, 8).selectExpr("id", "concat('U', id) AS name"), ct, on = Seq("id"))
    val feedCdf = graft.readers.DeltaReader.readChangeFeed(spark, ct, 0L)
      .groupBy("_change_type").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[17] change feeds: iceberg ($feedIce); delta CDF precise ($feedCdf — " +
      "update pairs + inserts only, survivors never appear)")

    // 18. Round 14 — the full merge-builder surface: conditional
    // clauses, partial-column updates, whenNotMatchedBySource; plus
    // RESTORE rewinding the table in one appended commit
    import graft.readers.MergeClause
    val bt = java.nio.file.Files.createTempDirectory("qs_builder").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 6).selectExpr("id", "concat('u', id) AS name",
        "cast(id * 10 AS int) AS v"), bt)
    graft.readers.DeltaWriter.mergeClauses(spark,
      spark.range(4, 8).selectExpr("id", "cast(id AS int) AS nv"), bt, on = Seq("id"),
      clauses = Seq(
        MergeClause.matchedDelete(condition = "t.id = 4"),
        MergeClause.matchedUpdate(set = Map("v" -> "s.nv")), // name untouched
        MergeClause.insert(set = Map("id" -> "s.id", "v" -> "s.nv")),
        MergeClause.bySourceUpdate(set = Map("name" -> "concat(t.name, '!')"),
          condition = "t.id = 0")))
    val v1 = 1L // the merge's commit
    val (rm18, add18) = graft.readers.DeltaWriter.restore(spark, bt, 0L)
    println(s"[18] merge clauses: ${graft.readers.DeltaReader.read(spark, bt, versionAsOf = Some(v1))
        .selectExpr("concat_ws(':', id, coalesce(name, '-'), v)")
        .collect().map(_.getString(0)).sorted.mkString(" ")}; " +
      s"restore(0) removed $rm18 / resurrected $add18 -> " +
      s"${graft.readers.DeltaReader.read(spark, bt).count()} rows again")

    // 19. Merge-on-read both formats: point deletes cost O(matched
    // rows) — Delta commits inline deletion vectors, Iceberg position-
    // delete files; maintenance folds them back into clean files
    val dvT = java.nio.file.Files.createTempDirectory("qs_dv").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 1000).selectExpr("id", "concat('r', id) AS name"), dvT,
      tableConf = Map("delta.enableDeletionVectors" -> "true"))
    val dvDel = graft.readers.DeltaWriter.deleteWhere(spark, dvT, "id IN (7, 13, 42)")
    val morT = java.nio.file.Files.createTempDirectory("qs_mor").toString
    graft.readers.IcebergWriter.write(spark,
      spark.range(0, 1000).selectExpr("id", "concat('r', id) AS name"), morT)
    val morDel = graft.readers.IcebergWriter.deleteWhere(spark, morT, "id IN (7, 13)",
      mode = "merge-on-read")
    val (matData, matDel) = graft.readers.IcebergWriter.materializeDeletes(spark, morT)
    println(s"[19] merge-on-read: delta DV delete ($dvDel rows, " +
      s"${graft.readers.DeltaReader.read(spark, dvT).count()} remain, bytes untouched); " +
      s"iceberg position deletes ($morDel rows) then materializeDeletes " +
      s"($matData data file(s) rewritten, $matDel delete file(s) folded, " +
      s"${graft.readers.IcebergReader.read(spark, morT).count()} remain)")

    // 20. Round 15 — metadata-only schema evolution by stable ids and
    // OPTIMIZE ZORDER on both formats: a rename costs zero data IO
    // (old files resolve by field id), and the clustered rewrite makes
    // multi-column stats/bounds skipping real — including for BETWEEN
    val zt = java.nio.file.Files.createTempDirectory("qs_z").toString
    graft.readers.IcebergWriter.write(spark,
      spark.range(0, 4096).selectExpr("id", "cast(id % 64 AS int) AS a",
        "cast((id * 37) % 64 AS int) AS b").repartition(4), zt)
    graft.readers.IcebergWriter.renameColumn(spark, zt, "b", "bb")
    val zn = graft.readers.IcebergWriter.zorder(spark, zt, Seq("a", "bb"),
      targetFileBytes = 8000)
    val zPruned = graft.readers.IcebergReader.read(spark, zt,
      filter = Some("a BETWEEN 10 AND 12 AND bb BETWEEN 22 AND 24"))
    val dzt = java.nio.file.Files.createTempDirectory("qs_dz").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 4096).selectExpr("id", "cast(id % 64 AS int) AS a",
        "cast((id * 37) % 64 AS int) AS b").repartition(4), dzt)
    val dzn = graft.readers.DeltaWriter.zorder(spark, dzt, Seq("a", "b"),
      targetFileBytes = 8000)
    val dzPruned = graft.readers.DeltaReader.read(spark, dzt,
      filter = Some("a BETWEEN 10 AND 12 AND b BETWEEN 22 AND 24"))
    println(s"[20] rename+zorder: iceberg $zn files rewritten, box scan " +
      s"${zPruned.inputFiles.length}/${graft.readers.IcebergReader.read(spark, zt).inputFiles.length} " +
      s"files (${zPruned.count()} rows); delta $dzn rewritten, box scan " +
      s"${dzPruned.inputFiles.length}/${graft.readers.DeltaReader.read(spark, dzt).inputFiles.length} " +
      s"files (${dzPruned.count()} rows)")

    // 21. Lifecycle + inspection: tags pin history by name, shallow
    // clones fork a table with zero data IO, and both formats answer
    // "what happened" (DESCRIBE HISTORY / metadata tables)
    graft.readers.IcebergWriter.tagSnapshot(spark, zt, "prod")
    val tagged = graft.readers.IcebergReader.read(spark, zt, ref = Some("prod")).count()
    val cloneDst = java.nio.file.Files.createTempDirectory("qs_clone").toString + "/t"
    val cloned = graft.readers.IcebergWriter.cloneTable(spark, zt, cloneDst)
    val dhist = graft.readers.DeltaReader.history(spark, dzt)
      .selectExpr("concat_ws(':', version, operation)")
      .collect().map(_.getString(0)).sorted.mkString(" ")
    val ifiles = graft.readers.IcebergReader.metadataTable(spark, zt, "files")
    println(s"[21] lifecycle: tag 'prod' reads $tagged rows; clone referenced $cloned " +
      s"files with zero copies (${graft.readers.IcebergReader.read(spark, cloneDst).count()} rows); " +
      s"delta history = [$dhist]; iceberg files table: " +
      s"${ifiles.count()} files / ${ifiles.selectExpr("sum(record_count)").collect().head.getLong(0)} rows")

    // 22. Round 15 — data quality gates + write-audit-publish: CHECK
    // constraints / NOT NULL / generated columns evaluate inside the
    // staging scan (a gated 100 TB append pays zero extra reads), and
    // Iceberg branches isolate unaudited writes until fastForward
    // publishes them to main atomically
    val consT = java.nio.file.Files.createTempDirectory("qs_cons").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 100).selectExpr("id",
        "timestamp'2024-01-02 10:00:00' + make_interval(0,0,0,0,0,0,id*3600) AS ts"),
      consT, partitionBy = Seq("day"), notNull = Seq("id"),
      generatedColumns = Map("day" -> "CAST(ts AS DATE)"))
    graft.readers.DeltaWriter.addConstraint(spark, consT, "id_pos", "id >= 0")
    val rejected = scala.util.Try(graft.readers.DeltaWriter.write(spark,
      spark.range(1).selectExpr("-5 AS id", "current_timestamp() AS ts"), consT)).isFailure
    val dayFiles = graft.readers.DeltaReader.read(spark, consT,
      filter = Some("day = DATE'2024-01-03'")).inputFiles.length
    val wapT = java.nio.file.Files.createTempDirectory("qs_wap").toString
    graft.readers.IcebergWriter.write(spark,
      spark.range(0, 500).selectExpr("id", "concat('r', id) AS name"), wapT,
      notNull = Seq("id"))
    graft.readers.IcebergWriter.createBranch(spark, wapT, "staging")
    graft.readers.IcebergWriter.write(spark,
      spark.range(500, 600).selectExpr("id", "concat('r', id) AS name"), wapT,
      toBranch = Some("staging"))
    val mainBefore = graft.readers.IcebergReader.read(spark, wapT).count()
    val audited = graft.readers.IcebergReader.read(spark, wapT,
      ref = Some("staging")).where("id IS NULL OR id < 0").count() == 0 // the audit
    graft.readers.IcebergWriter.fastForward(spark, wapT, "staging")
    println(s"[22] gates+WAP: violating append rejected=$rejected before any commit; " +
      s"generated day column prunes to $dayFiles file(s); branch isolated " +
      s"$mainBefore->main rows until audit passed=$audited and fastForward " +
      s"published ${graft.readers.IcebergReader.read(spark, wapT).count()}")

    // 23. Round 15, part two — ALTER surface + CDF streaming: turn on
    // the change feed mid-life (protocol upgrade rides the same
    // commit), then tail ROW-LEVEL changes as a stream — deletes and
    // merge updates arrive as retraction/update rows the append-only
    // source would have refused
    val altT = java.nio.file.Files.createTempDirectory("qs_alter").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 50).selectExpr("id", "concat('r', id) AS name"), altT)
    graft.readers.DeltaWriter.setTableConf(spark, altT,
      Map("delta.enableChangeDataFeed" -> "true"))
    val cdfCkpt = java.nio.file.Files.createTempDirectory("qs_cdfck").toString
    val cdfSeen = new java.util.concurrent.atomic.AtomicReference(Seq.empty[String])
    val cdfQ = spark.readStream.format("graft-delta")
      .option("read_change_feed", "true")
      .option("startingVersion", "latest").load(altT)
      .writeStream.option("checkpointLocation", cdfCkpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.selectExpr("concat(_change_type, ':', id)")
          .collect().map(_.getString(0)).toSeq
        cdfSeen.updateAndGet(_ ++ rows); ()
      }.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50)).start()
    try {
      cdfQ.processAllAvailable()
      graft.readers.DeltaWriter.deleteWhere(spark, altT, "id = 7")
      graft.readers.DeltaWriter.mergeClauses(spark,
        spark.range(1).selectExpr("CAST(8 AS BIGINT) AS id", "'R8' AS nv"), altT, on = Seq("id"),
        clauses = Seq(graft.readers.MergeClause.matchedUpdate(set = Map("name" -> "s.nv"))))
      cdfQ.processAllAvailable()
    } finally cdfQ.stop()
    // a mapped create (column names fully decoupled from file layout)
    // and an append-only declaration round out the ALTER story
    val mapT = java.nio.file.Files.createTempDirectory("qs_mapped").toString
    graft.readers.DeltaWriter.write(spark,
      spark.range(0, 10).selectExpr("id", "concat('n', id) AS name"), mapT,
      tableConf = Map("delta.columnMapping.mode" -> "name"))
    graft.readers.DeltaWriter.renameColumn(spark, mapT, "name", "label")
    val aoT = java.nio.file.Files.createTempDirectory("qs_ao").toString
    graft.readers.DeltaWriter.write(spark, spark.range(5).selectExpr("id"), aoT,
      tableConf = Map("delta.appendOnly" -> "true"))
    val aoRefused = scala.util.Try(
      graft.readers.DeltaWriter.deleteWhere(spark, aoT, "id = 1")).isFailure
    println(s"[23] alter+CDF-stream: feed rows = ${cdfSeen.get.sorted.mkString(", ")}; " +
      s"mapped create + rename reads ${graft.readers.DeltaReader.read(spark, mapT)
        .where("label = 'n3'").count()} row; append-only delete refused=$aoRefused")

    // 24. Round 17 — the LLM training-data pipeline end-to-end, every
    // stage an operator from this library composed on DataFrames:
    // C4-clean pages -> drop span-duplicated docs (Lee et al.) ->
    // near-dup dedup (MinHash-LSH -> connected components) ->
    // benchmark decontamination -> temperature-sampled source mix ->
    // reproducible shard assignment. Each stage keeps the one-shuffle
    // discipline documented in SCALE.md, so the same chain runs on a
    // 100 TB corpus unchanged.
    // the synthetic corpus has no sentence punctuation (every C4 line
    // rule would be vacuous), so derive line structure the same way the
    // q89 oracle does before cleaning
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("text", expr("replace(text, ' table ', concat('.', chr(10)))"))
    val benchmarkProbes = corpus.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("probe_id"), col("text"))
    val cleaned = corpus
      .withColumn("text", TextOps.c4Clean(col("text")))
      .filter(TextOps.c4Keep(col("text"), minSentences = 1) && length(col("text")) > 0)
    val spanDeduped = Dedup.dropSpanDuplicatedDocs(cleaned, "doc_id", "text",
      maxDupFraction = 0.5, n = 10)
    val nearDeduped = Dedup.dedupNearDups(spanDeduped.select("doc_id", "text", "source"),
      "doc_id", "text", threshold = 0.7, shingleN = 3)
    val decontaminated = graft.ops.Decontam.decontaminate(nearDeduped, "doc_id", "text",
      benchmarkProbes, "probe_id", "text", n = 13)
    // Embedding near-dup goes AFTER exact/MinHash dedup (oversized
    // duplicate cliques would hit its maxBucket skew guard — which now
    // warns at execution time when buckets drop). `knownCorpusSize`
    // keeps this stage job-free at build: cosineNearDupPairs is
    // otherwise cost-based (a bounded probe + tuning count run at
    // DataFrame-CONSTRUCTION time), the one eager operator in the
    // engine — declare n and the whole pipeline stays lazy until the
    // action, with banding parameters derived from the declared size.
    val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")
    // In production this number comes from metadata you already track
    // (catalog stats, the writer's record count); the demo computes it
    // once, EXPLICITLY, up front. The point of knownCorpusSize is that
    // the operator itself then runs no job at construction — the
    // probe/tuning cost is in YOUR hands, not hidden in the build.
    val embCorpusSize = embeddings.count()
    val embDupPairs = graft.ops.Similarity.cosineNearDupPairs(
      embeddings, "vec_id", "embedding", threshold = 0.95,
      knownCorpusSize = Some(embCorpusSize))
    val mixed = graft.ops.Mixing.temperatureSample(decontaminated, "source", "doc_id",
      alpha = 0.5, budgetRows = 200)
    val trainShards = graft.ops.Mixing.assignShards(mixed, "doc_id", n = 4)
    val perShard = trainShards.groupBy("shard").count().orderBy("shard")
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(" ")
    println(s"[24] training pipeline: ${corpus.count()} raw -> ${cleaned.count()} c4-kept -> " +
      s"${spanDeduped.count()} span-deduped -> ${nearDeduped.count()} near-deduped -> " +
      s"${decontaminated.count()} decontaminated -> ${mixed.count()} in mix (alpha=0.5, budget 200) " +
      s"-> shards [$perShard]; embedding near-dup pairs (job-free operator build) = ${embDupPairs.count()}")

    // 25. Day 2 of the same pipeline: INCREMENTAL dedup. Persist the
    // kept corpus's signature index once (k longs per row — a few % of
    // corpus bytes), then each new crawl increment probes it WITHOUT
    // recomputing or reshuffling the corpus: banding is map-side, the
    // increment's bucket keys broadcast into a semi-join, and scoring
    // touches only the collided rows. The signature recipe
    // (shingleN/k/seed) is part of the index format — probe with the
    // same one. Union the survivors' signatures back in to advance the
    // index for day 3.
    val idxDir = java.nio.file.Files.createTempDirectory("graft_sig_index").toString + "/idx"
    // writeSignatureIndex records the recipe in a sidecar — probing or
    // appending under any other recipe refuses loudly instead of
    // silently matching nothing
    val recipe = Dedup.writeSignatureIndex(nearDeduped, "doc_id", "text", idxDir)
    val newBatch = corpus.filter(col("doc_id") % 7 === 3) // stand-in for tomorrow's crawl
      .select(col("doc_id"), col("text"), col("source"))
    // localCheckpoint: the survivors' lineage READS the index parquet,
    // and the append below writes into it — materialize first (the
    // same decoupling the streaming wrapper does per micro-batch)
    val incSurvivors = Dedup.incrementalDedupAgainstIndex(newBatch, "doc_id", "text",
      idxDir, threshold = 0.7).localCheckpoint()
    Dedup.appendToSignatureIndex(incSurvivors, "doc_id", "text", idxDir)
    println(s"[25] incremental day-2 (recipe $recipe): batch ${newBatch.count()} -> " +
      s"${incSurvivors.count()} kept; advanced index " +
      s"${spark.read.parquet(idxDir).count()} sigs")

    // 26. Day-2 hardening (round 20). The EMBEDDING corpus gets the
    // same self-describing treatment: writeVectorIndex persists
    // (id, vec) with a banding-recipe sidecar (dim/bits/groups/seed),
    // and incrementalCosineAgainstIndex refuses a mismatched probe
    // instead of silently matching nothing. Replay-inflated signature
    // indexes compact offline (staged swap, matching unchanged). The
    // STREAMING form of step 25 comes in two delivery contracts:
    // at-least-once over parquet (StreamOps.incrementalDedupStream,
    // index advanced with EVERY history-probe survivor so replays
    // re-converge) and EXACTLY-ONCE over native Delta txn markers
    // (StreamOps.incrementalDedupStreamDelta) — DayTwoPipelineSpec
    // runs the full Kafka -> dedup -> Delta -> native-read tour.
    val vecIdxDir = java.nio.file.Files.createTempDirectory("graft_vec_index").toString + "/vidx"
    val vrecipe = Similarity.writeVectorIndex(embeddings, "vec_id", "embedding", vecIdxDir,
      dim = 64, bitsPerGroup = 4, groups = 8)
    val vecProbe = Similarity.incrementalCosineAgainstIndex(
      embeddings.filter(col("vec_id") % 7 === 3), "vec_id", "embedding", vecIdxDir,
      threshold = 0.45, dim = 64, bitsPerGroup = 4, groups = 8)
    Dedup.appendToSignatureIndex(incSurvivors, "doc_id", "text", idxDir) // a replay's double-append...
    val compacted = Dedup.compactSignatureIndex(spark, idxDir)           // ...compacts away
    println(s"[26] vector index (recipe $vrecipe): day-2 probe ${vecProbe.count()} pairs; " +
      s"signature-index compaction ${compacted.rowsBefore} -> ${compacted.rowsAfter} rows")

    spark.stop()
    println("QuickStart OK")
  }
}
