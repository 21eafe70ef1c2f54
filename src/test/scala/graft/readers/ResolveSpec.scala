package graft.readers

import graft.SparkSpec
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** Pins [[Resolve.load]]: a memoized schema gives the same table as a
  * fresh inference, any change to the file set, options or session conf
  * misses, failures store nothing, and a hit launches no Spark job. */
class ResolveSpec extends SparkSpec {
  import spark.implicits._

  private def withDir[T](body: File => T): T = {
    val d = Files.createTempDirectory("graft_resolve").toFile
    try body(d) finally rm(d)
  }
  private def rm(f: File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The value of `body` and the Spark jobs it launched from this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"resolve-spec-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "resolve spec")
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private val csvOpts = Map("header" -> "true", "inferSchema" -> "true")

  /** One table per memoized format: (format, path, options). */
  private def writeTables(d: File): Seq[(String, String, Map[String, String])] = {
    val df = Seq((1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)).toDF("id", "name", "score")
    val pq = new File(d, "t.parquet").getPath
    val js = new File(d, "t.json").getPath
    val csv = new File(d, "t.csv").getPath
    val part = new File(d, "part.parquet").getPath
    df.write.parquet(pq)
    df.write.json(js)
    df.write.option("header", "true").csv(csv)
    df.withColumn("p", $"id" % 2).write.partitionBy("p").parquet(part)
    SparkSpec.ageFiles(d)
    Seq(("parquet", pq, Map.empty), ("json", js, Map.empty), ("csv", csv, csvOpts), ("parquet", part, Map.empty))
  }

  test("a memo hit returns the same schema and rows as a fresh inference") {
    withDir { d =>
      for ((fmt, path, opts) <- writeTables(d)) {
        val fresh = spark.read.format(fmt).options(opts).load(path)
        val first = Resolve.load(spark, fmt, path, opts)
        assert(Resolve.memoizedPaths.contains(path), s"$fmt $path")
        val hit = Resolve.load(spark, fmt, path, opts)
        assert(first.schema == fresh.schema && hit.schema == fresh.schema, s"$fmt $path")
        assert(rows(hit) == rows(fresh), s"$fmt $path")
      }
    }
  }

  test("resolving a memoized table launches zero Spark jobs") {
    withDir { d =>
      for ((fmt, path, opts) <- writeTables(d)) {
        val (_, missJobs) = jobsOf(Resolve.load(spark, fmt, path, opts).schema)
        val (_, hitJobs) = jobsOf(Resolve.load(spark, fmt, path, opts).schema)
        assert(missJobs > 0, s"$fmt $path: the first resolution infers with a job")
        assert(hitJobs == 0, s"$fmt $path")
      }
    }
  }

  test("queries.table and FormatReader load through the memo") {
    withDir { d =>
      Seq((1L, "x")).toDF("k", "v").write.parquet(new File(d, "q.parquet").getPath)
      SparkSpec.ageFiles(d)
      graft.queries.table(spark, d.getPath, "q")
      assert(Resolve.memoizedPaths.contains(s"${d.getPath}/q.parquet"))
      val p = new File(d, "q.parquet").getPath
      val ref = graft.datatypes.DataRef("parquet", p, Map.empty)
      SparkReaders.parquet.read(spark, ref)
      val (df, jobs) = jobsOf(SparkReaders.parquet.discover(spark, ref))
      assert(jobs == 0)
      assert(df.collect().toSeq == Seq(Row(1L, "x")))
    }
  }

  test("a file set written inside the racy-mtime window is never memoized") {
    withDir { d =>
      val p = new File(d, "fresh.parquet").getPath
      Seq(1, 2).toDF("a").write.parquet(p)
      Resolve.load(spark, "parquet", p)
      assert(!Resolve.memoizedPaths.contains(p))
      assert(Resolve.listing(p, spark.sessionState.newHadoopConf()).racy)
    }
  }

  test("a rewritten, added or deleted file makes the next resolution pick up the new schema") {
    withDir { d =>
      // rewritten: one parquet file replaced in place under the same name
      val single = new File(d, "t.parquet")
      def writeSingle(df: DataFrame): Unit = {
        val tmp = new File(d, "tmp")
        df.coalesce(1).write.parquet(tmp.getPath)
        val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, single.toPath, StandardCopyOption.REPLACE_EXISTING)
        rm(tmp)
        SparkSpec.ageFiles(single)
      }
      writeSingle(Seq(1, 2).toDF("a"))
      Resolve.load(spark, "parquet", single.getPath)
      assert(Resolve.load(spark, "parquet", single.getPath).schema.fieldNames.toSeq == Seq("a"))
      writeSingle(Seq((1, "x")).toDF("a", "b"))
      val rewritten = Resolve.load(spark, "parquet", single.getPath)
      assert(rewritten.schema.fieldNames.toSeq == Seq("a", "b"))
      assert(rewritten.collect().toSeq == Seq(Row(1, "x")))

      // added / deleted: JSON infers over every file, so the file set
      // decides the schema
      val js = new File(d, "j")
      js.mkdirs()
      def put(name: String, text: String): Unit = {
        Files.write(new File(js, name).toPath, text.getBytes)
        SparkSpec.ageFiles(js)
      }
      put("one.json", """{"a":1}""" + "\n")
      Resolve.load(spark, "json", js.getPath)
      assert(Resolve.load(spark, "json", js.getPath).schema.fieldNames.toSeq == Seq("a"))
      put("two.json", """{"a":2,"b":"y"}""" + "\n")
      val added = Resolve.load(spark, "json", js.getPath)
      assert(added.schema.fieldNames.toSeq == Seq("a", "b"))
      assert(added.count() == 2)
      Files.delete(new File(js, "two.json").toPath)
      val deleted = Resolve.load(spark, "json", js.getPath)
      assert(deleted.schema.fieldNames.toSeq == Seq("a"))
      assert(deleted.count() == 1)
    }
  }

  test("different options never reuse each other's entry") {
    withDir { d =>
      val csv = new File(d, "t.csv").getPath
      Seq((1, "a"), (2, "b")).toDF("id", "name").write.option("header", "true").csv(csv)
      SparkSpec.ageFiles(d)
      val typed = Map("header" -> "true", "inferSchema" -> "true")
      val untyped = Map("header" -> "true")
      for (_ <- 1 to 2; opts <- Seq(typed, untyped)) {
        val want = spark.read.options(opts).csv(csv).schema
        assert(Resolve.load(spark, "csv", csv, opts).schema == want, s"$opts")
      }
      assert(Resolve.load(spark, "csv", csv, typed).schema("id").dataType.typeName == "integer")
      assert(Resolve.load(spark, "csv", csv, untyped).schema("id").dataType.typeName == "string")
    }
  }

  test("a different session conf (nanosAsLong on and off) never reuses the entry") {
    withDir { d =>
      // a TIMESTAMP(NANOS) column: a Long under the legacy conf, an
      // illegal type without it
      val p = new File(d, "nanos.parquet")
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int32 id; }")
      val conf = new org.apache.hadoop.conf.Configuration()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(p.getPath)).withConf(conf).withType(schema).build()
      try {
        val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        w.write(g.newGroup().append("ts", 1700000000123456789L).append("id", 7))
      } finally w.close()
      SparkSpec.ageFiles(d)
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      def outcome(df: => DataFrame): Either[String, StructType] =
        Try(df.schema).toEither.left.map(_.getClass.getName)
      try {
        val seen = for (_ <- 1 to 2; v <- Seq("true", "false")) yield {
          spark.conf.set(key, v)
          val want = outcome(spark.read.parquet(p.getPath))
          assert(outcome(Resolve.load(spark, "parquet", p.getPath)) == want, s"$key=$v")
          v -> want
        }
        assert(seen.toMap.values.toSet.size == 2, "the conf must change the bare inference")
        spark.conf.set(key, "true")
        assert(Resolve.load(spark, "parquet", p.getPath).collect().toSeq == Seq(Row(1700000000123456789L, 7)))
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a missing path or an empty directory fails as today and leaves no entry") {
    withDir { d =>
      val missing = new File(d, "missing.parquet").getPath
      val empty = new File(d, "empty")
      empty.mkdirs()
      SparkSpec.ageFiles(d)
      for ((fmt, path) <- Seq("parquet" -> missing, "parquet" -> empty.getPath, "json" -> empty.getPath)) {
        val want = intercept[Exception](spark.read.format(fmt).load(path).schema)
        val got = intercept[Exception](Resolve.load(spark, fmt, path).schema)
        assert(got.getClass == want.getClass && got.getMessage == want.getMessage, s"$fmt $path")
        assert(!Resolve.memoizedPaths.contains(path), s"$fmt $path")
      }
    }
  }

  test("16 concurrent threads resolving the same tables get identical results") {
    withDir { d =>
      val tables = writeTables(d)
      val want = tables.map { case (fmt, path, opts) =>
        val df = spark.read.format(fmt).options(opts).load(path)
        (df.schema, rows(df))
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        val runs = (1 to 16).map { _ =>
          scala.concurrent.Future(tables.map { case (fmt, path, opts) =>
            val df = Resolve.load(spark, fmt, path, opts)
            (df.schema, rows(df))
          })(ec)
        }
        val got = runs.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(5, "min")))
        got.foreach(g => assert(g == want))
      } finally pool.shutdown()
    }
  }
}
