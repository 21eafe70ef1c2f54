package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-21 optimization pins: each test freezes the EQUIVALENCE between
  * an optimized shape and the formulation it replaced, so the speedup
  * can never silently drift the results.
  */
class R21OptimizationSpec extends SparkSpec {
  import spark.implicits._

  test("q59 single-pass count arithmetic == intersectAll/exceptAll formulation") {
    // Covers every key class: in a only, in b only, both with n_a < n_b,
    // both with n_a > n_b, equal counts, and rows in neither side.
    val rows = Seq(
      // (flag, status, qty, price): qty>25 -> a member, price>500 -> b member
      ("A", "F", 30.0, 100.0), ("A", "F", 30.0, 100.0), ("A", "F", 30.0, 900.0), // na=3, nb=1
      ("N", "O", 10.0, 900.0), ("N", "O", 10.0, 900.0), // na=0, nb=2 (key absent from output)
      ("R", "F", 40.0, 900.0), ("R", "F", 10.0, 900.0), // na=1, nb=2
      ("B", "B", 50.0, 50.0), // na=1, nb=0
      ("E", "E", 30.0, 700.0), ("E", "E", 26.0, 501.0), // na=2, nb=2 equal
      ("Z", "Z", 1.0, 1.0) // neither
    ).toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")

    val a = rows.filter(col("l_quantity") > 25).select("l_returnflag", "l_linestatus")
    val b = rows.filter(col("l_extendedprice") > 500).select("l_returnflag", "l_linestatus")
    val old = a.intersectAll(b).groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_inter"))
      .join(
        a.exceptAll(b).groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_except")),
        Seq("l_returnflag", "l_linestatus"), "full_outer")
      .na.fill(0L, Seq("n_inter", "n_except"))

    val rewritten = rows
      .select(col("l_returnflag"), col("l_linestatus"),
        when(col("l_quantity") > 25, 1L).otherwise(0L).as("_a"),
        when(col("l_extendedprice") > 500, 1L).otherwise(0L).as("_b"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("_a")).as("_na"), sum(col("_b")).as("_nb"))
      .filter(col("_na") > 0)
      .select(col("l_returnflag"), col("l_linestatus"),
        least(col("_na"), col("_nb")).as("n_inter"),
        greatest(col("_na") - col("_nb"), lit(0L)).as("n_except"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Long)].collect().sorted.toSeq
    assert(canon(rewritten) == canon(old))
    // spot-check the arithmetic itself
    val m = canon(rewritten).map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(m(("A", "F")) == ((1L, 2L)))
    assert(m(("R", "F")) == ((1L, 0L)))
    assert(m(("B", "B")) == ((0L, 1L)))
    assert(m(("E", "E")) == ((2L, 0L)))
    assert(!m.contains(("N", "O")) && !m.contains(("Z", "Z")))
  }

  test("portable MinHash UDF byte-streaming loop == per-shingle string digest") {
    // The r21 loop feeds token bytes straight into the MD5 (one encode
    // per token, ' ' separator bytes, reused output buffer); this pins
    // it against the r20 reference — build each shingle STRING, encode,
    // digest — on adversarial shapes: unicode, empty text, fewer tokens
    // than the shingle width, repeated tokens.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "Ünïcödé tökens ünïcödé tökens ünïcödé",
      "日本語 トークン 日本語 トークン 混在 mixed",
      "", " ", "one", "one two",
      "repeat repeat repeat repeat repeat",
      "tab\tseparated and  double  spaced tokens"
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (n <- Seq(1, 3); k <- Seq(4, 16)) {
      val fast = Dedup.withPortableMinhashSignature(df, "text", "sig", n, k)
        .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
      val (aC, bC) = Dedup.portableCoeffs(k, 42L)
      val p = 2147483647L
      val ref = texts.zipWithIndex.map { case (t, i) =>
        val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val out = Array.fill(k)(Long.MaxValue)
        val shingles =
          if (toks.length < n) Seq(toks.mkString(" "))
          else (0 to toks.length - n).map(j => toks.slice(j, j + n).mkString(" "))
        shingles.foreach { s =>
          val md = graft.core.Token.md5()
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var le = 0L
          var b = 7
          while (b >= 0) { le = (le << 8) | (d(b) & 0xffL); b -= 1 }
          val h = java.lang.Long.remainderUnsigned(le, p)
          var j = 0
          while (j < k) { val v = (aC(j) * h + bC(j)) % p; if (v < out(j)) out(j) = v; j += 1 }
        }
        i.toLong -> out.toSeq
      }.toMap
      texts.indices.foreach { i =>
        assert(fast(i.toLong) == ref(i.toLong), s"sig mismatch for text #$i at n=$n k=$k")
      }
    }
  }

  test("failed overwrite restores the surviving index's own sidecar (ADVICE r20)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_sidecar").toFile
    try {
      val path = new java.io.File(dir, "idx").getAbsolutePath
      val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      val recipe = Dedup.writeSignatureIndex(corpus, "doc_id", "text", path,
        shingleN = 3, k = 8)
      assert(Dedup.readIndexRecipe(path).contains(recipe))
      // an index written outside the racy-mtime window: only then can a
      // listing prove the data untouched
      graft.SparkSpec.ageFiles(new java.io.File(path))
      // an overwrite whose ANALYSIS fails (missing text column) never
      // touches the data files — the old index must come back validated,
      // not bare (the fail-open footgun the sidecar exists to prevent)
      intercept[Throwable] {
        Dedup.writeSignatureIndex(corpus.select("doc_id"), "doc_id", "text", path,
          shingleN = 3, k = 8)
      }
      assert(Dedup.readIndexRecipe(path).contains(recipe),
        "old sidecar must be re-stamped when the failed overwrite left the data intact")
      // and the data really is intact
      assert(spark.read.parquet(path).count() == 1)
    } finally {
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
      rm(dir)
    }
  }

  test("Delta stream batch-id regression (deleted checkpoint) fails loudly (ADVICE r20)") {
    import graft.readers.DeltaWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_r21_regress").toFile
    try {
      val idx = new java.io.File(dir, "idx").getAbsolutePath
      val out = new java.io.File(dir, "out").getAbsolutePath
      val app = "regress-app"
      val hist = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
      DeltaWriter.write(spark,
        Dedup.withMinhashSignature(hist, "text", "sig", shingleN = 3, k = 8)
          .select(col("doc_id"), col("sig")), idx)
      // tables committed through batch 1 for this app id...
      DeltaWriter.write(spark, hist.select(col("doc_id"), col("text")), out,
        txn = Some(app -> 1L))
      // ...then the checkpoint is recreated and ids restart at 0: the
      // worker must refuse, not silently classify batch 0 as a replay
      val e = intercept[IllegalStateException] {
        graft.streaming.StreamOps.incrementalDedupDeltaBatch(
          hist, 0L, "doc_id", "text", idx, out, app, 3, 8, 4, 0.5, 42L, 1000)
      }
      assert(e.getMessage.contains("BEHIND"))
    } finally {
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
      rm(dir)
    }
  }
}
