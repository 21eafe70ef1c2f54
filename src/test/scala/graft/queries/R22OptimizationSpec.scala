package graft.queries

import graft.SparkSpec
import graft.functions.MinHashUnion
import graft.ops.Dedup
import graft.readers.Resolve
import org.apache.spark.sql.functions._

/** Round-22 optimization pins: each test freezes the EQUIVALENCE between
  * an optimized shape and the formulation it replaced, so the speedup
  * can never silently drift the results.
  */
class R22OptimizationSpec extends SparkSpec {
  import spark.implicits._

  test("q56 posexplode min-fold == MinHashUnion Aggregator formulation") {
    // Covers every group shape the union can see: multi-doc groups,
    // a single-doc group (union = its own sig), empty text (the
    // all-zeros signature row), unicode, repeated tokens, and k below/
    // at/above the 2-slot sketch_head (k=1 exercises the no-comma
    // take(2) edge).
    val docs = Seq(
      ("web", "the quick brown fox jumps"),
      ("web", "the quick brown fox jumps over the lazy dog"),
      ("web", ""),
      ("books", "Ünïcödé tökens ünïcödé tökens"),
      ("books", "repeat repeat repeat repeat"),
      ("single", "one lonely document here"),
      ("zeros", "")
    ).toDF("source", "text")
    for (k <- Seq(1, 2, 8, 64)) {
      val sigs = Dedup.withMinhashSignature(docs, "text", "sig", shingleN = 1, k = k)
      val viaAggregator = sigs.select(col("source"), col("sig").as("value"))
        .as[(String, Seq[Long])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(MinHashUnion.column.name("sketch"))
        .map { case (src, sketch) => (src, sketch.length, sketch.take(2).mkString(",")) }
        .toDF("source", "sketch_len", "sketch_head")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Int, String)].collect().sorted.toSeq
      val fold = canon(StreamingBatchQueries.sketchUnionMinFold(sigs))
      assert(fold == canon(viaAggregator), s"k=$k")
      // every sketch reports the full slot count: the fold's final
      // count consumes all k slot rows, so none of the union's work
      // can be pruned out of the bench path
      assert(fold.forall(_._2 == k), s"k=$k sketch_len")
    }
  }

  test("indexDataListing fingerprints data files only and sees every mutation (ADVICE r21)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r22_listing")
    try {
      def touch(name: String, bytes: String): Unit =
        java.nio.file.Files.write(dir.resolve(name), bytes.getBytes)
      touch("part-00000.parquet", "aaaa")
      touch("_SUCCESS", "")
      touch("_graft_sig_index.json", "{}")
      touch(".hidden.crc", "x")
      def listing() = Resolve.listing(dir.toString, spark.sessionState.newHadoopConf()).files
      val base = listing()
      assert(base.map(f => new org.apache.hadoop.fs.Path(f._1).getName) == Seq("part-00000.parquet"),
        "sidecar/_SUCCESS/hidden files must not count as index data")
      // unchanged directory -> identical fingerprint (the restore fires)
      assert(listing() == base)
      // a NEW part-file (a partially committed overwrite) changes it
      touch("part-00001.parquet", "bbbb")
      val withNew = listing()
      assert(withNew != base, "a partially committed new part-file must defeat the restore")
      // ...and so does rewriting an existing file's content (length)
      java.nio.file.Files.delete(dir.resolve("part-00001.parquet"))
      touch("part-00000.parquet", "aaaaaaaa")
      assert(listing() != base)
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("a runtime-failed overwrite restores iff the listing proves the old data untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r22_sidecar").toFile
    try {
      val path = new java.io.File(dir, "idx").getAbsolutePath
      val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      val recipe = Dedup.writeSignatureIndex(corpus, "doc_id", "text", path,
        shingleN = 3, k = 8)
      assert(Dedup.readIndexRecipe(path).contains(recipe))
      // an index written outside the racy-mtime window (files written
      // within it cannot prove themselves untouched; see the next test)
      SparkSpec.ageFiles(new java.io.File(path))
      // a RUNTIME failure (analysis passes, the job throws mid-write):
      // this local committer stages everything under _temporary and
      // only clears the destination at commit, so the failure leaves
      // the old files byte-identical — the snapshot guard PROVES that
      // (listing equality, not the old bare existence probe that a
      // partially committed new part-file could fool) and restores the
      // old recipe over the old data
      val boom = udf { (s: String) =>
        if (s != null) throw new RuntimeException("boom mid-write"); s
      }
      val poisoned = Seq((2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
        .select(col("doc_id"), boom(col("text")).as("text"))
      intercept[Throwable] {
        Dedup.writeSignatureIndex(poisoned, "doc_id", "text", path, shingleN = 3, k = 8)
      }
      assert(Dedup.readIndexRecipe(path).contains(recipe),
        "old files provably untouched -> the old recipe must come back")
      assert(spark.read.parquet(path).as[(Long, Seq[Long])].collect().map(_._1).toSeq == Seq(1L),
        "the restored recipe must be validating the OLD data")
    } finally {
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
      rm(dir)
    }
  }

  test("a same-name, same-length rewrite inside the mtime window does not restore the old recipe") {
    val dir = java.nio.file.Files.createTempDirectory("graft_racy_sidecar").toFile
    try {
      val path = new java.io.File(dir, "idx").getAbsolutePath
      val corpus = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      val recipe = Dedup.writeSignatureIndex(corpus, "doc_id", "text", path, shingleN = 3, k = 8)
      assert(Dedup.readIndexRecipe(path).contains(recipe))
      val part = new java.io.File(path).listFiles.find(_.getName.startsWith("part-")).get
      val mtime = part.lastModified
      def listing() = Resolve.listing(path, spark.sessionState.newHadoopConf()).files
      val before = listing()
      // the failing overwrite's task rewrites the old part file in place:
      // same name and length, and the mtime a 2 s-granularity clock
      // would give a write in the same tick — then the job fails
      val rewriteThenFail = udf { (s: String) =>
        val bytes = java.nio.file.Files.readAllBytes(part.toPath)
        bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
        java.nio.file.Files.write(part.toPath, bytes)
        part.setLastModified(mtime)
        if (s != null) throw new RuntimeException("boom after rewrite"); s
      }
      val poisoned = Seq((2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
        .select(col("doc_id"), rewriteThenFail(col("text")).as("text"))
      intercept[Throwable] {
        Dedup.writeSignatureIndex(poisoned, "doc_id", "text", path, shingleN = 3, k = 8)
      }
      assert(listing() == before, "the rewrite is invisible to the listing fingerprint")
      assert(Dedup.readIndexRecipe(path).isEmpty,
        "a listing taken within the mtime window proves nothing: the index must stay bare")
    } finally {
      def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
      rm(dir)
    }
  }
}
