package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe corpus derivation for [[DeepScaleProbe]]'s 10x/100x/1000x
  * slices.
  *
  * Documents: `replicas` copies, every token replica-prefixed so
  * replicas share NO shingles — within-replica dup/similarity structure
  * preserved exactly, cross-replica similarity zero.
  *
  * Embeddings: `replicas` copies under a replica-wide deterministic
  * sign pattern — within-replica cosine structure exact (a common sign
  * flip cancels in the dot product), every replica's pattern distinct
  * (the parity of xxhash64(i, r), so no cross-replica clone vectors).
  * The sign array depends only on (dimension, replica), so it
  * precomputes ONCE on the driver (the per-row
  * sequence→transform→xxhash64 formulation evaluated ~dim hash calls
  * per row for a replica-level constant) — [[signPattern]] replicates
  * Spark's xxhash64 chain exactly, pinned by ProbeDataSpec.
  */
object ProbeData {

  /** Bump when the derivation rules change — DeepScaleProbe's on-disk
    * slice-reuse markers embed it, so a rules change invalidates every
    * cached slice instead of silently mixing corpora across rounds.
    */
  val DerivationVersion = 2

  /** The sign of dimension `i` in replica `r`: parity of Spark's
    * `xxhash64(i, lit(r))` — the int-int hash chain `hashInt(i, 42)`
    * then `hashInt(r, ·)`.
    */
  def signPattern(dim: Int, replica: Int): Array[Float] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    Array.tabulate(dim) { i =>
      val h = XXH64.hashInt(replica, XXH64.hashInt(i, 42L))
      if (((h % 2) + 2) % 2 == 0) -1.0f else 1.0f
    }
  }

  def replicateDocs(spark: SparkSession, sfDir: String, replicas: Int, outDir: String): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val idStride = docs.agg(max("doc_id")).head.getLong(0) + 1
    // explode over the replica index rather than a replicas-arm union:
    // values are bit-identical (ProbeDataSpec pins it) but the plan
    // stays O(1) in `replicas` — the union formulation hit Catalyst
    // plan explosion at the third-decade slice (1000 arms)
    val big = docs
      .select(col("*"), explode(sequence(lit(0), lit(replicas - 1))).as("r"))
      .select(
        (col("doc_id") + col("r") * lit(idStride)).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), col("r").cast("string"), lit("x$1")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    big.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    println(s"[probe] wrote ${spark.read.parquet(s"$outDir/documents.parquet").count()} docs to $outDir")
  }

  def replicateEmbeddings(spark: SparkSession, sfDir: String, replicas: Int, outDir: String): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecStride = emb.agg(max("vec_id")).head.getLong(0) + 1
    // MAX length (null-safe): the sign array must cover every row; a
    // row shorter than dim indexes a prefix of the literal array
    // (transform-by-index, not zip_with — zip_with null-pads ragged
    // rows and would write null elements into the derived corpus)
    val dim = emb.agg(coalesce(max(size(col("embedding"))), lit(0))).head.getInt(0)
    val big = (0 until replicas).map { r =>
      val sgn = array(signPattern(dim, r).map(lit(_)): _*)
      emb.select(
        (col("vec_id") + lit(r * vecStride)).as("vec_id"),
        (if (r == 0) col("embedding")
         else transform(col("embedding"), (v, i) => v * element_at(sgn, i + 1))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    big.repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    println(s"[probe] wrote ${spark.read.parquet(s"$outDir/embeddings.parquet").count()} vectors to $outDir")
  }
}
