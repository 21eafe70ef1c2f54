package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data window preparation: token chunking and sequence
  * packing — the two ops between a cleaned document table and a
  * context-window-shaped training set.
  *
  * Chunking is pure Column expressions (per-row, no shuffle — scales
  * linearly). Packing comes in two flavors: [[packSequencesGlobal]],
  * the deterministic concat-then-split assignment (one parallel sort +
  * distributed prefix sum, reproducible across partitionings), and
  * [[packSequences]], the per-partition greedy first-fit (shuffle-free,
  * strict budget bound, but dependent on the input partitioning).
  * Optimal bin packing is NP-hard and needs global state; both variants
  * are the accepted large-scale approximations.
  */
object Chunking {

  /** Split each document into overlapping windows of `maxTokens`
    * whitespace tokens, stepping `maxTokens - overlap` per chunk:
    * (id, chunk_index, chunk_text, chunk_tokens). Chunk text is the
    * normalized token join (as [[TextOps.tokens]] sees it).
    *
    * `chunk_tokens` is ARITHMETIC — `least(maxTokens,
    * n_tokens - chunk_index*step)` — not a re-tokenization of
    * `chunk_text`: tokens are non-empty and whitespace-free, so
    * re-splitting the single-space join returns exactly the slice,
    * making the two value-identical by construction (pinned by the q69
    * DuckDB oracle) while skipping a per-chunk regex pass at
    * materialization time (~12% of the full-evaluation wall in the r20
    * A/B).
    */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int,
      overlap: Int = 0
  ): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got overlap=$overlap maxTokens=$maxTokens")
    val step = maxTokens - overlap
    val chunks: Column = transform(
      sequence(lit(0L), col("_n") - 1),
      i => array_join(slice(col("_toks"), (i * step + 1).cast("int"), lit(maxTokens)), " "))
    df.withColumn("_toks", TextOps.tokens(col(textCol)))
      .withColumn("_n",
        greatest(lit(1L), ceil((size(col("_toks")) - lit(overlap)) / lit(step.toDouble)).cast("long")))
      .withColumn("_ntoks", size(col("_toks")).cast("long"))
      .select(col(idCol), col("_ntoks"), posexplode(chunks).as(Seq("chunk_index", "chunk_text")))
      .select(
        col(idCol),
        col("chunk_index").cast("long").as("chunk_index"),
        col("chunk_text"),
        least(lit(maxTokens.toLong), col("_ntoks") - col("chunk_index") * step).as("chunk_tokens"))
  }

  private val packAssignSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("pack_id", LongType, nullable = false)))

  /** Deterministic, partitioning-independent packing: concatenate the
    * documents in global `idCol` order and assign each to the
    * `budget`-token window its FIRST token lands in —
    * `pack_id = floor(exclusive_prefix_sum(n_tokens) / budget)`.
    * The boundary document of each window overflows into the next (the
    * usual concat-then-split convention of training-data loaders); use
    * [[packSequences]] when a strict per-pack budget bound matters more
    * than reproducibility.
    *
    * Scale design: one range-partitioned sort (the same shuffle
    * `orderBy` plans — NOT a single-partition window, which
    * `sum() over (order by ...)` would plan), then a distributed prefix
    * sum: per-partition token totals (one long per partition) are
    * collected and scanned on the driver, and a second map pass adds
    * each partition's offset. The sorted RDD is persisted so the sort
    * executes once across the two passes; the ContextCleaner reclaims
    * the blocks when the result is dereferenced (same contract as
    * `Mixing.globalOrder`).
    *
    * Returns per-document assignments (id, n_tokens, pack_id);
    * aggregate by `pack_id` for pack-level stats.
    */
  def packSequencesGlobal(
      df: DataFrame,
      idCol: String,
      nTokensCol: String,
      budget: Long
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    // a non-numeric id column would cast-coerce EVERY id to null and
    // silently return an empty result — refuse at plan time instead
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"packSequencesGlobal needs a numeric id column; '$idCol' is ${df.schema(idCol).dataType.simpleString}")
    val spark = df.sparkSession
    // null token counts (null/undecodable text) pack as 0 tokens — the
    // doc rides along for free rather than killing the job; genuinely
    // null ids can't be assigned a pack at all and are dropped
    val sorted = df
      .select(col(idCol).cast("long").as("id"),
        coalesce(col(nTokensCol).cast("long"), lit(0L)).as("n_tokens"))
      .where(col("id").isNotNull)
      .orderBy(col("id"))
    val sortedRdd = sorted.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = sortedRdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(r => s += r.getLong(1)); Iterator.single(pid -> s)
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val out = sortedRdd.mapPartitionsWithIndex { (pid, it) =>
      var run = offsets(pid)
      it.map { r =>
        val t = r.getLong(1)
        val pack = run / budget
        run += t
        Row(r.getLong(0), t, pack)
      }
    }
    spark.createDataFrame(out, packAssignSchema)
  }

  private val packSchema = StructType(Seq(
    StructField("pack_id", StringType, nullable = false),
    StructField("doc_ids", ArrayType(LongType), nullable = false),
    StructField("n_docs", IntegerType, nullable = false),
    StructField("total_tokens", LongType, nullable = false)))

  /** Greedy first-fit packing of (id, token count) rows into
    * `budget`-token bins, independently per partition. A document
    * larger than the budget gets its own pack. Deterministic for a
    * fixed partitioning; `sortWithinPartitions` upstream if a stable
    * order matters.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      nTokensCol: String,
      budget: Long
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    val rdd = df.select(col(idCol).cast("long"), col(nTokensCol).cast("long")).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val rows = it.buffered
        new Iterator[Row] {
          private var k = 0
          def hasNext: Boolean = rows.hasNext
          def next(): Row = {
            val ids = Seq.newBuilder[Long]
            var total = 0L
            var n = 0
            var full = false
            while (rows.hasNext && !full) {
              val t = rows.head.getLong(1)
              if (n > 0 && total + t > budget) full = true
              else {
                ids += rows.next().getLong(0)
                total += t
                n += 1
                // oversized singleton occupies its own pack
                if (total >= budget) full = true
              }
            }
            val row = Row(s"$pid-$k", ids.result(), n, total)
            k += 1
            row
          }
        }
      }
    spark.createDataFrame(rdd, packSchema)
  }
}
