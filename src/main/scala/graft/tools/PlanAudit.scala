package graft.tools

import graft.{Engine, SparkEntry}
import java.nio.file.{Files, Paths}

/** Physical-plan audit over the whole query inventory: for each query,
  * record shuffle (Exchange) count, broadcast joins, whether parquet scans
  * carry PushedFilters and a pruned ReadSchema, and whole-stage-codegen
  * span count. Output: PLANS.md. Run:
  * `sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.01 PLANS.md"`.
  *
  * This is the scale checklist from the brief: a scan reading all columns
  * for a 2-column projection, or a join shuffling what it could
  * broadcast, shows up here before it shows up at 100 TB.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Engine.session(8)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# Physical plan audit\n\n")
    sb.append(s"Generated by `graft.tools.PlanAudit` on `$sfDir`.\n\n")
    sb.append("| query | exchanges | broadcasts | codegen spans | pushed filters | pruned scan |\n")
    sb.append("|---|---|---|---|---|---|\n")

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect() // execute THIS plan so AQE settles and codegen stages are marked
        val planStr = df.queryExecution.executedPlan.toString
        // formatted output carries untruncated scan details (ReadSchema/PushedFilters)
        val fmtStr = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        val exchanges = "Exchange (hash|range|single)".r.findAllIn(planStr).size
        val broadcasts = "BroadcastExchange|BroadcastHashJoin|BroadcastNestedLoop".r.findAllIn(planStr).size
        val codegen = "\\*\\(\\d+\\)".r.findAllMatchIn(planStr).map(_.matched).toSet.size
        val pushed = "PushedFilters: \\[[^\\]]".r.findAllIn(fmtStr).nonEmpty
        val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(fmtStr).map(_.group(1)).toSeq
        val pruned = readSchemas.nonEmpty && readSchemas.exists(s => s.split(",").length < 11)
        // a plan whose leaf is an RDD scan (zipWithIndex global order,
        // prefix-sum mapPartitions, localCheckpoint) ran its parquet
        // scan in an UPSTREAM job this executed-plan string cannot
        // show — mark it distinctly from a genuinely unpruned scan
        val rddLeaf = planStr.contains("ExistingRDD")
        val prunedCell = if (pruned) "yes" else if (rddLeaf) "rdd*" else "-"
        sb.append(s"| $name | $exchanges | $broadcasts | $codegen | ${if (pushed) "yes" else "-"} | $prunedCell |\n")
      } catch {
        case e: Throwable => sb.append(s"| $name | ERROR ${e.getClass.getSimpleName} | | | | |\n")
      }
    }
    sb.append(
      """
        |## `rdd*` rows: the scan IS pruned — it runs upstream of an RDD boundary
        |
        |These queries end in a `Scan ExistingRDD` leaf, so the audit's
        |executed-plan string carries no parquet `ReadSchema` — the parquet
        |scan executed, pruned, in an UPSTREAM Spark job the final plan
        |string cannot show. Each boundary is the deliberate 100 TB shape,
        |not a missed optimization:
        |
        |- **q50_embedding_neardup** (`Similarity.cosineNearDupPairs`): at
        |  oracle scale the corpus fits the bounded small-input probe
        |  (<=10k rows, one `limit(max+1).collect()` over a 2-column
        |  pruned scan), so the exact pair loop runs from a parallelized
        |  broadcast of that probe — the cost-based small-corpus path.
        |  Above the threshold the LSH pipeline plans instead (ONE
        |  band-bucket exchange, one lshBandBuckets evaluation, reused
        |  corpus re-attach exchange — PlanShapeSpec-pinned).
        |- **q70_packing** (`Chunking.packSequencesGlobal`): budget packing
        |  is an exclusive prefix sum over a global order — expressed as a
        |  window it is `SUM OVER (ORDER BY …)` with no partition key, which
        |  Spark plans as a SINGLE-partition window (one task sorts 100 TB).
        |  The implementation instead runs a parallel range-sort, collects
        |  ONE long per partition (the per-partition token sums), and
        |  assigns pack ids in `mapPartitionsWithIndex` with the partition
        |  offsets — O(partitions) driver state, fully parallel. Its input
        |  frame is `documents.select(doc_id, tokenCount(text))`, so
        |  Catalyst prunes the upstream parquet read to 2 of the table's
        |  columns before the RDD hop.
        |- **q74_length_buckets** (`Mixing.lengthBuckets` over
        |  `globalOrder`): `ntile(k) OVER (ORDER BY …)` has the same
        |  single-partition-window problem; the parallel shape is a range
        |  sort + `zipWithIndex` (a partition-count job, then index
        |  arithmetic). Upstream scan: `doc_id` + `text` only.
        |- **q76_cc_exact** (`Dedup.connectedComponents`): the pair frame
        |  is `localCheckpoint`ed once; small graphs (a bounded <=1M-edge
        |  limit-collect off the checkpoint — the cap+1'th row is the
        |  overflow signal) label on the driver via union-find, larger
        |  ones run large-star/small-star rounds that each end in
        |  `localCheckpoint` — REQUIRED to truncate the iterative plan
        |  (the round-1 audit measured O(2^rounds) plan growth without
        |  it). Either way the parquet scan ran pruned in the checkpoint
        |  job.
        |- **q81_shuffle_shards** (`Mixing.deterministicShuffle`): the same
        |  `globalOrder` zipWithIndex shape as q74 — a reproducible global
        |  permutation needs a total order; the RDD hop keeps the sort
        |  parallel instead of funneling it through one window task.
        |
        |(q98/q99 incremental clusters left this list in round 21:
        |`Dedup.assignIncrementalClusters` still `localCheckpoint`s the
        |expensive multiply-read `matched` frame — the incremental probe's
        |pairs, whose un-checkpointed triple evaluation the r20 serial A/B
        |measured at ~2x the whole DuckDB wall — but no longer checkpoints
        |`labeled`: its lineage above the already-materialized CC labels is
        |just the batch-id scan + one broadcast join, so re-evaluating it
        |inside the final job costs two parallel batch-sized map stages
        |where the checkpoint cost a SERIALIZED job. The final plan's leaf
        |is therefore the pruned parquet scan again, which is what the
        |table rows show; q99 still checkpoints its shared pair graph in
        |the query entry, and `matched` stays batch-/signal-bounded by the
        |operator contract.)
        |
        |(q90_dup_span_stats left this list in round 19: the exploded
        |span frame no longer `localCheckpoint`s — the r19 third-decade
        |probe OOM'd that shape at 5M docs. Both consumers now read ONE
        |span-keyed exchange, so its row shows the real pruned parquet
        |scan again.)
        |
        |The pruning claim is verified by `PlanShapeSpec` (the upstream
        |frames' ReadSchema assertions), not by this table's regex.
        |""".stripMargin)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
