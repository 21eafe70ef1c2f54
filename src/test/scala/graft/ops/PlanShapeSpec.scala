package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-SHAPE regression tests for the scale guarantees the ops
  * advertise in their scaladoc. Results going green proves correctness;
  * these prove the PLAN stays the one that survives a 100x scale-up —
  * a refactor that silently reintroduces a single-partition exchange or
  * un-broadcasts a small side fails here, not in production.
  */
class PlanShapeSpec extends SparkSpec {

  private def physical(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("hashSample plans no exchange, no sort, no window — map-only") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, s"row$i")).toDF("id", "txt")
    val plan = physical(Mixing.hashSample(df, "id", 0.1))
    assert(!plan.contains("Exchange"), s"hashSample must be map-only:\n$plan")
    assert(!plan.contains("Sort"), s"hashSample must not sort:\n$plan")
    assert(!plan.contains("Window"), s"hashSample must not window:\n$plan")
  }

  test("stratifiedSample plans a hash-partitioned window, never SinglePartition") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, s"s${i % 3}")).toDF("id", "stratum")
    val plan = physical(Mixing.stratifiedSample(df, "stratum", "id", 0.2))
    assert(plan.contains("Window"))
    assert(!plan.contains("SinglePartition"),
      s"per-stratum windows must partition by stratum, not collapse to one task:\n$plan")
  }

  test("brute-force KNN broadcasts the query side, never the corpus") {
    import spark.implicits._
    val corpus = Seq.tabulate(50)(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("id", "embedding")
    val queries = Seq((999L, Array.fill(4)(0.5f))).toDF("qid", "qemb")
    val plan = physical(Similarity.bruteForceTopK(corpus, "id", "embedding", queries, "qid", "qemb", k = 3))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$plan")
  }

  test("lshTopK: the candidate-pair dedup exchange carries ids only, no vectors") {
    import spark.implicits._
    val corpus = Seq.tabulate(50)(i => (i.toLong, Array.fill(4)(i.toFloat + 1))).toDF("id", "embedding")
    val queries = Seq.tabulate(3)(i => (1000L + i, Array.fill(4)(0.5f + i))).toDF("qid", "qemb")
    withStaticPlans {
    val df = Similarity.lshTopK(corpus, "id", "embedding", queries, "qid", "qemb",
      k = 3, dim = 4)
    // The banded candidate join and the pair dedup run BEFORE vectors
    // re-attach, so their exchanges must be id-width: a vector column
    // (array<float>) inside any multi-key-partitioned exchange marks the
    // round-15 width regression (VERDICT r15 #4) — bands x full
    // embeddings through the wire. The ONE allowed vector-carrying
    // shuffle is the single-key corpus re-attach join after the dedup.
    def isVec(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val exchanges = df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected the candidate dedup to shuffle")
    val vecWide = exchanges.filter(_.output.exists(a => isVec(a.dataType)))
    val multiKeyVec = vecWide.filter(_.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning => h.expressions.length >= 2
      case _ => true // range/single-partition exchanges must never carry vectors here
    })
    assert(multiKeyVec.isEmpty,
      s"candidate/dedup shuffles must carry ids only, found vector columns in:\n${multiKeyVec.map(_.output.mkString(",")).mkString("\n")}")
    assert(vecWide.size <= 1,
      s"at most the corpus re-attach join may shuffle vectors, found ${vecWide.size}")
    // and the result is still a real top-k
    assert(df.count() > 0)
    }
  }

  test("crossSourceOverlap: knownSources path keeps the gram aggregate in codegen (no ObjectHashAggregate)") {
    import spark.implicits._
    val corpus = Seq(("a", "w x y z q r s"), ("b", "w x y z q r s")).toDF("source", "text")
    val dfMask = Decontam.crossSourceOverlap(corpus, "source", "text", n = 5,
      knownSources = Some(Seq("a", "b")))
    val pMask = physical(dfMask)
    assert(!pMask.contains("ObjectHashAggregate"),
      s"bit_or path must stay a primitive HashAggregate:\n$pMask")
    // and the default (collect_set) path is the one that pays the object agg
    val pSet = physical(Decontam.crossSourceOverlap(corpus, "source", "text", n = 5))
    assert(pSet.contains("ObjectHashAggregate"))
    // both compute the same matrix
    assert(dfMask.as[(String, String, Long)].collect().toSet ==
      Decontam.crossSourceOverlap(corpus, "source", "text", n = 5)
        .as[(String, String, Long)].collect().toSet)
  }

  test("duplicateSpans: one span exchange feeds both aggregation levels — no Expand, no second shuffle") {
    import spark.implicits._
    val df = Seq.tabulate(30)(i => (i.toLong, s"alpha beta gamma delta t$i common tail words here")).toDF("doc_id", "text")
    withStaticPlans {
      val plan = physical(Dedup.duplicateSpans(df, "doc_id", "text", n = 3))
      // a regression back to countDistinct plans Expand + two shuffle phases
      assert(!plan.contains("Expand"), s"distinct-aggregate Expand reappeared:\n$plan")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1, s"expected ONE span exchange, got $exchanges:\n$plan")
    }
  }

  test("exact dedup plans a partial (map-side) aggregate before the shuffle") {
    import spark.implicits._
    val df = Seq.tabulate(100)(i => (i.toLong, s"doc${i % 10}")).toDF("doc_id", "text")
    val plan = physical(Dedup.exactDedup(df, "text", "doc_id"))
    // partial_ prefix in the aggregate expressions marks map-side combine
    assert(plan.contains("partial_"), s"groupBy must partial-aggregate map-side:\n$plan")
  }

  test("minhash signature stage plans no shuffle") {
    import spark.implicits._
    val df = Seq.tabulate(20)(i => (i.toLong, s"some text number $i here")).toDF("doc_id", "text")
    val plan = physical(df.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 2), k = 16)))
    assert(!plan.contains("Exchange"), s"per-row signatures must not shuffle:\n$plan")
  }

  /** Run `body` with AQE and auto-broadcast off so the static physical
    * plan is a plain typed tree (no AdaptiveSparkPlanExec leaf hiding the
    * join strategy, no size-based broadcast masking a missing hint) and
    * shuffle-width claims are inspectable node by node.
    */
  private def withStaticPlans[T](body: => T): T = {
    val conf = spark.conf
    val (aqe, thresh) = (conf.get("spark.sql.adaptive.enabled"), conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    }
  }

  test("LSH banding: ONE band-bucket exchange carrying no signatures, reused sig re-attach exchange") {
    import spark.implicits._
    withStaticPlans {
      val df = Seq.tabulate(30)(i => (i.toLong, s"shared text body number ${i % 5} with words")).toDF("doc_id", "text")
      val sigs = Dedup.withMinhashSignature(df, "text", "_sig", shingleN = 2, k = 16)
      val pairs = Dedup.lshCandidatePairs(sigs, "doc_id", "_sig", bands = 4)
      val plan = physical(pairs)
      // the pre-r18 shape walked the banded frame through THREE
      // aggregation/join subtrees (bucket sizes, bound join, self-join);
      // the bucket-collect mold needs exactly ONE band-keyed exchange
      val bandExchanges = pairs.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("_band") => e
      }
      assert(bandExchanges.size == 1, s"expected ONE (_band,_bucket) exchange, got ${bandExchanges.size}:\n$plan")
      // and it must carry only (id, band, bucket) + the collected-id
      // buffer — a column referencing the signature means sigs are being
      // shipped bands× over, the exact regression the scaladoc rules out
      // (the post-dedup re-attach joins legitimately carry _sig once)
      bandExchanges.foreach { e =>
        val sigCols = e.output.filter(a => a.name.contains("sig"))
        assert(sigCols.isEmpty,
          s"band shuffle must not carry signatures, found ${sigCols.map(_.name).mkString(",")} in:\n$e")
      }
      // both sig re-attach joins read the identical keyed subtree
      assert(plan.contains("ReusedExchange"), s"sig re-attach exchange must be reused:\n$plan")
    }
  }

  test("cosineNearDupPairs LSH path: ONE band-bucket exchange, ONE lshBandBuckets evaluation, reused corpus exchange") {
    import spark.implicits._
    withStaticPlans {
      val df = Seq.tabulate(40)(i => (i.toLong, Array.fill(8)(i.toFloat + 1))).toDF("id", "vec")
      val out = Similarity.cosineNearDupPairs(df, "id", "vec", 0.9,
        dim = 8, bitsPerGroup = 4, groups = 4, bruteForceMax = 0)
      val plan = physical(out)
      // the pre-r18 self-join shape evaluated the 128-hyperplane bucket
      // expression once PER JOIN SIDE — a full second pass over every
      // embedding at scale
      val bucketEvals = "lsh_band_buckets".r.findAllIn(plan).size
      assert(bucketEvals == 1, s"lshBandBuckets must evaluate once, found $bucketEvals:\n$plan")
      val bandExchanges = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("_band") => e
      }
      assert(bandExchanges.size == 1, s"expected ONE (_band,_bucket) exchange, got ${bandExchanges.size}:\n$plan")
      // both vector re-attach joins read the identical corpus subtree:
      // its exchange builds once, the second join reuses it
      assert(plan.contains("ReusedExchange"), s"corpus re-attach exchange must be reused:\n$plan")
    }
  }

  test("dupSpanStats: ONE span exchange read once — window flag, no join, no checkpoint leaf") {
    import spark.implicits._
    withStaticPlans {
      val docs = Seq.tabulate(30)(i =>
        (i.toLong, s"tok${i % 7} alpha beta gamma delta epsilon zeta eta theta iota kappa")
      ).toDF("doc_id", "text")
      val out = Dedup.dupSpanStats(docs, "doc_id", "text", n = 3, minDocs = 2)
      val plan = physical(out)
      // the r17–r18 localCheckpoint pinned ~8x the corpus bytes into the
      // BlockManager — the r19 third-decade probe OOM'd it at 5M docs;
      // the intermediate r19 agg+join-back shape read the span shuffle
      // TWICE and sorted for SMJ anyway — the window flag gets the doc
      // frequency from that same sort with one shuffle read and no join
      assert(!plan.contains("Scan ExistingRDD"), s"checkpoint leaf must be gone:\n$plan")
      assert(!plan.contains("Join"), s"dup flag must come from the window, not a join-back:\n$plan")
      assert(plan.contains("Window"), s"expected the span-partitioned count window:\n$plan")
      val spanExchanges = out.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("span") => e
      }
      assert(spanExchanges.size == 1,
        s"expected ONE span-keyed exchange, got ${spanExchanges.size}:\n$plan")
      // ...and the window must ride that exchange's clustering, not its own
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 2, s"expected exactly 2 exchanges (span + final per-doc), got $exchanges:\n$plan")
      // the tokenize+explode runs once, on the map side of the exchange
      val generates = "Generate explode".r.findAllIn(plan).size
      assert(generates == 1, s"explode must run once, found $generates:\n$plan")
    }
  }

  test("cosineNearDupPairs small-corpus path: no NestedLoopJoin, one parallelized map stage") {
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (i.toLong, Array.fill(8)(i.toFloat + 1))).toDF("id", "vec")
    val plan = physical(Similarity.cosineNearDupPairs(df, "id", "vec", 0.9, dim = 8))
    // the hand-fused pair loop replaced BNLJ's per-pair interpreted
    // condition (~10x the dot product's cost)
    assert(!plan.contains("NestedLoop"), s"brute path must not plan a nested-loop join:\n$plan")
    assert(plan.contains("Scan ExistingRDD"), s"brute path runs from the bounded probe:\n$plan")
  }

  test("decontamination broadcasts the probe-gram side even with size-based broadcast off") {
    import spark.implicits._
    withStaticPlans {
      val docs = Seq.tabulate(20)(i => (i.toLong, s"training document $i about topic ${i % 3}")).toDF("doc_id", "text")
      val probes = Seq((1L, "training document 1 about topic 1")).toDF("probe_id", "ptext")
      val plan = physical(Decontam.decontaminate(docs, "doc_id", "text", probes, "probe_id", "ptext", n = 3))
      // autoBroadcastJoinThreshold=-1 above: only the explicit broadcast()
      // hint can produce this node, so its presence pins the hint itself,
      // not a small-input size accident.
      assert(plan.contains("BroadcastExchange"),
        s"probe grams must broadcast (corpus-side gram shuffle is the scale killer):\n$plan")
    }
  }

  test("connected components' per-round localCheckpoint keeps the returned plan O(1) in rounds") {
    import spark.implicits._
    // A 9-node chain takes several star rounds. Without the per-round
    // lineage truncation an N-round plan re-embeds every prior round's
    // joins (the round-1 audit measured 161 exchanges); with it, the
    // returned frame is a CONSTANT-size label extraction over a
    // checkpointed edge leaf — the same exchange count whether the loop
    // ran 1 round or 8.
    val pairs = Seq.tabulate(8)(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
    // smallGraphEdges=0: this test pins the DISTRIBUTED star path's plan
    // (the default would take the driver union-find shortcut here)
    def planOf(rounds: Int): String = physical(
      Dedup.connectedComponents(pairs, rounds, false, smallGraphEdges = 0L))
    val plan1 = planOf(1)
    val plan8 = planOf(8)
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).size
    assert(exchanges(plan8) <= exchanges(plan1),
      s"label-extraction plan must not grow with rounds: ${exchanges(plan1)} vs ${exchanges(plan8)}:\n$plan8")
    assert(exchanges(plan8) <= 5, s"label extraction must stay a small constant plan:\n$plan8")
    assert(plan8.contains("ExistingRDD") || plan8.contains("LocalTableScan"),
      s"expected checkpoint-scan leaves under the label extraction:\n$plan8")
    // And the labels are right: the whole chain collapses to component 0.
    val labels = Dedup.connectedComponents(pairs, maxIter = 8, checkConvergence = false)
    val comps = labels.select("component").distinct().as[Long].collect().toSeq
    assert(comps == Seq(0L))
  }

  test("rdd-boundary upstream scans stay pruned (the PLANS.md rdd* footnote contract)") {
    // q70/q74/q76/q81 end in a Scan ExistingRDD leaf (zipWithIndex
    // global order, prefix-sum mapPartitions, localCheckpoint), so the
    // plan audit's executed-plan string shows no parquet ReadSchema for
    // them. The pruning claim lives HERE: the frame each op materializes
    // at its RDD boundary (its sorted/derived input) must scan only the
    // columns the query selected — over the real 5-column documents
    // table, so a schema change that silently widens the scan fails.
    import org.apache.spark.sql.execution.FormattedMode
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.columns.length == 5, docs.columns.mkString(","))
    def readSchemaFields(df: DataFrame): Seq[Int] =
      "ReadSchema: struct<([^>]*)>".r
        .findAllMatchIn(df.queryExecution.explainString(FormattedMode))
        .map(_.group(1).split(",").length).toSeq
    // q70 (packSequencesGlobal) / q74 (lengthBuckets): the op sorts the
    // 2-column projection then crosses to RDD — the sort's scan is what
    // its zipWithIndex/prefix-sum job executes
    val counts = docs.select(col("doc_id"), length(col("text")).cast("long").as("n_tokens"))
    assert(readSchemaFields(counts.orderBy("doc_id")).forall(_ == 2),
      "packing/bucket sort must scan 2 of 5 columns")
    // q81 (deterministicShuffle): 1-column projection ordered by a
    // derived md5 key
    val oneCol = docs.select(col("doc_id"))
    assert(readSchemaFields(oneCol.orderBy(md5(col("doc_id").cast("string")))).forall(_ == 1),
      "shuffle-order sort must scan 1 of 5 columns")
    // q76 (connectedComponents): round zero localCheckpoints the pair
    // frame — the checkpoint job executes THIS plan, which must read
    // only doc_id + text
    val pairs = Dedup.exactJaccardPairs(
      docs.filter(col("doc_id") < 50), "doc_id", "text", 0.55)
      .select(col("id1"), col("id2"))
    assert(readSchemaFields(pairs).nonEmpty && readSchemaFields(pairs).forall(_ == 2),
      "CC pair graph must scan 2 of 5 columns")
    // q90 (dupSpanStats): the span explode feeds the one span-keyed
    // exchange — its scan must read only doc_id + text
    val spanFrame = docs.select(col("doc_id"),
      explode(graft.ops.Dedup.gramHashes(col("text"), 10)).as("span"))
    assert(readSchemaFields(spanFrame).nonEmpty && readSchemaFields(spanFrame).forall(_ == 2),
      "span explode must scan 2 of 5 columns")
    // q98/q99 (assignIncrementalClusters): the operator localCheckpoints
    // its matched/labeled frames — the checkpoint jobs execute the probe
    // and batch-CC plans, whose scans must read only doc_id + text (the
    // exact-Jaccard pair graph is the q76 pin above; this pins the LSH
    // probe chain q98 feeds the operator)
    def sigsOf(side: DataFrame) =
      Dedup.withMinhashSignature(side, "text", "sig", shingleN = 1, k = 16)
        .select(col("doc_id"), col("sig"))
    val probeFrame = Dedup.incrementalNearDupPairs(
      sigsOf(docs.filter(col("doc_id") % 3 === 0)), "doc_id", "sig",
      sigsOf(docs.filter(col("doc_id") % 3 =!= 0)), "doc_id", "sig",
      bands = 4, threshold = 0.5)
      .select(col("new_id"), col("hist_id"))
    assert(readSchemaFields(probeFrame).nonEmpty && readSchemaFields(probeFrame).forall(_ == 2),
      "the incremental probe chain must scan 2 of 5 columns on both sides")
  }
}
