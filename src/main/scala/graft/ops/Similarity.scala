package graft.ops

import graft.functions.VectorFunctions
import graft.readers.Resolve
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Scale strategy: brute force is the oracle path (broadcast the small
  * query side — never the corpus — so the 100 TB corpus streams through a
  * map-only stage). The scale path is random-hyperplane LSH: bucket by
  * sign bits, equi-join on (bucket-group, bits), score only candidates.
  */
object Similarity {

  /** Exact top-k by cosine: each row of `queries` against all of `corpus`.
    * `queries` is broadcast (must be small); the corpus side never
    * shuffles — the join is a BroadcastNestedLoopJoin over a map-only
    * scan, then a per-query top-k window.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv")))
    val scored = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        VectorFunctions.cosineSim(col("_qv"), col("_cv")).as("cosine")
      )
    Relational.topKPerGroup(scored, Seq("query_id"), Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** Deterministic pseudo-random hyperplanes: `nBits` x `dim` doubles in
    * [-1, 1], generated from `seed` (same on every executor — the planes
    * are literals folded into the plan, so there is no side data to ship).
    */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  /** Sign-bit signature of a vector under `nBits` random hyperplanes,
    * packed into a Long. Pure Column formulation via HOFs — which run
    * INTERPRETED (ArrayAggregate/ZipWith are CodegenFallback); every
    * hot path uses the fused [[VectorFunctions.lshBandBuckets]]
    * instead, and this single-Long packing exists as the simple API
    * surface for ad-hoc use.
    */
  def lshSignature(vec: Column, nBits: Int, dim: Int, seed: Long = 42L): Column = {
    require(nBits <= 64, s"lshSignature packs into a Long; use VectorFunctions.lshBandBuckets for $nBits bits")
    val planes = hyperplanes(nBits, dim, seed)
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val pLit = array(p.map(lit): _*)
      val dot = aggregate(
        zip_with(vec, pLit, (x, w) => x.cast("double") * w),
        lit(0.0),
        (acc, v) => acc + v
      )
      when(dot > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k via banded hyperplane LSH: `groups` bands of
    * `bitsPerGroup` sign bits each; vectors sharing any band bucket are
    * candidates (OR-amplification). Equi-join on (band, bits-in-band) —
    * shuffle partitioned by bucket, no cross join — then exact cosine on
    * candidates and per-query top-k. Recall rises with `groups`, cost
    * with bucket collision rate.
    */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      dim: Int,
      bitsPerGroup: Int = 8,
      groups: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    // Band rows carry ONLY (id, band, bucket): the candidate join and the
    // pair dedup below must not shuffle the embedding vectors groupsx
    // over — at scale the shuffle width is the whole game (the
    // lshCandidatePairs mold, Dedup.scala). Vectors re-attach AFTER the
    // id-only dedup: the query side re-attaches via broadcast (queries
    // are the small side by contract), the corpus side via one equi-join.
    bucketedTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k,
      v => VectorFunctions.lshBandBuckets(v, bitsPerGroup, groups, dim, seed))
  }

  /** Shared candidate pipeline for bucketed ANN: `bucketsOf` maps a vector
    * column to an array of per-band bucket keys; rows sharing any
    * (band, bucket) become candidates.
    */
  private def bucketedTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      bucketsOf: Column => Column
  ): DataFrame = {
    def banded(df: DataFrame, idc: String, vecc: String, idOut: String): DataFrame = {
      df.select(
        col(idc).as(idOut),
        posexplode(bucketsOf(col(vecc)))
      )
        .withColumnRenamed("pos", "_band")
        .withColumnRenamed("col", "_bucket")
    }
    val c = banded(corpus, corpusId, corpusVec, "neighbor_id")
    val q = banded(queries, queryId, queryVec, "query_id")
    val candIds = c
      .join(q, Seq("_band", "_bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    // corpus re-attach FIRST (the only vector-carrying exchange — its
    // left side is still id-width), THEN the broadcast query re-attach
    // (exchange-free): the other order would ship _qv through the
    // corpus join's shuffle.
    val cand = candIds
      .join(corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv")),
        Seq("neighbor_id"))
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))),
        Seq("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        VectorFunctions.cosineSim(col("_qv"), col("_cv")).as("cosine")
      )
    Relational.topKPerGroup(cand, Seq("query_id"), Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** Hash-exact oracle twin of the hyperplane buckets: INTEGER
    * hyperplanes — coefficient for (hyperplane h, 1-based dim i) is
    * `(a_h*i + b_h) mod (2^31-1) - 2^30` over components quantized to
    * `floor(v*1000)` — so the sign bits, and therefore every bucket,
    * are exact BIGINT arithmetic any engine reproduces bit-for-bit (the
    * q78 md5 mold applied to ANN; the scale path keeps the codegen'd
    * float hyperplanes of [[VectorFunctions.lshBandBuckets]]). Overflow
    * headroom under ANSI Long: |dot| <= dims * 1000*|v|max * 2^30 —
    * ~6e16 for unit-norm 64-dim embeddings.
    */
  def portableLshBuckets(vec: Column, bitsPerGroup: Int, groups: Int, seed: Long): Column = {
    val (a, b) = graft.ops.Dedup.portableCoeffs(groups * bitsPerGroup, seed)
    VectorFunctions.portableLshBuckets(vec, bitsPerGroup, groups, a, b)
  }

  /** [[lshTopK]] with the portable integer-hyperplane buckets — the ANN
    * variant whose WHOLE pipeline (quantize, sign bits, banding,
    * candidate join, exact cosine, top-k) is value-checked against a
    * DuckDB oracle instead of rows-only.
    */
  def portableLshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      bitsPerGroup: Int = 6,
      groups: Int = 6,
      seed: Long = 42L
  ): DataFrame =
    bucketedTopK(corpus, corpusId, corpusVec, queries, queryId, queryVec, k,
      v => portableLshBuckets(v, bitsPerGroup, groups, seed))

  /** Portable centroid seeding: the centroids ARE the corpus rows with
    * id < n, in id order — no sample, no Lloyd rounds — so the whole IVF
    * assignment (argmax cosine, ties to the lower centroid id, matching
    * [[nearestCentroid]]'s strict-> scan) is replicable in engine-neutral
    * SQL. Driver-side collect of n rows (n x dim floats, tiny), the same
    * boundedness contract as [[trainIvfCentroids]]'s sample.
    */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String, n: Int): Array[Array[Float]] = {
    // NULL vectors can't seed cells (the oracle's list_cosine on NULL
    // excludes them from argmax the same way) — and zero non-null seeds
    // must refuse loudly, not NPE downstream
    val seeds = corpus.filter(col(idCol) < n && col(vecCol).isNotNull)
      .orderBy(idCol).select(vecCol)
      .collect().map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, s"no non-null vectors with $idCol < $n to seed IVF centroids")
    seeds
  }

  /** IVF (inverted-file) index: k-means coarse centroids trained with a
    * few Lloyd iterations. Centroids live on the driver (k×dim floats —
    * tiny) and ship to executors as plan literals/closures; train on a
    * sample at scale, assign the full corpus in one map-only pass.
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      vecCol: String,
      k: Int,
      iterations: Int = 5,
      sampleRows: Int = 10000
  ): Array[Array[Float]] = {
    // NULL vectors can't train anything — drop them before sampling
    // (getSeq returns null for a NULL cell; .toArray on it NPEs)
    val sample = corpus.select(vecCol).where(col(vecCol).isNotNull).limit(sampleRows)
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.length >= k,
      s"need >= $k non-null sample vectors to train IVF centroids, got ${sample.length}")
    var centroids = sample.take(k).map(_.clone())
    (1 to iterations).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toArray
    }
    centroids
  }

  private def nearestCentroid(v: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0; var bestSim = Double.MinValue
    var c = 0
    while (c < centroids.length) {
      val sim = cosineArr(v, centroids(c))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }
  private def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** IVF approximate top-k: assign corpus rows to their nearest centroid
    * (map-only), probe each query's `nProbe` nearest centroid cells, and
    * score exactly only within probed cells. Equi-join on the cell id —
    * shuffle partitioned by cell, candidate count ≈ nProbe/k of the
    * corpus per query.
    */
  def ivfTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      centroids: Array[Array[Float]],
      nProbe: Int = 2
  ): DataFrame = {
    val cents = centroids // closure capture for the UDFs
    // null vectors assign/probe to null — the null cell equi-joins
    // nothing, so the row leaves the pipeline instead of NPE-ing
    val assignUdf = udf { (v: Seq[Float]) =>
      if (v == null) null.asInstanceOf[java.lang.Integer]
      else java.lang.Integer.valueOf(nearestCentroid(v.toArray, cents))
    }
    val probeUdf = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val arr = v.toArray
        cents.indices.sortBy(c => -cosineArr(arr, cents(c))).take(nProbe)
      }
    }
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("_cv"))
      .withColumn("_cell", assignUdf(col("_cv")))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("_qv"))
      .withColumn("_cell", explode(probeUdf(col("_qv"))))
    val cand = c.join(q, Seq("_cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        VectorFunctions.cosineSim(col("_qv"), col("_cv")).as("cosine")
      )
      .dropDuplicates("query_id", "neighbor_id")
    Relational.topKPerGroup(cand, Seq("query_id"), Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** All pairs with cosine >= threshold among rows of `df` — embedding
    * near-dup detection.
    *
    * Scale path (default): banded hyperplane LSH with ONE bucket
    * exchange — `lshBandBuckets` evaluates once per vector, band rows
    * (id, band, bucket) group on the bucket key, and candidate pairs
    * expand MAP-SIDE inside each bucket (ids sorted, so id1 < id2 by
    * construction). The EXACT cosine then filters the deduped
    * candidates, so there are no false positives. The previous shape
    * self-joined the banded frame, which evaluated the 128-hyperplane
    * bucket expression twice per vector — a full second pass over every
    * embedding at scale. Buckets larger than `maxBucket` drop before
    * expansion (skew guard: a degenerate bucket would be quadratic).
    * Recall is probabilistic (misses a qualifying pair with prob
    * `(1 - p^bitsPerGroup)^groups`, p = 1 - acos(threshold)/pi); the
    * defaults put that under ~6% at cosine = 0.8 and under 0.1% for
    * true near-dups (cosine >= 0.95) — the regime the operator targets.
    *
    * The `maxBucket` skew guard drops (band, bucket) groups larger than
    * `maxBucket` BEFORE pair expansion — without it one degenerate
    * bucket (e.g. a mass-duplicated vector) is quadratic. The flip side
    * is a recall cliff on duplicate CLIQUES larger than `maxBucket`:
    * all their buckets are oversized, so none of their pairs emit. Run
    * exact/MinHash dedup first (the pipeline order QuickStart §24
    * uses) or raise `maxBucket` if clique-scale duplicates must come
    * out of THIS operator; same contract as
    * [[graft.ops.Dedup.lshCandidatePairs]].
    *
    * Cost-based small-input path: when the corpus has at most
    * `bruteForceMax` rows (one cheap count job — parquet footer counts —
    * the same runtime-stats move AQE makes for join strategy), the
    * exact all-pairs plan wins outright: n^2 * dim FMAs beat the LSH
    * pipeline's fixed 4-stage depth below ~10^4 rows AND recall becomes
    * perfect. Above the threshold the LSH pipeline is the only plan
    * that survives — at 10^9 vectors brute force is 10^18 pairs.
    * `exact = true` forces the brute force regardless of size (oracle
    * verification); `bruteForceMax = 0` forces the LSH path (plan-shape
    * tests, A/B tooling).
    *
    * `autoTune` (default on) grows the banding with the corpus — one
    * count job over the pruned projection, then [[autoLshParams]]
    * treats (bitsPerGroup, groups) as minimums and re-derives the band
    * count to hold the ~6% miss contract AT THE CALLER'S THRESHOLD for
    * any corpus size (the fixed defaults hold it only at ~2k rows).
    * Fixed-width banding does NOT survive scale-up: candidate pairs
    * grow ~ C(n,2) * groups * 2^-bits (quadratic), so the 8-bit
    * default that is right at 2k rows generates ~1.2B spurious
    * candidates at 200k rows (measured, tools/DeepScaleProbe.scala).
    *
    * `knownCorpusSize = Some(n)` is the LAZY alternative to both
    * construction-time jobs: banding derives from the declared n, the
    * LSH path is taken unconditionally, and the returned frame runs
    * nothing until the caller's action — use it when composing
    * pipelines over expensive or uncached lineage.
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 64,
      bitsPerGroup: Int = 8,
      groups: Int = 16,
      seed: Long = 42L,
      exact: Boolean = false,
      maxBucket: Int = 1000,
      bruteForceMax: Long = 10000L,
      autoTune: Boolean = true,
      knownCorpusSize: Option[Long] = None
  ): DataFrame = {
    // Lazy-composition path (VERDICT r18 #3 hygiene): a caller that
    // already knows its corpus size skips BOTH construction-time jobs
    // (the bounded probe and the autoTune count) — banding parameters
    // derive from the declared n and the frame stays job-free until the
    // caller's own action, like every other operator (the Pipeline
    // laziness contract). Always the LSH path: the bounded-probe exact
    // plan exists only as the cost-based small-corpus optimization,
    // and being cost-based is exactly the eager part.
    knownCorpusSize match {
      case Some(n) if !exact =>
        val (bits, gps) =
          if (autoTune) autoLshParams(n, minBits = bitsPerGroup, minGroups = groups,
            designCosine = threshold)
          else (bitsPerGroup, groups)
        val miss = lshExpectedMiss(threshold, bits, gps)
        if (autoTune && miss > 0.066)
          System.err.println(
            f"[graft] cosineNearDupPairs: auto-tuned banding ($bits bits, $gps groups) can only " +
            f"achieve ~${miss * 100}%.0f%% per-pair miss at cosine $threshold%.2f (target <=6.5%%) — " +
            "raise the threshold, raise maxGroups, or use the exact path")
        return lshCosinePairs(df, idCol, vecCol, threshold, dim, bits, gps, seed, maxBucket)
      case _ => ()
    }
    // The cast matches every VectorFunctions wrapper (they all cast to
    // array<float>), so double/int vector columns work on this path too.
    val narrowed = df.select(col(idCol),
      col(vecCol).cast(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    // One bounded probe replaces a separate count job: collect at most
    // max+1 (id, vec) rows — <= 2.5 MB at the 10k default, the same
    // bounded-collect class as IVF's centroid sample — and the overflow
    // row IS the "corpus is big, take the LSH path" signal. NOTE this
    // probe job runs at DataFrame-CONSTRUCTION time (the AQE-style
    // runtime-stats cost of being cost-based); `exact = true` instead
    // collects the WHOLE corpus — oracle/test scale only, by contract.
    val lim = math.min(bruteForceMax, Int.MaxValue - 1L).toInt
    val probed: Option[Array[org.apache.spark.sql.Row]] =
      if (exact) Some(narrowed.collect())
      else if (bruteForceMax > 0) {
        val rows = narrowed.limit(lim + 1).collect()
        if (rows.length <= lim) Some(rows) else None
      } else None
    probed match {
      case Some(rows) => bruteCosinePairs(df, narrowed, rows, threshold)
      case None =>
        // the probe just paid one bounded pass over the lineage and the
        // autoTune count below pays another — make the eager cost
        // visible (ADVICE r18) and point at the job-free alternative
        System.err.println(
          s"[graft] cosineNearDupPairs: corpus exceeds bruteForceMax=$bruteForceMax — taking the " +
          "LSH path; the probe + tuning count ran at DataFrame-build time (cache df first if its " +
          "lineage is expensive, or pass knownCorpusSize to stay job-free until the action)")
        // auto-scaled banding (see autoLshParams): the caller's
        // (bitsPerGroup, groups) are minimums and the recall contract
        // is held at the CALLER'S threshold; one count job — over the
        // column-pruned projection, not the full lineage — buys the
        // corpus size the scaling rule needs. Without it the fixed
        // 8-bit banding generates C(n,2)*groups/256 candidate pairs.
        // (Construction is therefore eager: the probe + this count run
        // at DataFrame-build time. Callers with expensive upstream
        // lineage should cache df first.)
        val (bits, gps) =
          if (autoTune)
            autoLshParams(narrowed.count(), minBits = bitsPerGroup, minGroups = groups,
              designCosine = threshold)
          else (bitsPerGroup, groups)
        // the derivation clamps (threshold < 0.5) and caps (groups >
        // 256): either can make the 6.5%-miss contract unachievable —
        // say so on the driver instead of silently returning a lossy
        // result (the exact class of defect round-18's reviews hunted)
        val miss = lshExpectedMiss(threshold, bits, gps)
        if (autoTune && miss > 0.066)
          System.err.println(
            f"[graft] cosineNearDupPairs: auto-tuned banding ($bits bits, $gps groups) can only " +
            f"achieve ~${miss * 100}%.0f%% per-pair miss at cosine $threshold%.2f (target <=6.5%%) — " +
            "raise the threshold, raise maxGroups, or use the exact path")
        lshCosinePairs(df, idCol, vecCol, threshold, dim, bits, gps, seed, maxBucket)
    }
  }

  /** The small-corpus exact plan: broadcast the probed (id, vec) rows
    * and run ONE parallelized map stage whose hand-fused pair loop
    * replaces BroadcastNestedLoopJoin's per-pair interpreted condition
    * (the NLJ spends ~10x the dot product's cost on expression dispatch
    * at this shape). Nulls drop as the Column plan
    * would (null id/vec never satisfies `<` or `>=`); cosine uses
    * [[graft.functions.VectorFunctions.cosineSim]]'s zero-norm = 0.0
    * convention, and the threshold compare uses java.lang.Double
    * ordering (NaN largest) to match Spark SQL's. Ids order via JVM
    * `Comparable`, identical to the Column `<` for numeric/long/string
    * ASCII ids (the oracle surface).
    */
  private def bruteCosinePairs(
      df: DataFrame,
      narrowed: DataFrame,
      rows: Array[org.apache.spark.sql.Row],
      threshold: Double
  ): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val idType = narrowed.schema.fields(0).dataType
    // rows come from `narrowed`, whose vec column is cast to
    // array<float> — one extraction shared by both loop sides. Null
    // ELEMENTS zero-fill to match the Column/LSH path's ArrayData
    // semantics (getFloat on a null slot reads 0.0) — unboxing them
    // instead threw NPE, making the two cost-based branches diverge on
    // the same corpus (ADVICE r18).
    def vecOf(r: org.apache.spark.sql.Row): Array[Float] = {
      val s = r.getAs[scala.collection.Seq[java.lang.Float]](1)
      val out = new Array[Float](s.length)
      var i = 0
      val it = s.iterator
      while (it.hasNext) { val v = it.next(); out(i) = if (v == null) 0.0f else v.floatValue(); i += 1 }
      out
    }
    val side = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), vecOf(r)))
      .toArray
    val bc = df.sparkSession.sparkContext.broadcast(side)
    val schema = StructType(Seq(
      StructField("id1", idType, nullable = true),
      StructField("id2", idType, nullable = true),
      StructField("cosine", DoubleType, nullable = true)))
    // The probe already holds the whole corpus, so parallelize it back
    // out rather than paying a second scan job — the loop body is still
    // a distributed map stage, just seeded from the bounded probe.
    val sc = df.sparkSession.sparkContext
    val out = sc.parallelize(rows.toIndexedSeq, sc.defaultParallelism).mapPartitions { it =>
      val arr = bc.value
      it.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else {
          val id1 = r.get(0)
          val v1 = vecOf(r)
          arr.iterator.flatMap { case (id2, v2) =>
            if (id1.asInstanceOf[Comparable[Any]].compareTo(id2) >= 0) Iterator.empty
            else {
              var dot = 0.0; var na = 0.0; var nb = 0.0
              val n = math.min(v1.length, v2.length)
              var i = 0
              while (i < n) {
                val x = v1(i).toDouble; val y = v2(i).toDouble
                dot += x * y; na += x * x; nb += y * y
                i += 1
              }
              val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
              if (java.lang.Double.compare(c, threshold) >= 0)
                Iterator.single(org.apache.spark.sql.Row(id1, id2, c))
              else Iterator.empty
            }
          }
        }
      }
    }
    df.sparkSession.createDataFrame(out, schema)
  }

  /** Auto-scaled banding parameters: hold the expected LSH bucket size
    * near `targetBucket` as the corpus grows (`bits ≈ log2(n /
    * targetBucket)`) and re-derive the band count to keep the recall
    * contract AT THE CALLER'S THRESHOLD (per-pair miss <= `targetMiss`
    * for pairs exactly at cosine `designCosine` — the fixed (8, 16)
    * defaults' own ~6% at cosine 0.8, now held by construction at any
    * n instead of only at their natural 2k-row scale). The caller's
    * explicit (bits, groups) act as MINIMUMS.
    *
    * Why bits must scale with n: banded LSH generates candidate pairs
    * at rate ~ C(n,2) * groups * 2^-bits on a low-similarity corpus —
    * QUADRATIC with a constant only the bit width controls. The
    * round-18 deep probe measured the failure concretely: at 200k
    * random vectors the fixed 8-bit banding yields ~1.2B spurious
    * candidates (the probe run died); bucket-size-held banding yields
    * groups * n * targetBucket / 2 — linear in n.
    *
    * Why groups must follow the threshold: the band-hit probability
    * p^bits DROPS as bits grow, so holding recall needs more bands —
    * and shallower thresholds (smaller p) need disproportionately
    * more. `maxGroups` caps the blow-up: when the cap binds, the
    * requested (threshold, miss) is not achievable with hyperplane
    * banding at this corpus size — lower the threshold expectation,
    * raise targetMiss, or use the exact path.
    */
  def autoLshParams(
      n: Long,
      minBits: Int = 8,
      minGroups: Int = 16,
      targetBucket: Int = 8,
      designCosine: Double = 0.8,
      targetMiss: Double = 0.065,
      maxGroups: Int = 256
  ): (Int, Int) = {
    val bits = math.max(minBits,
      math.ceil(math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2)).toInt)
    // clamp: below ~0.5 hyperplane LSH stops discriminating (p -> 1/2)
    // and above 0.99 the derivation degenerates (p -> 1). A clamped or
    // capped derivation can violate the contract — callers check with
    // [[lshExpectedMiss]] (cosineNearDupPairs warns).
    val c = math.max(0.5, math.min(designCosine, 0.99))
    val p = 1 - math.acos(c) / math.Pi
    val pBand = math.pow(p, bits)
    val derived = math.min(maxGroups.toLong,
      math.ceil(math.log(targetMiss) / math.log(1 - pBand)).toLong)
    // explicit minimums ALWAYS win — the cap bounds only the derived
    // value (min-after-max silently overrode an explicit minGroups>cap)
    (bits, math.max(minGroups.toLong, derived).toInt)
  }

  /** Per-pair probability that banded hyperplane LSH MISSES a pair
    * sitting exactly at `cosine`: `(1 - p^bits)^groups`,
    * p = 1 - acos(cosine)/pi.
    */
  def lshExpectedMiss(cosine: Double, bits: Int, groups: Int): Double = {
    val p = 1 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    math.pow(1 - math.pow(p, bits), groups)
  }

  private def lshCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bitsPerGroup: Int,
      groups: Int,
      seed: Long,
      maxBucket: Int
  ): DataFrame = {
    {
      // Band rows carry only (band, bucket, id) — the vectors would be
      // replicated `groups`x through the shuffle otherwise. Vectors
      // re-attach to the deduped candidate pairs afterwards.
      val banded = df
        .select(
          col(idCol).as("_id"),
          posexplode(VectorFunctions.lshBandBuckets(col(vecCol), bitsPerGroup, groups, dim, seed))
        )
        .withColumnRenamed("pos", "_band")
        .withColumnRenamed("col", "_bucket")
      // ONE exchange on (band, bucket); singleton buckets die in the
      // size filter, oversized ones in the skew guard. Pair expansion is
      // a HOF over the collected id list — no self-join, no second
      // bucket evaluation.
      // Dropped oversized buckets warn at execution time (ADVICE r18:
      // the skew guard's recall cliff was silent): the guard predicate
      // counts them into an accumulator, a job-end listener prints — no
      // extra jobs, once per BUCKET, and it survives AQE empty-relation
      // propagation when every bucket drops (the exact case that needs
      // the warning; an observed metric vanishes there).
      val keep = ObservedWarnings.boundedBucketFilter(df.sparkSession, maxBucket,
        s"cosine LSH skew guard dropped buckets larger than maxBucket=$maxBucket — " +
          "a duplicate-vector clique above the bound emits NO pairs from this operator; " +
          "pre-dedup exact duplicates or raise maxBucket")
      val buckets = banded
        .groupBy("_band", "_bucket")
        .agg(sort_array(collect_list("_id")).as("_ids"))
        .where(keep(size(col("_ids"))))
      val candidates = buckets
        .select(explode(flatten(transform(col("_ids"), (x, i) =>
          transform(slice(col("_ids"), i + lit(2), size(col("_ids"))), y =>
            struct(x.as("id1"), y.as("id2")))))).as("_p"))
        .select(col("_p.id1").as("id1"), col("_p.id2").as("id2"))
        // duplicate input ids sit adjacent in the sorted list and would
        // expand to an (a, a) self-pair — the pre-r18 self-join's strict
        // id1 < id2 contract excludes those
        .filter(col("id1") =!= col("id2"))
      // Verify BEFORE dedup: a pair colliding in k bands costs k cosine
      // evaluations (64 FMAs each) instead of shipping the whole
      // candidate set through a dedup exchange — the candidates are the
      // LARGEST frame in this plan (LSH banding over-generates on
      // low-similarity corpora), the threshold survivors the smallest,
      // so deduping last minimizes shuffle bytes at any scale. Both
      // re-attach joins read the IDENTICAL corpus subtree so its
      // exchange (broadcast at oracle scale, id-hash shuffle at 100 TB)
      // builds once and the second join is a ReusedExchange.
      val corpusKeyed = df.select(col(idCol).as("_jid"), col(vecCol).as("_jv"))
      candidates
        .join(corpusKeyed, col("id1") === col("_jid"))
        .withColumnRenamed("_jv", "_v1").drop("_jid")
        .join(corpusKeyed, col("id2") === col("_jid"))
        .select(col("id1"), col("id2"), VectorFunctions.cosineSim(col("_v1"), col("_jv")).as("cosine"))
        .filter(col("cosine") >= threshold)
        .dropDuplicates("id1", "id2")
    }
  }

  /** Shared probe core of [[incrementalCosinePairs]] /
    * [[incrementalCosinePairsPortable]]: both inputs are banded
    * (_id, _v, _band, _bucket) frames (the banding expression — float
    * hyperplanes on the scale path, integer hyperplanes on the oracle
    * path — is the caller's). Same exchange census as
    * [[Dedup]]'s incremental probe: one tiny bucket-count exchange
    * (r21 — was a batch-proportional window carrying vectors), one
    * signal-proportional window over the COLLIDED subset, one
    * signal-proportional dropDuplicates of verified survivors; the
    * history lineage is narrow up to the broadcast semi-join. Vectors
    * ride the collided rows (signal-sized), so exact-cosine verify
    * needs no re-attach join and runs BEFORE dedup (the
    * [[cosineNearDupPairs]] lesson: verify is 64 FMAs, deduping the
    * unfiltered candidate set is an exchange of the plan's largest
    * frame).
    */
  private def incrementalCosineProbe(
      bBand: DataFrame,
      hBand: DataFrame,
      threshold: Double,
      maxBucket: Int,
      broadcastBatch: Boolean
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = bBand.sparkSession
    def bc(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    // Batch-side bound, exchange-free (r21 — the [[Dedup]] probe's
    // reshape): bucket sizes via a partial-aggregated groupBy over the
    // cached band rows (the r20 window exchanged every batch band row
    // with its float vector aboard), guard evaluated once per BUCKET on
    // the sizes frame, kept keys semi-joined back map-side.
    val bKeep = ObservedWarnings.oversizeBucketFilter(spark, maxBucket,
      s"incremental cosine LSH: batch buckets larger than maxBucket=$maxBucket " +
        "dropped whole — pre-dedup exact-duplicate vectors in the batch or raise maxBucket")
    val bBandC = Dedup.cacheSigs(bBand)
    val bKept = bBandC.groupBy("_band", "_bucket").agg(count(lit(1)).as("_c"))
      .where(bKeep(col("_c")))
      .select("_band", "_bucket")
    val bBounded = bBandC.join(bc(bKept), Seq("_band", "_bucket"), "leftsemi")
    val collided = hBand.join(bc(bKept), Seq("_band", "_bucket"), "leftsemi")
    val hKeep = ObservedWarnings.oversizeBucketFilter(spark, maxBucket,
      s"incremental cosine LSH: history band rows in buckets larger than maxBucket=$maxBucket " +
        "dropped whole — an identical-vector clique above the bound matches NO batch vector; " +
        "raise maxBucket or pre-collapse exact-dup vectors in the index")
    val hBounded = collided
      .withColumn("_c", count(lit(1)).over(Window.partitionBy("_band", "_bucket")))
      .where(hKeep(col("_c")))
      .drop("_c")
    hBounded
      .join(bc(bBounded.select(col("_band"), col("_bucket"),
        col("_id").as("new_id"), col("_v").as("_bv"))), Seq("_band", "_bucket"))
      .select(col("new_id"), col("_id").as("hist_id"),
        VectorFunctions.cosineSim(col("_bv"), col("_v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("new_id", "hist_id")
  }

  private def floatVec(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
        col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)).as("_v"))
      .where(col("_v").isNotNull)

  /** Near-duplicate (new_id, hist_id, cosine) pairs between a new batch
    * of embeddings and a persisted history corpus — the embedding-side
    * sibling of [[Dedup.incrementalNearDupPairs]], for the
    * daily-increment pipeline: probe today's vectors against the 100 TB
    * corpus without reshuffling it. The banding parameters are part of
    * the index contract: probe with the SAME (dim, bitsPerGroup,
    * groups, seed) the corpus was sized for at build time
    * ([[autoLshParams]]); a mismatched recipe silently matches nothing.
    * Exact-cosine verify means NO false positives at any banding; the
    * banding controls recall only ([[lshExpectedMiss]]).
    *
    * History lineage: scan → map-side [[VectorFunctions.lshBandBuckets]]
    * explode → broadcast semi-join on the batch's kept bucket keys —
    * only collided (signal-sized) rows ever reach an exchange, and the
    * history-side `maxBucket` bound counts members on that collided
    * subset, never corpus-wide. `broadcastBatch = false` falls back to
    * ordinary joins for jumbo increments.
    */
  def incrementalCosinePairs(
      batch: DataFrame,
      batchIdCol: String,
      batchVecCol: String,
      history: DataFrame,
      histIdCol: String,
      histVecCol: String,
      threshold: Double,
      dim: Int = 64,
      bitsPerGroup: Int = 8,
      groups: Int = 16,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    // no pre-banding cache on either side: every batch-side consumer
    // (key broadcast, row broadcast, verify) reads the CACHED bBounded
    // inside the probe core, and the history side must stay uncached
    // at corpus scale (review r19)
    def banded(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      floatVec(df, idCol, vecCol)
        .select(col("_id"), col("_v"),
          posexplode(VectorFunctions.lshBandBuckets(col("_v"), bitsPerGroup, groups, dim, seed)))
        .withColumnRenamed("pos", "_band")
        .withColumnRenamed("col", "_bucket")
    incrementalCosineProbe(
      banded(batch, batchIdCol, batchVecCol),
      banded(history, histIdCol, histVecCol),
      threshold, maxBucket, broadcastBatch)
  }

  /** Hash-exact portable twin of [[incrementalCosinePairs]] (the q86
    * mold): integer hyperplanes over quantized components
    * ([[portableLshBuckets]]) make every sign bit, bucket, per-side
    * bound, candidate pair, and cosine value DuckDB-replicable, so the
    * incremental probe shape is verified value-for-value against an
    * independent engine. The scale path keeps the codegen'd float
    * hyperplanes.
    */
  def incrementalCosinePairsPortable(
      batch: DataFrame,
      batchIdCol: String,
      batchVecCol: String,
      history: DataFrame,
      histIdCol: String,
      histVecCol: String,
      threshold: Double,
      bitsPerGroup: Int = 6,
      groups: Int = 6,
      seed: Long = 42L,
      maxBucket: Int = 1000
  ): DataFrame = {
    def banded(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      floatVec(df, idCol, vecCol)
        .select(col("_id"), col("_v"),
          posexplode(portableLshBuckets(col("_v"), bitsPerGroup, groups, seed)))
        .withColumnRenamed("pos", "_band")
        .withColumnRenamed("col", "_bucket")
    incrementalCosineProbe(
      banded(batch, batchIdCol, batchVecCol),
      banded(history, histIdCol, histVecCol),
      threshold, maxBucket, broadcastBatch = true)
  }

  // ------------------------------------------------------------------ //
  // Vector index lifecycle (round 20): the embedding-side sibling of   //
  // the signature index (Dedup.writeSignatureIndex). The index is the  //
  // persisted (id, vec) corpus itself; the RECIPE is the banding       //
  // contract a probe must match — incrementalCosinePairs' scaladoc     //
  // says "(dim, bitsPerGroup, groups, seed) are part of the index      //
  // contract; a mismatched recipe silently matches nothing", and the   //
  // sidecar turns that prose contract into a loud refusal, exactly     //
  // what the signature sidecar does for shingleN/k/seed.               //
  // ------------------------------------------------------------------ //

  /** The banding recipe of a persisted vector index. `idCol`/`vecCol`
    * are the stored column names (appends must match them — divergent
    * parquet schemas read back as nulls); dim/bitsPerGroup/groups/seed
    * are the hyperplane banding parameters the corpus was sized for
    * ([[autoLshParams]]) — a probe banded under any other recipe
    * buckets differently and silently matches nothing. */
  final case class VectorIndexRecipe(
      idCol: String, vecCol: String, dim: Int, bitsPerGroup: Int, groups: Int, seed: Long) {
    def sidecarJson: String = {
      val m = Dedup.recipeMapper
      val node = m.createObjectNode()
      node.put("format", "graft-vector-index")
      node.put("version", 1)
      node.put("idCol", idCol)
      node.put("vecCol", vecCol)
      node.put("dim", dim)
      node.put("bitsPerGroup", bitsPerGroup)
      node.put("groups", groups)
      node.put("seed", seed)
      m.writeValueAsString(node)
    }
  }

  private val vectorSidecarName = "_graft_vector_index_recipe.json"
  private def vectorSidecarPath(path: String) =
    new org.apache.hadoop.fs.Path(path, vectorSidecarName)

  /** Build and persist the canonical (id, vec) vector index of an
    * embedding corpus, with the banding-recipe sidecar the probe entry
    * points validate. Vectors normalize to `array<float>` on write (the
    * probe's own cast). One narrow pass — no shuffle beyond the write.
    * `mode = "append"` validates against an existing sidecar first and
    * never rewrites it; appending onto a LEGACY index (pre-existing
    * data, no sidecar) refuses to stamp — same rules as
    * [[Dedup.writeSignatureIndex]]. Same non-atomicity note too: a
    * crash between the data commit and the sidecar write leaves a bare
    * index (validation silently off) — re-run to repair.
    */
  def writeVectorIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int = 64,
      bitsPerGroup: Int = 8,
      groups: Int = 16,
      seed: Long = 42L,
      mode: String = "overwrite"
  ): VectorIndexRecipe = {
    val conf = corpus.sparkSession.sessionState.newHadoopConf()
    val recipe = VectorIndexRecipe(idCol, vecCol, dim, bitsPerGroup, groups, seed)
    // mode=ignore would skip the data write yet stamp the caller's
    // recipe over data built with another — refuse (review r20)
    require(Set("append", "overwrite", "errorifexists").contains(mode.toLowerCase),
      s"writeVectorIndex: mode '$mode' not supported — append | overwrite | errorifexists")
    val appending = mode.equalsIgnoreCase("append")
    val legacyAppend = appending && readVectorIndexRecipe(path, conf).isEmpty &&
      Resolve.listing(path, conf).files.nonEmpty
    if (appending) requireVectorRecipe(path, recipe, conf)
    if (legacyAppend) {
      // no sidecar to validate against — but appending (idCol,
      // vecCol: array<float>) into files with other names/types mixes
      // parquet schemas in one directory (nulls or read-time type
      // errors): check the existing files' own schema (review r20)
      val existing = corpus.sparkSession.read.parquet(path).schema
      val vecOk = existing.find(_.name == vecCol).map(_.dataType).exists {
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
        case _ => false
      }
      require(existing.fieldNames.contains(idCol) && vecOk,
        s"legacy vector index at $path stores columns [${existing.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}] — " +
          s"appending ($idCol, $vecCol: array<float>) would mix parquet schemas in one " +
          "directory; rename/cast to the index's columns or rebuild with mode=\"overwrite\"")
    }
    // delete a pre-existing sidecar BEFORE an overwrite's data write:
    // a crash between data commit and sidecar write must leave a BARE
    // index (validation off), never the old recipe validating the new
    // data (review r20). Keep the old text and re-stamp it if the write
    // fails while the old data is still intact (analysis/schema errors
    // never touch the files) — same contract as
    // [[Dedup.writeSignatureIndex]] (ADVICE r20).
    val oldSidecarText: Option[String] =
      if (mode.equalsIgnoreCase("overwrite")) {
        val sp = vectorSidecarPath(path)
        val fs = Dedup.hadoopFs(sp, conf)
        val txt = Dedup.readSidecarText(sp, conf)
        if (fs.exists(sp)) fs.delete(sp, false)
        txt
      } else None
    // pre-write listing snapshot: restore only over provably untouched
    // data — same contract as [[Dedup.writeSignatureIndex]] (ADVICE r21)
    val preListing: Option[Resolve.Listing] =
      oldSidecarText.map(_ => Resolve.listing(path, conf))
    try {
      floatVec(corpus, idCol, vecCol)
        .select(col("_id").as(idCol), col("_v").as(vecCol))
        .write.mode(mode).parquet(path)
    } catch {
      case e: Throwable =>
        oldSidecarText.foreach { txt =>
          if (preListing.exists(_.unchangedIn(Resolve.listing(path, conf))))
            Dedup.writeSidecarText(vectorSidecarPath(path), txt, conf)
        }
        throw e
    }
    if (legacyAppend)
      System.err.println(
        s"[graft] writeVectorIndex: appended to a LEGACY index at $path (pre-existing rows, " +
          "no recipe sidecar) — the index stays unvalidated; rebuild with mode=\"overwrite\" " +
          "to adopt a validated recipe")
    else if (!appending || readVectorIndexRecipe(path, conf).isEmpty)
      Dedup.writeSidecarText(vectorSidecarPath(path), recipe.sidecarJson, conf)
    recipe
  }

  /** Read a vector index's recipe sidecar; None for a bare legacy
    * (id, vec) parquet. */
  def readVectorIndexRecipe(path: String): Option[VectorIndexRecipe] =
    readVectorIndexRecipe(path, Dedup.activeConf())

  def readVectorIndexRecipe(path: String,
      conf: org.apache.hadoop.conf.Configuration): Option[VectorIndexRecipe] = {
    val p = vectorSidecarPath(path)
    Dedup.readSidecarText(p, conf).map { txt =>
      val node = Dedup.recipeMapper.readTree(txt)
      def req(name: String): com.fasterxml.jackson.databind.JsonNode =
        Option(node.get(name)).getOrElse(throw new IllegalArgumentException(
          s"malformed vector-index sidecar at $p: missing '$name' in: $txt"))
      VectorIndexRecipe(req("idCol").asText, req("vecCol").asText, req("dim").asInt,
        req("bitsPerGroup").asInt, req("groups").asInt, req("seed").asLong)
    }
  }

  /** Validate a probe/append recipe against the index's sidecar (no-op
    * for bare legacy indexes). Column names are checked only on
    * appends (`checkCols`) — a PROBE's batch may use different ones. */
  private def requireVectorRecipe(path: String, asked: VectorIndexRecipe,
      conf: org.apache.hadoop.conf.Configuration, checkCols: Boolean = true): Unit =
    validateVectorRecipe(readVectorIndexRecipe(path, conf), path, asked, checkCols)

  /** [[requireVectorRecipe]] over an ALREADY-READ sidecar — callers
    * that also need the recipe's column names read it once and
    * validate here (one sidecar round-trip per probe, not two). */
  private def validateVectorRecipe(found: Option[VectorIndexRecipe], path: String,
      asked: VectorIndexRecipe, checkCols: Boolean): Unit =
    found.foreach { r =>
      require(r.dim == asked.dim && r.bitsPerGroup == asked.bitsPerGroup &&
          r.groups == asked.groups && r.seed == asked.seed,
        s"vector-index recipe mismatch at $path: index was built with " +
          s"(dim=${r.dim}, bitsPerGroup=${r.bitsPerGroup}, groups=${r.groups}, seed=${r.seed}) " +
          s"but the probe asked for (dim=${asked.dim}, bitsPerGroup=${asked.bitsPerGroup}, " +
          s"groups=${asked.groups}, seed=${asked.seed}) — a mismatched recipe buckets " +
          "differently and silently matches nothing; probe with the index's recipe")
      if (checkCols)
        require(r.idCol == asked.idCol && r.vecCol == asked.vecCol,
          s"vector-index column mismatch at $path: index stores ('${r.idCol}', '${r.vecCol}') " +
            s"but the append would write ('${asked.idCol}', '${asked.vecCol}') — mixed column " +
            "names read back as nulls under one schema; rename before appending")
    }

  /** Append a batch's vectors to an existing index under the index's
    * OWN recipe (validated when the sidecar exists, column names
    * included) — how the day-2 pipeline advances the vector index with
    * its survivors. */
  def appendToVectorIndex(
      survivors: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int = 64,
      bitsPerGroup: Int = 8,
      groups: Int = 16,
      seed: Long = 42L
  ): Unit = {
    val conf = survivors.sparkSession.sessionState.newHadoopConf()
    requireVectorRecipe(path,
      VectorIndexRecipe(idCol, vecCol, dim, bitsPerGroup, groups, seed), conf)
    floatVec(survivors, idCol, vecCol)
      .select(col("_id").as(idCol), col("_v").as(vecCol))
      .write.mode("append").parquet(path)
  }

  /** Compact a vector index in place — the [[Dedup.compactSignatureIndex]]
    * twin: replayed at-least-once appends land exact-duplicate
    * (id, vec) rows (harmless for matching — identical vectors band to
    * identical buckets and verify identically — but every future probe
    * scans them). Full-row dropDuplicates + staged swap; the recipe
    * sidecar rides unchanged; same crash-safety contract. */
  def compactVectorIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Dedup.IndexCompaction =
    Dedup.compactIndexDir(spark, path, vectorSidecarName)

  /** [[incrementalCosinePairs]] against a PERSISTED index path: reads
    * the recipe sidecar ONCE, validates the probe's banding against it
    * (loud error on mismatch — the silent-zero-recall footgun this
    * sidecar exists to kill; the batch's own column names may differ
    * from the index's), and probes. Day zero: an EMPTY index yields
    * zero pairs, so the whole batch survives the caller's anti-join.
    * The frame-taking overload remains for corpora managed elsewhere.
    */
  def incrementalCosineAgainstIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      threshold: Double,
      dim: Int = 64,
      bitsPerGroup: Int = 8,
      groups: Int = 16,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    val spark = batch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val recipe = readVectorIndexRecipe(indexPath, conf)
    validateVectorRecipe(recipe, indexPath,
      VectorIndexRecipe(idCol, vecCol, dim, bitsPerGroup, groups, seed),
      checkCols = false)
    val history = spark.read.parquet(indexPath)
    incrementalCosinePairs(batch, idCol, vecCol,
      history, recipe.map(_.idCol).getOrElse(idCol), recipe.map(_.vecCol).getOrElse(vecCol),
      threshold, dim, bitsPerGroup, groups, seed, maxBucket, broadcastBatch)
  }

  /** Symmetric int8 quantization of an embedding column: per-row scale
    * `max(|x|)/127`, elements rounded to [-127, 127] — the standard 4×
    * storage/bandwidth cut for large vector corpora, with cosine
    * ranking nearly preserved (relative error ~1/254 per element).
    * Adds `<out>` (array<tinyint>) and `<out>_scale` columns; exact
    * inverse via [[dequantizeEmbedding]] up to rounding.
    */
  def quantizeEmbedding(df: DataFrame, vecCol: String, out: String = "q"): DataFrame = {
    val scale = greatest(aggregate(col(vecCol), lit(0.0f), (m, x) => greatest(m, abs(x))), lit(1e-30f)) / lit(127.0f)
    df.withColumn(s"${out}_scale", scale.cast("float"))
      .withColumn(out,
        transform(col(vecCol), x => round(x / col(s"${out}_scale")).cast("byte")))
  }

  /** Reconstruct float vectors from [[quantizeEmbedding]] output. */
  def dequantizeEmbedding(df: DataFrame, qCol: String = "q", out: String = "vec"): DataFrame =
    df.withColumn(out, transform(col(qCol), b => (b.cast("float") * col(s"${qCol}_scale")).cast("float")))

  /** Embedding outlier scoring: squared distance to the corpus centroid,
    * largest first — the semantic-anomaly pass a curation pipeline runs
    * to surface mislabeled/garbage vectors. The arithmetic is exact
    * integers so the ranking is deterministic across engines and
    * partitionings: elements quantize to `floor(x * scale)`, the
    * centroid is the per-dimension SUM (not mean) and distances compare
    * `element * n - sum` — the mean times n — squared. One explode
    * shuffle for the centroid (tiny: dims × partial sums) broadcast back
    * over a map-only pass; top-k via sort-limit.
    *
    * The exact-integer form bounds n: (scale·|x|·n)² must stay under
    * 2^63, i.e. ~10^6 rows at scale=1000 — right for per-shard or
    * per-source audits. For corpus-wide scoring at 100 TB, compute the
    * double mean instead; the 1e-16 relative error is far below any
    * decision threshold (only the cross-engine ORACLE needs exactness).
    */
  def centroidOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int = 20,
      scale: Int = 1000
  ): DataFrame = {
    val ex = df.select(
      col(idCol),
      posexplode(col(vecCol)).as(Seq("_i", "_e")))
      .withColumn("_s", floor(col("_e").cast("double") * scale).cast("long"))
    val centroid = ex.groupBy("_i")
      .agg(sum("_s").as("_m"), count(lit(1)).as("_n"))
    ex.join(broadcast(centroid), Seq("_i"))
      .withColumn("_d", col("_s") * col("_n") - col("_m"))
      .groupBy(idCol)
      .agg(sum(col("_d") * col("_d")).as("d2_scaled"))
      .orderBy(col("d2_scaled").desc, col(idCol))
      .limit(topK)
  }
}
