package graft.ops

import graft.readers.Resolve
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact (content hash),
  * MinHash+LSH near-dup, SimHash, and exact n-gram Jaccard (the small-scale
  * oracle for the approximate paths).
  *
  * Scale notes (100 TB design point):
  *  - MinHash signatures are computed *per row* with higher-order functions
  *    (no explode, no shuffle) — the only shuffle is the LSH band
  *    self-join, which groups by (band, bandHash) buckets.
  *  - Exact-Jaccard is quadratic per shared token and exists only as the
  *    correctness oracle / final verification of LSH candidate pairs.
  */
object Dedup {

  // Recent minhashNearDupPairsPortable signature caches. The plan each
  // feeds is lazy, so the call itself can't know when it is safe to
  // drop — and a single-slot cache is wrong under concurrency (Bench
  // submits 16 queries in parallel; invocation B would unpersist A's
  // signatures before A's self-join evaluates, silently recomputing the
  // MD5 minhash UDF on both join sides). A small FIFO keeps the last few
  // invocations persisted: deep enough that no in-flight sibling loses
  // its cache, shallow enough to bound driver retention. Depth is the
  // widest concurrent submission pool (Bench's SPARK_GRAFT_BENCH_PARALLEL)
  // times the MAX ENTRIES ONE INVOCATION ENQUEUES — incrementalDedup
  // enrolls two (the probe's bBounded plus the within-batch pass's
  // banding base), so a pool-width depth alone would let 16 concurrent
  // incremental calls evict a sibling's still-unevaluated first entry:
  // the window exchange rebuilds and the oversize-guard accumulator
  // double-counts (ADVICE r19 — perf/observability, results unchanged).
  // Each entry is one (id, k-long sig) frame at bench SF — ~a few MB —
  // so 32 retained lineages stay a bounded footprint.
  private val portableSigsCacheDepth =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_PARALLEL", "16").toInt.max(4) * 2
  private val recentSigCaches = scala.collection.mutable.Queue.empty[DataFrame]

  /** Persist a batch-/oracle-scale frame with bounded FIFO retention
    * (see the depth rationale above): the returned plan is lazy so the
    * call can't know when unpersisting is safe, and the frame is
    * evaluated by several downstream subtrees (banding, bucket bounds,
    * scoring). Entries range from (id, k-long sig) projections (a few
    * MB at oracle scale) to the incremental probes' BATCH-side
    * projections — including float-vector frames from
    * [[Similarity.incrementalCosinePairs]] — which are small by the
    * operator's own contract (the batch side must be broadcastable);
    * a jumbo increment should pre-cache its own projection and pass
    * `broadcastBatch = false`.
    */
  private[ops] def cacheSigs(sigs: DataFrame): DataFrame = {
    val cached = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.synchronized {
      recentSigCaches.enqueue(cached)
      while (recentSigCaches.size > portableSigsCacheDepth)
        recentSigCaches.dequeue().unpersist(blocking = false)
    }
    cached
  }

  /** Exact dedup: keep one row (min of `idCol`) per distinct value of
    * `onCol`'s content hash. groupBy is shuffle-partial-aggregated
    * map-side, so only one row per distinct hash per partition shuffles.
    */
  def exactDedup(df: DataFrame, onCol: String, idCol: String): DataFrame = {
    df.groupBy(sha2(col(onCol).cast("string"), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
  }

  /** Word n-gram shingles of a text column (array of strings), via the
    * fused [[graft.functions.SpanGrams]] codegen expression — the HOF
    * formulation (`transform` + `slice` + `concat_ws` per gram) runs
    * interpreted and paid a lambda dispatch plus a slice allocation per
    * gram (TextExpressionsSpec pins the two equal).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextFunctions.spanGrams(TextOps.tokens(text), n)

  /** Exact duplicate-span detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": repeated >=n-token
    * substrings across the corpus — the suffix-array pass re-expressed
    * as a span-gram aggregation): every n-token window of every doc,
    * grouped corpus-wide; spans seen in >= `minDocs` distinct docs come
    * back with their document frequency, total occurrence count (within-
    * row repeats counted), and the smallest containing doc id.
    *
    * Scale shape: ONE exchange — the exploded span rows hash-partition
    * on `span` once, and BOTH aggregation levels reuse that
    * partitioning: a (span, doc) pre-aggregate collapses within-doc
    * repeats, then the span-level aggregate derives n_docs = count,
    * n_occurrences = sum(cnt), first_id = min(doc) with no further
    * exchange (HashPartitioning(span) satisfies the clustering of both
    * groupBys). This replaces countDistinct's Expand + two shuffle
    * phases — the round-16 profile's 3x-vs-oracle cost. A
    * hyper-duplicated span concentrates on one reducer, but its per-row
    * work is a hash-probe increment — bounded the same way the q85
    * gram aggregation is. `hashSpans=true` (default) keys on the
    * structural 64-bit token-hash-slice hash so span STRINGS never
    * enter the shuffle (the q85 argument); `hashSpans=false` keys on
    * the literal span text — the DuckDB-oracle path, and what a
    * removal pass joins back on.
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 10,
      minDocs: Int = 2,
      hashSpans: Boolean = true,
      repartitionTo: Option[Int] = None
  ): DataFrame = {
    val base = repartitionTo.map(df.repartition(_)).getOrElse(df)
    val spans =
      if (hashSpans) explodeGramHashes(base, idCol, textCol, n, perRowDistinct = false)
        .withColumnRenamed("_g", "span")
      else explodeShingles(base, idCol, textCol, n, outCol = "span")
    spanAgg(spans.repartition(col("span")), idCol, minDocs)
  }

  /** The shared exchange-free aggregation tail of [[duplicateSpans]] /
    * [[dupSpanStats]]: REQUIRES the input already hash-partitioned on
    * `span` (both groupBys then plan without an exchange).
    */
  private def spanAgg(spansBySpan: DataFrame, idCol: String, minDocs: Int): DataFrame =
    spansBySpan
      .groupBy(col("span"), col(idCol))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col("span"))
      .agg(
        // count(idCol), NOT count(*): a NULL doc id forms its own
        // pre-aggregate group, and counting that row would diverge from
        // countDistinct's (and the oracle's) NULL-ignoring semantics
        count(col(idCol)).as("n_docs"),
        sum(col("_cnt")).as("n_occurrences"),
        min(col(idCol)).as("first_id"))
      .where(col("n_docs") >= minDocs)

  /** [[shingles]] exploded to (id, outCol) rows. The fused SpanGrams
    * expression references its token-array child exactly once, so the
    * whole tokenize→gram pipeline inlines into the Generate's single
    * codegen'd projection — the pre-r18 HOF tree needed a staging
    * projection because it referenced the token array 3x and
    * interpreted HOFs re-run the regex tokenizer per reference.
    */
  def explodeShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
      outCol: String = "_gram", perRowDistinct: Boolean = false): DataFrame = {
    val sh = shingles(col(textCol), n)
    df.select(col(idCol), explode(if (perRowDistinct) array_distinct(sh) else sh).as(outCol))
  }

  /** Per-document duplicate-span exposure — the second half of the Lee
    * et al. pipeline: for every doc, how many of its n-token windows are
    * corpus-wide duplicates ([[duplicateSpans]] hits), as a count and a
    * fraction. Shape: spans explode once into ONE span-keyed exchange,
    * a (span, doc) pre-aggregate reuses its partitioning, and the
    * duplicate flag is `count(doc) OVER (PARTITION BY span)` — a window
    * on the already-clustered pre-aggregate — so the span data is read
    * from shuffle storage exactly ONCE, there is no join, and the only
    * other exchange is the final per-doc aggregation. Nothing funnels
    * to the driver.
    *
    * History (both prior shapes fell to scale probes): the r17–r18
    * shape localCheckpointed the exploded spans (one tokenize pass,
    * flag-set + join-back read the checkpoint) — that pins ~8x the
    * corpus bytes into the BlockManager, which the r19 third-decade
    * probe killed at 5M docs (~40 GB of span rows vs a 19 GB storage
    * pool: eviction churn starved every HashAggregate allocation —
    * AGGREGATE_OUT_OF_MEMORY even at 1 GB/core). The first r19 fix
    * shared the span exchange between the flag aggregation and an SMJ
    * join-back — correct and OOM-free, but it reads the ~8x-corpus
    * shuffle twice and sorts for the join anyway; the window
    * formulation gets the same flag from the sort alone. DuckDB-oracle
    * parity: the window `count(idCol)` is NULL-doc-ignoring exactly
    * like spanAgg's `count(idCol)`, n_spans = sum of within-doc
    * occurrence counts = the old per-row count(1), and n_dup_spans
    * sums those counts only where the span's doc frequency clears
    * `minDocs` — value-identical (q90 hash-green both SFs).
    *
    * Skew note: EVERY span-keyed formulation concentrates a
    * hyper-duplicated span's (span, doc) rows on one reducer — that is
    * the exchange, not the shape. The window buffers that one group in
    * WindowExec's spillable row array (disk-backed past the in-memory
    * threshold) where the join-back shape streamed it through SMJ's
    * sort; both sort the same rows first, and memory stays bounded
    * either way — the difference is a second on-disk pass for the hot
    * group. A corpus where one boilerplate span (license header, nav
    * bar) appears in 10^8 docs straggles that reducer under ANY shape
    * here; the mitigation is upstream (drop ultra-frequent spans the
    * way the LSH path's maxBucket guard drops mega-buckets), not a
    * different join strategy.
    */
  def dupSpanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 10,
      minDocs: Int = 2,
      hashSpans: Boolean = true,
      repartitionTo: Option[Int] = None
  ): DataFrame = {
    val base = repartitionTo.map(df.repartition(_)).getOrElse(df)
    val spans = (
      if (hashSpans) explodeGramHashes(base, idCol, textCol, n, perRowDistinct = false)
        .withColumnRenamed("_g", "span")
      else explodeShingles(base, idCol, textCol, n, outCol = "span")
    ).repartition(col("span")) // the ONE span-keyed exchange
    val bySpanDoc = spans
      .groupBy(col("span"), col(idCol))
      .agg(count(lit(1)).as("_cnt")) // reuses the exchange's partitioning
    // doc frequency per span via window — the exchange already clusters
    // by span, so this costs one within-partition sort, no join and no
    // second shuffle read; count(idCol) ignores NULL-doc groups exactly
    // like spanAgg's
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("span"))
    bySpanDoc
      .withColumn("_ndocs", count(col(idCol)).over(w))
      .groupBy(col(idCol))
      .agg(
        sum(col("_cnt")).as("n_spans"),
        sum(when(col("_ndocs") >= minDocs, col("_cnt")).otherwise(lit(0L))).as("n_dup_spans"))
      .select(
        col(idCol),
        col("n_spans"),
        col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6).as("dup_fraction"))
  }

  /** Drop documents whose duplicate-span fraction exceeds the threshold
    * (the doc-level removal policy over [[dupSpanStats]]). */
  def dropSpanDuplicatedDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDupFraction: Double,
      n: Int = 10,
      minDocs: Int = 2,
      repartitionTo: Option[Int] = None
  ): DataFrame = {
    val stats = dupSpanStats(df, idCol, textCol, n, minDocs, hashSpans = true, repartitionTo)
      .where(col("dup_fraction") > maxDupFraction)
      .select(col(idCol))
    df.join(stats, Seq(idCol), "left_anti")
  }

  /** [[gramHashes]] exploded to (id, "_g") rows THROUGH a projection
    * boundary: the gram expression references the token-hash array 4x
    * (size guard, short-text branch, sequence bound, slice source) and
    * interpreted HOF trees re-evaluate each occurrence — inlined, the
    * regex tokenizer ran 4x per row (round-16 profile, ~35% of the map
    * side). An alias boundary makes it once; CollapseProject leaves
    * multi-referenced non-cheap aliases alone. `perRowDistinct` for
    * consumers whose counts need within-row dedup.
    */
  def explodeGramHashes(df: DataFrame, idCol: String, textCol: String, n: Int,
      perRowDistinct: Boolean = true): DataFrame = {
    val gs = gramHashes(col(textCol), n)
    df.select(
      col(idCol),
      explode(if (perRowDistinct) array_distinct(gs) else gs).as("_g")
    )
  }

  /** 64-bit n-gram hashes WITHOUT materializing gram strings: each token
    * hashes once, each gram is the xxhash64 element-chain of its n-token
    * hash window — so the per-gram work is n compiled hash rounds
    * instead of an n-token string concat + a ~30-char string hash
    * (the round-16 q85 profile put gram-string building at most of the
    * query). Since round 18 this is the fused
    * [[graft.functions.GramHashes]] codegen expression — bit-for-bit
    * the values of the previous interpreted HOF tree (pinned by
    * DedupSpec), with zero per-gram allocations. Distinctness matches
    * [[shingles]] modulo 64-bit collisions — the same ~G²/2⁶⁴ argument
    * the hashed join keys already carry. Texts shorter than n tokens contribute one
    * whole-sequence gram, same convention as [[shingles]].
    */
  def gramHashes(text: Column, n: Int): Column =
    graft.functions.TextFunctions.gramHashes(TextOps.tokens(text), n)

  // 2^31-1: products a*h stay below 2^62, safe under ANSI Long arithmetic.
  private val MersennePrime = graft.functions.MinHashSig.MersennePrime

  /** Deterministic affine-hash coefficients for the k MinHash functions —
    * delegated to [[graft.functions.MinHashSig.affineCoeffs]] so the
    * fused expression, the staged parity reference, the portable path,
    * and the DuckDB-embedded literals all share ONE derivation.
    */
  private def coeffs(k: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val (a, b) = graft.functions.MinHashSig.affineCoeffs(k, seed)
    (a.toSeq, b.toSeq)
  }

  /** MinHash signature (array of k longs) of a shingle array, computed
    * entirely within the row: sig_i = min over shingles of
    * (a_i * xxhash64(s) + b_i) mod 2^31-1. No shuffle.
    *
    * NOTE: higher-order functions run interpreted (no whole-stage
    * codegen) and nested lambdas re-evaluate their argument subtrees —
    * passing a deep shingle expression here multiplies the tokenization
    * cost by k. Prefer [[withMinhashSignature]], which stages the
    * pipeline through intermediate columns so each stage is evaluated
    * once per row.
    */
  def minhashSignature(shingleArr: Column, k: Int = 64, seed: Long = 42L): Column = {
    val (a, b) = coeffs(k, seed)
    val aLit = array(a.map(lit): _*)
    val bLit = array(b.map(lit): _*)
    val hashes = transform(shingleArr, s => pmod(xxhash64(s), lit(MersennePrime)))
    transform(
      sequence(lit(0), lit(k - 1)),
      i =>
        array_min(
          transform(
            hashes,
            h => pmod(element_at(aLit, i + 1) * h + element_at(bLit, i + 1), lit(MersennePrime))
          )
        )
    )
  }

  /** Fused MinHash: tokens natively, then the whole signature — one
    * xxhash64 per token, shingle affine fold, k-way min — in ONE
    * whole-stage-codegen expression ([[graft.functions.MinHashSig]],
    * round 19). The round-18 staged shape (flat interpreted
    * `transform(toks, xxhash64)` + JIT'd Scala UDF) still paid an
    * interpreted ArrayTransform dispatch per TOKEN plus the UDF's
    * Seq[Long] boxing bridge per row; both are gone (bit parity pinned
    * in MinHashSigSpec against the staged oracle in test sources). `repartitionTo` spreads a
    * single-file scan across cores before the compute-heavy stage (a
    * 100 TB input already has thousands of partitions; a local
    * single-parquet-file scan has one).
    */
  def withMinhashSignature(
      df: DataFrame,
      textCol: String,
      outCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      seed: Long = 42L,
      repartitionTo: Option[Int] = None
  ): DataFrame = {
    val base = repartitionTo.map(df.repartition(_)).getOrElse(df)
    base.withColumn(outCol,
      graft.functions.TextFunctions.minhashSig(TextOps.tokens(col(textCol)), shingleN, k, seed))
  }

  /** Candidate generation shared by the xxhash64 and portable LSH
    * paths: ONE exchange on (band, bucket) — groupBy + sorted
    * collect_list + MAP-SIDE in-bucket pair expansion (the q50 mold,
    * round 18) — replacing the previous bucket-size aggregation +
    * bound join + self-join, which walked the banded frame through
    * three aggregation/join subtrees. Singleton buckets die in the
    * size filter; the skew guard drops buckets larger than `maxBucket`
    * BEFORE expansion (one degenerate bucket would be quadratic; the
    * q78 oracle SQL replicates the bound as `c <= 1000`). Sizes count
    * COLLECTED ids (non-null — the actual expansion work; a null id
    * could never pair under `id1 < id2` anyway). Ids sort within the
    * bucket so id1 < id2 by construction; `distinct` collapses
    * multi-band collisions.
    */
  private def bucketCandidatePairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    // The skew guard's recall cliff must be VISIBLE at execution time
    // (ADVICE r18): the guard predicate counts dropped oversized buckets
    // into an accumulator and a job-end listener warns on stderr — no
    // extra jobs, evaluates once per BUCKET, and (unlike an observed
    // metric) survives AQE empty-relation propagation when EVERY bucket
    // drops, the exact case the warning exists for.
    val keep = ObservedWarnings.boundedBucketFilter(banded.sparkSession, maxBucket,
      s"LSH skew guard dropped buckets larger than maxBucket=$maxBucket — " +
        "an identical-doc clique above the bound emits NO candidate pairs from this operator; " +
        "pre-dedup exact duplicates or raise maxBucket")
    val buckets = banded
      .groupBy("_band", "_bucket")
      .agg(sort_array(collect_list("_id")).as("_ids"))
      .where(keep(size(col("_ids"))))
    buckets
      .select(explode(flatten(transform(col("_ids"), (x, i) =>
        transform(slice(col("_ids"), i + lit(2), size(col("_ids"))), y =>
          struct(x.as("id1"), y.as("id2")))))).as("_p"))
      .select(col("_p.id1").as("id1"), col("_p.id2").as("id2"))
      // duplicate INPUT ids sit adjacent in the sorted bucket list and
      // would expand to a (a, a) self-pair the pre-r18 self-join's
      // strict id1 < id2 predicate excluded — restore that contract
      .filter(col("id1") =!= col("id2"))
      .distinct()
  }

  /** Signature re-attach + agreement scoring shared by both LSH paths:
    * both joins read the IDENTICAL keyed subtree so its exchange
    * (id-hash at scale, broadcast at oracle scale) builds once and the
    * second join is a ReusedExchange — the q50 re-attach mold.
    */
  private def scorePairs(pairs: DataFrame, sigs: DataFrame): DataFrame = {
    val keyed = sigs.select(col("_id").as("_jid"), col("_sig").as("_jsig"))
    pairs
      .join(keyed, col("id1") === col("_jid"))
      .withColumnRenamed("_jsig", "sig1").drop("_jid")
      .join(keyed, col("id2") === col("_jid"))
      .select(
        col("id1"),
        col("id2"),
        (size(filter(zip_with(col("sig1"), col("_jsig"), (x, y) => (x === y).cast("int")), v => v === 1))
          .cast("double") / size(col("sig1"))).as("est_jaccard")
      )
  }

  /** Candidate near-duplicate pairs via LSH banding: split the k-length
    * signature into `bands` bands, hash each band, group ids per
    * (band, bandHash) bucket and expand in-bucket pairs map-side
    * ([[bucketCandidatePairs]] — one exchange, never a cross or self
    * join). Returns distinct (id1, id2) with id1 < id2 plus the
    * estimated Jaccard from full-signature agreement. Bucket skew
    * (e.g. empty docs hashing identically) is bounded by dropping
    * buckets larger than `maxBucket`.
    */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      maxBucket: Int = 1000
  ): DataFrame = {
    // Signatures are reused by the banding explode AND the final scoring
    // joins — cache once (the same call MLlib's MinHashLSH makes; k longs
    // per row, tiny next to the corpus). Null signatures (null text) are
    // dropped HERE: xxhash64 skips null arguments, so a null _sig would
    // otherwise produce bands of identical degenerate buckets — every
    // null-text doc colliding into one bucket per band, quadratic
    // spurious pairs that only die at a downstream threshold filter.
    // bounded FIFO, not a bare persist: the incremental streaming
    // wrapper calls this once per MICRO-BATCH (via dedupNearDups), and
    // an unenrolled persist leaks one CacheManager entry per batch for
    // the lifetime of a continuous-ingestion stream (review r19)
    val base = cacheSigs(df.select(col(idCol).as("_id"), col(sigCol).as("_sig"))
      .where(col("_sig").isNotNull))
    val bandW = floor(size(col("_sig")) / bands).cast("int")

    // Band rows carry ONLY (id, band, bucket): the bucket exchange must
    // not shuffle the signature arrays bands× over — at scale the shuffle
    // width is the whole game. Signatures re-attach after pair dedup.
    val banded = base
      .select(
        col("_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b => xxhash64(slice(col("_sig"), b * bandW + 1, bandW), b)
          )
        )
      )
      .withColumnRenamed("pos", "_band")
      .withColumnRenamed("col", "_bucket")

    scorePairs(bucketCandidatePairs(banded, maxBucket), base)
  }

  /** DuckDB-replicable 31-bit string hash: the little-endian uint64 of the
    * first 8 md5 bytes (exactly DuckDB's `md5_number_upper`), reduced mod
    * 2^31-1. Built from codegen'd built-ins (md5/substring/conv); the
    * uint64 doesn't fit a signed long, so the mod runs in DECIMAL(20,0).
    * Exists so the MinHash-LSH pipeline has a hash-exact cross-engine
    * oracle ([[minhashNearDupPairsPortable]]); the scale path keeps
    * xxhash64 ([[withMinhashSignature]]), which is one shuffle-free
    * codegen'd call instead of this 18-function tree.
    */
  def md5Hash31(c: Column): Column = {
    val hex = md5(c)
    // byte-reverse the first 8 bytes: hex pairs 7..0
    val le = concat((7 to 0 by -1).map(i => substring(hex, 1 + 2 * i, 2)): _*)
    pmod(conv(le, 16, 10).cast(org.apache.spark.sql.types.DecimalType(20, 0)),
      lit(MersennePrime)).cast("long")
  }

  /** The affine-hash coefficients of the portable MinHash, exposed so the
    * DuckDB oracle SQL can embed the same literals. */
  def portableCoeffs(k: Int, seed: Long): (Seq[Long], Seq[Long]) = coeffs(k, seed)

  /** MinHash-LSH near-dup pairs with every stage replicable in ANSI-ish
    * SQL (DuckDB): md5-based shingle hashes ([[md5Hash31]]), affine
    * signature mins, and band buckets that are the *literal* joined
    * signature slice (a string) instead of an engine hash of it. This is
    * the hash-exact oracle twin of [[minhashNearDupPairs]]: same
    * candidate semantics, zero engine-specific hashing, so the full
    * pipeline — shingling, signatures, banding, candidate join, estimated
    * Jaccard — is verified value-for-value against DuckDB rather than
    * rows-only. Costs more per row than the scale path (md5 per shingle
    * string vs one xxhash64 per token) and shuffles string bucket keys;
    * use [[minhashNearDupPairs]] for the 100 TB path.
    */
  /** Append the PORTABLE per-row MinHash signature (md5-based, DuckDB-
    * replicable value-for-value) as `outCol`. One fused JIT-compiled
    * loop per row: shingle strings → md5 → little-endian uint64 of the
    * first 8 digest bytes mod p (EXACTLY the values of [[md5Hash31]] /
    * DuckDB's `md5_number_upper % p` — the cross-engine parity is in
    * the VALUES, not the expression tree) → k affine mins. The same
    * computation as interpreted Column HOFs ran 5-10x slower
    * (per-shingle 18-node expression tree + DECIMAL mod). No shuffle.
    */
  def withPortableMinhashSignature(
      df: DataFrame,
      textCol: String,
      outCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      seed: Long = 42L
  ): DataFrame = {
    val (a, b) = coeffs(k, seed)
    val aArr = a.toArray
    val bArr = b.toArray
    val p = MersennePrime
    val kk = k
    val nSh = shingleN
    val sigUdf = udf { (toks: Seq[String]) =>
      // null text: no signature — the banding entry points filter these
      if (toks == null) null
      else {
      val md = graft.core.Token.md5() // thread-local: getInstance per row is a measurable provider lookup
      val arr = toks.toArray
      val out = Array.fill(kk)(Long.MaxValue)
      // r21: stream token bytes straight into the digest instead of
      // building a shingle STRING per window (slice + mkString + a full
      // re-encode of every token nSh times over). Each token encodes to
      // UTF-8 once; windows are digested as tokenBytes ⊕ ' ' ⊕ tokenBytes
      // — byte-identical to md5(slice.mkString(" ").getBytes) because
      // UTF-8 encodes the space-joined pieces independently (tokens come
      // from whitespace splits, and the ' ' separator means no surrogate
      // pair can span a boundary). digest(buf,0,16) reuses one output
      // buffer; values are oracle-pinned (q78/q84/q95 hash-green).
      val tb = new Array[Array[Byte]](arr.length)
      var ti = 0
      while (ti < arr.length) {
        tb(ti) = arr(ti).getBytes(java.nio.charset.StandardCharsets.UTF_8); ti += 1
      }
      val space = ' '.toByte
      val d = new Array[Byte](16)
      val nShingles = math.max(1, arr.length - nSh + 1)
      val w = math.min(nSh, arr.length)
      var s0 = 0
      while (s0 < nShingles) {
        md.reset()
        var t = 0
        while (t < w) {
          if (t > 0) md.update(space)
          md.update(tb(s0 + t))
          t += 1
        }
        md.digest(d, 0, 16)
        var le = 0L
        var i = 7
        while (i >= 0) { le = (le << 8) | (d(i) & 0xffL); i -= 1 }
        val h = java.lang.Long.remainderUnsigned(le, p)
        var j = 0
        while (j < kk) { val v = (aArr(j) * h + bArr(j)) % p; if (v < out(j)) out(j) = v; j += 1 }
        s0 += 1
      }
      out
      }
    }
    df.withColumn(outCol, sigUdf(TextOps.tokens(col(textCol))))
  }

  def minhashNearDupPairsPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      seed: Long = 42L,
      repartitionTo: Option[Int] = None,
      maxBucket: Int = 1000
  ): DataFrame = {
    val bandW = k / bands
    val sigs = cacheSigs(withPortableMinhashSignature(
      repartitionTo.map(df.repartition(_)).getOrElse(df), textCol, "_sig", shingleN, k, seed)
      .select(col(idCol).as("_id"), col("_sig"))
      // null text → null signature: drop before banding, or concat_ws of
      // a null slice ("") would bucket every null-text doc together
      .where(col("_sig").isNotNull))
    val banded = sigs.select(
      col("_id"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          bnd => concat_ws(",", slice(col("_sig"), bnd * bandW + 1, lit(bandW)))
        )
      )
    )
      .withColumnRenamed("pos", "_band")
      .withColumnRenamed("col", "_bucket")
    // Same candidate mold as lshCandidatePairs (bucketCandidatePairs:
    // one exchange, skew-guarded, never a self-join), so the "same
    // candidate semantics" premise vs the scale path holds exactly
    // where skew appears. The q78 oracle SQL replicates the bound.
    scorePairs(bucketCandidatePairs(banded, maxBucket), sigs)
      .filter(col("est_jaccard") >= threshold)
  }

  /** End-to-end MinHash-LSH near-dup pairs on a text column. */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      repartitionTo: Option[Int] = None
  ): DataFrame = {
    val sigs = withMinhashSignature(df.select(col(idCol), col(textCol)), textCol, "_sig", shingleN, k,
      repartitionTo = repartitionTo)
      .select(col(idCol), col("_sig"))
    lshCandidatePairs(sigs, idCol, "_sig", bands).filter(col("est_jaccard") >= threshold)
  }

  // ------------------------------------------------------------------ //
  // Incremental dedup: a new batch against a persisted history index.  //
  // ------------------------------------------------------------------ //

  /** Map-side LSH banding that KEEPS the signature on each band row:
    * (_id, _sig, _band, _bucket), no exchange. [[lshCandidatePairs]]
    * deliberately drops `_sig` before banding because its band rows go
    * through the bucket exchange (shuffling k longs bands× over is the
    * scale killer there); the incremental probe's history band rows
    * never shuffle — they stream through a broadcast semi-join — so
    * carrying the signature here is what makes the probe a SINGLE pass
    * over the history signature table (no re-attach joins).
    */
  private def bandedWithSig(sigs: DataFrame, bands: Int): DataFrame = {
    val bandW = floor(size(col("_sig")) / bands).cast("int")
    sigs.select(
      col("_id"), col("_sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("_sig"), b * bandW + 1, bandW), b))))
      .withColumnRenamed("pos", "_band")
      .withColumnRenamed("col", "_bucket")
  }

  /** Portable (DuckDB-replicable) variant of [[bandedWithSig]]: the
    * bucket is the literal comma-joined band slice, not an engine hash
    * — exactly [[minhashNearDupPairsPortable]]'s banding. */
  private def bandedWithSigPortable(sigs: DataFrame, bands: Int, bandW: Int): DataFrame =
    sigs.select(
      col("_id"), col("_sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bnd => concat_ws(",", slice(col("_sig"), bnd * bandW + 1, lit(bandW))))))
      .withColumnRenamed("pos", "_band")
      .withColumnRenamed("col", "_bucket")

  /** Probe core shared by the xxhash64 and portable incremental paths.
    * Both inputs are banded signature frames ([[bandedWithSig]] shape).
    * Exchange census at 100 TB: ONE tiny bucket-count exchange (one
    * partial-aggregated row per distinct batch bucket — the r20 shape
    * window-exchanged every batch band row, signatures aboard, just to
    * count neighbors; r21 removed it), ONE signal-proportional window
    * exchange (history bucket sizes over COLLIDED rows only — kept as
    * a window deliberately: the collided subset pre-bound can be large
    * under skew and the sort/window streams it from shuffle storage
    * with spill, where a cache would not bound memory as gracefully),
    * ONE signal-proportional dropDuplicates, plus broadcasts of
    * batch-derived frames. The history lineage is narrow end-to-end:
    * scan → banding explode → broadcast semi-join. A corpus-wide
    * history bucket count never happens.
    */
  private def incrementalProbe(
      bBand: DataFrame,
      hBand: DataFrame,
      maxBucket: Int,
      threshold: Double,
      broadcastBatch: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = bBand.sparkSession
    def bc(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df

    // Batch-side skew bound, EXCHANGE-FREE (r21): bucket sizes come from
    // a partial-aggregated groupBy over the cached band rows — the
    // shuffle carries one tiny (band, bucket, count) row per distinct
    // bucket, where the r20 window formulation exchanged EVERY batch
    // band row with its k-long signature aboard just to count
    // neighbors. The guard then filters the SIZES frame (one evaluation
    // per bucket — the accumulator counts dropped buckets), and the
    // kept bucket keys semi-join back onto the cached rows map-side.
    // Singletons survive — unlike the self-join guard, a one-member
    // batch bucket still pairs with history.
    val bKeep = ObservedWarnings.oversizeBucketFilter(spark, maxBucket,
      s"incremental LSH: batch buckets larger than maxBucket=$maxBucket dropped " +
        "whole — pre-dedup exact duplicates in the batch or raise maxBucket")
    // cached (bounded FIFO): the banded batch rows feed THREE subtrees
    // (the bucket-size aggregate, the candidate-row join, and — through
    // the semi-join — both); uncached, the signature pipeline would
    // re-evaluate per subtree (review r19's double-count concern now
    // sits on the sizes frame, which evaluates once per bucket inside
    // the broadcast)
    val bBandC = cacheSigs(bBand)
    val bKept = bBandC.groupBy("_band", "_bucket").agg(count(lit(1)).as("_c"))
      .where(bKeep(col("_c")))
      .select("_band", "_bucket")
    val bBounded = bBandC.join(bc(bKept), Seq("_band", "_bucket"), "leftsemi")

    // History side: the batch's kept bucket keys broadcast into a
    // semi-join — only COLLIDED history rows (signal-sized) survive.
    // (bKept is already distinct by construction — one row per bucket.)
    val collided = hBand.join(bc(bKept), Seq("_band", "_bucket"), "leftsemi")

    // History-side skew bound, computed on the collided subset only.
    val hKeep = ObservedWarnings.oversizeBucketFilter(spark, maxBucket,
      s"incremental LSH: history band rows in buckets larger than maxBucket=$maxBucket dropped " +
        "whole — an identical-doc clique above the bound matches NO batch doc; raise maxBucket " +
        "or pre-collapse exact-dup cliques in the index")
    val hBounded = collided
      .withColumn("_c", count(lit(1)).over(Window.partitionBy("_band", "_bucket")))
      .where(hKeep(col("_c")))
      .drop("_c")

    // Candidate pairs: collided history rows × broadcast batch rows on
    // (band, bucket). Signatures ride along — no re-attach joins, no
    // second history pass. Score (full-signature agreement) and
    // threshold-filter BEFORE deduping multi-band collisions — the
    // lshCosinePairs lesson: scoring a duplicate candidate costs k
    // compares, deduping the un-filtered candidate set costs an
    // exchange of the LARGEST frame in the plan.
    hBounded
      .join(bc(bBounded.select(col("_band"), col("_bucket"),
        col("_id").as("new_id"), col("_sig").as("_bsig"))), Seq("_band", "_bucket"))
      .select(col("new_id"), col("_id").as("hist_id"),
        (size(filter(zip_with(col("_bsig"), col("_sig"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / size(col("_bsig"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("new_id", "hist_id")
  }

  /** Near-duplicate pairs between a new BATCH and a persisted HISTORY
    * signature corpus — the daily-increment shape of
    * [[minhashNearDupPairs]]: dedupe today's crawl against the 100 TB
    * corpus WITHOUT recomputing or reshuffling the corpus. Both inputs
    * are signature frames produced by the SAME recipe
    * ([[withMinhashSignature]] with identical shingleN/k/seed — the
    * signature parameters are part of the index format; mixing recipes
    * silently matches nothing). The history side is typically the
    * persisted `(id, sig)` parquet of all previously-kept documents
    * (k longs per row — ~1-2% of corpus bytes).
    *
    * Scale shape (why this isn't just union + [[minhashNearDupPairs]]):
    * the history side is NEVER exchanged — banding is a map-side
    * explode, the batch's (band, bucket) keys broadcast into a
    * semi-join that keeps only collided history rows, the history-side
    * skew bound counts members on that collided subset only, and
    * signatures ride the collided rows so scoring needs no re-attach
    * join. Every exchange carries batch- or signal-proportional rows.
    * Set `broadcastBatch = false` when the "batch" is itself too large
    * to broadcast (falls back to ordinary joins; AQE still chooses
    * broadcast when stats allow).
    *
    * Skew: buckets with more than `maxBucket` members on EITHER side
    * are dropped whole (the [[lshCandidatePairs]] recall-cliff
    * contract; dropped band rows are counted and warned at job end).
    * Ids need not be disjoint across the two frames: a shared id pairs
    * with itself only if its two signatures actually collide, and the
    * (x, x) row is then a true "batch doc x matches history doc x".
    *
    * Returns (new_id, hist_id, est_jaccard) with est_jaccard >=
    * threshold, where new_id is from the batch and hist_id from
    * history.
    */
  def incrementalNearDupPairs(
      batchSigs: DataFrame,
      batchIdCol: String,
      batchSigCol: String,
      historySigs: DataFrame,
      histIdCol: String,
      histSigCol: String,
      bands: Int,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    // null signature (null text) drops here — same degenerate-bucket
    // argument as lshCandidatePairs. No cache at this level: every
    // downstream consumer (bucket-key broadcast, band-row broadcast,
    // scoring) reads the CACHED bBounded inside the probe core, so a
    // pre-banding cache would only double the FIFO slots per call
    // (review r19 — the depth rationale assumes one entry per
    // invocation).
    val b = batchSigs.select(col(batchIdCol).as("_id"), col(batchSigCol).as("_sig"))
      .where(col("_sig").isNotNull)
    val h = historySigs.select(col(histIdCol).as("_id"), col(histSigCol).as("_sig"))
      .where(col("_sig").isNotNull)
    incrementalProbe(bandedWithSig(b, bands), bandedWithSig(h, bands),
      maxBucket, threshold, broadcastBatch)
  }

  /** Hash-exact portable twin of [[incrementalNearDupPairs]] (the q78
    * relationship): md5-based signatures, literal band-slice buckets —
    * every stage DuckDB-replicable value-for-value, so the incremental
    * probe's semantics (per-side bucket bounds, collided-subset
    * counting, cross-corpus candidate join, agreement scoring) are
    * verified against an independent engine rather than rows-only.
    * Computes signatures from text on both sides; the scale path takes
    * precomputed signature frames instead.
    */
  def incrementalNearDupPairsPortable(
      batch: DataFrame,
      history: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucket: Int = 1000,
      repartitionTo: Option[Int] = None
  ): DataFrame = {
    val bandW = k / bands
    def sigsOf(df: DataFrame): DataFrame =
      withPortableMinhashSignature(
        repartitionTo.map(df.repartition(_)).getOrElse(df), textCol, "_sig", shingleN, k, seed)
        .select(col(idCol).as("_id"), col("_sig"))
        .where(col("_sig").isNotNull)
    // no pre-banding cache — the probe core caches bBounded, which all
    // batch-side consumers read (review r19)
    val b = sigsOf(batch)
    val h = sigsOf(history)
    incrementalProbe(bandedWithSigPortable(b, bands, bandW), bandedWithSigPortable(h, bands, bandW),
      maxBucket, threshold, broadcastBatch = true)
  }

  /** End-to-end incremental dedup: compute the batch's signatures with
    * the SAME recipe as the history index, drop batch docs matching
    * history at >= threshold, then (by default) near-dup-dedup the
    * survivors within the batch itself ([[dedupNearDups]] — a new
    * boilerplate cluster arriving entirely inside one increment has no
    * history edge). Returns surviving batch rows with their original
    * columns; union the survivors' signatures into the history index
    * afterwards to advance it.
    */
  def incrementalDedup(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      historySigs: DataFrame,
      histIdCol: String,
      histSigCol: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      withinBatch: Boolean = true,
      broadcastBatch: Boolean = true,
      seed: Long = 42L
  ): DataFrame = {
    // seed is part of the index format (scaladoc above): the batch's
    // probe signatures MUST use the seed the history index was built
    // with or buckets never collide and every dup silently survives.
    // The within-batch pass below is self-consistent at the repo-wide
    // default seed regardless.
    val sigs = withMinhashSignature(batch.select(col(idCol), col(textCol)), textCol, "_sig",
      shingleN, k, seed)
    val matched = incrementalNearDupPairs(sigs, idCol, "_sig",
      historySigs, histIdCol, histSigCol, bands, threshold, maxBucket, broadcastBatch)
      .select(col("new_id").as(idCol)).distinct()
    val kept = batch.join(if (broadcastBatch) broadcast(matched) else matched, Seq(idCol), "left_anti")
    // the within-batch pass reuses the caller's threshold/shingleN; its
    // signature k/bands are minhashNearDupPairs' standard recipe
    if (withinBatch) dedupNearDups(kept, idCol, textCol, threshold, shingleN) else kept
  }

  /** The signature recipe of a persisted index — shingleN/k/seed ARE
    * the index format: a probe computed under any other recipe buckets
    * differently and silently matches nothing. [[writeSignatureIndex]]
    * records it in a sidecar; the read/append/probe entry points
    * validate against it so a mismatch is a loud error, not silent
    * zero recall. */
  final case class SignatureIndexRecipe(idCol: String, shingleN: Int, k: Int, seed: Long) {
    /** Jackson, not string concatenation: a quoted/comma-bearing id
      * column must round-trip, and Jackson ships with Spark. */
    def sidecarJson: String = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.createObjectNode()
      node.put("format", "graft-signature-index")
      node.put("version", 1)
      node.put("idCol", idCol)
      node.put("shingleN", shingleN)
      node.put("k", k)
      node.put("seed", seed)
      m.writeValueAsString(node)
    }
  }

  private val recipeSidecarName = "_graft_index_recipe.json"

  /** Build and persist the canonical `(id, sig)` signature index of a
    * corpus, with a recipe sidecar that the probe entry points
    * validate — the self-describing form of the index contract. One
    * narrow pass over the corpus (fused signature expression, no
    * shuffle beyond the write). `mode = "append"` validates against an
    * existing sidecar first (a mismatched append would mix recipes in
    * one index — rows that can never match each other) and never
    * rewrites it. NOT atomic with the data write: a crash after an
    * overwrite's parquet commit but before the sidecar lands leaves a
    * bare index whose validation is silently off (None-recipe, same as
    * a legacy index) — re-run writeSignatureIndex to repair.
    */
  def writeSignatureIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      k: Int = 64,
      seed: Long = 42L,
      mode: String = "overwrite"
  ): SignatureIndexRecipe = {
    val conf = corpus.sparkSession.sessionState.newHadoopConf()
    val recipe = SignatureIndexRecipe(idCol, shingleN, k, seed)
    // mode=ignore would SKIP the data write when the path exists and
    // then stamp the caller's recipe over data built with another —
    // a false-green sidecar, the worst possible state (review r20)
    require(Set("append", "overwrite", "errorifexists").contains(mode.toLowerCase),
      s"writeSignatureIndex: mode '$mode' not supported — append | overwrite | errorifexists")
    val appending = mode.equalsIgnoreCase("append")
    // Decide sidecar stamping BEFORE the write: appending onto a LEGACY
    // index (pre-existing data, no sidecar) must NOT stamp the caller's
    // recipe — that would bless rows of unknown recipe, and later probes
    // would validate green while the legacy portion silently matches
    // nothing (ADVICE r19 — the exact failure the sidecar exists to
    // prevent). Such an index stays legacy/unvalidated; rebuild with
    // mode="overwrite" to adopt a recipe.
    val legacyAppend = appending && readIndexRecipe(path, conf).isEmpty &&
      Resolve.listing(path, conf).files.nonEmpty
    if (appending)
      requireRecipe(path, shingleN, k, seed, Some(idCol), conf)
    if (legacyAppend) {
      // no sidecar to validate against — but a column-name/type drift
      // would mix parquet schemas in one directory (reads back as nulls
      // or throws on the type): check against the existing files' own
      // schema before appending (review r20)
      val existing = corpus.sparkSession.read.parquet(path).schema
      val sigOk = existing.find(_.name == "sig").map(_.dataType).exists {
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _) => true
        case _ => false
      }
      require(existing.fieldNames.contains(idCol) && sigOk,
        s"legacy index at $path stores columns [${existing.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}] — " +
          s"appending ($idCol, sig: array<bigint>) would mix parquet schemas in one directory; " +
          "rename to the index's columns or rebuild with mode=\"overwrite\"")
    }
    // an overwrite must not leave the PREVIOUS recipe validating the
    // NEW data if we crash between the data commit and the sidecar
    // write — delete the old sidecar first so the window fails OPEN
    // (bare/unvalidated index), never false-green (review r20). Keep
    // the old sidecar TEXT: a write that fails BEFORE touching the data
    // (analysis/schema errors — far commoner than a crash) leaves the
    // old index intact, and re-stamping its own recipe keeps it
    // validated instead of trading the false-green window for a
    // fail-open one (ADVICE r20).
    val oldSidecarText: Option[String] =
      if (mode.equalsIgnoreCase("overwrite")) {
        val sp = sidecarPath(path)
        val fs = hadoopFs(sp, conf)
        val txt = readSidecarText(sp, conf)
        if (fs.exists(sp)) fs.delete(sp, false)
        txt
      } else None
    // snapshot the data listing BEFORE the write: the restore below
    // must prove the old files are untouched, not merely that files
    // exist (ADVICE r21 — a mid-job failure can leave partially
    // committed NEW part-files behind)
    val preListing: Option[Resolve.Listing] =
      oldSidecarText.map(_ => Resolve.listing(path, conf))
    try {
      withMinhashSignature(corpus.select(col(idCol), col(textCol)), textCol, "sig",
        shingleN, k, seed)
        .select(col(idCol), col("sig"))
        .write.mode(mode).parquet(path)
    } catch {
      case e: Throwable =>
        // restore the old recipe ONLY if the old data demonstrably
        // survived UNTOUCHED — the post-failure listing must equal the
        // pre-write snapshot, and the snapshot must not be racy (a file
        // written within one mtime tick of it could be rewritten with
        // the same name, length and mtime). A cleared directory, partial
        // new part-files, or any other mutation stays bare/fail-open:
        // stamping a recipe over changed data would be exactly the
        // false-green state the sidecar prevents
        oldSidecarText.foreach { txt =>
          if (preListing.exists(_.unchangedIn(Resolve.listing(path, conf))))
            writeSidecarText(sidecarPath(path), txt, conf)
        }
        throw e
    }
    // append: an existing sidecar already validated equal — keep it
    // (never clobber a recipe the data was checked against)
    if (legacyAppend)
      System.err.println(
        s"[graft] writeSignatureIndex: appended to a LEGACY index at $path (pre-existing " +
          "rows, no recipe sidecar) — the index stays unvalidated because the old rows' " +
          "recipe is unknown; rebuild with mode=\"overwrite\" to adopt a validated recipe")
    else if (!appending || readIndexRecipe(path, conf).isEmpty)
      writeSidecarText(sidecarPath(path), recipe.sidecarJson, conf)
    recipe
  }

  // sidecar I/O goes through the Hadoop FileSystem API of the CALLING
  // frame's session (not java.nio, not SparkSession.active): at corpus
  // scale the index lives on HDFS/S3 and a local-only or wrong-session
  // resolution would silently disable recipe validation there. Shared
  // with the vector index's sidecar ([[Similarity.VectorIndexRecipe]]).
  private[ops] val recipeMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def sidecarPath(path: String) =
    new org.apache.hadoop.fs.Path(path, recipeSidecarName)
  private[ops] def hadoopFs(p: org.apache.hadoop.fs.Path, conf: org.apache.hadoop.conf.Configuration) =
    p.getFileSystem(conf)
  private[ops] def activeConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  /** Read a whole sidecar file as UTF-8 text, None when absent. */
  private[ops] def readSidecarText(p: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val f = hadoopFs(p, conf)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  /** Overwrite a sidecar file with UTF-8 text. */
  private[ops] def writeSidecarText(p: org.apache.hadoop.fs.Path, text: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val out = hadoopFs(p, conf).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Read a signature index's recipe sidecar; None when the index
    * predates [[writeSignatureIndex]] (bare `(id, sig)` parquet). */
  def readIndexRecipe(path: String): Option[SignatureIndexRecipe] =
    readIndexRecipe(path, activeConf())

  /** As [[readIndexRecipe]], resolving the filesystem through an
    * explicit hadoop configuration (multi-session apps: use the
    * session that owns the index's credentials). */
  def readIndexRecipe(path: String,
      conf: org.apache.hadoop.conf.Configuration): Option[SignatureIndexRecipe] = {
    val p = sidecarPath(path)
    readSidecarText(p, conf).map { txt =>
      val node = recipeMapper.readTree(txt)
      def req(name: String): com.fasterxml.jackson.databind.JsonNode =
        Option(node.get(name)).getOrElse(throw new IllegalArgumentException(
          s"malformed signature-index sidecar at $p: missing '$name' in: $txt"))
      SignatureIndexRecipe(req("idCol").asText,
        req("shingleN").asInt, req("k").asInt, req("seed").asLong)
    }
  }

  /** Validate probe/append arguments against the index's sidecar (a
    * no-op for bare legacy indexes). `idCol` is checked only when
    * given: appends must match the index's column name (divergent
    * schemas read back as nulls), while a PROBE's batch may
    * legitimately use a different id column. */
  private[graft] def requireRecipe(path: String, shingleN: Int, k: Int, seed: Long,
      idCol: Option[String] = None,
      conf: org.apache.hadoop.conf.Configuration = null): Unit =
    readIndexRecipe(path, Option(conf).getOrElse(activeConf())).foreach { r =>
      require(r.shingleN == shingleN && r.k == k && r.seed == seed,
        s"signature-index recipe mismatch at $path: index was built with " +
          s"(shingleN=${r.shingleN}, k=${r.k}, seed=${r.seed}) but the probe asked for " +
          s"(shingleN=$shingleN, k=$k, seed=$seed) — a mismatched recipe buckets " +
          "differently and silently matches nothing; probe with the index's recipe")
      idCol.foreach { c =>
        require(r.idCol == c,
          s"signature-index id-column mismatch at $path: index stores '${r.idCol}' but the " +
            s"append would write '$c' — mixed column names read back as nulls under one " +
            "schema; rename to the index's column before appending")
      }
    }

  /** Append a batch's signatures to an existing index under the
    * index's OWN recipe (validated when the sidecar exists, including
    * the id column name — appended files must share the schema). This
    * is how the day-2 pipeline advances the index with its survivors. */
  def appendToSignatureIndex(
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      k: Int = 64,
      seed: Long = 42L
  ): Unit = {
    val conf = survivors.sparkSession.sessionState.newHadoopConf()
    requireRecipe(path, shingleN, k, seed, Some(idCol), conf)
    withMinhashSignature(survivors.select(col(idCol), col(textCol)), textCol, "sig",
      shingleN, k, seed)
      .select(col(idCol), col("sig"))
      .write.mode("append").parquet(path)
  }

  /** Stamp a recipe sidecar onto an EXISTING index directory whose rows
    * were written by other machinery — the explicit-adopt escape for a
    * legacy index ([[writeSignatureIndex]]'s append refuses to stamp
    * one implicitly), and how the Delta-backed streaming index
    * ([[graft.streaming.StreamOps.incrementalDedupStreamDelta]]) gets
    * its self-description: the Delta writer owns the data commits, this
    * records the recipe the caller asserts those rows were built with.
    */
  def adoptSignatureIndexRecipe(path: String, recipe: SignatureIndexRecipe,
      conf: org.apache.hadoop.conf.Configuration = null): Unit =
    writeSidecarText(sidecarPath(path), recipe.sidecarJson,
      Option(conf).getOrElse(activeConf()))

  /** Result of [[compactSignatureIndex]]: row/byte counts either side
    * of the swap, so callers can log the reclaim. */
  final case class IndexCompaction(
      rowsBefore: Long, rowsAfter: Long, bytesBefore: Long, bytesAfter: Long)

  /** Compact a signature index in place: collapse exact-duplicate
    * (id, sig) rows. The at-least-once streaming wrapper can replay a
    * micro-batch across its index-append crash window, landing
    * duplicate rows — harmless for MATCHING (identical rows band to
    * identical buckets, so candidate pairs are unchanged; the oversize
    * guard counts them toward `maxBucket`) but every future probe
    * scans them. Full-row dropDuplicates + a staged directory swap:
    * compacted rows (and the recipe sidecar, carried over unchanged)
    * land at `<path>__compact_tmp`, the live index moves aside to
    * `<path>__compact_old`, tmp renames into place, old deletes.
    * Crash safety: nothing is deleted until the compacted directory is
    * live — a crash mid-swap leaves the index intact at one of the two
    * names (recover by renaming `__compact_old` back). Atomicity is
    * the filesystem rename's (HDFS yes; object stores, use their
    * committer or quiesce probes during the swap). Concurrent WRITERS
    * (a live incremental stream advancing the index) are detected for
    * appends that COMPLETE before the swap: a data file appearing after
    * the compaction's snapshot listing aborts the swap and restores the
    * index untouched. A writer racing the swap itself (recreating the
    * directory between the two renames) also aborts — loudly, with all
    * three copies preserved for manual recovery, since its rows exist
    * nowhere else. Compaction is an offline maintenance pass: run it
    * with writers quiesced.
    */
  def compactSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): IndexCompaction =
    compactIndexDir(spark, path, recipeSidecarName)

  /** The compaction core shared with the vector index
    * ([[Similarity.compactVectorIndex]]): full-row dropDuplicates +
    * staged swap, carrying the named sidecar's raw text unchanged. */
  private[ops] def compactIndexDir(spark: org.apache.spark.sql.SparkSession,
      path: String, sidecarName: String): IndexCompaction = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val f = hadoopFs(p, conf)
    require(f.exists(p), s"no index at $path")
    // a Delta-backed index must NOT come through here: the raw parquet
    // read would resurrect removed files and the directory swap would
    // destroy the _delta_log. Delta indexes are exactly-once by
    // construction (txn markers — no replay inflation to compact);
    // physical compaction there is the writer's OPTIMIZE.
    require(!f.exists(new org.apache.hadoop.fs.Path(p, "_delta_log")),
      s"$path is a Delta table — compactIndexDir is for plain-parquet indexes only " +
        "(a Delta index has no replay inflation; use DeltaWriter.compact (or zorder) for physical compaction)")
    // Snapshot the data-file set BEFORE the read plans its own listing:
    // a concurrent append landing during the (potentially long)
    // dropDuplicates write would otherwise ride the live directory into
    // __compact_old and be deleted with it — silent data loss. The
    // post-swap re-list below detects exactly that and rolls back.
    def dataFiles(dir: org.apache.hadoop.fs.Path): Set[String] =
      f.listStatus(dir).iterator.map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
    val snapshotFiles = dataFiles(p)
    val bytesBefore = f.getContentSummary(p).getLength
    val before = spark.read.parquet(path)
    val rowsBefore = before.count()
    val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__compact_old")
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(old)) f.delete(old, true)
    before.dropDuplicates().write.parquet(tmp.toString)
    readSidecarText(new org.apache.hadoop.fs.Path(p, sidecarName), conf).foreach { txt =>
      writeSidecarText(new org.apache.hadoop.fs.Path(tmp, sidecarName), txt, conf)
    }
    require(f.rename(p, old), s"compaction swap: could not move $p aside")
    val lateFiles = dataFiles(old) -- snapshotFiles
    if (lateFiles.nonEmpty) {
      // concurrent appends landed after the snapshot — the compacted
      // copy does not contain their rows. Roll the live index back and
      // refuse: the caller must quiesce writers (or retry when quiet).
      require(f.rename(old, p),
        s"compaction abort: could not restore $old to $p after detecting concurrent " +
          "appends — restore it manually; the compacted copy (INCOMPLETE) is at " + tmp)
      f.delete(tmp, true)
      throw new IllegalStateException(
        s"compaction aborted: ${lateFiles.size} data file(s) were appended to $path during " +
          "the compaction snapshot (e.g. a live incremental stream advancing the index) — " +
          "the index was restored untouched; quiesce writers and re-run")
    }
    // Swap-race guard (ADVICE r20): a writer that starts DURING the swap
    // can recreate the index directory after the rename(p, old) — and on
    // HDFS the final rename(tmp, p) into an existing directory would NEST
    // the compacted data as a subdirectory, corrupting the index instead
    // of replacing it. Nothing can be merged automatically here (the
    // recreated directory holds rows that are in neither `old` nor
    // `tmp`), so refuse with every path named rather than destroy any of
    // the three copies.
    if (f.exists(p))
      throw new IllegalStateException(
        s"compaction aborted: $p was recreated by a concurrent writer during the swap — " +
          s"its rows are in neither the pre-compaction index ($old) nor the compacted copy " +
          s"($tmp). Nothing was deleted; quiesce writers, merge the recreated rows into " +
          s"$old (or re-append them after recovery), rename $old back to $p, and re-run")
    require(f.rename(tmp, p),
      s"compaction swap: could not move $tmp into place — the previous index is intact " +
        s"at $old; rename it back to recover")
    f.delete(old, true)
    val rowsAfter = spark.read.parquet(path).count()
    IndexCompaction(rowsBefore, rowsAfter, bytesBefore, f.getContentSummary(p).getLength)
  }

  /** [[incrementalDedup]] against a PERSISTED index path: reads the
    * recipe sidecar ONCE, validates the probe arguments against it
    * (loud error on mismatch — the footgun this sidecar exists to
    * kill; the batch's own id column may differ from the index's),
    * and probes. The signature-frame overload remains for indexes
    * managed elsewhere. */
  def incrementalDedupAgainstIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      withinBatch: Boolean = true,
      broadcastBatch: Boolean = true,
      shingleN: Int = 3,
      k: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    val spark = batch.sparkSession
    val recipe = readIndexRecipe(indexPath, spark.sessionState.newHadoopConf())
    recipe.foreach { r =>
      require(r.shingleN == shingleN && r.k == k && r.seed == seed,
        s"signature-index recipe mismatch at $indexPath: index was built with " +
          s"(shingleN=${r.shingleN}, k=${r.k}, seed=${r.seed}) but the probe asked for " +
          s"(shingleN=$shingleN, k=$k, seed=$seed) — a mismatched recipe buckets " +
          "differently and silently matches nothing; probe with the index's recipe")
    }
    incrementalDedup(batch, idCol, textCol,
      spark.read.parquet(indexPath), recipe.map(_.idCol).getOrElse(idCol), "sig",
      shingleN, k, bands, threshold, maxBucket, withinBatch, broadcastBatch, seed)
  }

  /** Handle to an eager computation started by [[eagerOverlap]]:
    * `await()` surfaces the result (or the failure, immediately if it
    * already happened); `cancel()` kills the background Spark jobs via
    * their job group so a sibling chain's failure cannot leave them
    * running orphaned (no-op for inline handles and finished groups).
    */
  private[graft] final class EagerHandle[T](get: () => T, val cancel: () => Unit) {
    def await(): T = get()
  }

  /** Run an eager Spark computation (checkpoint, CC, collect chain) on
    * a background thread so its jobs OVERLAP the caller's own
    * subsequent chain (guide §2.6 — back-fill the stage-latency gaps;
    * the r21 serial A/B measured ~25% off q98-shaped walls).
    *
    * Always overlaps, including under a concurrent query batch — the
    * r22 calm paired A/B settled VERDICT r21's pool-pressure question
    * the other way round: an inline-when-busy gate made q98's pooled
    * in-batch wall ~1.7x WORSE (2.97 s overlapped → 3.59 s inline on
    * matched calm windows, unchanged-query median 0.71), because FAIR
    * scheduling round-robins across JOBS — a query holding two
    * concurrent job chains gets its share of the pool from both, while
    * the inline ordering serializes its chain behind every peer's
    * round-robin turn. The r20→r21 pooled rise the verdict flagged was
    * cross-session box variance, not the overlap.
    *
    * Background jobs run under a dedicated job group with
    * `interruptOnCancel`, inside `blocking{}` (the global pool spawns a
    * replacement thread instead of starving — ADVICE r21); `cancel()`
    * kills exactly those jobs when a sibling chain fails, and `await()`
    * rethrows the body's failure. A `cancel()` that lands before the body
    * submits its jobs still stops them: a cancelled body does not start;
    * the group is cancelled for future jobs too, so a job the body submits
    * afterwards fails at submission; and [[EagerCancelGuard]] fails the
    * planning of every query the body issues afterwards, because Spark
    * does not consult cancelled groups for the shuffle map stages that
    * adaptive execution submits on its own.
    */
  private[graft] def eagerOverlap[T](spark: org.apache.spark.sql.SparkSession, desc: String)(body: => T): EagerHandle[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    val sc = spark.sparkContext
    EagerCancelGuard.install(spark)
    val group = s"graft-eager-${java.util.UUID.randomUUID()}"
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    eagerGroups.put(group, cancelled)
    val f = Future {
      // job group is thread-local: tag the background jobs so
      // cancel() can reach exactly them
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      try {
        if (cancelled.get) throw new java.util.concurrent.CancellationException(s"$desc: cancelled")
        blocking(body)
      } finally {
        sc.clearJobGroup()
        eagerGroups.remove(group)
      }
    }(ExecutionContext.global)
    new EagerHandle(() => Await.result(f, Duration.Inf), () => {
      cancelled.set(true)
      sc.cancelJobGroupAndFutureJobs(group)
    })
  }

  /** Job groups of running [[eagerOverlap]] bodies and their cancelled flags. */
  private val eagerGroups =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicBoolean]()

  /** Planner hook: fails the planning of a query issued under a cancelled
    * [[eagerOverlap]] group. Planning and every adaptive re-planning run
    * on the submitting thread before the query's stages are submitted,
    * so this is the check before each launch; it adds nothing to a plan. */
  private final class EagerCancelGuard(sc: org.apache.spark.SparkContext)
      extends org.apache.spark.sql.execution.SparkStrategy {
    def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      if (!eagerGroups.isEmpty) {
        val g = sc.getLocalProperty("spark.jobGroup.id")
        if (g != null && Option(eagerGroups.get(g)).exists(_.get))
          throw new java.util.concurrent.CancellationException(s"eager job group $g was cancelled")
      }
      Nil
    }
  }

  private object EagerCancelGuard {
    def install(spark: org.apache.spark.sql.SparkSession): Unit = {
      val exp = spark.experimental
      exp.synchronized {
        if (!exp.extraStrategies.exists(_.isInstanceOf[EagerCancelGuard]))
          exp.extraStrategies = exp.extraStrategies :+ new EagerCancelGuard(spark.sparkContext)
      }
    }
  }

  /** Day-2 cluster maintenance: assign a new batch's docs to a
    * persisted corpus's EXISTING cluster labels without re-running
    * connected components over the union — one bounded pass over the
    * incremental probe's own outputs. Inputs: `batchPairs` = the
    * within-batch near-dup pairs (id1, id2); `crossPairs` = the
    * incremental probe's (new_id, hist_id) matches; `historyLabels` =
    * the persisted (id, component) table (the [[connectedComponents]]
    * output schema; matched history docs ABSENT from it label
    * themselves, the same convention as edge-less nodes there).
    * Returns (idCol, component) for EVERY row of `batchIds`.
    *
    * Semantics: within-batch components form first (exact CC over the
    * batch-sized pair list); a batch component any of whose members
    * matched history ADOPTS the minimum history label among those
    * matches; a batch-only component MINTS its own minimum batch id.
    * History labels are immutable here — a batch component bridging
    * TWO history components takes the min but does not rewrite the
    * history table (that reconciliation is the offline re-cluster;
    * labels only ever coarsen there, never split). The assignment
    * REFINES the union-batch CC: two batch docs sharing an assigned
    * label are always in the same component of the full union graph —
    * the incremental path never over-merges, it can only under-merge
    * where the bridge runs through history (spec-pinned monotonicity).
    * Minted labels share the id domain with history labels; callers
    * whose batch/history id spaces overlap should namespace.
    *
    * Scale shape: every frame here is batch- or signal-proportional
    * EXCEPT `historyLabels` (corpus-sized) — which is reduced by a
    * broadcast semi-join on the probe's matched hist ids before
    * anything joins it, so the history lineage is scan → broadcast
    * semi-join, never an exchange (the incremental probe's own
    * contract). `broadcastBatch = false` falls back to ordinary joins
    * for jumbo increments.
    */
  def assignIncrementalClusters(
      batchIds: DataFrame,
      idCol: String,
      batchPairs: DataFrame,
      crossPairs: DataFrame,
      // by-name (r21): callers whose history labels come from an EAGER
      // computation (connectedComponents runs checkpoint + probe jobs at
      // call time) can hand a `Future`-backed expression and have that
      // chain overlap this operator's own eager jobs — the argument is
      // evaluated exactly once, AFTER the probe checkpoint and batch CC
      // have been launched. A plain DataFrame argument behaves as before.
      historyLabels: => DataFrame,
      broadcastBatch: Boolean = true): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    // matched feeds two subtrees (the semi-join keys and the adopt join)
    // over the typically LSH-priced probe lineage — localCheckpoint it so
    // that lineage evaluates ONCE (the r20 serial A/B measured the
    // un-checkpointed triple evaluation at ~2x the whole DuckDB wall).
    // The checkpoint job OVERLAPS the batch CC's own serialized jobs
    // below (guide §2.6: the two chains are independent until the
    // adopt join — r21 measured the sequential chain as pure stage
    // latency at bench scale; see [[eagerOverlap]] for the cancellable
    // job group and why it overlaps even under a concurrent batch).
    val matchedH = eagerOverlap(batchIds.sparkSession, "assign: probe checkpoint")(
      crossPairs.select(col("new_id"), col("hist_id")).localCheckpoint())
    val (labeled, matched, histLabelsVal) =
      try {
        // within-batch components; docs with no batch edge label themselves
        val bcomp = connectedComponents(batchPairs.select(col("id1"), col("id2")))
          .withColumnRenamed("id", idCol).withColumnRenamed("component", "_bcomp")
        // labeled feeds TWO subtrees (the adopt aggregation and the final
        // join), but its lineage above the (already materialized) CC labels
        // is just the batch-id scan + one broadcast join — re-evaluating
        // that twice INSIDE the final job costs two parallel batch-sized map
        // stages, where the r20 localCheckpoint here cost a SERIALIZED job
        // (r21; the broadcast itself builds once via ReuseExchange). The
        // expensive multiply-read frame stays `matched` above.
        val l = batchIds.select(col(idCol))
          .join(bc(bcomp), Seq(idCol), "left")
          .select(col(idCol), coalesce(col("_bcomp"), col(idCol)).as("_bcomp"))
        // the by-name history labels materialize HERE — after the probe
        // checkpoint and batch CC chains have already run/launched
        (l, matchedH.await(), historyLabels)
      } catch {
        // failure linkage (ADVICE r21): a batch-CC / history-labels
        // failure must not leave the background checkpoint running
        // orphaned — cancel its job group before propagating
        case e: Throwable => matchedH.cancel(); throw e
      }
    // corpus-sized history labels reduce to the matched (signal-sized)
    // subset via a broadcast semi-join BEFORE any other join touches them
    val histSub = histLabelsVal.select(col("id").as("hist_id"), col("component").as("_hcomp"))
      .join(bc(matched.select(col("hist_id")).distinct()), Seq("hist_id"), "leftsemi")
    val adoptPerNew = matched.join(bc(histSub), Seq("hist_id"), "left")
      .select(col("new_id").as(idCol),
        coalesce(col("_hcomp"), col("hist_id")).as("_hcomp"))
    val adopt = adoptPerNew.join(bc(labeled), Seq(idCol))
      .groupBy(col("_bcomp")).agg(min(col("_hcomp")).as("_adopt"))
    labeled.join(bc(adopt), Seq("_bcomp"), "left")
      .select(col(idCol), coalesce(col("_adopt"), col("_bcomp")).as("component"))
  }

  /** Connected components over a near-dup pair list by the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * the edge set toward stars centered at component minima —
    *   large-star: every node points its LARGER neighbors at the min of
    *     its closed neighborhood;
    *   small-star: every node folds its smaller neighbors (and itself)
    *     onto that min.
    * The edge set converges to one star per component in O(log d)
    * rounds (vs d rounds for hop-by-hop min-label propagation — the
    * round-15 profile showed the per-hop variant paying 4 full
    * join+agg+checkpoint rounds where cliques need 1 star round), and
    * every intermediate edge set is no larger than the input, so no
    * round shuffles more than the pair list itself. Returns
    * (id, component) where component is the min id in the node's
    * component (exact once converged; min-reachable-within-2^rounds
    * under a blind cap). Rows mentioned only in self-pairs label
    * themselves, matching the old propagation contract.
    *
    * `maxIter` bounds ROUNDS (each covers ~2x the diameter of the last);
    * `checkConvergence` stops early via a (count, hash-sum) fingerprint
    * of the edge set — one tiny agg job per round over the checkpointed
    * (and shrinking) edges, far cheaper than the old join-based change
    * detection (+8s on the sf0.1 warm batch).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20, checkConvergence: Boolean = true): DataFrame =
    connectedComponents(pairs, maxIter, checkConvergence, smallGraphEdges = 1L << 20)

  /** @param smallGraphEdges pair lists at or under this size skip the
    *        distributed rounds entirely: the edge count rides the
    *        checkpoint job as an observed metric (no probe job — r22),
    *        and a graph that fits pays one bounded collect off the
    *        checkpointed partitions (≤1M edges — the same boundedness
    *        class as the IVF centroid sample; the observed count is
    *        the overflow signal, so nothing is collected for a graph
    *        that doesn't fit) plus a driver union-find for the exact
    *        labels. The pre-r18 shape serialized a count and a second
    *        full collect as separate jobs; the r18–r21 shape replaced
    *        the count with a limit(cap+1) probe, which CollectLimit
    *        scans in 1→4→16→… partition waves — several serialized
    *        jobs whenever the graph is small. 0 disables. At 100 TB
    *        near-dup pair lists blow past the cap — the star rounds
    *        stay the scale path, now without paying any probe.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int, checkConvergence: Boolean,
      smallGraphEdges: Long): DataFrame = {
    // Materialize the pair list ONCE and truncate its lineage: the pair
    // plan is referenced by every star round, and without truncation
    // each round re-embeds the entire upstream (LSH) DAG in its plan —
    // the round-1 plan audit measured 161 exchanges / 490 broadcasts
    // for a single CC round. Per-round localCheckpoint keeps the plan
    // O(1) in rounds instead of O(2^rounds).
    //
    // Small-graph short-circuit (r22, VERDICT r21 #4 — fuse the probe
    // into the checkpoint action): the edge COUNT rides the checkpoint
    // job as an OBSERVED metric (zero extra jobs — the same trick the
    // per-round convergence fingerprint uses), so the old bounded
    // limit(cap+1)-collect probe job is gone. A small graph now pays
    // one full-parallel collect off the checkpointed partitions, where
    // the limit probe scanned them in CollectLimit's 1→4→16→… partition
    // waves — up to 4 serialized jobs on a 32-partition frame, because
    // a small graph never satisfies the limit early; an overflowing
    // graph pays NO probe at all (the count already said the star
    // rounds are needed, and it used to pull cap+1 rows to the driver
    // just to learn that). Probing BEFORE the checkpoint would be worse
    // at scale: any collect over a plan with exchanges still runs every
    // upstream map stage, and the checkpoint would then re-run the
    // whole DAG (round-18 review catch).
    val sel = pairs.select(col("id1"), col("id2"))
    val edgeCountObs =
      if (smallGraphEdges > 0) Some(new org.apache.spark.sql.Observation()) else None
    val p = edgeCountObs.fold(sel)(o => sel.observe(o, count(lit(1)).as("n")))
      .localCheckpoint()
    edgeCountObs.foreach { o =>
      // the checkpoint action already ran; get() only waits on the listener
      val n = o.get("n").asInstanceOf[Long]
      if (n <= math.min(smallGraphEdges, Int.MaxValue - 1L))
        return unionFindLocal(p.collect(), p.schema.fields(0).dataType, pairs.sparkSession)
    }
    val nodes = p.select(col("id1").as("id")).unionByName(p.select(col("id2").as("id"))).distinct()
    // Round 1 mirrors the RAW pair list (self-pairs dropped): duplicate
    // edges never change a min, so the canonicalize+distinct+checkpoint
    // a separate init pass would pay (one serialized job, two exchanges)
    // is folded into the first round for free.
    var edges = p.filter(col("id1") =!= col("id2"))
      .select(least(col("id1"), col("id2")).as("lo"), greatest(col("id1"), col("id2")).as("hi"))
    var iter = 0
    var converged = false
    var lastFp: Option[(Long, Long)] = None
    while (iter < maxIter && !converged) {
      // large-star: per-node min over the MIRRORED neighborhood, pointing
      // every larger neighbor v at m = min(N(u) ∪ {u}); m <= u < v keeps
      // the lo<hi invariant. The explicit repartition on u lets the
      // groupBy AND the re-attach join both reuse ONE exchange (verified:
      // without it the mirrored frame shuffles twice). min-via-groupBy +
      // join, NOT collect_list or a window: a hub node's neighbor list
      // must never materialize in one task's buffer.
      val mirrored = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
        .repartition(col("u"))
      val largeMin = mirrored.groupBy("u").agg(min("v").as("mn"))
      val large = mirrored.join(largeMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("mn"), col("u")).as("lo"), col("v").as("hi"))
        .repartition(col("hi"))
      // small-star: group all smaller neighbors on hi; m = min(los) < hi.
      // Fold the remaining los and hi itself onto m. Same one-exchange
      // reuse trick on hi.
      val smallMin = large.groupBy("hi").agg(min("lo").as("mn"))
      val folded = large.join(smallMin, Seq("hi"))
        .filter(col("lo") =!= col("mn"))
        .select(col("mn").as("lo"), col("lo").as("hi"))
        .unionByName(smallMin.select(col("mn").as("lo"), col("hi")))
        .distinct() // the fingerprint below is a SET fingerprint
      // Convergence rides the checkpoint job as OBSERVED metrics — zero
      // extra jobs per round (the round-16 profile showed a separate
      // fingerprint agg adding a serialized job per round). bit_xor, not
      // sum: xor of distinct-edge hashes is a set fingerprint with no
      // ANSI overflow path.
      val obs = if (checkConvergence)
        Some(new org.apache.spark.sql.Observation(s"cc_fp_$iter")) else None
      val next = obs.fold(folded)(o => folded.observe(o,
        count(lit(1)).as("n"), bit_xor(xxhash64(col("lo"), col("hi"))).as("x")))
        .localCheckpoint() // truncate: next round's plan starts from a leaf
      edges = next
      iter += 1
      obs.foreach { o =>
        val m = o.get // action already ran; this only waits on the listener
        val cur = (m("n").asInstanceOf[Long], Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L))
        converged = lastFp.contains(cur)
        lastFp = Some(cur)
      }
    }
    // At convergence edges are stars: hi -> lo IS the labeling and each
    // hi appears once; under a blind cap a node may still sit in several
    // partially-folded edges, so take the min. Centers and edge-less
    // nodes label themselves. NOT checkpointed: the plan is O(1) already
    // (two exchanges over the checkpointed star edges) and callers fold
    // it into their own next job instead of paying a serialized one here.
    val starLabels = edges.groupBy(col("hi").as("id")).agg(min("lo").as("_comp"))
    nodes.join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("_comp"), col("id")).as("component"))
  }

  /** Exact driver-side labels for a SMALL (pre-counted, bounded) pair
    * list: path-compressed union-find, roots resolved to the component
    * MINIMUM so the labels are identical to the converged star rounds.
    * Ids stay their runtime type (Long/Int/String — anything Comparable).
    */
  private def unionFindLocal(rows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType,
      session: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n } // path-compress
      r
    }
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    // resolve every root to its component minimum (natural ordering)
    val minOf = new java.util.HashMap[Any, Any]()
    val keys = parent.keySet().toArray
    keys.foreach { k =>
      val r = find(k)
      val cur = minOf.get(r)
      if (cur == null || k.asInstanceOf[Comparable[Any]].compareTo(cur) < 0) minOf.put(r, k)
    }
    val out = keys.toSeq.map(k => org.apache.spark.sql.Row(k, minOf.get(find(k))))
    session.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType))))
  }

  /** End-to-end near-dup dedup: MinHash-LSH pairs → connected components
    * → keep the canonical (minimum-id) row per component. Rows with no
    * near-dup edges keep themselves.
    */
  def dedupNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      repartitionTo: Option[Int] = None,
      ccRounds: Int = 20,
      checkConvergence: Boolean = true
  ): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleN = shingleN, threshold = threshold,
      repartitionTo = repartitionTo)
    val comps = connectedComponents(pairs, maxIter = ccRounds, checkConvergence = checkConvergence)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /** 64-bit SimHash of the token bag, computed within the row:
    * for each bit position, sum +-1 over tokens by that bit of
    * xxhash64(token); the sign gives the output bit. One fused
    * whole-stage-codegen expression ([[graft.functions.SimHash64]],
    * round 19 — the nested-HOF predecessor paid ~64 interpreted nodes
    * per token; bit parity vs the HOF oracle in test sources, pinned in SimHash64Spec).
    */
  def simhash(text: Column): Column =
    graft.functions.TextFunctions.simhash64(TextOps.tokens(text))

  /** DuckDB-replicable 64-bit SimHash: per token, the little-endian
    * uint64 of the first 8 md5 bytes (DuckDB `md5_number_upper`, same
    * convention as [[md5Hash31]]); per bit position the +-1 vote sum over
    * the token bag; sign gives the output bit; result is the two's-
    * complement BIGINT on both engines. The value-exact oracle twin of
    * [[simhash]] (which keeps the cheaper codegen'd xxhash64). One fused
    * JIT loop per row — no shuffle, no interpreted HOFs.
    */
  def simhashPortable(text: Column): Column = {
    val sigUdf = udf { (toks: Seq[String]) =>
      if (toks == null) null.asInstanceOf[java.lang.Long] // null text → null simhash
      else {
      val md = graft.core.Token.md5() // thread-local: getInstance per row is a measurable provider lookup
      val sums = new Array[Int](64)
      toks.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var le = 0L
        var i = 7
        while (i >= 0) { le = (le << 8) | (d(i) & 0xffL); i -= 1 }
        var j = 0
        while (j < 64) { sums(j) += (((le >>> j) & 1L).toInt * 2 - 1); j += 1 }
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (sums(j) > 0) sig |= (1L << j); j += 1 }
      java.lang.Long.valueOf(sig)
      }
    }
    sigUdf(TextOps.tokens(text))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact pairwise Jaccard over distinct word sets — the oracle path.
    * explode + equi-join on word + count intersection; quadratic only in
    * docs *sharing* a token, and used at oracle scale or to verify LSH
    * candidates, never as the 100 TB path.
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    val words = df
      .select(col(idCol).as("_id"), explode(array_distinct(TextOps.tokens(col(textCol)))).as("_w"))
    val sizes = words.groupBy("_id").agg(count(lit(1)).as("_n"))
    val inter = words
      .select(col("_id").as("id1"), col("_w"))
      .join(words.select(col("_id").as("id2"), col("_w")), Seq("_w"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.select(col("_id").as("id1"), col("_n").as("_n1")), Seq("id1"))
      .join(sizes.select(col("_id").as("id2"), col("_n").as("_n2")), Seq("id2"))
      .select(
        col("id1"),
        col("id2"),
        (col("_inter").cast("double") / (col("_n1") + col("_n2") - col("_inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }
}
