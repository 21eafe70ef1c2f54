package graft.queries

import graft.ops.Dedup
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Batch-mode runs of the streaming operator surface (the same StreamOps
  * code paths the MemoryStream specs drive; batch/stream equivalence is
  * the §5 test strategy), plus leftover §2b scalar-surface rows
  * (null-safe equality, json_tuple, epoch millis) and the Aggregator
  * (UDAF) surface.
  */
object StreamingBatchQueries {

  val entries: Seq[(String, QFn, Option[String])] = Seq(
    (
      "q53_stream_tumbling_batch",
      (s, dir) => {
        StreamOps.windowedAgg(
          table(s, dir, "events"),
          "ts", "15 minutes",
          aggs = Seq(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value")),
          keys = Seq("event_type")
        ).select(col("event_type"), col("window_start"), col("n"), col("sum_value"))
      },
      Some("""
        SELECT event_type,
               time_bucket(INTERVAL 15 MINUTE, ts) AS window_start,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
      """)
    ),
    (
      "q54_stream_session_batch",
      (s, dir) => {
        StreamOps.sessionAgg(
          table(s, dir, "events"),
          "ts", "10 minutes",
          aggs = Seq(count(lit(1)).as("n_events")),
          keys = Seq("user_id")
        ).select(
          col("user_id"),
          date_trunc("millisecond", col("session_start")).as("session_start"),
          col("n_events")
        )
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 600 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        )
        SELECT user_id,
               date_trunc('milliseconds', min(ts)) AS session_start,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
      """)
    ),
    (
      "q55_misc_scalar",
      (s, dir) => {
        table(s, dir, "events")
          .select(
            col("event_id"),
            json_tuple(col("props"), "k").as("k_str"),
            unix_millis(col("ts")).as("ts_ms"),
            (col("value") <=> lit(null)).as("value_is_null_safe"),
            // NaN injected directly: the 0/0 formulation threw ANSI
            // DIVIDE_BY_ZERO once sf0.1 data produced value=0 rows —
            // nanvl stays exercised, oracle semantics unchanged
            nanvl(when(col("value") === 0, lit(Double.NaN)).otherwise(col("value")), lit(-1.0)).as("value_nan_guard")
          )
          .select(
            col("event_id"),
            col("k_str").cast("long").as("k"),
            col("ts_ms"),
            col("value_is_null_safe"),
            round(col("value_nan_guard"), 2).as("value_nan_guard")
          )
      },
      Some("""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               epoch_ms(ts) AS ts_ms,
               (value IS NOT DISTINCT FROM NULL) AS value_is_null_safe,
               round(CASE WHEN isnan(CASE WHEN value = 0 THEN 'NaN'::DOUBLE ELSE value END)
                          THEN -1.0 ELSE value END, 2) AS value_nan_guard
        FROM events
      """)
    ),
    (
      "q57_salted_join",
      // Salting is result-invariant — the plain join IS the oracle.
      (s, dir) => {
        graft.ops.Relational.saltedJoin(
          table(s, dir, "lineitem"),
          table(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          "l_partkey", "p_partkey", saltFactor = 8
        ).groupBy("p_brand")
          .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
      },
      Some("""
        SELECT p_brand, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
      """)
    ),
    (
      "q58_ivf_knn",
      // IVF ANN — approximate; recall vs exact is spec'd, rows-only here.
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val centroids = graft.ops.Similarity.trainIvfCentroids(emb, "embedding", k = 16, iterations = 3)
        graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 3, centroids, nProbe = 4)
      },
      None
    ),
    (
      "q59_multiset_ops",
      // Multiset INTERSECT ALL / EXCEPT ALL cardinalities per key, computed
      // in ONE pass (r21): only per-key COUNTS are consumed downstream, and
      // for multisets restricted to a key those are pure count arithmetic —
      //   |a ∩all b| = min(n_a, n_b),   |a \all b| = max(n_a - n_b, 0) —
      // so the intersectAll/exceptAll operators (4 lineitem scans + Spark's
      // replicaterows generate-then-recount plan, 4 exchanges) reduce to one
      // scan + one 6-key aggregate. Key-set equivalence: a key appears in
      // the old full-outer join iff min(n_a,n_b) > 0 OR n_a > n_b ⇔ n_a > 0;
      // the fill(0) cases land exactly on min/greatest's zero branches.
      // Value-identical (oracle-verified); the intersectAll/exceptAll API
      // itself stays exercised against this rewrite in R21OptimizationSpec.
      (s, dir) => {
        table(s, dir, "lineitem")
          .select(
            col("l_returnflag"), col("l_linestatus"),
            when(col("l_quantity") > 25, 1L).otherwise(0L).as("_a"),
            when(col("l_extendedprice") > 500, 1L).otherwise(0L).as("_b"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("_a")).as("_na"), sum(col("_b")).as("_nb"))
          .filter(col("_na") > 0)
          .select(
            col("l_returnflag"), col("l_linestatus"),
            least(col("_na"), col("_nb")).as("n_inter"),
            greatest(col("_na") - col("_nb"), lit(0L)).as("n_except"))
      },
      Some("""
        WITH a AS (SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 25),
             b AS (SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_extendedprice > 500),
             i AS (SELECT l_returnflag, l_linestatus, count(*) AS n_inter
                   FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1, 2),
             e AS (SELECT l_returnflag, l_linestatus, count(*) AS n_except
                   FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1, 2)
        SELECT COALESCE(i.l_returnflag, e.l_returnflag) AS l_returnflag,
               COALESCE(i.l_linestatus, e.l_linestatus) AS l_linestatus,
               COALESCE(n_inter, 0) AS n_inter,
               COALESCE(n_except, 0) AS n_except
        FROM i FULL OUTER JOIN e
          ON i.l_returnflag = e.l_returnflag AND i.l_linestatus = e.l_linestatus
      """)
    ),
    (
      "q60_map_funcs",
      (s, dir) => {
        table(s, dir, "events")
          .select(
            col("event_id"),
            from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("map<string,bigint>")).as("m")
          )
          .select(
            col("event_id"),
            concat_ws(",", array_sort(map_keys(col("m")))).as("prop_keys"),
            element_at(col("m"), "k").as("k_value"),
            size(map_values(col("m"))).as("n_props")
          )
      },
      Some("""
        SELECT event_id,
               array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
               len(json_keys(props)) AS n_props
        FROM events
      """)
    ),
    (
      "q61_sliding_window",
      (s, dir) => {
        StreamOps.windowedAgg(
          table(s, dir, "events"),
          "ts", "30 minutes",
          // avg derived from the EXACT 2dp-rounded sum, NOT re-rounded:
          // raw avg carries accumulation-order noise that lands 4dp
          // rounding on tie boundaries (33/14405 windows flipped at
          // sf0.1), and any engine-side re-round of the quotient has its
          // own tie (sum/count often IS a 4dp half). round(sum,2) is a
          // 2dp decimal in both engines (values are exactly-2dp, so the
          // true sum sits AT a multiple of 0.01, never near a rounding
          // tie); the division then yields bit-identical doubles that
          // the comparator's 6dp canon rounds identically.
          aggs = Seq(count(lit(1)).as("n"),
            (round(sum("value"), 2) / count(lit(1))).as("avg_value")),
          keys = Seq("event_type"),
          slide = Some("15 minutes")
        ).select(col("event_type"), col("window_start"), col("n"), col("avg_value"))
      },
      // each event belongs to len/slide = 2 hopping windows
      Some("""
        SELECT event_type,
               time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS window_start,
               count(*) AS n, round(sum(value), 2) / count(*) AS avg_value
        FROM events, (SELECT unnest([0, 1]) AS k)
        WHERE ts >= time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
          AND ts <  time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE + INTERVAL 30 MINUTE
        GROUP BY 1, 2
      """)
    ),
    (
      "q62_explode_outer",
      (s, dir) => {
        table(s, dir, "documents")
          .select(
            col("doc_id"),
            // empty array for short docs exercises the _outer retention
            when(col("n_chars") > 300, graft.ops.TextOps.tokens(col("text"))).otherwise(array().cast("array<string>")).as("toks")
          )
          .select(col("doc_id"), posexplode_outer(col("toks")).as(Seq("pos", "word")))
          .groupBy("doc_id")
          .agg(
            count(col("word")).as("n_words"),
            max(col("pos")).as("max_pos"),
            count(when(col("word").isNull, 1)).as("n_null_rows")
          )
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN n_chars > 300
                      THEN list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> length(t) > 0)
                      ELSE [] END AS tk
          FROM documents
        ), ex AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(tk) = 0 THEN [NULL] ELSE tk END) AS word,
                 unnest(CASE WHEN len(tk) = 0 THEN [NULL]
                        ELSE range(len(tk)) END) AS pos
          FROM toks
        )
        SELECT doc_id, count(word) AS n_words, max(pos) AS max_pos,
               count(CASE WHEN word IS NULL THEN 1 END) AS n_null_rows
        FROM ex
        GROUP BY doc_id
      """)
    ),
    (
      "q56_group_sketch_union",
      // Per-source MinHash sketch union over documents. Engine-specific
      // hashes → rows-only check; semantics spec'd in R22OptimizationSpec.
      //
      // r22 (guide §4 — built-ins over an opaque UDAF): the union is an
      // elementwise min over fixed-length (k=64) signatures, so it runs
      // as a codegen'd min-fold over the posexploded slots —
      // partial+final HashAggregates — instead of a typed sketch-union
      // Aggregator, whose ObjectHashAggregate paid an encoder round-trip
      // (Seq[Long] ⇄ UnsafeArray) per ROW on reduce plus
      // DeserializeToObject/SerializeFromObject stages for the
      // groupByKey and final map. Value-identical because every
      // withMinhashSignature sig has length exactly k (MinHashSigSpec
      // pins that, incl. the empty-token all-zeros row), so the
      // Aggregator's length-keeping merge IS the per-slot min;
      // R22OptimizationSpec runs both formulations over every row shape
      // and asserts equal rows; the Aggregator lives on in test sources
      // as that spec's oracle (`graft.functions.MinHashUnion`). (A wide
      // k-column min aggregate would be one exchange fewer, but
      // Catalyst folds size(array(..)) and prunes every slot the
      // 2-slot sketch_head doesn't read — 62/64 of the union's work
      // would leave the bench path; the posexplode shape keeps the
      // whole union honest because the final count consumes every
      // slot row.)
      (s, dir) => {
        val k = 64
        val sigs = Dedup.withMinhashSignature(
          table(s, dir, "documents").select(col("source"), col("text")),
          "text", "sig", shingleN = 1, k = k,
          repartitionTo = Some(s.sparkContext.defaultParallelism))
        sketchUnionMinFold(sigs)
      },
      None
    )
  )

  /** Expression-based per-source sketch union (q56's bench shape): the
    * signatures posexplode to (source, slot, value) rows, a
    * partial+final min per (source, slot) computes every union slot,
    * and a second tiny aggregate reassembles the exact
    * (source, sketch_len, sketch_head) projection the retired
    * Aggregator formulation produced — sketch_len counts the slot rows
    * (≡ the merged buffer's length: every input sig is length k) and
    * sketch_head picks the slot-0/slot-1 mins (≡ take(2).mkString(",")).
    * Package-private so the equivalence spec pins it against the
    * Aggregator on every row shape.
    *
    * posexplode_OUTER on purpose: the non-outer Generate lets
    * InferFiltersFromGenerate add `size(sig)>0 AND isnotnull(sig)`,
    * and predicate pushdown substitutes the sig ALIAS through the
    * projection — the fused minhash expression then evaluates 3x per
    * row (twice in a scan-level filter, once in the projection; the
    * dumped plan doubled the cold wall). Every signature here is a
    * non-null length-k array, so outer vs inner emit identical rows
    * and the filter was pure waste.
    */
  private[queries] def sketchUnionMinFold(
      sigs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sigs
      .select(col("source"), posexplode_outer(col("sig")).as(Seq("_pos", "_v")))
      .groupBy(col("source"), col("_pos"))
      .agg(min(col("_v")).as("_min"))
      .groupBy(col("source"))
      .agg(
        count(col("_pos")).cast("int").as("sketch_len"),
        concat_ws(",",
          min(when(col("_pos") === 0, col("_min"))),
          min(when(col("_pos") === 1, col("_min")))).as("sketch_head"))
}
