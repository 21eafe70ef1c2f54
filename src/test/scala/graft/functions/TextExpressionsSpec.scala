package graft.functions

import graft.SparkSpec
import graft.ops.TextOps
import org.apache.spark.sql.functions._

/** Parity pins for the round-18 fused text expressions: SpanGrams and
  * GramHashes must reproduce their interpreted-HOF predecessors
  * bit-for-bit — the fusion is a pure performance move and any value
  * drift would silently re-key every span/gram aggregation
  * (q85/q88/q90).
  */
class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "short doc"),                         // shorter than n → one whole-sequence gram
    (2L, ""),                                  // empty text
    (3L, "   spaced    out   tokens   "),      // tokenizer whitespace runs
    (4L, null.asInstanceOf[String]),           // null text → null gram array
    (5L, "exactly three tokens")               // size == n boundary
  ).toDF("id", "text")

  private def hofSpans(n: Int) = {
    val toks = TextOps.tokens(col("text"))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  private def hofGramHashes(n: Int) = {
    val th = transform(TextOps.tokens(col("text")), t => xxhash64(t))
    when(size(th) < n, array(xxhash64(th)))
      .otherwise(transform(sequence(lit(0), size(th) - n),
        i => xxhash64(slice(th, i + 1, lit(n)))))
  }

  test("SpanGrams equals the interpreted HOF tree on every row shape") {
    for (n <- Seq(1, 3, 10)) {
      val rows = texts
        .select(col("id"),
          TextFunctions.spanGrams(TextOps.tokens(col("text")), n).as("fused"),
          hofSpans(n).as("hof"))
        .as[(Long, Seq[String], Seq[String])].collect()
      rows.foreach { case (id, fused, hof) =>
        assert(fused == hof, s"n=$n id=$id: fused=$fused hof=$hof")
      }
    }
  }

  test("GramHashes equals the interpreted xxhash64 HOF tree bit-for-bit") {
    for (n <- Seq(1, 3, 10)) {
      val rows = texts
        .select(col("id"),
          TextFunctions.gramHashes(TextOps.tokens(col("text")), n).as("fused"),
          hofGramHashes(n).as("hof"))
        .as[(Long, Seq[Long], Seq[Long])].collect()
      rows.foreach { case (id, fused, hof) =>
        assert(fused == hof, s"n=$n id=$id: fused=$fused hof=$hof")
      }
    }
  }

  test("fused expressions handle null token-array elements like their HOF forms") {
    // concat_ws skips nulls; xxhash64(null) contributes the seed
    val df = Seq(1).toDF("x")
      .select(array(lit("a"), lit(null.asInstanceOf[String]), lit("b")).as("toks"))
    val spans = df.select(TextFunctions.spanGrams(col("toks"), 2).as("s"),
      transform(sequence(lit(0), size(col("toks")) - 2),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(2)))).as("h"))
      .as[(Seq[String], Seq[String])].head()
    assert(spans._1 == spans._2, s"spans: fused=${spans._1} hof=${spans._2}")
    val hashes = df.select(TextFunctions.gramHashes(col("toks"), 2).as("g"),
      transform(sequence(lit(0), size(col("toks")) - 2),
        i => xxhash64(slice(transform(col("toks"), t => xxhash64(t)), i + 1, lit(2)))).as("h"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(hashes._1 == hashes._2, s"hashes: fused=${hashes._1} hof=${hashes._2}")
  }
}
