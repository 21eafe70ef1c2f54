package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, DedupOracles, TextOps}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Parity pins for the round-19 fused [[MinHashSig]] expression: it
  * must reproduce the round-18 staged pipeline
  * ([[DedupOracles.stagedMinhashSignature]]: interpreted transform+xxhash64 →
  * JIT'd UDF) bit-for-bit — the fusion is a pure performance move and
  * any value drift would silently re-band every LSH bucket in q42/q63
  * and the near-dup scale probes.
  */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "short doc"),                         // shorter than shingleN → one whole-sequence shingle
    (2L, ""),                                  // empty text → all-zeros signature
    (3L, "   spaced    out   tokens   "),      // tokenizer whitespace runs
    (4L, null.asInstanceOf[String]),           // null text → null signature
    (5L, "exactly three tokens"),              // size == shingleN boundary
    (6L, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 20), // long doc
    (7L, "ünïcødé tøkens façade naïve 北京 東京") // multi-byte UTF-8
  ).toDF("id", "text")

  test("MinHashSig equals the staged transform+UDF pipeline bit-for-bit") {
    for ((n, k) <- Seq((1, 16), (3, 64), (10, 8))) {
      val rows = texts
        .select(col("id"),
          TextFunctions.minhashSig(TextOps.tokens(col("text")), n, k, 42L).as("fused"),
          DedupOracles.stagedMinhashSignature(col("text"), n, k, 42L).as("staged"))
        .as[(Long, Seq[Long], Seq[Long])].collect()
      assert(rows.length == 8)
      rows.foreach { case (id, fused, staged) =>
        assert(fused == staged, s"n=$n k=$k id=$id: fused=$fused staged=$staged")
      }
    }
  }

  test("MinHashSig conventions: empty text all-zeros, null text null, non-default seed") {
    val out = texts
      .select(col("id"), TextFunctions.minhashSig(TextOps.tokens(col("text")), 2, 4, 7L).as("sig"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(out(2L).contains(Seq(0L, 0L, 0L, 0L)), s"empty text: ${out(2L)}")
    assert(out(4L).isEmpty, s"null text must give null signature: ${out(4L)}")
    // non-default seed still matches the staged reference
    val pair = texts.filter(col("id") === 0L)
      .select(TextFunctions.minhashSig(TextOps.tokens(col("text")), 2, 4, 7L).as("f"),
        DedupOracles.stagedMinhashSignature(col("text"), 2, 4, 7L).as("s"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(pair._1 == pair._2)
  }

  test("null token-array elements contribute the seed, like xxhash64(null)") {
    val df = Seq(1).toDF("x")
      .select(array(lit("a"), lit(null.asInstanceOf[String]), lit("b")).as("toks"))
    val (fused, staged) = df
      .select(TextFunctions.minhashSig(col("toks"), 2, 8, 42L).as("f"),
        // staged reference on the same literal array (not via tokens())
        bridgeStaged(col("toks"), 2, 8, 42L).as("s"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(fused == staged, s"fused=$fused staged=$staged")
  }

  // The staged pipeline shape from DedupOracles.stagedMinhashSignature but over an
  // arbitrary token-array column (the oracle takes a text column).
  private def bridgeStaged(toks: org.apache.spark.sql.Column, n: Int, k: Int, seed: Long) = {
    val (a, b) = MinHashSig.affineCoeffs(k, seed)
    val c = MinHashSig.shingleCoeffs(n, seed)
    val p = MinHashSig.MersennePrime
    val f = udf { (tokenHashes: Seq[Long]) =>
      if (tokenHashes == null) null
      else {
        val th = tokenHashes.toArray.map(h => ((h % p) + p) % p)
        val out = Array.fill(k)(Long.MaxValue)
        val nShingles = math.max(1, th.length - n + 1)
        val w = math.min(n, th.length)
        for (j <- 0 until nShingles) {
          var sh = 0L
          for (t <- 0 until w) sh = (sh + c(t) * th(j + t)) % p
          for (i <- 0 until k) {
            val v = (a(i) * sh + b(i)) % p
            if (v < out(i)) out(i) = v
          }
        }
        if (th.isEmpty) Array.fill(k)(0L) else out
      }
    }
    f(transform(toks, t => xxhash64(t)))
  }

  test("interpreted eval (nullSafeEval) matches the codegen path") {
    val toks = Seq("the", "quick", "brown", "fox", "fox", "the")
    val lit = Literal.create(
      new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any]),
      ArrayType(StringType, containsNull = true))
    for ((n, k) <- Seq((1, 16), (3, 8))) {
      val interpreted = MinHashSig(lit, n, k, 42L).eval(null)
        .asInstanceOf[ArrayData].toLongArray().toSeq
      val viaDf = Seq(toks).toDF("toks")
        .select(TextFunctions.minhashSig(col("toks"), n, k, 42L)).as[Seq[Long]].head()
      assert(interpreted == viaDf, s"n=$n k=$k: interpreted=$interpreted codegen=$viaDf")
    }
  }

  test("signature values stay inside the prime field") {
    val p = MinHashSig.MersennePrime
    val sigs = texts.where(col("text").isNotNull)
      .select(TextFunctions.minhashSig(TextOps.tokens(col("text")), 3, 32, 42L).as("sig"))
      .as[Seq[Long]].collect()
    sigs.foreach(s => s.foreach(v => assert(v >= 0L && v < p, s"out of field: $v")))
  }
}
