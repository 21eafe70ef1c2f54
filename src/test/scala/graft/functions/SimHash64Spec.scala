package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, DedupOracles, TextOps}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Parity pins for the round-19 fused [[SimHash64]] expression: it must
  * reproduce the nested-HOF formulation ([[DedupOracles.simhashHof]]) bit-for-
  * bit — the fusion is a pure performance move and any drift would
  * silently re-key q43's full-corpus output.
  */
class SimHash64Spec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "one"),
    (2L, ""),                                  // empty text → 0L (no votes)
    (3L, "   spaced    out   tokens   "),
    (4L, null.asInstanceOf[String]),           // null text → null simhash
    (5L, "repeated repeated repeated repeated"),
    (6L, "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 20),
    (7L, "ünïcødé tøkens façade naïve 北京 東京")
  ).toDF("id", "text")

  test("SimHash64 equals the nested-HOF tree bit-for-bit") {
    val rows = texts
      .select(col("id"),
        TextFunctions.simhash64(TextOps.tokens(col("text"))).as("fused"),
        DedupOracles.simhashHof(col("text")).as("hof"))
      .as[(Long, Option[Long], Option[Long])].collect()
    assert(rows.length == 8)
    rows.foreach { case (id, fused, hof) =>
      assert(fused == hof, s"id=$id: fused=$fused hof=$hof")
    }
    // the conventions the operators rely on, explicitly
    val byId = rows.map(r => r._1 -> r._2).toMap
    assert(byId(2L).contains(0L), s"empty text must simhash to 0: ${byId(2L)}")
    assert(byId(4L).isEmpty, s"null text must simhash to null: ${byId(4L)}")
  }

  test("null token-array elements vote with xxhash64(null)'s bits, like the HOF lambda") {
    val df = Seq(1).toDF("x")
      .select(array(lit("a"), lit(null.asInstanceOf[String]), lit("b")).as("toks"))
    val (fused, hof) = df
      .select(TextFunctions.simhash64(col("toks")).as("f"),
        hofOverToks(col("toks")).as("h"))
      .as[(Long, Long)].head()
    assert(fused == hof, s"fused=$fused hof=$hof")
  }

  // DedupOracles.simhashHof tokenizes a text column; replicate its HOF body over
  // an arbitrary token-array column for the null-element case.
  private def hofOverToks(toks: org.apache.spark.sql.Column) = {
    val bitSums = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) =>
        zip_with(
          acc,
          transform(sequence(lit(0), lit(63)),
            i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(1) === 1, 1).otherwise(-1)),
          (a, b) => a + b))
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)),
        (s, i) => when(s > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc.bitwiseOR(v))
  }

  test("interpreted eval (nullSafeEval) matches the codegen path") {
    val toks = Seq("the", "quick", "brown", "fox")
    val lit0 = Literal.create(
      new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any]),
      ArrayType(StringType, containsNull = true))
    val interpreted = SimHash64(lit0).eval(null).asInstanceOf[Long]
    val viaDf = Seq(toks).toDF("toks")
      .select(TextFunctions.simhash64(col("toks"))).as[Long].head()
    assert(interpreted == viaDf, s"interpreted=$interpreted codegen=$viaDf")
  }

  test("near-dup texts stay close in Hamming distance, distinct texts far") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again in the morning"),
      (2L, "the quick brown fox jumps over the lazy dog again and again in the evening"),
      (3L, "completely unrelated legal boilerplate concerning maritime insurance claims")
    ).toDF("id", "text")
      .select(col("id"), Dedup.simhash(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(hamming(hs(1L), hs(2L)) < hamming(hs(1L), hs(3L)),
      s"near dup ${hamming(hs(1L), hs(2L))} !< distinct ${hamming(hs(1L), hs(3L))}")
  }
}
