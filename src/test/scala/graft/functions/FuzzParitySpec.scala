package graft.functions

import graft.SparkSpec
import graft.ops.{Dedup, DedupOracles, TextOps}
import org.apache.spark.sql.functions._

/** Seeded randomized parity sweep over ALL round-19 fused expressions
  * at once: 400 adversarial strings (whitespace runs of every ASCII
  * `\s` member, U+00A0 and other non-`\s` unicode spaces, multibyte
  * chars, surrogate-pair emoji, punctuation clusters, empty and
  * blank-only strings) flow through the fused tokenizer / punct
  * counter / line splitter / simhash / minhash and their
  * interpreted-HOF predecessors in ONE DataFrame — any divergence in
  * any row fails with the offending string. Deterministic (fixed
  * seed): a failure reproduces exactly.
  */
class FuzzParitySpec extends SparkSpec {
  import spark.implicits._

  private def corpus: Seq[String] = {
    val rnd = new scala.util.Random(20260816L)
    val atoms: IndexedSeq[String] = IndexedSeq(
      "a", "b", "the", "Fox", "JUMPS", "x9", "0", "42",
      " ", "  ", "\t", "\n", "\r", "\f", "", "\r\n",
      " ", " ", "　",          // unicode spaces: NOT java-regex \s
      "é", "ü", "ß", "北", "京", "🎉", "𝕊",   // 2-4 byte UTF-8, incl. surrogate pair
      ".", ",", "!", "?", "{", "}", "[", "]", "@", "#", "~", "`", "\\", "\"", "'",
      "...", "!!!", "a.b", "e@x.io"
    )
    val cases = (1 to 394).map { _ =>
      val n = rnd.nextInt(30)
      (1 to n).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
    }
    cases ++ Seq("", " ", "\t\n", " ", "only one token", null)
  }

  test("fuzz: all fused text expressions equal their HOF predecessors on 400 random strings") {
    val df = corpus.toDF("text").repartition(4) // exchange forces codegen'd executor-side eval
    val hofTokens = filter(split(lower(trim(col("text"))), "\\s+"), t => length(t) > 0)
    val rows = df.select(
      col("text"),
      TextOps.tokens(col("text")).as("tok_f"),
      hofTokens.as("tok_h"),
      TextFunctions.countAsciiPunct(col("text")).as("punct_f"),
      length(regexp_replace(col("text"), "[^\\p{Punct}]", "")).as("punct_h"),
      TextFunctions.nonBlankLines(col("text")).as("lines_f"),
      filter(split(col("text"), "\n"), l => length(trim(l)) > 0).as("lines_h"),
      Dedup.simhash(col("text")).as("sim_f"),
      DedupOracles.simhashHof(col("text")).as("sim_h"),
      TextFunctions.minhashSig(TextOps.tokens(col("text")), 3, 16, 42L).as("mh_f"),
      DedupOracles.stagedMinhashSignature(col("text"), 3, 16, 42L).as("mh_h")
    ).as[(Option[String], Option[Seq[String]], Option[Seq[String]], Option[Int], Option[Int],
          Option[Seq[String]], Option[Seq[String]], Option[Long], Option[Long],
          Option[Seq[Long]], Option[Seq[Long]])].collect()
    assert(rows.length == corpus.length)
    rows.foreach { case (t, tf, th, pf, ph, lf, lh, sf, sh, mf, mh) =>
      def show = t.map(_.flatMap {
        case c if c < 0x20 || c == 0xA0 => f"\\u$c%04x"
        case c => c.toString
      }).getOrElse("NULL")
      assert(tf == th, s"tokens diverge on <$show>: $tf vs $th")
      assert(pf == ph, s"punct diverges on <$show>: $pf vs $ph")
      assert(lf == lh, s"lines diverge on <$show>: $lf vs $lh")
      assert(sf == sh, s"simhash diverges on <$show>: $sf vs $sh")
      assert(mf == mh, s"minhash diverges on <$show>: $mf vs $mh")
    }
  }
}
