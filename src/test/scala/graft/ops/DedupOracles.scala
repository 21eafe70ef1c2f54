package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Predecessor shapes of [[Dedup]]'s fused text hashes, kept as the
  * independent parity oracles that MinHashSigSpec, SimHash64Spec and
  * FuzzParitySpec compare the fused expressions against. */
object DedupOracles {

  /** The round-18 STAGED signature pipeline (flat interpreted
    * `transform(toks, xxhash64)` + JIT-compiled UDF over primitive
    * arrays — itself ~100× faster than the round-2 per-shingle HOF
    * tree), kept as the independent parity oracle for the fused
    * [[graft.functions.MinHashSig]] expression: MinHashSigSpec asserts
    * the two produce bit-identical signatures on every row shape, so
    * any drift in the fused codegen re-keys nothing silently.
    */
  def stagedMinhashSignature(
      textCol: Column, shingleN: Int, k: Int, seed: Long): Column = {
    val (aArr, bArr) = graft.functions.MinHashSig.affineCoeffs(k, seed)
    val cArr = graft.functions.MinHashSig.shingleCoeffs(shingleN, seed)
    val p = graft.functions.MinHashSig.MersennePrime
    val kk = k
    val nSh = shingleN
    val sigUdf = udf { (tokenHashes: Seq[Long]) =>
      // null text → null token array → null signature; the banding
      // entry points filter null signatures explicitly (xxhash64 skips
      // null args, so an unfiltered null sig would degenerate-bucket)
      if (tokenHashes == null) null
      else {
      val th = tokenHashes.toArray
      var i = 0
      while (i < th.length) { th(i) = ((th(i) % p) + p) % p; i += 1 }
      val nShingles = math.max(1, th.length - nSh + 1)
      val out = Array.fill(kk)(Long.MaxValue)
      var j = 0
      while (j < nShingles) {
        // shingle hash: affine combination of its tokens' hashes — token
        // order matters, matching string shingles' order sensitivity
        var sh = 0L
        var t = 0
        val w = math.min(nSh, th.length)
        while (t < w) { sh = (sh + cArr(t) * th(j + t)) % p; t += 1 }
        var i2 = 0
        while (i2 < kk) {
          val v = (aArr(i2) * sh + bArr(i2)) % p
          if (v < out(i2)) out(i2) = v
          i2 += 1
        }
        j += 1
      }
      if (th.isEmpty) Array.fill(kk)(0L) else out
      }
    }
    sigUdf(transform(TextOps.tokens(textCol), t => xxhash64(t)))
  }

  /** The round-2 nested-HOF SimHash formulation, kept as the
    * independent parity oracle for the fused
    * [[graft.functions.SimHash64]] expression (SimHash64Spec asserts
    * bit equality on every row shape — any codegen drift would
    * silently re-key q43's full-corpus output).
    */
  def simhashHof(text: Column): Column = {
    val toks = TextOps.tokens(text)
    val bitSums = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, t) =>
        zip_with(
          acc,
          transform(
            sequence(lit(0), lit(63)),
            i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(1) === 1, 1).otherwise(-1)
          ),
          (a, b) => a + b
        )
    )
    aggregate(
      zip_with(bitSums, sequence(lit(0), lit(63)), (s, i) => when(s > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc.bitwiseOR(v)
    )
  }
}
