package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** span_grams(tokens, n): every n-token window of a token array joined
  * by single spaces, in ONE compiled pass — the fused form of
  * `transform(sequence(0, size-n), i -> concat_ws(' ', slice(toks,
  * i+1, n)))`. Higher-order functions run interpreted (ArrayTransform
  * is CodegenFallback) and that tree pays, per gram: a lambda
  * dispatch, a slice() array allocation, and an interpreted concat_ws
  * — the round-16 q88 profile put span-STRING building at most of the
  * map side. Here the only per-gram allocation is the output string
  * itself (`UTF8String.concatWs`, which also matches concat_ws's
  * null-element skipping exactly).
  *
  * Shorter-than-n token arrays produce ONE whole-sequence gram — the
  * same convention as [[graft.ops.Dedup.shingles]] (reference
  * behavior: a short doc is its own span).
  */
case class SpanGrams(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"span_grams needs n >= 1, got $n")
  override def prettyName: String = "span_grams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    if (sz < n) {
      val buf = new Array[UTF8String](sz)
      var i = 0
      while (i < sz) { buf(i) = toks.getUTF8String(i); i += 1 }
      new GenericArrayData(Array[Any](UTF8String.concatWs(space, buf: _*)))
    } else {
      val out = new Array[Any](sz - n + 1)
      val buf = new Array[UTF8String](n)
      var g = 0
      while (g <= sz - n) {
        var j = 0
        while (j < n) { buf(j) = toks.getUTF8String(g + j); j += 1 }
        out(g) = UTF8String.concatWs(space, buf: _*)
        g += 1
      }
      new GenericArrayData(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val spaceRef = ctx.addReferenceObj("space", space, "UTF8String")
      val sz = ctx.freshName("sz"); val out = ctx.freshName("out")
      val buf = ctx.freshName("buf"); val g = ctx.freshName("g")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      s"""
         |int $sz = $toks.numElements();
         |Object[] $out;
         |if ($sz < $n) {
         |  UTF8String[] $buf = new UTF8String[$sz];
         |  for (int $i = 0; $i < $sz; $i++) { $buf[$i] = $toks.getUTF8String($i); }
         |  $out = new Object[]{ UTF8String.concatWs($spaceRef, $buf) };
         |} else {
         |  $out = new Object[$sz - $n + 1];
         |  UTF8String[] $buf = new UTF8String[$n];
         |  for (int $g = 0; $g <= $sz - $n; $g++) {
         |    for (int $j = 0; $j < $n; $j++) { $buf[$j] = $toks.getUTF8String($g + $j); }
         |    $out[$g] = UTF8String.concatWs($spaceRef, $buf);
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** gram_hashes(tokens, n): the 64-bit n-gram hashes of a token array in
  * ONE compiled pass, bit-for-bit equal to the HOF formulation
  * `transform(sequence(0, size-n), i -> xxhash64(slice(transform(toks,
  * xxhash64), i+1, n)))` — each token hashes once
  * (`XXH64.hashUTF8String`, seed 42 = Spark's xxhash64 default), each
  * gram is the element-chained fold `h = hashLong(tokHash, h)` that
  * Spark's hash expressions apply to arrays. Null tokens contribute the
  * seed, exactly as `xxhash64(null)` does. The HOF tree paid, per gram,
  * an interpreted lambda dispatch + a slice() allocation + an
  * interpreted array hash; here there are zero per-gram allocations.
  *
  * Shorter-than-n arrays produce ONE whole-sequence hash — the same
  * convention as [[SpanGrams]].
  */
case class GramHashes(child: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"gram_hashes needs n >= 1, got $n")
  override def prettyName: String = "gram_hashes"
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  private val seed = 42L

  override def nullSafeEval(v: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val toks = v.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    val th = new Array[Long](sz)
    var i = 0
    while (i < sz) {
      th(i) = if (toks.isNullAt(i)) seed else XXH64.hashUTF8String(toks.getUTF8String(i), seed)
      i += 1
    }
    if (sz < n) {
      var h = seed
      i = 0
      while (i < sz) { h = XXH64.hashLong(th(i), h); i += 1 }
      new GenericArrayData(Array[Long](h))
    } else {
      val out = new Array[Long](sz - n + 1)
      var g = 0
      while (g <= sz - n) {
        var h = seed
        var j = 0
        while (j < n) { h = XXH64.hashLong(th(g + j), h); j += 1 }
        out(g) = h
        g += 1
      }
      new GenericArrayData(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val sz = ctx.freshName("sz"); val th = ctx.freshName("th")
      val out = ctx.freshName("out"); val g = ctx.freshName("g")
      val j = ctx.freshName("j"); val i = ctx.freshName("i"); val h = ctx.freshName("h")
      s"""
         |int $sz = $toks.numElements();
         |long[] $th = new long[$sz];
         |for (int $i = 0; $i < $sz; $i++) {
         |  $th[$i] = $toks.isNullAt($i) ? ${seed}L : $xxh.hashUTF8String($toks.getUTF8String($i), ${seed}L);
         |}
         |long[] $out;
         |if ($sz < $n) {
         |  long $h = ${seed}L;
         |  for (int $i = 0; $i < $sz; $i++) { $h = $xxh.hashLong($th[$i], $h); }
         |  $out = new long[]{ $h };
         |} else {
         |  $out = new long[$sz - $n + 1];
         |  for (int $g = 0; $g <= $sz - $n; $g++) {
         |    long $h = ${seed}L;
         |    for (int $j = 0; $j < $n; $j++) { $h = $xxh.hashLong($th[$g + $j], $h); }
         |    $out[$g] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** minhash_sig(tokens, shingleN, k, seed): the k-long MinHash signature
  * of a token array in ONE compiled pass — the fused form of the staged
  * pipeline `transform(toks, xxhash64)` → JIT'd Scala UDF that
  * [[graft.ops.Dedup.withMinhashSignature]] ran through round 18. The
  * staged shape was already fast, but its two remaining stages still
  * paid per row: an interpreted `ArrayTransform` dispatch per TOKEN
  * (~100 ns each — ArrayTransform is CodegenFallback) and a
  * Seq[Long]-boxing UDF bridge (ArrayData → boxed Seq, result array →
  * GenericArrayData via the encoder). Here both collapse into the
  * generated loop: one `XXH64.hashUTF8String` per token, the shingle
  * affine fold, and the k-way min all run over primitive long[] with
  * zero per-token allocation.
  *
  * Value parity is BIT-FOR-BIT with the staged path (MinHashSigSpec
  * pins it over every row shape, and the staged reference stays in
  * test sources as `DedupOracles.stagedMinhashSignature`): token hash = Spark's
  * `xxhash64(tok)` (seed 42, null tokens contribute the seed exactly
  * like `xxhash64(null)`), normalized into the 2^31-1 prime field;
  * shingle hash = the order-sensitive affine combination of its
  * tokens' hashes; sig_i = min over shingles of (a_i·sh + b_i) mod p.
  * Empty token arrays produce the all-zeros signature and a null array
  * a null signature — the exact conventions the LSH banding entry
  * points (null-sig filter, degenerate-bucket guard) already rely on.
  * All products stay below 2^62 (coefficients and hashes both < 2^31),
  * so the arithmetic never overflows a long.
  */
case class MinHashSig(child: Expression, shingleN: Int, k: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(shingleN >= 1, s"minhash_sig needs shingleN >= 1, got $shingleN")
  require(k >= 1, s"minhash_sig needs k >= 1, got $k")
  override def prettyName: String = "minhash_sig"
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  @transient private lazy val (aArr, bArr) = MinHashSig.affineCoeffs(k, seed)
  @transient private lazy val cArr = MinHashSig.shingleCoeffs(shingleN, seed)
  private def p = MinHashSig.MersennePrime
  // Token hashes are Spark's `xxhash64(tok)` — ALWAYS its default seed
  // 42, independent of `seed` (which drives only the coefficient
  // derivation): the staged pipeline this expression must match
  // bit-for-bit calls the one-arg xxhash64, and a null token
  // contributes that default seed exactly like `xxhash64(null)`.
  private def xxSeed = MinHashSig.TokenHashSeed

  override def nullSafeEval(v: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val toks = v.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    val out = new Array[Long](k)
    if (sz > 0) {
      val th = new Array[Long](sz)
      var i = 0
      while (i < sz) {
        val h = if (toks.isNullAt(i)) xxSeed else XXH64.hashUTF8String(toks.getUTF8String(i), xxSeed)
        th(i) = ((h % p) + p) % p
        i += 1
      }
      java.util.Arrays.fill(out, Long.MaxValue)
      val nShingles = math.max(1, sz - shingleN + 1)
      val w = math.min(shingleN, sz)
      var j = 0
      while (j < nShingles) {
        var sh = 0L
        var t = 0
        while (t < w) { sh = (sh + cArr(t) * th(j + t)) % p; t += 1 }
        var i2 = 0
        while (i2 < k) {
          val x = (aArr(i2) * sh + bArr(i2)) % p
          if (x < out(i2)) out(i2) = x
          i2 += 1
        }
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
      val cRef = ctx.addReferenceObj("minhashC", cArr, "long[]")
      val sz = ctx.freshName("sz"); val th = ctx.freshName("th")
      val out = ctx.freshName("out"); val h = ctx.freshName("h")
      val nSh = ctx.freshName("nShingles"); val w = ctx.freshName("w")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val t = ctx.freshName("t"); val i2 = ctx.freshName("i2")
      val sh = ctx.freshName("sh"); val x = ctx.freshName("x")
      s"""
         |int $sz = $toks.numElements();
         |long[] $out = new long[$k];
         |if ($sz > 0) {
         |  long[] $th = new long[$sz];
         |  for (int $i = 0; $i < $sz; $i++) {
         |    long $h = $toks.isNullAt($i) ? ${xxSeed}L : $xxh.hashUTF8String($toks.getUTF8String($i), ${xxSeed}L);
         |    $th[$i] = (($h % ${p}L) + ${p}L) % ${p}L;
         |  }
         |  java.util.Arrays.fill($out, Long.MAX_VALUE);
         |  int $nSh = java.lang.Math.max(1, $sz - $shingleN + 1);
         |  int $w = java.lang.Math.min($shingleN, $sz);
         |  for (int $j = 0; $j < $nSh; $j++) {
         |    long $sh = 0L;
         |    for (int $t = 0; $t < $w; $t++) { $sh = ($sh + $cRef[$t] * $th[$j + $t]) % ${p}L; }
         |    for (int $i2 = 0; $i2 < $k; $i2++) {
         |      long $x = ($aRef[$i2] * $sh + $bRef[$i2]) % ${p}L;
         |      if ($x < $out[$i2]) $out[$i2] = $x;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object MinHashSig {
  val MersennePrime: Long = (1L << 31) - 1

  /** Spark's one-arg `xxhash64` default seed — the token-hash seed is
    * FIXED at this value (the `seed` constructor param only seeds the
    * coefficient Random), matching the staged pipeline's plain
    * `transform(toks, xxhash64)` for every caller seed. */
  val TokenHashSeed: Long = 42L

  /** The k affine-hash coefficient pairs — THE single derivation both
    * the fused expression and every Dedup entry point (including the
    * DuckDB-embedded [[graft.ops.Dedup.portableCoeffs]]) share: one
    * seeded Random, a-coefficients drawn before b, exactly the
    * sequence the engine has emitted since round 2 (the portable
    * oracle SQL embeds these literals, so the derivation is frozen).
    */
  def affineCoeffs(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(k)(math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1)
    val b = Array.fill(k)(math.abs(rnd.nextLong()) % MersennePrime)
    (a, b)
  }

  /** Per-position shingle-combination coefficients (same prime field,
    * seed offset keeps them independent of the affine pairs). */
  def shingleCoeffs(shingleN: Int, seed: Long): Array[Long] = {
    val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
    Array.fill(shingleN)(math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1)
  }
}

/** simhash64(tokens): the 64-bit SimHash of a token array in ONE
  * compiled pass — the fused form of the nested-HOF formulation
  * (`aggregate` over tokens of a 64-element `zip_with`/`transform`
  * vote tree) that [[graft.ops.Dedup.simhash]] ran through round 18.
  * The HOF tree evaluated ~64 interpreted nodes (when/shiftright/
  * bitwiseAND per bit, plus two array allocations) per TOKEN; here
  * each token costs one `XXH64.hashUTF8String` and a 64-iteration
  * compiled bit loop over an int[64] vote buffer — no allocation
  * beyond the buffer per row.
  *
  * Value parity is BIT-FOR-BIT with the HOF form (SimHash64Spec pins
  * it, with the HOF reference kept in test sources as
  * `DedupOracles.simhashHof`): token
  * hash = Spark's `xxhash64(tok)` (null tokens vote with the default
  * seed's bits, exactly like `xxhash64(null)` in the lambda); bit i of
  * the result is set iff the +-1 vote sum at position i is strictly
  * positive; an empty token array yields 0L and a null array a null
  * result.
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "simhash64"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  private def xxSeed = MinHashSig.TokenHashSeed

  override def nullSafeEval(v: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val toks = v.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    val sums = new Array[Int](64)
    var i = 0
    while (i < sz) {
      val h = if (toks.isNullAt(i)) xxSeed else XXH64.hashUTF8String(toks.getUTF8String(i), xxSeed)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (sums(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val sz = ctx.freshName("sz"); val sums = ctx.freshName("sums")
      val h = ctx.freshName("h"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val b2 = ctx.freshName("b2")
      val acc = ctx.freshName("acc")
      s"""
         |int $sz = $toks.numElements();
         |int[] $sums = new int[64];
         |for (int $i = 0; $i < $sz; $i++) {
         |  long $h = $toks.isNullAt($i) ? ${xxSeed}L : $xxh.hashUTF8String($toks.getUTF8String($i), ${xxSeed}L);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >> $b) & 1L) == 1L) $sums[$b]++; else $sums[$b]--;
         |  }
         |}
         |long $acc = 0L;
         |for (int $b2 = 0; $b2 < 64; $b2++) {
         |  if ($sums[$b2] > 0) $acc |= (1L << $b2);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** non_empty_strings(arr): the array with null and zero-length elements
  * removed, in ONE compiled pass — the fused form of
  * `filter(arr, t => length(t) > 0)`, which is the tail of every
  * tokenizer call (`TextOps.tokens`). ArrayFilter is CodegenFallback:
  * the HOF paid an interpreted lambda dispatch + a length() eval per
  * TOKEN on every text operator in the engine. Null elements drop
  * exactly like the HOF (a null predicate result keeps nothing).
  */
case class NonEmptyStrings(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "non_empty_strings"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    val buf = new Array[Any](sz)
    var n = 0
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        if (s.numBytes() > 0) { buf(n) = s; n += 1 }
      }
      i += 1
    }
    if (n == sz) new GenericArrayData(buf)
    else {
      val out = new Array[Any](n)
      System.arraycopy(buf, 0, out, 0, n)
      new GenericArrayData(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sz = ctx.freshName("sz"); val buf = ctx.freshName("buf")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val outRef = ctx.freshName("outArr")
      s"""
         |int $sz = $arr.numElements();
         |Object[] $buf = new Object[$sz];
         |int $n = 0;
         |for (int $i = 0; $i < $sz; $i++) {
         |  if (!$arr.isNullAt($i)) {
         |    UTF8String $s = $arr.getUTF8String($i);
         |    if ($s.numBytes() > 0) { $buf[$n++] = $s; }
         |  }
         |}
         |Object[] $outRef = ($n == $sz) ? $buf : java.util.Arrays.copyOf($buf, $n);
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($outRef);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** whitespace_tokens(str): the maximal runs of non-whitespace bytes of
  * a string, as an array — the fused form of the tokenizer tail
  * `filter(split(str, "\\s+"), t => length(t) > 0)`, replacing the
  * java.util.regex engine with a single byte scan. Parity is exact:
  * Java's `\s` (no UNICODE_CHARACTER_CLASS) is precisely the six ASCII
  * bytes 0x09–0x0D and 0x20, none of which can appear inside a UTF-8
  * multibyte sequence, so byte-level scanning is codepoint-safe and
  * non-ASCII whitespace (U+00A0 &c.) correctly does NOT split — same
  * as the regex. The split's leading-empty artifact (text starting
  * with whitespace) and trailing empties died in the filter anyway, so
  * emitting only non-empty runs IS the composed semantics. An
  * all-whitespace or empty string yields an empty array; null stays
  * null. Token values reference the scanned byte buffer (no per-token
  * copy).
  */
case class WhitespaceTokens(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "whitespace_tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    WhitespaceTokens.split(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.functions.WhitespaceTokens.split($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object WhitespaceTokens {
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** The compiled scan — shared by eval and codegen (the loop is all
    * primitive byte compares; a call beats inlining 30 lines of
    * generated Java per call site). */
  def split(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // count runs first: exact-size output array, no growth copies
    var count = 0
    var i = 0
    var inTok = false
    while (i < n) {
      val ws = isWs(bytes(i))
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n && k < count) {
      while (i < n && isWs(bytes(i))) i += 1
      val st = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > st) { out(k) = UTF8String.fromBytes(bytes, st, i - st); k += 1 }
    }
    new GenericArrayData(out)
  }
}

/** count_ascii_punct(str): how many characters of a string are ASCII
  * punctuation — the fused form of
  * `length(regexp_replace(str, "[^\\p{Punct}]", ""))`, which ran the
  * regex engine over every char and MATERIALIZED the filtered string
  * just to take its length. Java's `\p{Punct}` (no
  * UNICODE_CHARACTER_CLASS) is exactly the 32 ASCII printable
  * non-alphanumeric non-space chars, all single-byte, and UTF-8
  * multibyte sequences never contain ASCII bytes — so a byte scan
  * counts the same CHARACTERS the regex form counted.
  */
case class CountAsciiPunct(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "count_ascii_punct"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    CountAsciiPunct.count(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.CountAsciiPunct.count($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object CountAsciiPunct {
  @inline private def isPunct(b: Byte): Boolean =
    (b >= 33 && b <= 47) || (b >= 58 && b <= 64) || (b >= 91 && b <= 96) || (b >= 123 && b <= 126)

  def count(s: UTF8String): Int = {
    val bytes = s.getBytes
    var n = 0
    var i = 0
    while (i < bytes.length) { if (isPunct(bytes(i))) n += 1; i += 1 }
    n
  }
}

/** non_blank_lines(str): the `\n`-separated segments of a string that
  * contain at least one non-space character, in ONE byte scan — the
  * fused form of `filter(split(str, "\n"), l => length(trim(l)) > 0)`.
  * Kept segments are the ORIGINAL lines (untrimmed), and the blank
  * test matches `trim`'s semantics exactly: trim strips only 0x20
  * spaces, so a tab-only line is non-blank in both forms. Empty
  * segments (consecutive newlines, leading/trailing) drop exactly as
  * the filter dropped them. Byte-safe: 0x0A and 0x20 never occur
  * inside UTF-8 multibyte sequences.
  */
case class NonBlankLines(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "non_blank_lines"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires string, got $other")
  }

  override def nullSafeEval(v: Any): Any =
    NonBlankLines.split(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.NonBlankLines.split($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object NonBlankLines {
  def split(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    var st = 0
    // pass 1: count non-blank segments (blank = only 0x20 bytes)
    var nonBlank = false
    while (i <= n) {
      if (i == n || bytes(i) == 0x0A) {
        if (nonBlank) count += 1
        nonBlank = false
      } else if (bytes(i) != 0x20) nonBlank = true
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0; st = 0; nonBlank = false
    while (i <= n && k < count) {
      if (i == n || bytes(i) == 0x0A) {
        if (nonBlank) { out(k) = UTF8String.fromBytes(bytes, st, i - st); k += 1 }
        st = i + 1
        nonBlank = false
      } else if (bytes(i) != 0x20) nonBlank = true
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** count_in_set(arr, words): how many elements of a string array are in
  * a fixed word set, in ONE compiled pass over a hash set — the fused
  * form of `size(filter(arr, t => t.isin(w1, ..., wn)))`. The HOF form
  * paid, per TOKEN, an interpreted lambda dispatch plus an O(n) In
  * chain; stopword ratio and the language-ID scorer walk the token
  * array once per word list, so the interpreted cost multiplied by
  * five on q46's full-corpus path. Null elements count nothing,
  * exactly like `isin`'s null result under filter.
  */
case class CountInSet(child: Expression, words: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(words.nonEmpty, "count_in_set needs a non-empty word set")
  override def prettyName: String = "count_in_set"
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
      val sz = ctx.freshName("sz"); val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      s"""
         |int $sz = $arr.numElements();
         |int $cnt = 0;
         |for (int $i = 0; $i < $sz; $i++) {
         |  if (!$arr.isNullAt($i) && $setRef.contains($arr.getUTF8String($i))) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** sum_char_lengths(arr): the total `length()` (character count) of a
  * string array's elements, in ONE compiled pass — the fused form of
  * `aggregate(arr, 0L, (acc, t) => acc + length(t))`, whose
  * interpreted fold paid a lambda dispatch + boxed Long arithmetic per
  * TOKEN on the mean-token-length quality signal. A null ELEMENT nulls
  * the whole sum, exactly like the HOF fold (`acc + length(null)` is
  * null and null propagates through every later step).
  */
case class SumCharLengths(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "sum_char_lengths"
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string>, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sz = arr.numElements()
    var s = 0L
    var i = 0
    while (i < sz) {
      if (arr.isNullAt(i)) return null
      s += arr.getUTF8String(i).numChars()
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val sz = ctx.freshName("sz"); val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $sz = $arr.numElements();
         |long $s = 0L;
         |for (int $i = 0; $i < $sz; $i++) {
         |  if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $arr.getUTF8String($i).numChars();
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object TextFunctions {
  /** Column wrapper for [[SpanGrams]]. */
  def spanGrams(tokens: Column, n: Int): Column =
    bridge.column(SpanGrams(bridge.expression(tokens), n))

  /** Column wrapper for [[GramHashes]]. */
  def gramHashes(tokens: Column, n: Int): Column =
    bridge.column(GramHashes(bridge.expression(tokens), n))

  /** Column wrapper for [[MinHashSig]]. */
  def minhashSig(tokens: Column, shingleN: Int, k: Int, seed: Long): Column =
    bridge.column(MinHashSig(bridge.expression(tokens), shingleN, k, seed))

  /** Column wrapper for [[SimHash64]]. */
  def simhash64(tokens: Column): Column =
    bridge.column(SimHash64(bridge.expression(tokens)))

  /** Column wrapper for [[NonEmptyStrings]]. */
  def nonEmptyStrings(arr: Column): Column =
    bridge.column(NonEmptyStrings(bridge.expression(arr)))

  /** Column wrapper for [[WhitespaceTokens]]. */
  def whitespaceTokens(str: Column): Column =
    bridge.column(WhitespaceTokens(bridge.expression(str)))

  /** Column wrapper for [[CountAsciiPunct]]. */
  def countAsciiPunct(str: Column): Column =
    bridge.column(CountAsciiPunct(bridge.expression(str)))

  /** Column wrapper for [[NonBlankLines]]. */
  def nonBlankLines(str: Column): Column =
    bridge.column(NonBlankLines(bridge.expression(str)))

  /** Column wrapper for [[CountInSet]]. */
  def countInSet(arr: Column, words: Seq[String]): Column =
    bridge.column(CountInSet(bridge.expression(arr), words))

  /** Column wrapper for [[SumCharLengths]]. */
  def sumCharLengths(arr: Column): Column =
    bridge.column(SumCharLengths(bridge.expression(arr)))
}
