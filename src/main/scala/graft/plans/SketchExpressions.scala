package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._

/** Native sketch expressions: MinHash signatures and SimHash, over an
  * `array<long>` of pre-hashed tokens/shingles.
  *
  * The composable formulations (`transform(sequence(0,k-1), j ->
  * aggregate(set, maxLong, (acc,x) -> least(acc, xxhash64(x,j))))` and the
  * 64-wide `zip_with` fold) are interpreted per element — k×|set| boxed
  * expression evaluations per row. These expressions generate (and
  * interpret-eval with) two tight primitive loops using the same XXH64
  * primitive Spark's `xxhash64` builds on. Signature semantics:
  * sig[j] = min over x of XXH64.hashLong(x, seed=j).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<bigint> (pre-hashed shingles), got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = XXH64.hashLong(x, j.toLong)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sig = ctx.freshName("sig"); val x = ctx.freshName("x"); val h = ctx.freshName("h")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $a.numElements();
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $a.getLong($i);
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $h = $xxh.hashLong($x, (long) $j);
         |    if ($h < $sig[$j]) $sig[$j] = $h;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over pre-hashed tokens: bit b of the output is the sign
  * of Σ_tokens (bit b of hash ? +1 : -1). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires array<bigint> (pre-hashed tokens), got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val counts = ctx.freshName("counts"); val h = ctx.freshName("h"); val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) { if ($counts[$b] > 0) $sig |= (1L << $b); }
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word-n-gram shingle hashes straight from a token array: hash
  * each token's UTF8 bytes once, chain n consecutive token hashes per
  * shingle, sort + unique the result — one primitive loop, no
  * intermediate shingle strings. Replaces
  * `array_distinct(transform(shingles(text, n), xxhash64))`, whose
  * per-element interpreted evaluation measured ~38 µs per shingle
  * (11 s for a 5k-doc corpus vs <0.5 s for this expression). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def prettyName: String = "graft_shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes requires array<string> tokens, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val t = a.numElements()
    val m = t - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](t)
    var i = 0
    while (i < t) {
      val s = a.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var acc = 42L
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(i + j), acc); j += 1 }
      out(i) = acc
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    i = 1
    while (i < m) { if (out(i) != out(i - 1)) { out(w) = out(i); w += 1 }; i += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = classOf[XXH64].getName
      val t = ctx.freshName("t"); val m = ctx.freshName("m"); val th = ctx.freshName("th")
      val out = ctx.freshName("out"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val acc = ctx.freshName("acc"); val w = ctx.freshName("w"); val s = ctx.freshName("s")
      s"""
         |int $t = $a.numElements();
         |int $m = $t - $n + 1;
         |if ($m <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $th = new long[$t];
         |  for (int $i = 0; $i < $t; $i++) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $a.getUTF8String($i);
         |    $th[$i] = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |  }
         |  long[] $out = new long[$m];
         |  for (int $i = 0; $i < $m; $i++) {
         |    long $acc = 42L;
         |    for (int $j = 0; $j < $n; $j++) { $acc = $xxh.hashLong($th[$i + $j], $acc); }
         |    $out[$i] = $acc;
         |  }
         |  java.util.Arrays.sort($out);
         |  int $w = 1;
         |  for (int $i = 1; $i < $m; $i++) {
         |    if ($out[$i] != $out[$i - 1]) { $out[$w] = $out[$i]; $w++; }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    java.util.Arrays.copyOf($out, $w));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-position (bigram hash, first-word hash) pairs straight from a
  * token array — the exploded count stream an n-gram LM aggregates and
  * joins on: 8-byte keys instead of gram strings, one tight loop per row
  * (the HOF string-shingle formulation measured ~4× slower at sf0.1 in
  * q65). Hashes use the [[ShingleHashes]] chain (token bytes once, then
  * XXH64-chained), multiplicity and pairing preserved, NULL tokens
  * dropped. Output: `array<struct<g:bigint, w:bigint>>` of length
  * max(0, tokens-1). */
case class BigramHashes(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_bigram_hashes"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("g", LongType, nullable = false),
      StructField("w", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bigram_hashes requires array<string> tokens, got ${other.simpleString}")
  }

  def computeRow(v: ArrayData): ArrayData = {
    val total = v.numElements()
    val th0 = new Array[Long](total)
    var t = 0
    var k = 0
    while (k < total) {
      val s = v.getUTF8String(k)
      if (s != null) {
        th0(t) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        t += 1
      }
      k += 1
    }
    val m = t - 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val g = XXH64.hashLong(th0(i + 1), XXH64.hashLong(th0(i), 42L))
      out(i) = InternalRow(g, th0(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = computeRow(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bigramHashes", this, classOf[BigramHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.computeRow($a);")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ENGINE-PORTABLE sketch hashing: every value is reproducible in any
  * engine with an `md5()` — the DuckDB oracle recomputes the identical
  * sketches from literal SQL, turning MinHash/SimHash outputs from
  * rows-only checks into hash-exact ones.
  *
  * Base hash: the big-endian int64 of the first 8 md5 bytes of the UTF-8
  * string. In SQL: `(CASE WHEN hi >= 2^31 THEN hi - 2^32 ELSE hi END) *
  * 2^32 + lo`, with hi/lo the first/second 8 hex chars of `md5(x)` parsed
  * as integers — the signed reconstruction avoids any unsigned-shift or
  * overflow semantics an engine might check.
  *
  * MinHash rehash family: g_j(x) = (a_j·(x & 0xFFFFFFFF) + b_j) mod 2^32,
  * the textbook universal-hash construction — ONE md5 per element plus k
  * multiply-adds, instead of k md5 invocations. a_j odd in [1, 2^30) and
  * x < 2^32 keep a_j·x + b_j < 2^63, so the arithmetic never overflows in
  * engines that check (DuckDB raises on BIGINT overflow; Java wraps —
  * staying under 2^63 makes both produce the same value). */
object PortableSketch {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def md5Long(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def md5Long(s: org.apache.spark.unsafe.types.UTF8String): Long = md5Long(s.getBytes)

  /** Elementwise [[md5Long]] over a string array, NULL elements dropped —
    * the shared body of `PortableHash64`'s eval and codegen. */
  def md5Hashes(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var w = 0
    var i = 0
    while (i < n) {
      val s = a.getUTF8String(i)
      if (s != null) { out(w) = md5Long(s); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == n) out else java.util.Arrays.copyOf(out, w))
  }

  /** Portable order-sensitive rolling fingerprint: left fold
    * acc ← md5Long(decimal(acc) ‖ '|' ‖ token) from seed 0 (decimal "0"),
    * final acc as the 64-bit fingerprint (0 for an empty stream). The
    * decimal re-stringification per step is what makes the chain replay
    * as a DuckDB `list_reduce` — BIGINT→VARCHAR there matches Java's
    * `Long.toString` exactly, sign included. NULL tokens dropped (as
    * [[md5Hashes]]); one native loop per row vs the per-element
    * interpreted HOF `aggregate` it replaces. */
  def rollingFp(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = a.getUTF8String(i)
      if (t != null) {
        val s = java.lang.Long.toString(acc) + "|" + t.toString
        acc = md5Long(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      i += 1
    }
    acc
  }

  /** Distinct portable hashes of all word n-gram shingles of a token
    * array, in ONE tight loop: each shingle's md5 runs incrementally over
    * `token (0x20 token)*` bytes — md5("t1 t2 t3") exactly, with no
    * intermediate shingle strings — then sort+unique. NULL tokens are
    * dropped before windowing. Shared verbatim by eval and codegen of
    * [[PortableShingleHashes]]; the interpreted-HOF formulation
    * (transform + concat_ws + md5 per element) measured ~5× slower at
    * sf0.1. */
  def md5ShingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val total = tokens.numElements()
    val toks0 = new Array[Array[Byte]](total)
    var t = 0
    var k = 0
    while (k < total) {
      val s = tokens.getUTF8String(k)
      if (s != null) { toks0(t) = s.getBytes; t += 1 }
      k += 1
    }
    val m = t - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val toks = toks0
    val md = digests.get()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(toks(i + j))
        j += 1
      }
      val d = md.digest()
      out(i) = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    i = 1
    while (i < m) { if (out(i) != out(i - 1)) { out(w) = out(i); w += 1 }; i += 1 }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Positional n-gram md5 hashes: like [[md5ShingleHashes]] but
    * MULTIPLICITY-PRESERVING and in token order — the count-vector
    * feature stream (DSIR hashed grams), not the shingle SET. NULL
    * tokens dropped before pairing, < n tokens → empty. */
  def md5NgramStream(tokens: ArrayData, n: Int): ArrayData = {
    val total = tokens.numElements()
    val toks = new Array[Array[Byte]](total)
    var t = 0
    var k = 0
    while (k < total) {
      val s = tokens.getUTF8String(k)
      if (s != null) { toks(t) = s.getBytes; t += 1 }
      k += 1
    }
    val m = t - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val md = digests.get()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(toks(i + j))
        j += 1
      }
      val d = md.digest()
      out(i) = java.nio.ByteBuffer.wrap(d, 0, 8).getLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic (a_j, b_j) rehash coefficients, shared verbatim by the
    * Spark expression and the oracle SQL generator. */
  def affineCoeffs(numHashes: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Array.fill(numHashes)(rnd.nextInt(1 << 29).toLong * 2 + 1) // odd, < 2^30
    val bs = Array.fill(numHashes)(rnd.nextInt().toLong & 0xFFFFFFFFL)  // < 2^32
    (as, bs)
  }
}

/** Elementwise portable base hash: `array<string>` -> `array<long>` of
  * [[PortableSketch.md5Long]] values — one tight loop per row, no
  * per-element interpreted HOF overhead. NULL elements are dropped
  * (tokenizers never emit them; the SQL surface can) — consumers are
  * set/multiset sketches, where a null token contributes nothing. */
case class PortableHash64(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_md5_hash64"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_hash64 requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    PortableSketch.md5Hashes(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PortableSketch.md5Hashes($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Whole-chain portable rolling fingerprint (see
  * [[PortableSketch.rollingFp]]): `array<string>` → one long per row. */
case class PortableRollingFp(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_md5_rolling_fp"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_rolling_fp requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    PortableSketch.rollingFp(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PortableSketch.rollingFp($a);")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct portable shingle hashes straight from a token array — the
  * md5-slice sibling of [[ShingleHashes]], delegating both eval and
  * codegen to [[PortableSketch.md5ShingleHashes]] (the md5 work dwarfs
  * the static-call overhead). */
case class PortableShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  override def prettyName: String = "graft_md5_shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_shingle_hashes requires array<string> tokens, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    PortableSketch.md5ShingleHashes(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.plans.PortableSketch.md5ShingleHashes($a, $n);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Positional multiplicity-preserving n-gram md5 hashes — the feature
  * STREAM sibling of [[PortableShingleHashes]] (which dedupes + sorts
  * for shingle sets). One tight loop per row; the interpreted-HOF
  * formulation it replaces (transform + element_at + concat_ws, then
  * md5) measured ~17× slower at sf0.1 in q80. */
case class PortableNgramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def prettyName: String = "graft_md5_ngram_stream"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_ngram_stream requires array<string> tokens, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    PortableSketch.md5NgramStream(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = graft.plans.PortableSketch.md5NgramStream($a, $n);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Portable MinHash signature over portable base hashes:
  * sig[j] = min over x of (a_j·(x & 0xFFFFFFFF) + b_j) mod 2^32, with the
  * [[PortableSketch.affineCoeffs]] family. Same tight-loop shape as
  * [[MinHashSignature]]; an empty set yields all-2^32-1 (callers filter
  * empty docs, mirroring their absence from the oracle). */
case class AffineMinHash(child: Expression, numHashes: Int, seed: Long = 42L)
    extends UnaryExpression {

  override def prettyName: String = "graft_affine_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val coeffs = PortableSketch.affineCoeffs(numHashes, seed)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_affine_minhash requires array<bigint> (portable base hashes), got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val (as, bs) = coeffs
    val n = a.numElements()
    val sig = Array.fill(numHashes)(0xFFFFFFFFL)
    var i = 0
    while (i < n) {
      val x = a.getLong(i) & 0xFFFFFFFFL
      var j = 0
      while (j < numHashes) {
        val g = (as(j) * x + bs(j)) & 0xFFFFFFFFL
        if (g < sig(j)) sig(j) = g
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val (asArr, bsArr) = coeffs
      val aRef = ctx.addReferenceObj("affineA", asArr, "long[]")
      val bRef = ctx.addReferenceObj("affineB", bsArr, "long[]")
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val sig = ctx.freshName("sig"); val x = ctx.freshName("x"); val g = ctx.freshName("g")
      s"""
         |int $n = $arr.numElements();
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, 0xFFFFFFFFL);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $x = $arr.getLong($i) & 0xFFFFFFFFL;
         |  for (int $j = 0; $j < $numHashes; $j++) {
         |    long $g = ($aRef[$j] * $x + $bRef[$j]) & 0xFFFFFFFFL;
         |    if ($g < $sig[$j]) $sig[$j] = $g;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Map-side probe of a serialized `org.apache.spark.util.sketch
  * .BloomFilter` (the public sketch API): true iff the filter might
  * contain the UTF-8 bytes of the string child — matching a build that
  * inserted with `putBinary(s.getBytes(UTF_8))` (see
  * `NearDup.incrementalDedupBloom`). The filter deserializes ONCE lazily
  * (per deserialized expression instance, i.e. once per executor task
  * set, not per row) and rides the codegen references array, so the hot
  * path is one Murmur3 pass per row with zero shuffle — the standard
  * pre-filter in front of an exact anti-join. */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  override def prettyName: String = "graft_bloom_might_contain"
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_might_contain requires string, got ${other.simpleString}")
  }

  @transient private lazy val bloom: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainBinary(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.mightContainBinary($s.getBytes());")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of common elements of two SORTED-ASCENDING, duplicate-free
  * `array<long>` columns — the fused replacement for
  * `size(array_intersect(a, b))` on shingle-set and adjacency-list
  * columns (r16 optimization; guide §1.2 step 2 / §4.1: prefer tight
  * primitive loops over generic expression machinery in the hot path).
  * `ArrayIntersect` builds a per-row hash set of boxed Longs and
  * materializes the intersection array that `size` immediately reduces
  * to its length; this expression is one merge walk over the primitive
  * values — no boxing, no hash set, no allocation. Returns BIGINT (cast
  * at call sites that previously exposed `size`'s INT).
  *
  * PRECONDITION (every caller's arrays are built this way): both inputs
  * sorted ascending with unique, non-null elements — [[ShingleHashes]] /
  * [[PortableShingleHashes]] emit sorted-deduped sets, and the triangle
  * adjacency lists are `sort_array(collect_list(...))` over distinct
  * arcs. On such inputs the merge count equals
  * `size(array_intersect(a, b))` exactly. The non-null half is enforced:
  * inputs typed `containsNull = true` fail analysis. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_sorted_intersect_count"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      // a null element would read as 0 and diverge from array_intersect:
      // nullable elements fail analysis instead of miscounting
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_sorted_intersect_count requires two array<bigint> inputs with " +
          s"non-null elements (containsNull = false), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0;
         |${ev.value} = 0L;
         |while ($i < $na && $j < $nb) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x < $y) { $i++; }
         |  else if ($x > $y) { $j++; }
         |  else { ${ev.value}++; $i++; $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SketchFunctions {
  def minhash(preHashed: Column, numHashes: Int): Column =
    EU.column(MinHashSignature(EU.expression(preHashed), numHashes))
  def simhash(preHashed: Column): Column =
    EU.column(SimHash64(EU.expression(preHashed)))
  def shingleHashes(tokens: Column, n: Int): Column =
    EU.column(ShingleHashes(EU.expression(tokens), n))
  def portableHash64(strings: Column): Column =
    EU.column(PortableHash64(EU.expression(strings)))
  def portableShingleHashes(tokens: Column, n: Int): Column =
    EU.column(PortableShingleHashes(EU.expression(tokens), n))
  def portableNgramHashes(tokens: Column, n: Int): Column =
    EU.column(PortableNgramHashes(EU.expression(tokens), n))
  def portableRollingFp(tokens: Column): Column =
    EU.column(PortableRollingFp(EU.expression(tokens)))
  def bigramHashes(tokens: Column): Column =
    EU.column(BigramHashes(EU.expression(tokens)))
  def affineMinhash(portableHashes: Column, numHashes: Int, seed: Long = 42L): Column =
    EU.column(AffineMinHash(EU.expression(portableHashes), numHashes, seed))
  def bloomMightContain(s: Column, bloomBytes: Array[Byte]): Column =
    EU.column(BloomMightContain(EU.expression(s), bloomBytes))
  def sortedIntersectCount(a: Column, b: Column): Column =
    EU.column(SortedIntersectCount(EU.expression(a), EU.expression(b)))
}
