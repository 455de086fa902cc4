package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `minhash_sig(shingles, k)` → array<string>: per seed j in [0,k), the
  * lexicographic minimum of md5(s"$j|$shingle") hex over the shingle array.
  *
  * Semantically identical to the composable form
  * `transform(sequence(0,k-1), j -> array_min(transform(sh, x -> md5(j||'|'||x))))`
  * (and to its DuckDB oracle twin), but one-pass with a reused MessageDigest:
  * higher-order functions are interpreted with no common-subexpression
  * elimination, which made the composable form the benchmark hot spot.
  * Byte-wise unsigned comparison == hex-string comparison (hex encoding is
  * order-preserving), so the min runs on raw digests and only the winners are
  * hex-encoded. */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(shingles: Any): Any = {
    val arr = shingles.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill[Array[Byte]](numHashes)(null)
    var j = 0
    while (j < numHashes) {
      val prefix = (j.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          md.reset()
          md.update(prefix)
          md.update(arr.getUTF8String(i).getBytes)
          val dig = md.digest()
          if (mins(j) == null || unsignedLt(dig, mins(j))) mins(j) = dig
        }
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins.map { m =>
      if (m == null) null
      else UTF8String.fromString(m.map("%02x".format(_)).mkString)
    }.toArray[Any])
  }

  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  override protected def withNewChildInternal(c: Expression): MinHashSigExpr = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

object MinHashSigExpr {
  def minhash_sig(shingles: Column, k: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      MinHashSigExpr(org.apache.spark.sql.graftshim.shims.expression(shingles), k))
}

/** `minhash_from_tokens(tokens, k, n)` → the same signature as
  * `minhash_sig(shingles(tokens), k)` with word n-gram shingles built on the
  * fly (shingle string = tokens i..i+n-1 joined by one space), skipping the
  * materialization of the shingle array entirely — one digest buffer, zero
  * intermediate UTF8String allocation per shingle per seed. */
case class MinHashFromTokensExpr(child: Expression, numHashes: Int, shingleLen: Int)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val nTok = arr.numElements()
    val nSh = math.max(nTok - (shingleLen - 1), 0)
    val md = java.security.MessageDigest.getInstance("MD5")
    // pre-fetch token bytes once
    val toks = Array.tabulate(nTok)(i => if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes)
    val space = " ".getBytes
    val mins = Array.fill[Array[Byte]](numHashes)(null)
    var j = 0
    while (j < numHashes) {
      val prefix = (j.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < nSh) {
        md.reset()
        md.update(prefix)
        var t = 0
        while (t < shingleLen) {
          if (t > 0) md.update(space)
          md.update(toks(i + t))
          t += 1
        }
        val dig = md.digest()
        if (mins(j) == null || MinHashFromTokensExpr.unsignedLt(dig, mins(j))) mins(j) = dig
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins.map { m =>
      if (m == null) null
      else UTF8String.fromString(m.map("%02x".format(_)).mkString)
    }.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): MinHashFromTokensExpr = copy(child = c)
  override def prettyName: String = "minhash_from_tokens"
}

object MinHashFromTokensExpr {
  private[ops] def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  def minhash_from_tokens(tokens: Column, k: Int, shingleLen: Int = 3): Column =
    org.apache.spark.sql.graftshim.shims.column(
      MinHashFromTokensExpr(org.apache.spark.sql.graftshim.shims.expression(tokens), k, shingleLen))
}

/** `simhash32(tokens)` → 32-char '0'/'1' string: bit b is 1 iff the sum over
  * tokens of ±1 (sign = top bit of the b-th md5 hex digit of the token) is
  * >= 0. Semantically identical to the HOF form over pre-hashed tokens (and
  * its DuckDB oracle), one digest per token. */
case class SimHash32Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val dig = md.digest(arr.getUTF8String(i).getBytes)
        // hex digit b (1-based in the HOF form) = high/low nibble of byte b/2;
        // its "top bit" (8..f) is nibble >= 8.
        var b = 0
        while (b < 32) {
          val byte = dig(b >> 1) & 0xff
          val nibble = if ((b & 1) == 0) byte >> 4 else byte & 0x0f
          counts(b) += (if (nibble >= 8) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(32)
    var b = 0
    while (b < 32) { sb.append(if (counts(b) >= 0) '1' else '0'); b += 1 }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(c: Expression): SimHash32Expr = copy(c)
  override def prettyName: String = "simhash32"
}

object SimHash32Expr {
  def simhash32(tokens: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      SimHash32Expr(org.apache.spark.sql.graftshim.shims.expression(tokens)))
}

/** `cosine_sim(a, b)` → double: one-pass dot/norms cosine. Replaces three
  * interpreted zip_with/aggregate folds per evaluation — it sits in the
  * pair-verify stage of the LSH/IVF paths where it runs once per CANDIDATE
  * PAIR (quadratic-in-bucket volume), the single hottest kernel of x16.
  * Bitwise identical to the fold form: dot and each norm accumulate in
  * index order with the same double ops; null element or length mismatch →
  * null (as the null-poisoned folds produced). */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType

  // nullSafeEval yields null on length mismatch / null elements even when
  // both inputs are non-null, so the inherited children-derived
  // nullability would under-claim and let downstream operators mishandle
  // the null (e.g. drop a null check in codegen).
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim needs two array<float|double>, got $other")
    }

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // zip_with over unequal lengths null-pads -> null product -> null sum;
    // a null element poisons the fold the same way.
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(l, r)
  override def prettyName: String = "cosine_sim"
}

object CosineSimExpr {
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      CosineSimExpr(org.apache.spark.sql.graftshim.shims.expression(a),
        org.apache.spark.sql.graftshim.shims.expression(b)))
}

/** `lsh_bucket(vec, planes, dims)` → '0'/'1' sign-bit string of the
  * random-hyperplane projections. One pass, one double[] fetch per row —
  * replaces `planes` interpreted zip_with/aggregate folds (HOF lambdas are
  * CodegenFallback with per-element boxing), which made the bucket stage the
  * hot spot of x07/x16. Bitwise identical to the HOF form: products and
  * accumulation run in index order with the same double arithmetic, and the
  * degenerate cases (length ≠ dims, null element) produce the all-'0' bucket
  * exactly as null-poisoned fold sums did. Hyperplane signs are md5-derived
  * at plan time ([[VectorOps.lshBucket]] documents the construction and the
  * DuckDB twin). */
case class LshBucketExpr(child: Expression, planes: Int, dims: Int)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bucket needs array<float|double>, got ${other.catalogString}")
    }

  @transient private lazy val signs: Array[Array[Double]] =
    LshBucketExpr.signMatrix(planes, dims)
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(vec: Any): Any = {
    val arr = vec.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sb = new java.lang.StringBuilder(planes)
    var degenerate = n != dims
    if (!degenerate) {
      var i = 0
      while (i < n && !degenerate) { degenerate = arr.isNullAt(i); i += 1 }
    }
    if (degenerate) {
      var p = 0
      while (p < planes) { sb.append('0'); p += 1 }
    } else {
      val v = new Array[Double](n)
      var i = 0
      if (isFloat) while (i < n) { v(i) = arr.getFloat(i).toDouble; i += 1 }
      else while (i < n) { v(i) = arr.getDouble(i); i += 1 }
      var p = 0
      while (p < planes) {
        val s = signs(p)
        var acc = 0.0
        var k = 0
        while (k < dims) { acc += v(k) * s(k); k += 1 }
        sb.append(if (acc >= 0) '1' else '0')
        p += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildInternal(c: Expression): LshBucketExpr = copy(child = c)
  override def prettyName: String = "lsh_bucket"
}

object LshBucketExpr {
  /** Component (p, i) = ±1 from the top bit of md5(s"${p}_$i") — the same
    * derivation as the SQL oracle's `substr(md5(p || '_' || i), 1, 1)`. */
  private[ops] def signMatrix(planes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, i) =>
      val dig = md.digest(s"${p}_$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((dig(0) & 0xff) >> 4) >= 8) 1.0 else -1.0
    }
  }

  def lsh_bucket(vec: Column, planes: Int, dims: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      LshBucketExpr(org.apache.spark.sql.graftshim.shims.expression(vec), planes, dims))
}

/** `hamming_bits(a, b)`: Hamming distance between two equal-length bit
  * strings, fully codegen'd (static call) — this sits inside join conditions
  * of the near-dup verifiers where an interpreted HOF form was the hot spot
  * (Catalyst pushes the verify filter into the join and re-evaluates it in
  * the output projection, so per-pair cost is paid twice). */
case class HammingBitsExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    HammingBitsExpr.distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode):
      org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.ops.HammingBitsExpr.distance($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingBitsExpr =
    copy(l, r)
  override def prettyName: String = "hamming_bits"
}

object HammingBitsExpr {
  /** Bytewise compare is correct for '0'/'1' ASCII strings. */
  def distance(a: UTF8String, b: UTF8String): Int = {
    val ab = a.getBytes; val bb = b.getBytes
    val n = math.min(ab.length, bb.length)
    var d = math.abs(ab.length - bb.length)
    var i = 0
    while (i < n) { if (ab(i) != bb(i)) d += 1; i += 1 }
    d
  }

  def hamming_bits(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      HammingBitsExpr(org.apache.spark.sql.graftshim.shims.expression(a),
        org.apache.spark.sql.graftshim.shims.expression(b)))
}

/** `nfc_normalize(s)` → string: Unicode NFC normalization (canonical
  * composition), the first step of corpus text cleaning — byte-level
  * variants of the same rendered text (decomposed accents, compatibility
  * leftovers from scrapers) collapse to one canonical form so exact-dedup
  * fingerprints and shingle hashes agree across sources. Mirrors DuckDB's
  * `nfc_normalize` (both implement Unicode normalization form C, so the
  * oracle replicates it verbatim). Codegen'd as a static call; ASCII input
  * short-circuits inside the JDK (Normalizer quick-check), so the common
  * case costs one scan of the bytes. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(s: Any): Any =
    NfcNormalizeExpr.nfc(s.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode):
      org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.ops.NfcNormalizeExpr.nfc($s)")
  override protected def withNewChildInternal(c: Expression): NfcNormalizeExpr = copy(c)
  override def prettyName: String = "nfc_normalize"
}

object NfcNormalizeExpr {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // quick-check inside Normalizer makes the already-NFC path allocation-light
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      NfcNormalizeExpr(org.apache.spark.sql.graftshim.shims.expression(c)))
}

/** `rolling_fps(text, window, k)` → array<long>: the `k` smallest DISTINCT
  * Rabin-Karp polynomial rolling hashes over all byte windows of length
  * `window`, ascending — a character-level content fingerprint (the
  * rolling-hash member of the fingerprint family next to x11's whole-doc
  * md5 and x36's token-shingle winnowing). ONE O(n) pass: the hash of each
  * window derives from its predecessor in O(1) (subtract the leaving byte's
  * B^{w-1} term, multiply by B, add the entering byte), vs O(n·w) for
  * hashing every window from scratch — the md5-per-shingle cost winnowing
  * pays. The k-min selection runs inside the expression in a k-length
  * insertion buffer, so a row's output is bounded at k longs no matter how
  * long the document is. B = 256 over bytes, M = 2³¹−1 (h·B + 255 < 2⁴⁰
  * keeps every step exact in int64 — and exactly replicable in DuckDB
  * BIGINT arithmetic, which is what makes the oracle possible). Texts
  * shorter than `window` emit an empty array. Min-selection over ALL
  * windows is shift-robust the way winnowing's per-window min is not
  * guaranteed to be: the k global minima survive any reordering of the
  * surrounding text. */
case class RollingFpExpr(child: Expression, window: Int, k: Int) extends UnaryExpression {
  require(window >= 1 && window <= 1024, s"window must be in [1, 1024], got $window")
  require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    RollingFpExpr.fps(s.asInstanceOf[UTF8String], window, k)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode):
      org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.ops.RollingFpExpr.fps($s, $window, $k)")
  override protected def withNewChildInternal(c: Expression): RollingFpExpr = copy(child = c)
  override def prettyName: String = "rolling_fps"
}

object RollingFpExpr {
  private val M = 2147483647L // 2^31 - 1 (prime); h < M, h*256 + 255 < 2^40

  def fps(s: UTF8String, window: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    if (b.length < window)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    // B^{window-1} mod M: the leaving byte's positional weight
    var pw = 1L
    var e = 0
    while (e < window - 1) { pw = pw * 256 % M; e += 1 }
    val best = new Array[Long](k) // ascending k-min buffer, distinct values
    var size = 0
    var h = 0L
    var i = 0
    while (i < b.length) {
      if (i >= window) h = (h - (b(i - window) & 0xffL) * pw % M + M) % M
      h = (h * 256 + (b(i) & 0xffL)) % M
      if (i >= window - 1 && (size < k || h < best(size - 1))) {
        var p = 0
        while (p < size && best(p) < h) p += 1
        if (p == size || best(p) != h) { // distinct only
          val newSize = math.min(size + 1, k)
          var q = newSize - 1
          while (q > p) { best(q) = best(q - 1); q -= 1 }
          best(p) = h
          size = newSize
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(best, size))
  }

  def rolling_fps(c: Column, window: Int, k: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      RollingFpExpr(org.apache.spark.sql.graftshim.shims.expression(c), window, k))
}

/** `bloom_might_contain(bm, x)` → boolean: membership probe against a
  * [[Sketches.bloomBuild]] packed-long bitmap, all `hashes` bits set.
  * Semantically identical to the composable
  * `forall(transform(sequence(0,k-1), p -> bucket(x,p)), bit test)` form
  * (and to the spec's naive-set reference), but one pass with a reused
  * MessageDigest and an early exit on the first clear bit — the
  * interpreted-HOF form re-allocated per probe and was the whole cost of
  * the x42 bloom gate. Bucket scheme matches Sketches.bucket: first two
  * md5 bytes of "p|x" mod `bits`. */
case class BloomContainsExpr(left: Expression, right: Expression, bits: Int, hashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  require(bits > 0 && bits <= 65536 && bits % 64 == 0,
    s"bits must be in (0, 65536] and pack into longs, got $bits")
  override def dataType: DataType = BooleanType

  override def nullSafeEval(bm: Any, x: Any): Any = {
    val arr = bm.asInstanceOf[ArrayData]
    val xb = x.asInstanceOf[UTF8String].getBytes
    val md = java.security.MessageDigest.getInstance("MD5")
    var p = 0
    while (p < hashes) {
      md.reset()
      md.update((p.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(xb)
      val dig = md.digest()
      val pos = (((dig(0) & 0xff) << 8) | (dig(1) & 0xff)) % bits
      if ((arr.getLong(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      p += 1
    }
    true
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContainsExpr =
    copy(left = l, right = r)
  override def prettyName: String = "bloom_might_contain"
}

object BloomContainsExpr {
  def bloom_might_contain(bm: Column, x: Column, bits: Int, hashes: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      BloomContainsExpr(org.apache.spark.sql.graftshim.shims.expression(bm),
        org.apache.spark.sql.graftshim.shims.expression(x), bits, hashes))
}

/** `int8_dist2(a, b)` → exact int64 squared distance between two int-code
  * arrays — the hot kernel of every quantized-vector operator (x70 bucketed
  * assignment alone evaluates it ~10⁸ times per pass at sf0.1: centroids ×
  * coarse cells, probes × cells, pairs × survivors). The composed HOF form
  * (`aggregate(zip_with(...))`) pays two interpreted lambda evals plus
  * boxing PER ELEMENT; this is one virtual call per PAIR with a primitive
  * while-loop inside — the same replacement that took the x07/x16 bucket
  * stage off the profile (LshBucketExpr above).
  *
  * Bitwise-identical contract to `aggregate(zip_with(a, b, (x,y) =>
  * (x-y)²), 0L, +)`: unequal lengths → null (zip_with's null padding
  * poisons the fold's sum), any null element → null, empty arrays → 0.
  * Integer arithmetic only — no order sensitivity, so the oracle's
  * list_sum replication is exact. */
case class Int8Dist2Expr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  // null on length mismatch / null elements regardless of input
  // nullability — see CosineSimExpr.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_dist2 needs two array<int>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = (x.getInt(i) - y.getInt(i)).toLong
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int8Dist2Expr =
    copy(l, r)
  override def prettyName: String = "int8_dist2"
}

object Int8Dist2Expr {
  def int8_dist2(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      Int8Dist2Expr(org.apache.spark.sql.graftshim.shims.expression(a),
        org.apache.spark.sql.graftshim.shims.expression(b)))
}

/** `int8_dot(a, b)` → exact int64 dot product of two int-code arrays — the
  * quantized-cosine numerator (x33 SemDeDup pair scoring, x27/x30 approx
  * ranking). Same contract and same reason-to-exist as [[Int8Dist2Expr]]. */
case class Int8DotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  // null on length mismatch / null elements regardless of input
  // nullability — see CosineSimExpr.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_dot needs two array<int>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getInt(i).toLong * y.getInt(i).toLong
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int8DotExpr =
    copy(l, r)
  override def prettyName: String = "int8_dot"
}

object Int8DotExpr {
  def int8_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      Int8DotExpr(org.apache.spark.sql.graftshim.shims.expression(a),
        org.apache.spark.sql.graftshim.shims.expression(b)))
}

/** `markov_stationary(edges, iters)` → array<struct<state, n_out, p>>: the
  * x133 power iteration over a BOUNDED transition matrix, run imperatively
  * inside one expression evaluation.
  *
  * Input is the collected (f, t, n) edge array (|types|²-bounded upstream
  * by x133's limit(4096)); output is one struct per state surviving the
  * third iteration, exactly the row set and masses of the row-frame
  * unrolling it replaces: π₀ = uniform 1e6 div k over (distinct f ∪
  * distinct t); each step moves (π_f·n) div tn_f along every edge whose
  * source is still in π (Java Long division truncates toward zero =
  * Spark `div` = DuckDB `//` on the non-negatives here) and HOLDS states
  * with no outgoing edges; states that receive nothing and hold nothing
  * drop out — the same survival decay the union-groupBy produced. All
  * cross-row sums are exact Long adds (order-free). The row-frame form
  * planned ~300 exchanges across the three unrolled steps (3.7 s isolated
  * at sf0.1, pure tiny-stage churn); this is one projection. Output is
  * sorted by state for a deterministic array order. */
case class MarkovStationaryExpr(child: Expression, iters: Int)
    extends UnaryExpression with CodegenFallback {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("state", StringType, nullable = false),
    StructField("n_out", LongType, nullable = false),
    StructField("p", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(edgesIn: Any): Any = {
    val arr = edgesIn.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val fs = new Array[UTF8String](n)
    val ts = new Array[UTF8String](n)
    val ns = new Array[Long](n)
    // java.lang.Long values throughout: a scala.Long-valued map unboxes
    // get(absentKey)'s null to 0, which silently turns "state dropped from
    // π" into "state present with zero mass" (extra output rows).
    val tot = new java.util.HashMap[UTF8String, java.lang.Long]()
    val states = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      fs(i) = row.getUTF8String(0)
      ts(i) = row.getUTF8String(1)
      ns(i) = row.getLong(2)
      tot.merge(fs(i), java.lang.Long.valueOf(ns(i)),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
      i += 1
    }
    i = 0
    while (i < n) { states.add(fs(i)); i += 1 }
    i = 0
    while (i < n) { states.add(ts(i)); i += 1 }
    val k = states.size.toLong
    if (k == 0L) return new GenericArrayData(Array.empty[Any])
    var pi = new java.util.HashMap[UTF8String, java.lang.Long]()
    states.forEach(s => { pi.put(s, java.lang.Long.valueOf(1000000L / k)); () })
    var it = 0
    while (it < iters) {
      val next = new java.util.HashMap[UTF8String, java.lang.Long]()
      i = 0
      while (i < n) {
        val p = pi.get(fs(i))
        if (p != null) // source still in π: move (p·n) div tn along the edge
          next.merge(ts(i),
            java.lang.Long.valueOf(p.longValue() * ns(i) / tot.get(fs(i)).longValue()),
            (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        i += 1
      }
      pi.forEach((s, p) => if (!tot.containsKey(s)) {
        next.merge(s, p,
          (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue())); ()
      })
      pi = next
      it += 1
    }
    val out = new Array[AnyRef](pi.size)
    var j = 0
    val entries = pi.entrySet().iterator()
    while (entries.hasNext) {
      val e = entries.next()
      val s = e.getKey
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        s.clone(), if (tot.containsKey(s)) tot.get(s).longValue() else 0L,
        e.getValue.longValue())
      j += 1
    }
    val sorted = out.sortBy(_.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      .getUTF8String(0))(Ordering.fromLessThan[UTF8String]((a, b) => a.compareTo(b) < 0))
    new GenericArrayData(sorted)
  }

  override protected def withNewChildInternal(c: Expression): MarkovStationaryExpr =
    copy(child = c)
  override def prettyName: String = "markov_stationary"
}

object MarkovStationaryExpr {
  def markov_stationary(edges: Column, iters: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      MarkovStationaryExpr(
        org.apache.spark.sql.graftshim.shims.expression(edges), iters))
}

/** `winnow_fps(tokens, window)` → array<string>: the distinct winnowing
  * fingerprints of the doc — md5 hex of each word 3-gram shingle, then the
  * minimum over each `window` of consecutive shingle hashes (MOSS local
  * selection), distinct in first-occurrence order.
  *
  * Semantically identical to the composable chain it replaces
  * (`array_distinct(transform(sequence(1, greatest(nSh-(w-1),1)),
  * j -> array_min(slice(md5-transformed shingles, j, w))))` guarded by
  * `when(size >= 1, ...)`, and to its DuckDB oracle twin) — docs with zero
  * shingles yield an EMPTY array (the chain's explode_outer+filter drops
  * them; a plain explode of the empty array does too). One pass, one
  * digest buffer: the HOF chain evaluates interpreted per shingle per
  * window with no common-subexpression elimination, which made the winnow
  * family (x36/x40/x86) pay an allocation per slice per window. Mins
  * compare on raw digest bytes (hex encoding is order-preserving); only
  * window winners are hex-encoded, at most once each. */
case class WinnowFpsExpr(child: Expression, window: Int)
    extends UnaryExpression with CodegenFallback {
  require(window >= 1)
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val nTok = arr.numElements()
    val nSh = math.max(nTok - 2, 0)
    if (nSh == 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = Array.tabulate(nTok)(i =>
      if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes)
    val space = " ".getBytes
    val hs = new Array[Array[Byte]](nSh)
    var i = 0
    while (i < nSh) {
      md.reset()
      md.update(toks(i)); md.update(space)
      md.update(toks(i + 1)); md.update(space)
      md.update(toks(i + 2))
      hs(i) = md.digest()
      i += 1
    }
    val nw = math.max(nSh - (window - 1), 1)
    // distinct in first-occurrence order = array_distinct semantics
    val seen = new java.util.LinkedHashSet[java.nio.ByteBuffer]()
    var j = 0
    while (j < nw) {
      var m = hs(j)
      var t = j + 1
      val end = math.min(j + window, nSh)
      while (t < end) {
        if (MinHashFromTokensExpr.unsignedLt(hs(t), m)) m = hs(t)
        t += 1
      }
      seen.add(java.nio.ByteBuffer.wrap(m))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      val dig = it.next().array()
      out(k) = UTF8String.fromString(dig.map("%02x".format(_)).mkString)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): WinnowFpsExpr =
    copy(child = c)
  override def prettyName: String = "winnow_fps"
}

object WinnowFpsExpr {
  def winnow_fps(tokens: Column, window: Int): Column =
    org.apache.spark.sql.graftshim.shims.column(
      WinnowFpsExpr(org.apache.spark.sql.graftshim.shims.expression(tokens), window))
}

/** `decontam_verdict(tokens, bs)` → struct<hits:int, mr:int>: the s17
  * per-doc contamination verdict — 5-gram xxhash64 hashes of the token
  * array probed against each benchmark item's gram set, `hits` = how many
  * items share ≥1 gram, `mr` = the longest consecutive run of positions
  * hitting a single item (the max over items).
  *
  * Semantically identical to the composable stack it replaces (gramsOf →
  * union-prefilter `array_intersect` → per-item `array_contains` +
  * longestRun `aggregate` fold): same xxhash64 (catalyst XXH64, seed 42,
  * over the space-joined UTF-8 bytes — the exact `xxhash64(concat_ws(...))`
  * value), same <5-token/empty/null-token degenerate result (0, 0), same
  * per-item gating (an item with no shared gram scores 0). The HOF stack
  * evaluated interpreted per (gram × item) with an array_contains LINEAR
  * SCAN per probe; here each item's gram set loads once per benchmark
  * VALUE into an open-addressing long set, and each doc pays one pass
  * over its grams per touched item plus one union probe per gram. The
  * prepared sets are cached under a private copy of the benchmark array
  * and reused only while the incoming value is equal to it (see
  * [[KernelCache]]): `UnsafeRow.getArray` allocates a fresh ArrayData
  * wrapper per row, so a reference-identity key would never hit in the
  * broadcast-join plan, and a sampled fingerprint can collide.
  */
case class DecontamVerdictExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("hits", IntegerType, nullable = false),
    StructField("mr", IntegerType, nullable = false)))

  /** Minimal open-addressing set of non-zero longs (zero slot = empty;
    * the zero KEY, if present, is tracked by a flag). */
  private final class LongSet(capacityFor: Int) {
    private val bits = {
      var b = 4
      while ((1 << b) < capacityFor * 2 + 2) b += 1
      b
    }
    private val mask = (1 << bits) - 1
    private val slots = new Array[Long](1 << bits)
    private var hasZero = false
    def add(v: Long): Unit = {
      if (v == 0L) { hasZero = true; return }
      var i = (java.lang.Long.hashCode(v) * 0x9E3779B9) & mask
      while (slots(i) != 0L && slots(i) != v) i = (i + 1) & mask
      slots(i) = v
    }
    def contains(v: Long): Boolean = {
      if (v == 0L) return hasZero
      var i = (java.lang.Long.hashCode(v) * 0x9E3779B9) & mask
      while (slots(i) != 0L) {
        if (slots(i) == v) return true
        i = (i + 1) & mask
      }
      false
    }
  }

  /** Per-benchmark-value prepared sets: (union, per-item). */
  @transient private lazy val cache = new KernelCache[(LongSet, Array[LongSet])]

  private def prepare(bs: ArrayData): (LongSet, Array[LongSet]) = cache.getOrBuild(bs, build)

  private def build(bs: ArrayData): (LongSet, Array[LongSet]) = {
    val n = bs.numElements()
    val items = new Array[LongSet](n)
    var total = 0
    val rows = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      rows(i) = bs.getStruct(i, 2).getArray(1)
      total += rows(i).numElements()
      i += 1
    }
    val union = new LongSet(math.max(total, 1))
    i = 0
    while (i < n) {
      val set = new LongSet(math.max(rows(i).numElements(), 1))
      var j = 0
      while (j < rows(i).numElements()) {
        val g = rows(i).getLong(j)
        set.add(g); union.add(g)
        j += 1
      }
      items(i) = set
      i += 1
    }
    (union, items)
  }

  private val zero = org.apache.spark.sql.catalyst.InternalRow(0, 0)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bsAny = right.eval(input)
    if (bsAny == null) return zero
    val tkAny = left.eval(input)
    // null/short token arrays: the old gramsOf when-guard yielded an empty
    // gram array, and every per-item score read 0
    val (union, items) = prepare(bsAny.asInstanceOf[ArrayData])
    if (tkAny == null || items.length == 0) return zero
    val tk = tkAny.asInstanceOf[ArrayData]
    val nTok = tk.numElements()
    val nG = nTok - 4
    if (nG <= 0) return zero
    // grams once per doc (exactly xxhash64(concat_ws(' ', tk[i..i+4])))
    val toks = Array.tabulate(nTok)(i =>
      if (tk.isNullAt(i)) Array.emptyByteArray else tk.getUTF8String(i).getBytes)
    val grams = new Array[Long](nG)
    var any = false
    var i = 0
    while (i < nG) {
      var len = 4 // the four joining spaces
      var t = 0
      while (t < 5) { len += toks(i + t).length; t += 1 }
      val buf = new Array[Byte](len)
      var p = 0
      t = 0
      while (t < 5) {
        if (t > 0) { buf(p) = ' '; p += 1 }
        System.arraycopy(toks(i + t), 0, buf, p, toks(i + t).length)
        p += toks(i + t).length
        t += 1
      }
      // the canonical xxhash64 entry — bit-identical to the builtin
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        UTF8String.fromBytes(buf), StringType, 42L)
      grams(i) = h
      if (!any && union.contains(h)) any = true
      i += 1
    }
    if (!any) return zero
    var hits = 0
    var mr = 0
    var it = 0
    while (it < items.length) {
      val set = items(it)
      var cur = 0
      var best = 0
      var g = 0
      while (g < nG) {
        if (set.contains(grams(g))) { cur += 1; if (cur > best) best = cur }
        else cur = 0
        g += 1
      }
      if (best > 0) { hits += 1; if (best > mr) mr = best }
      it += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(hits, mr)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DecontamVerdictExpr = copy(left = l, right = r)
  override def prettyName: String = "decontam_verdict"
}

object DecontamVerdictExpr {
  def decontam_verdict(tokens: Column, bs: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      DecontamVerdictExpr(
        org.apache.spark.sql.graftshim.shims.expression(tokens),
        org.apache.spark.sql.graftshim.shims.expression(bs)))
}

/** `member_count(arr, set)` → int: how many elements of `arr` (ignoring
  * nulls) are members of the string array `set`. Semantically identical to
  * `size(array_intersect(arr, set))` when `arr` is DISTINCT (which every
  * call site guarantees — x23's shingle arrays are list_distinct), but the
  * membership set loads ONCE per distinct set value into a hash set
  * instead of ArrayIntersect rebuilding it per evaluation — per ROW, and
  * twice per row when two output columns reference the intersect (the
  * §4.4 CollapseProject duplication). The set is cached like the s17
  * kernel's, under an equality-checked copy of the set value
  * ([[KernelCache]]). */
case class MemberCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def nullable: Boolean = left.nullable || right.nullable
  override def dataType: DataType = IntegerType

  @transient private lazy val cache = new KernelCache[java.util.HashSet[UTF8String]]

  private def prepare(bs: ArrayData): java.util.HashSet[UTF8String] = cache.getOrBuild(bs, build)

  private def build(bs: ArrayData): java.util.HashSet[UTF8String] = {
    val n = bs.numElements()
    val set = new java.util.HashSet[UTF8String](math.max(n * 2, 16))
    var i = 0
    while (i < n) {
      // clone: the UTF8String may point into a reused row buffer
      if (!bs.isNullAt(i)) set.add(bs.getUTF8String(i).clone())
      i += 1
    }
    set
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bsAny = right.eval(input)
    if (bsAny == null) return null
    val arrAny = left.eval(input)
    if (arrAny == null) return null
    val set = prepare(bsAny.asInstanceOf[ArrayData])
    val arr = arrAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) hits += 1
      i += 1
    }
    hits
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MemberCountExpr = copy(left = l, right = r)
  override def prettyName: String = "member_count"
}

object MemberCountExpr {
  def member_count(arr: Column, set: Column): Column =
    org.apache.spark.sql.graftshim.shims.column(
      MemberCountExpr(
        org.apache.spark.sql.graftshim.shims.expression(arr),
        org.apache.spark.sql.graftshim.shims.expression(set)))
}

/** One-entry cache of a value prepared from an array argument that is the
  * same for long runs of rows (a broadcast benchmark set). The key is a
  * private deep copy of the array; a cached value is reused only while the
  * incoming array is equal to that copy, so two distinct arrays can never
  * share an entry. `UnsafeArrayData` equality compares the bytes (a memcmp
  * per row, small against the per-row kernel work) and `GenericArrayData`
  * equality the elements; an unequal representation of equal contents
  * just rebuilds. */
final class KernelCache[V] {
  private var key: ArrayData = null
  private var value: V = _

  def getOrBuild(arr: ArrayData, build: ArrayData => V): V = {
    if (key == null || key != arr) {
      value = build(arr)
      key = arr.copy()
    }
    value
  }
}
