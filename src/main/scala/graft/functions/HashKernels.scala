package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Runtime kernel for MinHashMd5 — also called from generated code. */
object HashKernels {

  private val digests =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".toCharArray

  /** min over elements of md5(prefix ++ element), as lowercase hex.
    * The min is taken on the raw 16-byte digests (unsigned byte order
    * == hex string order, hex being monotone in the bytes), so only the
    * single winning digest is hex-encoded. Null for an empty array —
    * array_min semantics. */
  def minHashMd5(arr: ArrayData, prefix: Array[Byte]): UTF8String = {
    val n = arr.numElements()
    if (n == 0) return null
    val digest = digests.get()
    var min: Array[Byte] = null
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      digest.reset()
      if (prefix.length > 0) digest.update(prefix)
      digest.update(s.getBytes)
      val h = digest.digest()
      if (min == null || unsignedLess(h, min)) min = h
      i += 1
    }
    toHex(min)
  }

  /** Fused shingle+minhash: min over k-token shingles of
    * md5(prefix || tokens[i..i+k-1] joined by ' '). The shingle strings
    * are never materialized — token bytes and separators stream into
    * the digest — which removes the interpreted `transform` pass that
    * dominates the expression formulation (HOF lambdas run outside
    * whole-stage codegen). Null when fewer than k tokens, matching
    * array_min over an empty shingle array. */
  def minHashMd5Shingles(arr: ArrayData, k: Int,
                         prefix: Array[Byte]): UTF8String = {
    val n = arr.numElements()
    if (n < k) return null
    val digest = digests.get()
    var min: Array[Byte] = null
    var i = 0
    while (i <= n - k) {
      digest.reset()
      if (prefix.length > 0) digest.update(prefix)
      var j = 0
      while (j < k) {
        digest.update(arr.getUTF8String(i + j).getBytes)
        if (j < k - 1) digest.update(' '.toByte)
        j += 1
      }
      val h = digest.digest()
      if (min == null || unsignedLess(h, min)) min = h
      i += 1
    }
    toHex(min)
  }

  /** Linear hashed-bag margin (the fastText/QualityClassifier scorer):
    * weights(dim) [the bias] + Σ over NONEMPTY tokens of
    * weights(bucket), bucket = top 60 bits of md5(token) mod dim —
    * the same bucket as the certified
    * `conv(substring(md5(t), 1, 15), 16, 10) % dim` (first 15 hex
    * chars ARE the top 60 digest bits), and the same left-to-right
    * accumulation order as the HOF fold it replaces, so results are
    * bit-identical. Null when the array has no nonempty token
    * (no evidence — callers drop or coalesce to the bias). */
  def linearBagScore(arr: ArrayData, weights: Array[Double],
                     dim: Int): java.lang.Double = {
    val n = arr.numElements()
    val digest = digests.get()
    var acc = weights(dim)
    var seen = false
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t.numBytes() > 0) {
        seen = true
        digest.reset()
        digest.update(t.getBytes)
        val h = digest.digest()
        var v = 0L
        var j = 0
        while (j < 7) { v = (v << 8) | (h(j) & 0xffL); j += 1 }
        v = (v << 4) | ((h(7) >> 4) & 0xfL)
        acc += weights((v % dim).toInt)
      }
      i += 1
    }
    if (seen) java.lang.Double.valueOf(acc) else null
  }

  /** Per-row hashed-bag count vector: counts(bucket) over the nonempty
    * elements, bucket = top 60 md5 digest bits mod dim — EXACTLY
    * [[linearBagScore]]'s bucket (== the certified
    * `conv(substr(md5(t),1,15),16,10) % dim` oracle idiom). Doubles so
    * the corpus model is one VectorSumAgg away (counts are integral,
    * exact below 2^53). */
  def hashedBagCounts(arr: ArrayData, dim: Int): ArrayData = {
    val n = arr.numElements()
    val counts = new Array[Double](dim)
    val digest = digests.get()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t.numBytes() > 0) {
        digest.reset()
        digest.update(t.getBytes)
        val h = digest.digest()
        var v = 0L
        var j = 0
        while (j < 7) { v = (v << 8) | (h(j) & 0xffL); j += 1 }
        v = (v << 4) | ((h(7) >> 4) & 0xfL)
        counts((v % dim).toInt) += 1.0
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  private def toHex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = HEX((bytes(j) >> 4) & 0xf)
      out(2 * j + 1) = HEX(bytes(j) & 0xf)
      j += 1
    }
    UTF8String.fromString(new String(out))
  }

  private val SPACE = UTF8String.fromString(" ")

  /** tokens -> array of space-joined k-gram UTF8Strings (empty if < k). */
  def shingleArray(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    val out = new Array[AnyRef](n - k + 1)
    val window = new Array[UTF8String](2 * k - 1)
    var j = 1
    while (j < 2 * k - 1) { window(j) = SPACE; j += 2 }
    var i = 0
    while (i <= n - k) {
      var t = 0
      while (t < k) { window(2 * t) = arr.getUTF8String(i + t); t += 1 }
      out(i) = UTF8String.concat(window: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private val xxBuf =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](256))

  /** Fused shingle+minhash, xxhash64 lane: min over k-token shingles of
    * Spark's `xxhash64(lit(seed), shingle)` — `seedHash` is the
    * precomputed XXH64.hashInt(seed, 42L) accumulator state, and the
    * shingle bytes (tokens joined by ' ') stream through a reusable
    * thread-local buffer instead of being materialized as strings.
    * Bit-identical to `array_min(transform(shingles, s =>
    * xxhash64(lit(seed), s)))`: XXH64.hashUnsafeBytes over the copied
    * bytes is the same block hash xxhash64 runs on the UTF8String.
    * Caller guarantees numElements >= k (expression emits null below k,
    * matching array_min over an empty mapped array). */
  def minHashXx64Shingles(arr: ArrayData, k: Int, seedHash: Long): Long = {
    val n = arr.numElements()
    var buf = xxBuf.get()
    var min = 0L
    var first = true
    var i = 0
    while (i <= n - k) {
      var len = 0
      var j = 0
      while (j < k) { len += arr.getUTF8String(i + j).numBytes; j += 1 }
      len += k - 1 // separators
      if (buf.length < len) {
        buf = new Array[Byte](Integer.highestOneBit(len - 1) << 1)
        xxBuf.set(buf)
      }
      var off = 0
      j = 0
      while (j < k) {
        val t = arr.getUTF8String(i + j)
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes
        if (j < k - 1) { buf(off) = ' '.toByte; off += 1 }
        j += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, seedHash)
      if (first || h < min) { min = h; first = false }
      i += 1
    }
    min
  }

  /** Fused shingle → xxhash64 → bloom probe, short-circuit on first
    * hit: does ANY k-token shingle of `arr` land in `bf`? The shingle
    * bytes stream through the same thread-local buffer as
    * [[minHashXx64Shingles]]; the probe key is Spark's unseeded
    * `xxhash64(shingle)` (XXH64 over the joined bytes, seed 42) — the
    * EXACT hash the bloom's build side inserts
    * ([[graft.ops.Contamination.benchNgramBloom]]), so the
    * no-false-negative law is a bit-level identity, not a convention.
    * False for arrays shorter than k (no shingles). */
  def bloomAnyShingle(arr: ArrayData, k: Int,
                      bf: org.apache.spark.util.sketch.BloomFilter): Boolean = {
    val n = arr.numElements()
    var buf = xxBuf.get()
    var i = 0
    while (i <= n - k) {
      var len = 0
      var j = 0
      while (j < k) { len += arr.getUTF8String(i + j).numBytes; j += 1 }
      len += k - 1
      if (buf.length < len) {
        buf = new Array[Byte](Integer.highestOneBit(len - 1) << 1)
        xxBuf.set(buf)
      }
      var off = 0
      j = 0
      while (j < k) {
        val t = arr.getUTF8String(i + j)
        t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
        off += t.numBytes
        if (j < k - 1) { buf(off) = ' '.toByte; off += 1 }
        j += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      if (bf.mightContainLong(h)) return true
      i += 1
    }
    false
  }

  /** Fused token-hash + SimHash vote: per token, hash (md5-first-4-bytes
    * unsigned, matching `conv(substring(md5(t),1,8),16,10)`, or Spark's
    * `xxhash64(t)`), then the 32-bit ±1 vote loop — one pass, no
    * interpreted `transform` building the hash array. Bit-identical to
    * SimHashVote over the transform formulation. */
  def simhashTokens(arr: ArrayData, useMd5: Boolean): Long = {
    val votes = new Array[Int](32)
    val n = arr.numElements()
    val digest = if (useMd5) digests.get() else null
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val h =
        if (useMd5) {
          digest.reset()
          digest.update(t.getBytes)
          val b = digest.digest()
          ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
            ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
        } else XXH64.hashUTF8String(t, 42L)
      var j = 0
      while (j < 32) {
        votes(j) += (((h >>> j) & 1L).toInt * 2 - 1); j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) { if (votes(j) >= 0) sig |= (1L << j); j += 1 }
    sig
  }
}

/** Codegen'd k-token shingling: tokens -> array of space-joined k-grams
  * in one pass. Bit-identical to the transform/concat_ws formulation
  * (TextAnalysis.shingles' original HOF), which ran interpreted and
  * dominated every operator that materializes shingle sets (near-dup
  * Jaccard verify). Fewer than k tokens -> empty array. */
case class ShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.shingleArray(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HashKernels.shingleArray($a, $k);")

  override protected def withNewChildInternal(c: Expression): ShinglesExpr =
    copy(child = c)
}

/** One-pass MinHash lane: min over shingles of md5(prefix || shingle),
  * bit-identical to `array_min(transform(shingles, s => md5(concat(
  * lit(prefix), s))))` but without materializing the mapped array, the
  * per-element concat/hex strings, or a fresh MessageDigest per call
  * (Spark's Md5 goes through DigestUtils.md5Hex, which allocates one
  * every invocation — this kernel holds a thread-local).
  */
case class MinHashMd5(child: Expression, prefix: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  private lazy val prefixBytes =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minHashMd5(input.asInstanceOf[ArrayData], prefixBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pref = ctx.addReferenceObj("prefix", prefixBytes, "byte[]")
      val r = ctx.freshName("minhash")
      s"""
         |UTF8String $r = graft.functions.HashKernels.minHashMd5($a, $pref);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashMd5 =
    copy(child = c)
}

/** Fused k-shingle MinHash lane over a TOKEN array: bit-identical to
  * building the shingle strings first and feeding them to MinHashMd5
  * (UTF-8 bytes of "a b c" == bytes of a ++ ' ' ++ b ++ ' ' ++ c), but
  * the shingles never exist as objects — the whole lane is one streamed
  * digest pass per row. */
case class MinHashMd5Tokens(child: Expression, k: Int, prefix: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  private lazy val prefixBytes =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.minHashMd5Shingles(input.asInstanceOf[ArrayData], k, prefixBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val pref = ctx.addReferenceObj("prefix", prefixBytes, "byte[]")
      val r = ctx.freshName("minhash")
      s"""
         |UTF8String $r = graft.functions.HashKernels.minHashMd5Shingles($a, $k, $pref);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashMd5Tokens =
    copy(child = c)
}

/** Codegen'd linear hashed-bag scorer (QualityClassifier inference):
  * one streamed digest pass per row with the weight vector as a
  * referenced constant — replaces the interpreted
  * transform+aggregate HOF pair (HOF lambdas run outside whole-stage
  * codegen), bit-identical by construction (same bucket hash, same
  * accumulation order). Null for rows with no nonempty token. */
case class LinearBagScoreExpr(child: Expression, weights: Array[Double],
                              dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(weights.length == dim + 1, "weights must be dim+1 (bias last)")

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.linearBagScore(input.asInstanceOf[ArrayData], weights, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.addReferenceObj("qcWeights", weights, "double[]")
      val r = ctx.freshName("margin")
      s"""
         |java.lang.Double $r = graft.functions.HashKernels.linearBagScore($a, $w, $dim);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LinearBagScoreExpr =
    copy(child = c)
}

/** Per-row hashed-bag count vector over a token array (see
  * HashKernels.hashedBagCounts) — feeds VectorSumAgg so a corpus
  * bag-of-buckets model is one map pass + one dim-length vector
  * aggregate, no explode. */
case class HashedBagCountsExpr(child: Expression, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.hashedBagCounts(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HashKernels.hashedBagCounts($a, $dim);")

  override protected def withNewChildInternal(c: Expression): HashedBagCountsExpr =
    copy(child = c)
}

/** Bloom-filter membership prefilter over a token array: true iff ANY
  * k-token shingle's `xxhash64` lands in the bloom. The filter ships
  * as its serialized bytes (a plan constant, like the classifier's
  * weight vector — the caller gates its size), deserialized once per
  * executor via the lazy field; codegen references the deserialized
  * object directly (`addReferenceObj`), so the hot loop is one
  * streamed hash+probe pass per row — no UDF, no join, no state:
  * safe on a stream. Guarantee: NO false negatives (bit-identical
  * build/probe hash), so `!result` proves "shares no k-gram with the
  * benchmark" and a downstream exact verify only ever sees the
  * candidate sliver. */
case class BloomContainsAnyShingle(child: Expression, bloomBytes: Array[Byte],
                                   k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullable: Boolean = child.nullable

  @transient private lazy val bf =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.bloomAnyShingle(input.asInstanceOf[ArrayData], k, bf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("bloomFilter", bf,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HashKernels.bloomAnyShingle($a, $k, $bloomRef);")
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsAnyShingle =
    copy(child = c)
}

/** Scalar bloom-filter membership over ONE string value — the
  * [[BloomContainsAnyShingle]] machinery at value grain, for key-set
  * prefilters (e.g. the streaming band-key lookup: the filter over the
  * corpus index's distinct band keys ships as a plan constant, so the
  * per-row membership test is map-only — no stream-static join, no
  * state). Same no-false-negative guarantee: the probe hash is
  * bit-identical to `BloomFilter.putString`'s, so `false` PROVES the
  * key is not in the built set; `true` may be a false positive at the
  * filter's fpp — callers must be in a posture where that only
  * over-includes (the streaming dedup over-drop contract). */
case class BloomContainsString(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullable: Boolean = child.nullable

  @transient private lazy val bf =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any =
    bf.mightContainString(input.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("bloomFilter", bf,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $bloomRef.mightContainString($a.toString());")
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsString =
    copy(child = c)
}

/** [[BloomContainsString]] over a 16-byte BINARY key (the r22 band-key
  * format): probe via `mightContainBinary`, bit-identical to the build
  * side's `putBinary` — same no-false-negative guarantee. */
case class BloomContainsBinary(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(BinaryType)

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullable: Boolean = child.nullable

  @transient private lazy val bf =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override protected def nullSafeEval(input: Any): Any =
    bf.mightContainBinary(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomRef = ctx.addReferenceObj("bloomFilter", bf,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $bloomRef.mightContainBinary($a);")
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsBinary =
    copy(child = c)
}

/** [[BloomContainsBinary]] with torrent-broadcast delivery — the
  * [[BloomContainsStringBc]] economics over binary keys. */
case class BloomContainsBinaryBc(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(BinaryType)

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    bc.value.mightContainBinary(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bfCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", bc, bcCls)
    // resolve the broadcast value once per task, not per row
    val bfVar = ctx.addMutableState(bfCls, "bloomBcVal",
      v => s"$v = ($bfCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $bfVar.mightContainBinary($a);")
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsBinaryBc =
    copy(child = c)
}

/** [[BloomContainsString]] with TORRENT-BROADCAST delivery: the
  * expression carries a `Broadcast[BloomFilter]` HANDLE (bytes-small)
  * instead of the filter bytes, so the filter crosses the cluster once
  * at operator construction and every later stage — and, decisively,
  * every later STREAMING TRIGGER, each of which re-plans and
  * re-serializes its task binary — ships only the handle. The
  * plan-constant variant re-serializes the full filter into each
  * trigger's task binary: measured (`graft.StreamBloomProbe` at commit
  * 316cdc8) that is the real per-trigger cost at 100 MB+ filters,
  * before driver memory hurts.
  * Size-gated dispatch lives in [[graft.ops.Dedup.bloomKeyFilterCol]];
  * semantics (no false negatives, fpp false positives) are identical
  * to the literal variant — same probe hash, same filter bits. */
case class BloomContainsStringBc(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    bc.value.mightContainString(input.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bfCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", bc, bcCls)
    // resolve the broadcast value once per task, not per row
    val bfVar = ctx.addMutableState(bfCls, "bloomBcVal",
      v => s"$v = ($bfCls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $bfVar.mightContainString($a.toString());")
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsStringBc =
    copy(child = c)
}

/** Fused k-shingle MinHash lane, xxhash64 mode (the production-speed
  * hash): bit-identical to `array_min(transform(shingles, s =>
  * xxhash64(lit(seed), s)))` over `ShinglesExpr` output, but one
  * streamed pass per row — no shingle strings, no interpreted HOF.
  * With k = 1 it is the plain per-element minhash over an existing
  * shingle array. */
case class MinHashXx64Tokens(child: Expression, k: Int, seed: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  /** xxhash64(lit(seed), s) folds the Int seed literal into the running
    * hash first; precompute that accumulator state once. */
  private lazy val seedHash: Long = XXH64.hashInt(seed, 42L)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() < k) null
    else HashKernels.minHashXx64Shingles(arr, k, seedHash)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |if ($a.numElements() < $k) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  graft.functions.HashKernels.minHashXx64Shingles($a, $k, ${seedHash}L); }
       """.stripMargin)

  override protected def withNewChildInternal(c: Expression): MinHashXx64Tokens =
    copy(child = c)
}

/** Fused token-hash + 32-bit SimHash vote over a token array — replaces
  * `SimHashVote(transform(tokens, hash))` whose hash lambda ran as an
  * interpreted HOF in both md5 and xxhash64 modes. Token elements must
  * be non-null (they come from split()). */
case class SimHashTokens(child: Expression, useMd5: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhashTokens(input.asInstanceOf[ArrayData], useMd5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.HashKernels.simhashTokens($a, $useMd5);")

  override protected def withNewChildInternal(c: Expression): SimHashTokens =
    copy(child = c)
}
