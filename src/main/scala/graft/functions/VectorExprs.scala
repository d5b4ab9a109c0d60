package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native codegen'd vector kernel.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`) are
  * interpreted — fine for per-row feature extraction, fatal inside an
  * O(n²) similarity join where the dot product IS the hot loop. This
  * expression compiles to a tight primitive loop inside whole-stage
  * codegen (preference order from SURVEY.md §7: custom Expression
  * before mapPartitions).
  *
  * Semantics: inputs are cast to array<double> by analysis
  * (ExpectsInputTypes), so array<float> embedding columns work
  * unchanged. Mismatched lengths and null array elements yield null —
  * a dot product over a ragged or partially-missing vector has no
  * meaningful value, and silence here means silently-garbage
  * similarity scores downstream.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // AbstractDataType is private[sql]; the inferred Seq[ArrayType] is a
  // covariant subtype of the declared Seq[AbstractDataType].
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  /** Element null checks are only emitted when the child types admit
    * null elements, keeping the common dense-vector loop branch-free. */
  private lazy val needNullCheck: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _                          => false
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (needNullCheck && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val elemNullCheck =
        if (needNullCheck)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemNullCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** One-pass SimHash vote over an array of token hashes: for each of
  * `bits` sign positions, count +1/−1 votes across all hashes' bits and
  * pack the non-negative votes into a long signature. Equivalent to
  * `bits` separate `aggregate()` higher-order passes (graft.ops.Dedup's
  * original formulation) but interpreted-HOF-free: one tight nested
  * loop inside whole-stage codegen — measured 3.3× DuckDB as HOFs,
  * at parity compiled. Token hashes must be non-null (they come from
  * md5/xxhash64 expressions, which never produce null elements).
  */
case class SimHashVote(child: Expression, bits: Int = 32)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < bits) {
        votes(j) += (((h >>> j) & 1L).toInt * 2 - 1); j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) >= 0) sig |= (1L << j); j += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[$bits];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < $bits; $j++) {
         |    $votes[$j] += (int) (($h >>> $j) & 1L) * 2 - 1;
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < $bits; $j++) {
         |  if ($votes[$j] >= 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHashVote =
    copy(child = c)
}

/** Jaccard similarity of two SORTED, DEDUPLICATED string arrays in ONE
  * linear merge pass: |a ∩ b| / |a ∪ b| with the union size derived as
  * |a| + |b| − |a ∩ b|. Replaces three hash-based `array_intersect` /
  * `array_distinct` evaluations per candidate pair in the near-dup
  * verify join (the per-PAIR hot loop — sides are sorted once per
  * DOCUMENT upstream, |pairs| ≫ |docs|). Element order must be Spark's
  * `array_sort` order (UTF8String binary order — the same comparator
  * this merge uses). Empty union → 0.0, matching `Dedup.jaccard`.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  /** Element null checks only when the child types admit null elements
    * — internal callers (array_sort∘array_distinct∘shingles) never
    * produce them, but the graft_jaccard_sorted SQL registration is
    * user-reachable (r13 review: an unchecked null element NPE'd on
    * GenericArrayData and read garbage on UnsafeArrayData). */
  private lazy val needNullCheck: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _                          => false
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (na, nb) = (x.numElements(), y.numElements())
    if (needNullCheck) {
      var k = 0
      while (k < na) { if (x.isNullAt(k)) return null; k += 1 }
      k = 0
      while (k < nb) { if (y.isNullAt(k)) return null; k += 1 }
    }
    var inter = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union > 0) inter.toDouble / union.toDouble else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val k = ctx.freshName("k")
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      val elemNullCheck =
        if (needNullCheck)
          s"""for (int $k = 0; $k < $na && !${ev.isNull}; $k++) {
             |  if ($a.isNullAt($k)) ${ev.isNull} = true;
             |}
             |for (int $k = 0; $k < $nb && !${ev.isNull}; $k++) {
             |  if ($b.isNullAt($k)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |$elemNullCheck
         |if (!${ev.isNull}) {
         |  int $inter = 0;
         |  int $i = 0;
         |  int $j = 0;
         |  while ($i < $na && $j < $nb) {
         |    int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |    if ($c == 0) { $inter++; $i++; $j++; }
         |    else if ($c < 0) { $i++; }
         |    else { $j++; }
         |  }
         |  int $union = $na + $nb - $inter;
         |  ${ev.value} = $union > 0 ? ((double) $inter) / ((double) $union) : 0.0;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** Runtime kernel for LshPlaneSigs — also called from generated code. */
object VectorKernels {

  /** All random-hyperplane table signatures of one vector in ONE pass:
    * for plane p (row-major `weights`, planes x dims), the sign bit of
    * dot(v, w_p) lands in table p / bandPlanes at bit p % bandPlanes.
    * Per-plane dot accumulates in ascending dim order — bit-identical
    * to the per-plane DotProduct formulation it replaces. */
  def lshPlaneSigs(v: ArrayData, weights: Array[Double], dims: Int,
                   bandPlanes: Int): ArrayData = {
    val planes = weights.length / dims
    val sigs = new Array[Long](planes / bandPlanes)
    var p = 0
    while (p < planes) {
      var s = 0.0
      val base = p * dims
      var d = 0
      while (d < dims) { s += v.getDouble(d) * weights(base + d); d += 1 }
      if (s >= 0) sigs(p / bandPlanes) |= (1L << (p % bandPlanes))
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  /** Achlioptas ±1 random projection: out(j) = Σ_i v(i)·signs(j·dims+i)
    * / sqrt(outDim). Per-component accumulation ascends dims —
    * bit-identical to the left-associative unrolled sum the oracle SQL
    * writes; the final scaling is a DIVISION by sqrt(outDim) (not a
    * reciprocal multiply) for the same reason. */
  def randomProject(v: ArrayData, signs: Array[Double], dims: Int,
                    outDim: Int): ArrayData = {
    val root = math.sqrt(outDim.toDouble)
    val out = new Array[Any](outDim)
    var j = 0
    while (j < outDim) {
      var s = 0.0
      val base = j * dims
      var d = 0
      while (d < dims) { s += v.getDouble(d) * signs(base + d); d += 1 }
      out(j) = s / root
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ encode: codes(s) = argmin_c Σ_d (v[s·subDim+d] −
    * cb[(s·k+c)·subDim+d])², strict-less argmin so ties keep the
    * LOWEST code. The squared-distance accumulation ascends d —
    * bit-identical to the oracle SQL's sequential list_sum, so the
    * argmin needs no rounding to agree across engines. */
  def pqEncode(v: ArrayData, cb: Array[Double], m: Int, k: Int,
               subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        var d2 = 0.0
        val base = (s * k + c) * subDim
        var d = 0
        while (d < subDim) {
          val diff = v.getDouble(s * subDim + d) - cb(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ ADC lookup table of one query: lut(s·k+c) = Σ_d
    * q[s·subDim+d] · cb[(s·k+c)·subDim+d] (ascending-d accumulation —
    * the oracle-parity contract). m·k doubles per query. */
  def pqLut(q: ArrayData, cb: Array[Double], m: Int, k: Int,
            subDim: Int): ArrayData = {
    val out = new Array[Double](m * k)
    var sc = 0
    while (sc < m * k) {
      val s = sc / k
      var acc = 0.0
      val base = sc * subDim
      var d = 0
      while (d < subDim) {
        acc += q.getDouble(s * subDim + d) * cb(base + d)
        d += 1
      }
      out(sc) = acc
      sc += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ ADC score: Σ_s lut[s·k + codes(s)] — the inner product of the
    * query with the RECONSTRUCTED (quantized) vector, exactly. */
  def pqAdc(codes: ArrayData, lut: ArrayData, k: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) { acc += lut.getDouble(s * k + codes.getInt(s)); s += 1 }
    acc
  }

  /** Weighted (frequency-weight) type-7 quantile of a SORTED
    * (v: double, w: long) pair array — the exact quantile of the
    * expanded multiset, computed by one CDF walk. Bit-identical
    * algebra to the interpreted HOF fold it replaces
    * (GroupByReduce.weighted r12: target=(n−1)·q, lo=floor,
    * lov·(1−frac)+hiv·frac — measured 8 CPU-sec/100k rows interpreted
    * vs a plain loop here). Returns null (boxed) for an empty array. */
  def wquantile(arr: ArrayData, q: Double): Any = {
    val m = arr.numElements()
    var n = 0L
    var i = 0
    // null struct ELEMENTS and null FIELDS are both SKIPPED
    // (collect_list parity): the internal GroupByReduce path never
    // produces either, but the graft_wquantile SQL registration is
    // user-reachable, and a non-null (v,w) struct with a null field
    // would otherwise read undefined bits via getDouble/getLong on an
    // UnsafeRow (r13/r14 review)
    @inline def validPair(row: org.apache.spark.sql.catalyst.InternalRow)
      : Boolean = row != null && !row.isNullAt(0) && !row.isNullAt(1)
    while (i < m) {
      val row = arr.getStruct(i, 2)
      if (validPair(row)) n += row.getLong(1)
      i += 1
    }
    if (n <= 0) return null
    val target = (n - 1).toDouble * q
    val lo = math.floor(target).toLong
    val frac = target - math.floor(target)
    val hiPos = math.min(lo + 1, n - 1)
    var lov = 0.0; var hiv = 0.0
    var foundLo = false; var foundHi = false
    var cum = 0L
    i = 0
    while (i < m && !(foundLo && foundHi)) {
      val row = arr.getStruct(i, 2)
      if (validPair(row)) {
        val w = row.getLong(1)
        if (!foundLo && lo < cum + w) { lov = row.getDouble(0); foundLo = true }
        if (!foundHi && hiPos < cum + w) { hiv = row.getDouble(0); foundHi = true }
        cum += w
      }
      i += 1
    }
    // frac == 0 → the element itself: hiv·0 would be NaN for an
    // infinite bracketing element (quantiles() has the same guard)
    java.lang.Double.valueOf(
      if (frac == 0.0) lov else lov * (1.0 - frac) + hiv * frac)
  }

  /** Id of the nearest centroid by rounded cosine, smallest-cid
    * tie-break — the scalar replica of Similarity.nearestCentroids'
    * max_by(struct(round(sim, 6), -cid)) for n = 1. `matrix` is
    * row-major cids.length x dims, `norms` the per-centroid L2 norms;
    * sim = dot / (|v| |c|) when both norms > 0 else 0.0, rounded
    * HALF_UP to 6 places exactly like Spark's Round on double. */
  def nearestCid(v: ArrayData, matrix: Array[Double], norms: Array[Double],
                 cids: Array[Long], dims: Int): Long = {
    var vn = 0.0
    var d = 0
    while (d < dims) { val x = v.getDouble(d); vn += x * x; d += 1 }
    vn = math.sqrt(vn)
    var bestSim = Double.NegativeInfinity
    var bestCid = Long.MaxValue
    var c = 0
    while (c < cids.length) {
      val nn = vn * norms(c)
      val sim =
        if (nn > 0) {
          var s = 0.0
          val base = c * dims
          var i = 0
          while (i < dims) { s += v.getDouble(i) * matrix(base + i); i += 1 }
          s / nn
        } else 0.0
      val rounded = java.math.BigDecimal.valueOf(sim)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      if (rounded > bestSim || (rounded == bestSim && cids(c) < bestCid)) {
        bestSim = rounded
        bestCid = cids(c)
      }
      c += 1
    }
    bestCid
  }
}

/** Map-only IVF assignment: the nearest centroid id per vector, with
  * the (tiny, bounded-by-contract) centroid table embedded as a
  * reference object rather than joined — no broadcast exchange and no
  * per-vector aggregation shuffle; the assignment stays inside the scan
  * stage so a following groupBy(cid) partially aggregates map-side.
  * Semantics are the scalar replica of nearestCentroids(n = 1): rounded
  * cosine, smallest cid on ties; null or ragged vectors yield null. */
case class NearestCentroid(child: Expression, cids: Array[Long],
                           matrix: Array[Double], dims: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(cids.nonEmpty, "empty centroid table")
  require(matrix.length == cids.length * dims,
    "matrix must be cids.length x dims")

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  private lazy val norms: Array[Double] = {
    val out = new Array[Double](cids.length)
    var c = 0
    while (c < cids.length) {
      var s = 0.0
      val base = c * dims
      var i = 0
      while (i < dims) { s += matrix(base + i) * matrix(base + i); i += 1 }
      out(c) = math.sqrt(s)
      c += 1
    }
    out
  }

  private lazy val needNullCheck: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    if (needNullCheck) {
      var i = 0
      while (i < dims) { if (v.isNullAt(i)) return null; i += 1 }
    }
    VectorKernels.nearestCid(v, matrix, norms, cids, dims)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("matrix", matrix, "double[]")
      val ns = ctx.addReferenceObj("norms", norms, "double[]")
      val cs = ctx.addReferenceObj("cids", cids, "long[]")
      val i = ctx.freshName("i")
      val elemNullCheck =
        if (needNullCheck)
          s"""for (int $i = 0; $i < $dims && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |if ($a.numElements() != $dims) { ${ev.isNull} = true; }
         |$elemNullCheck
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.VectorKernels.nearestCid(
         |    $a, $m, $ns, $cs, $dims);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

/** All LSH table signatures in one fused pass over the vector. The
  * previous formulation evaluated `planes` separate DotProduct calls,
  * each re-traversing the vector and each carrying its own typedlit
  * weight array through codegen — 16 loops and 16 literal references
  * per row for the default config. One expression, one reference
  * object, one traversal. Null or length-mismatched vectors yield null
  * (the signature of a ragged vector is garbage — same stance as
  * DotProduct); null elements yield null via the same check. */
/** Johnson–Lindenstrauss ±1 (Achlioptas 2003) random projection of a
  * dense embedding to `outDim` dimensions. The sign matrix is derived
  * DETERMINISTICALLY from md5("seed:j:i") (first hex digit 0–7 → +1,
  * else −1) so any engine — the DuckDB oracle included — re-derives
  * the identical matrix from the seed string alone; no RNG state, no
  * shipped weights. Wrong-length input → null (the DotProduct
  * contract). Map-only: the 100 TB use is compressing 1024-d
  * embeddings before LSH/IVF to cut shuffle bytes. */
case class RandomProjectExpr(child: Expression, inDim: Int, outDim: Int,
                             seed: String)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(inDim >= 1 && outDim >= 1, "dims must be >= 1")

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  @transient private lazy val signs: Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](outDim * inDim)
    var j = 0
    while (j < outDim) {
      var i = 0
      while (i < inDim) {
        md.reset()
        val h = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
        out(j * inDim + i) = if (((h(0) >> 4) & 0xF) < 8) 1.0 else -1.0
        i += 1
      }
      j += 1
    }
    out
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != inDim) null
    else VectorKernels.randomProject(v, signs, inDim, outDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val s = ctx.addReferenceObj("signs", signs, "double[]")
      s"""
         |if ($a.numElements() != $inDim) { ${ev.isNull} = true; }
         |else {
         |  ${ev.value} = graft.functions.VectorKernels.randomProject(
         |    $a, $s, $inDim, $outDim);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RandomProjectExpr =
    copy(child = c)
}

case class LshPlaneSigs(child: Expression, weights: Array[Double],
                        dims: Int, bandPlanes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(weights.length % dims == 0, "weights must be planes x dims")
  require((weights.length / dims) % bandPlanes == 0,
    "planes must be a multiple of bandPlanes")

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  private lazy val needNullCheck: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    if (needNullCheck) {
      var i = 0
      while (i < dims) { if (v.isNullAt(i)) return null; i += 1 }
    }
    VectorKernels.lshPlaneSigs(v, weights, dims, bandPlanes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val w = ctx.addReferenceObj("weights", weights, "double[]")
      val i = ctx.freshName("i")
      val elemNullCheck =
        if (needNullCheck)
          s"""for (int $i = 0; $i < $dims && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |if ($a.numElements() != $dims) { ${ev.isNull} = true; }
         |$elemNullCheck
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.VectorKernels.lshPlaneSigs(
         |    $a, $w, $dims, $bandPlanes);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LshPlaneSigs =
    copy(child = c)
}

/** Product-quantization encode: m codes per vector, code s = nearest
  * (squared-L2) of the k sub-centroids of subspace s. The flat
  * codebook ((s·k+c)·subDim+d layout) rides as a plan constant via
  * addReferenceObj — the NearestCentroid posture. Wrong-length or
  * null-element vectors → null. */
case class PqEncodeExpr(child: Expression, cb: Array[Double],
                        m: Int, k: Int, subDim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(cb.length == m * k * subDim, "codebook must be m*k*subDim")

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def nullable: Boolean = true

  private lazy val needNullCheck: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }

  private def dims = m * subDim

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    if (needNullCheck) {
      var i = 0
      while (i < dims) { if (v.isNullAt(i)) return null; i += 1 }
    }
    VectorKernels.pqEncode(v, cb, m, k, subDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqCb", cb, "double[]")
      val i = ctx.freshName("i")
      val elemNullCheck =
        if (needNullCheck)
          s"""for (int $i = 0; $i < $dims && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |if ($a.numElements() != $dims) { ${ev.isNull} = true; }
         |$elemNullCheck
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.VectorKernels.pqEncode(
         |    $a, $cbRef, $m, $k, $subDim);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

/** Per-query ADC lookup table (m·k inner products with every
  * sub-centroid) — computed once per QUERY row, so the corpus-side
  * scoring is pure table lookups. */
case class PqLutExpr(child: Expression, cb: Array[Double],
                     m: Int, k: Int, subDim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(cb.length == m * k * subDim, "codebook must be m*k*subDim")

  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  private lazy val needNullCheck: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _                          => false
  }

  private def dims = m * subDim

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    if (needNullCheck) {
      var i = 0
      while (i < dims) { if (v.isNullAt(i)) return null; i += 1 }
    }
    VectorKernels.pqLut(v, cb, m, k, subDim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqCb", cb, "double[]")
      val i = ctx.freshName("i")
      val elemNullCheck =
        if (needNullCheck)
          s"""for (int $i = 0; $i < $dims && !${ev.isNull}; $i++) {
             |  if ($a.isNullAt($i)) ${ev.isNull} = true;
             |}""".stripMargin
        else ""
      s"""
         |if ($a.numElements() != $dims) { ${ev.isNull} = true; }
         |$elemNullCheck
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.VectorKernels.pqLut(
         |    $a, $cbRef, $m, $k, $subDim);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): PqLutExpr =
    copy(child = c)
}

/** ADC score: inner product of the query with the reconstructed
  * quantized vector — Σ_s lut[s·k + codes(s)]. Codegen'd lookup sum,
  * the per-candidate cost of PQ search. */
case class PqAdcExpr(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes = Seq(
    ArrayType(org.apache.spark.sql.types.IntegerType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    VectorKernels.pqAdc(codes.asInstanceOf[ArrayData],
      lut.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.functions.VectorKernels.pqAdc($c, $l, $k);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdcExpr = copy(left = l, right = r)
}

/** Weighted type-7 quantile over a pre-sorted (v double, w long) pair
  * array ([[VectorKernels.wquantile]]) — the codegen'd finalize step
  * of GroupByReduce.weighted's wquantile/wmedian: runs once per GROUP
  * on the sorted collect_list buffer. */
case class WeightedQuantileExpr(child: Expression, q: Double)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", DoubleType),
      org.apache.spark.sql.types.StructField("w", LongType)))))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.wquantile(input.asInstanceOf[ArrayData], q)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("wq")
      s"""
         |Object $tmp = graft.functions.VectorKernels.wquantile($a, $q);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) $tmp).doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): WeightedQuantileExpr =
    copy(child = c)
}

object VectorExprs {

  /** Sessions whose function registry already has the kernel. Weak keys:
    * a GC'd session drops its entry instead of leaking, and identity
    * keying on the object itself cannot collide the way an identity
    * *hash* can (hash values are reused after GC). */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the kernel in the session's function registry (idempotent,
    * cheap — createOrReplaceTempFunction just swaps a map entry). */
  /** Canonical (name, builder) registry of every graft kernel /
    * aggregate exposed as a SQL function — consumed by BOTH the lazy
    * per-session registration below (the Column-API path) and
    * [[graft.GraftExtensions]] (the `spark.sql.extensions` install
    * path, which injects these into every session at build time). */
  private[graft] lazy val functionBuilders: Seq[(String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    def strSeq(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
        .map(_.toString).toSeq
    def dblArr(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toDoubleArray()
    def int(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.eval().asInstanceOf[Int]
    Seq(
      "graft_dot" -> ((exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))),
      "graft_simhash32" -> (exprs => SimHashVote(exprs(0), 32)),
      "graft_minhash_md5" -> (exprs =>
        MinHashMd5(exprs(0), exprs(1).eval().toString)),
      "graft_minhash_md5_tokens" -> (exprs =>
        MinHashMd5Tokens(exprs(0), int(exprs(1)), exprs(2).eval().toString)),
      "graft_shingles" -> (exprs => ShinglesExpr(exprs(0), int(exprs(1)))),
      "graft_jaccard_sorted" -> (exprs => JaccardSorted(exprs(0), exprs(1))),
      "graft_linear_bag_score" -> (exprs =>
        LinearBagScoreExpr(exprs(0), dblArr(exprs(1)), int(exprs(2)))),
      "graft_quality_features" -> (exprs => QualityFeatures(exprs(0))),
      "graft_outlinks" -> (exprs => ExtractOutlinksExpr(exprs(0), exprs(1))),
      "graft_anchors" -> (exprs => ExtractAnchorsExpr(exprs(0), exprs(1))),
      "graft_registered_domain_url" -> (exprs =>
        RegisteredDomainOfUrl(exprs(0), strSeq(exprs(1)))),
      "graft_robots_match" -> (exprs =>
        RobotsPathMatch(exprs(0), exprs(1))),
      "graft_resolve_href" -> (exprs =>
        ResolveHrefExpr(exprs(0), exprs(1), exprs(2))),
      "graft_resolve_hrefs" -> (exprs =>
        ResolveHrefsExpr(exprs(0), exprs(1), exprs(2))),
      "graft_decode_html" -> (exprs =>
        DecodeHtmlExpr(exprs(0), exprs(1))),
      "graft_gopher_stats" -> (exprs => GopherStats(exprs(0))),
      "graft_pii_counts" -> (exprs => PiiCountsExpr(exprs(0), strSeq(exprs(1)))),
      "graft_pii_redact" -> (exprs =>
        PiiRedactExpr(exprs(0), strSeq(exprs(1)), strSeq(exprs(2)))),
      "graft_pii_maybe" -> (exprs => PiiMayContain(exprs(0))),
      "graft_bloom_any_shingle" -> (exprs =>
        BloomContainsAnyShingle(exprs(0),
          exprs(1).eval().asInstanceOf[Array[Byte]], int(exprs(2)))),
      "graft_bloom_contains" -> (exprs =>
        BloomContainsString(exprs(0),
          exprs(1).eval().asInstanceOf[Array[Byte]])),
      "graft_bloom_contains_bc" -> (exprs => {
        val id = exprs(1).eval().toString
        val bc = bloomBroadcasts.get(id)
        require(bc != null,
          s"no broadcast bloom registered under '$id' — construct the " +
            "column via VectorExprs.bloomContainsBc (the id literal is " +
            "an internal handle, not a user-supplied value)")
        BloomContainsStringBc(exprs(0), bc)
      }),
      "graft_bloom_contains_bin" -> (exprs =>
        BloomContainsBinary(exprs(0),
          exprs(1).eval().asInstanceOf[Array[Byte]])),
      "graft_bloom_contains_bin_bc" -> (exprs => {
        val id = exprs(1).eval().toString
        val bc = bloomBroadcasts.get(id)
        require(bc != null,
          s"no broadcast bloom registered under '$id' — construct the " +
            "column via VectorExprs.bloomContainsBinaryBc (the id " +
            "literal is an internal handle, not a user-supplied value)")
        BloomContainsBinaryBc(exprs(0), bc)
      }),
      "graft_hashed_bag_counts" -> (exprs =>
        HashedBagCountsExpr(exprs(0), int(exprs(1)))),
      "graft_langid" -> (exprs => LangIdBest(exprs(0))),
      "graft_minhash_xx64" -> (exprs =>
        MinHashXx64Tokens(exprs(0), int(exprs(1)), int(exprs(2)))),
      "graft_simhash_tokens" -> (exprs =>
        SimHashTokens(exprs(0), exprs(1).eval().asInstanceOf[Boolean])),
      "graft_random_project" -> (exprs =>
        RandomProjectExpr(exprs(0), int(exprs(1)), int(exprs(2)),
          exprs(3).eval().toString)),
      "graft_lsh_sigs" -> (exprs =>
        LshPlaneSigs(exprs(0), dblArr(exprs(1)), int(exprs(2)), int(exprs(3)))),
      "graft_vector_sum" -> (exprs => VectorSumAgg(exprs(0))),
      "graft_extremum_by" -> (exprs =>
        ExtremumByAgg(exprs(0), exprs(1),
          exprs(2).eval().asInstanceOf[Boolean])),
      "graft_long_product" -> (exprs => LongProductAgg(exprs(0))),
      "graft_topk" -> (exprs => TopKAgg(exprs(0), int(exprs(1)))),
      "graft_topk_by" -> (exprs =>
        TopKByAgg(exprs(0), exprs(1), int(exprs(2)))),
      "graft_top_shingle_frac" -> (exprs =>
        TopShingleFrac(exprs(0), int(exprs(1)))),
      "graft_repetition_stats" -> (exprs => RepetitionStats(exprs(0))),
      "graft_del_neighborhood" -> (exprs =>
        DeletionNeighborhood(exprs(0), int(exprs(1)))),
      "graft_chunk_windows" -> (exprs =>
        ChunkWindows(exprs(0), int(exprs(1)), int(exprs(2)),
          exprs.length > 3 && exprs(3).eval().asInstanceOf[Boolean])),
      "graft_nearest_centroid" -> (exprs =>
        NearestCentroid(exprs(0),
          exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray(),
          dblArr(exprs(2)), int(exprs(3)))),
      "graft_pq_encode" -> (exprs =>
        PqEncodeExpr(exprs(0), dblArr(exprs(1)), int(exprs(2)), int(exprs(3)),
          int(exprs(4)))),
      "graft_pq_lut" -> (exprs =>
        PqLutExpr(exprs(0), dblArr(exprs(1)), int(exprs(2)), int(exprs(3)),
          int(exprs(4)))),
      "graft_pq_adc" -> (exprs => PqAdcExpr(exprs(0), exprs(1), int(exprs(2)))),
      "graft_wvar_pop" -> (exprs => WeightedVarAgg(exprs(0), exprs(1))),
      "graft_wquantile" -> (exprs =>
        WeightedQuantileExpr(exprs(0),
          exprs(1).eval() match {
            case d: java.lang.Double => d.doubleValue()
            case other => other.toString.toDouble
          }))
    )
  }

  /** Ensure kernel registration in the active session, then pass the
    * (still-unresolved) column through — the Column-API entry for
    * kernels whose wrapper lives outside this file (graft.ops.Web's
    * link extractors). Resolution happens later, at analysis. */
  private[graft] def withKernels(c: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    c
  }

  def ensureRegistered(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) {
      val reg = org.apache.spark.sql.GraftSqlBridge.functionRegistry(spark)
      functionBuilders.foreach { case (name, builder) =>
        reg.createOrReplaceTempFunction(name, builder, "built-in")
      }
    }

  /** Codegen'd dot product of two vector columns (any numeric array —
    * analysis casts to array<double>). Registers the kernel in the
    * active session so standalone Column use works; DataFrame entry
    * points in graft.ops.Similarity also register on their input's
    * session (which may differ from the active one). */
  def dot(a: Column, b: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_dot", a, b)
  }

  /** JL ±1 random projection (see [[RandomProjectExpr]]). */
  def randomProject(emb: Column, inDim: Int, outDim: Int, seed: String): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_random_project", emb, lit(inDim), lit(outDim), lit(seed))
  }

  /** Deterministic min_by/max_by with arbitrary orderable ordering —
    * ObjectHashAggregate plan shape, no SortAggregate fallback (see
    * [[ExtremumByAgg]]). */
  def extremumBy(value: Column, ordering: Column, isMax: Boolean): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_extremum_by", value, ordering, lit(isMax))
  }

  /** Numerically stable weighted population variance (see
    * [[WeightedVarAgg]] — weighted Welford/Chan); null on all-skipped
    * groups, NaN on zero total weight. */
  def weightedVarPop(value: Column, weight: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_wvar_pop", value, weight)
  }

  /** Exact int64 product with NumPy wraparound semantics (see
    * [[LongProductAgg]]); null on empty/all-null groups. */
  def longProduct(v: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_long_product", v.cast("long"))
  }

  /** Bounded per-group top-k values, descending `array<double>` —
    * O(k) heap state per group at every stage (see [[TopKAgg]]). */
  def topK(v: Column, k: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_topk", v.cast("double"), lit(k))
  }

  /** Bounded per-group top-k PAYLOADS by an ordering column — the
    * window-free per-group cap (see [[TopKByAgg]]): O(k) heap state
    * per group, map-side combinable. */
  def topKBy(value: Column, ordering: Column, k: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_topk_by", value, ordering, lit(k))
  }

  /** Codegen'd 32-bit SimHash vote over an array<long> of token hashes. */
  def simhash32(tokenHashes: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_simhash32", tokenHashes)
  }

  /** One-pass min-md5 over an array<string> (MinHash lane / rolling
    * fingerprint kernel). */
  def minHashMd5(shingles: Column, prefix: String): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_minhash_md5", shingles,
      org.apache.spark.sql.functions.lit(prefix))
  }

  /** Codegen'd k-token shingling (tokens -> array of space-joined
    * k-grams; < k tokens -> empty array). */
  def shingles(tokens: Column, k: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_shingles", tokens,
      org.apache.spark.sql.functions.lit(k))
  }

  /** One-pass quality-count struct over LOWERCASED text. */
  def qualityFeatures(loweredText: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_quality_features", loweredText)
  }

  /** One-pass marker-list language ID over a token array. */
  def langIdBest(tokens: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_langid", tokens)
  }

  /** One-pass Jaccard over two sorted deduplicated string arrays. */
  def jaccardSorted(aSorted: Column, bSorted: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_jaccard_sorted", aSorted, bSorted)
  }

  /** Fused k-shingle + min-md5 lane over a TOKEN array — shingles are
    * streamed into the digest, never materialized. */
  def minHashMd5Tokens(tokens: Column, k: Int, prefix: String): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_minhash_md5_tokens", tokens,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(prefix))
  }

  /** Codegen'd linear hashed-bag margin over a token array (the
    * QualityClassifier scorer); null when no nonempty token. */
  /** All PII category match counts in one pass (array<long>, declared
    * order) — see [[graft.functions.PiiCountsExpr]]. */
  def piiCounts(text: Column, regexes: Seq[String]): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_pii_counts", text,
      org.apache.spark.sql.functions.typedLit(regexes))
  }

  /** Byte-scan necessary-condition PII prefilter — see
    * [[graft.functions.PiiMayContain]]. */
  def piiMayContain(text: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_pii_maybe", text)
  }

  /** Ordered multi-category PII redaction in one pass — see
    * [[graft.functions.PiiRedactExpr]]. */
  def piiRedact(text: Column, regexes: Seq[String],
                tokens: Seq[String]): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_pii_redact", text,
      org.apache.spark.sql.functions.typedLit(regexes),
      org.apache.spark.sql.functions.typedLit(tokens))
  }

  /** True iff any k-token shingle of `tokens` might be in the bloom
    * filter (serialized bytes) — see
    * [[graft.functions.BloomContainsAnyShingle]]. */
  def bloomAnyShingle(tokens: Column, bloomBytes: Array[Byte], k: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_bloom_any_shingle", tokens, lit(bloomBytes), lit(k))
  }

  /** Scalar bloom membership: true iff `s` might be in the serialized
    * filter (plan constant) — see
    * [[graft.functions.BloomContainsString]]. */
  def bloomContains(s: Column, bloomBytes: Array[Byte]): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_bloom_contains", s, lit(bloomBytes))
  }

  /** Driver-side handle registry for [[bloomContainsBc]]: the SQL
    * function builder can only receive literals, so the Column wrapper
    * registers the `Broadcast[BloomFilter]` here and passes its id.
    * The handle stays registered (and the broadcast blocks pinned) for
    * the session's lifetime — exactly what a long-running streaming
    * query needs; call [[releaseBloomBroadcasts]] when an operator
    * built over it is permanently retired. Driver RESTART is safe by
    * construction: streaming checkpoints persist offsets/state, never
    * the physical plan — on restart user code re-invokes the operator
    * constructor, which registers a FRESH broadcast in the new
    * session; a stale id can never be read back from a checkpoint. */
  private val bloomBroadcasts = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter]]()

  /** Broadcast a serialized filter once and return the registry handle
    * — share it across every [[bloomContainsBc]] column of one
    * operator (per-column broadcasting would pin one filter copy per
    * band in the block manager). The handle is keyed by
    * (applicationId, md5 of the filter bytes), so REPEATED operator
    * construction over the same filter — a daily batch job re-invoking
    * the drop, a restarted streaming query — reuses the ONE existing
    * broadcast instead of pinning a fresh GB-scale copy per call (the
    * leak a UUID key would have). The applicationId component stops a
    * restarted test/driver from reusing a handle whose blocks died
    * with the previous SparkContext. */
  def registerBloomBroadcast(spark: SparkSession,
                             bloomBytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val id = spark.sparkContext.applicationId + ":" +
      md.digest(bloomBytes).map("%02x".format(_)).mkString
    bloomBroadcasts.computeIfAbsent(id, _ =>
      spark.sparkContext.broadcast(
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bloomBytes))))
    id
  }

  /** [[bloomContains]] with torrent-broadcast delivery — see
    * [[graft.functions.BloomContainsStringBc]]. The filter crossed the
    * cluster once at [[registerBloomBroadcast]]; the plan carries the
    * handle. Size-gated dispatch between this and the plan-constant
    * variant lives in the dedup operators. */
  def bloomContainsBc(s: Column, spark: SparkSession,
                      handle: String): Column = {
    ensureRegistered(spark)
    call_function("graft_bloom_contains_bc", s, lit(handle))
  }

  /** [[bloomContains]] over a BINARY key (r22 band-key format) —
    * probe hash bit-identical to the build's `putBinary`. */
  def bloomContainsBinary(s: Column, bloomBytes: Array[Byte]): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_bloom_contains_bin", s, lit(bloomBytes))
  }

  /** [[bloomContainsBinary]] with torrent-broadcast delivery. */
  def bloomContainsBinaryBc(s: Column, spark: SparkSession,
                            handle: String): Column = {
    ensureRegistered(spark)
    call_function("graft_bloom_contains_bin_bc", s, lit(handle))
  }

  /** Destroy every broadcast bloom registered via
    * [[registerBloomBroadcast]] (test/retirement hook — plans built
    * over them must not run afterwards). Entries whose SparkContext
    * already died are just dropped (their blocks died with it). */
  def releaseBloomBroadcasts(): Unit = {
    val it = bloomBroadcasts.values().iterator()
    while (it.hasNext) {
      try it.next().destroy()
      catch { case _: Throwable => () }
      it.remove()
    }
  }

  /** Per-row hashed-bag count vector (dim doubles) over a token array
    * (see [[graft.functions.HashedBagCountsExpr]]). */
  def hashedBagCounts(tokens: Column, dim: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_hashed_bag_counts", tokens, lit(dim))
  }

  /** One-pass Gopher rule-filter counts over LOWERCASED text
    * (see [[graft.functions.GopherStats]]). */
  def gopherStats(loweredText: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_gopher_stats", loweredText)
  }

  def linearBagScore(tokens: Column, weights: Seq[Double], dim: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_linear_bag_score", tokens,
      org.apache.spark.sql.functions.typedLit(weights),
      org.apache.spark.sql.functions.lit(dim))
  }

  /** Fused k-shingle + min-xxhash64 lane over a TOKEN array (k = 1:
    * per-element minhash over an existing shingle array). */
  def minHashXx64Tokens(tokens: Column, k: Int, seed: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_minhash_xx64", tokens,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(seed))
  }

  /** Fused token-hash + 32-bit SimHash vote over a token array. */
  def simhashTokens(tokens: Column, useMd5: Boolean): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_simhash_tokens", tokens,
      org.apache.spark.sql.functions.lit(useMd5))
  }

  /** All random-hyperplane LSH table signatures in one pass: array of
    * planes/bandPlanes packed longs for a dims-length vector. */
  def lshSigs(vec: Column, weights: Array[Double], dims: Int,
              bandPlanes: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_lsh_sigs", vec,
      org.apache.spark.sql.functions.lit(weights),
      org.apache.spark.sql.functions.lit(dims),
      org.apache.spark.sql.functions.lit(bandPlanes))
  }

  /** Per-row top k-gram share over a token array (one-pass hash count;
    * the map-only replacement for explode + grouped max/sum). */
  def topShingleFrac(tokens: Column, k: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_top_shingle_frac", tokens,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Grouped elementwise vector sum (array<double> rows -> one sum
    * array per group; partial sums combine map-side). */
  def vectorSum(vec: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_vector_sum", vec)
  }

  /** Depth-d deletion neighborhood (SymSpell blocking key set) of a
    * string column — the lossless candidate generator for
    * edit-distance joins (graft.ops.Linkage). */
  def deletionNeighborhood(s: Column, maxDeletes: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_del_neighborhood", s,
      org.apache.spark.sql.functions.lit(maxDeletes))
  }

  /** One-pass repetition-signal struct over LOWERCASED text. */
  def repetitionStats(loweredText: Column): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_repetition_stats", loweredText)
  }

  /** One-pass chunking GENERATOR over lowercased text: emits
    * (chunk_idx, n_chunk_tokens, chunk_text) per stride-spaced window.
    * Use in a select() like explode(); alias the three output columns
    * with .as(Seq(...)). */
  def chunkWindows(loweredText: Column, size: Int, stride: Int,
                   emitEmptyDoc: Boolean = false): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_chunk_windows", loweredText,
      org.apache.spark.sql.functions.lit(size),
      org.apache.spark.sql.functions.lit(stride),
      org.apache.spark.sql.functions.lit(emitEmptyDoc))
  }

  /** Map-only nearest-centroid id (rounded cosine, min-cid tie-break)
    * against a literal row-major centroid matrix. */
  def nearestCentroid(vec: Column, cids: Array[Long],
                      matrix: Array[Double], dims: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_nearest_centroid", vec,
      org.apache.spark.sql.functions.lit(cids),
      org.apache.spark.sql.functions.lit(matrix),
      org.apache.spark.sql.functions.lit(dims))
  }

  /** PQ codes of a vector against a flat literal codebook
    * (see [[graft.functions.PqEncodeExpr]]). */
  def pqEncode(vec: Column, cb: Array[Double], m: Int, k: Int,
               subDim: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_pq_encode", vec,
      org.apache.spark.sql.functions.lit(cb),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(subDim))
  }

  /** Per-query PQ ADC lookup table (see [[graft.functions.PqLutExpr]]). */
  def pqLut(vec: Column, cb: Array[Double], m: Int, k: Int,
            subDim: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_pq_lut", vec,
      org.apache.spark.sql.functions.lit(cb),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(subDim))
  }

  /** ADC score of a code array against a query LUT
    * (see [[graft.functions.PqAdcExpr]]). */
  def pqAdc(codes: Column, lut: Column, k: Int): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_pq_adc", codes, lut,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Weighted type-7 quantile of a SORTED (v double, w long) pair
    * array (see [[graft.functions.WeightedQuantileExpr]]). */
  def weightedQuantile(sortedPairs: Column, q: Double): Column = {
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .foreach(ensureRegistered)
    call_function("graft_wquantile", sortedPairs,
      org.apache.spark.sql.functions.lit(q))
  }
}
