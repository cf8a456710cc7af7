package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Codegen'd double-precision dot product over two array columns.
  *
  * The embedding hot path (cosine similarity joins / top-k) evaluates a
  * dot per candidate PAIR — at 10⁷+ pairs the generic
  * `aggregate(zip_with(...))` formulation allocates an intermediate
  * array and boxes every element; this expression is a tight primitive
  * loop inside whole-stage codegen.
  *
  * Accumulation is sequential in element order — bit-identical to the
  * `aggregate(zip_with())` fold AND to DuckDB's `list_sum(list_transform)`
  * oracle formulation, so swapping it in cannot move a result even by
  * one ulp. Float inputs are implicitly cast to array<double> first
  * (same as the previous explicit per-element casts).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.DotProduct.fold($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** The dot product's one loop, shared by the generated code and
    * [[MmrSelect]]: a sequential double fold over the common prefix. */
  def fold(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
}

/** MinHash signature over a document's shingle-hash array: for each of
  * `numPerms` permutations p, min over shingles h of splitmix64(h, p).
  *
  * The higher-order-function formulation materialized a numPerms-element
  * array per SHINGLE row (corpus × shingles × perms allocations); this
  * computes the whole signature in one tight codegen loop per DOCUMENT.
  * splitmix64's finalizer is a full-avalanche mixer, so the per-perm
  * hash family has the independence MinHash needs, deterministically.
  */
case class MinHashSignature(child: Expression, numPerms: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.MinHashSignature.signature($c, $numPerms);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** The kernel over one row: the hashes are copied once into a
    * primitive array, so the hot loop makes no per-element call. */
  def signature(hashes: ArrayData, numPerms: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(compute(hashes.toLongArray(), numPerms))

  def compute(hashes: Array[Long], numPerms: Int): Array[Long] = {
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var p = 0
      while (p < numPerms) {
        var z = h + 0x9E3779B97F4A7C15L * (p + 1)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        if (z < sig(p)) sig(p) = z
        p += 1
      }
      i += 1
    }
    sig
  }
}

/** count of the single most frequent word n-gram in a token array —
  * the kernel of TextAnalysis.topNgramFraction. A higher-order-function
  * formulation is evaluated INTERPRETED (ArrayTransform/ArrayAggregate
  * are CodegenFallback) and re-evaluates captured expressions per
  * element — measured seconds per thousand rows; this is one tight
  * build-sort-scan loop per document, exact string equality (no hash
  * collisions), inside whole-stage codegen. Returns 0 for docs shorter
  * than n tokens. */
case class TopNgramCount(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_top_ngram_count"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    TopNgramCount.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TopNgramCount.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TopNgramCount =
    copy(child = newChild)
}

object TopNgramCount {
  def compute(arr: ArrayData, n: Int): Long = {
    val L = arr.numElements()
    if (L < n) return 0L
    val m = L - n + 1
    val grams = new Array[String](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        val s = arr.getUTF8String(i + k)
        if (s != null) sb.append(s.toString)
        k += 1
      }
      grams(i) = sb.toString
      i += 1
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    var best = 1L; var run = 1L
    i = 1
    while (i < m) {
      if (grams(i) == grams(i - 1)) run += 1 else run = 1
      if (run > best) best = run
      i += 1
    }
    best
  }
}

/** elementwise arr[i] / divisor — the L2-normalize kernel. A
  * `transform(arr, x -> x / nrm)` HOF is CodegenFallback (interpreted,
  * boxing per element); this is one tight primitive loop. Division (not
  * multiply-by-reciprocal) keeps bit-parity with the DuckDB oracle's
  * `list_transform(v, x -> x / nrm)`. */
case class VectorDivide(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_div"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDivide.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.VectorDivide.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDivide =
    copy(left = newLeft, right = newRight)
}

object VectorDivide {
  /** Divides the once-copied primitive array in place (no per-element
    * call), then copies it unboxed into the result. */
  def compute(x: ArrayData, d: Double): ArrayData = {
    val out = x.toDoubleArray()
    var i = 0
    while (i < out.length) { out(i) /= d; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** int8 quantization kernel: round(arr[i] / scale) clamped to
  * [-127, 127], as array<tinyint> — 4× smaller than float32 on disk and
  * over the wire, the standard storage/ANN-recall trade at corpus
  * scale. Symmetric (no zero-point): scale = maxAbs/127 keeps 0.0 → 0
  * exactly. Dequantization is [[VectorDequantInt8]]. */
case class VectorQuantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "graft_vec_quant_i8"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), DoubleType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorQuantizeInt8.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.VectorQuantizeInt8.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorQuantizeInt8 =
    copy(left = newLeft, right = newRight)
}

object VectorQuantizeInt8 {
  def compute(x: ArrayData, scale: Double): ArrayData = {
    val out = new Array[Byte](x.numElements())
    var i = 0
    while (i < out.length) {
      val q = Math.round(x.getDouble(i) / scale)
      out(i) = Math.max(-127L, Math.min(127L, q)).toByte
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** integer dot product over two int8-quantized vectors — the direct
  * scoring kernel for quantized ANN: accumulates in a long (no
  * overflow: 127²·dim ≪ 2⁶³), caller multiplies by scaleA·scaleB.
  * Scoring quantized vectors directly reads 4× less data than
  * dequantize-then-dot and never materializes the double arrays. */
case class DotProductInt8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_i8"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType), ArrayType(ByteType))

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductInt8.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.DotProductInt8.fold($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductInt8 =
    copy(left = newLeft, right = newRight)
}

object DotProductInt8 {
  /** [[DotProduct.fold]] over int8 elements, accumulated in a long. */
  def fold(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i); i += 1 }
    s
  }
}

/** int8 dequantization: arr[i] * scale back to array<double>. */
case class VectorDequantInt8(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_dequant_i8"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(ByteType), DoubleType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorDequantInt8.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.VectorDequantInt8.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDequantInt8 =
    copy(left = newLeft, right = newRight)
}

object VectorDequantInt8 {
  def compute(x: ArrayData, scale: Double): ArrayData = {
    val out = new Array[Double](x.numElements())
    var i = 0
    while (i < out.length) { out(i) = x.getByte(i) * scale; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** SimHash over a document's word-hash array: bit b of the signature is
  * the majority vote of bit b across word hashes (strictly-positive
  * majority sets the bit; ties clear it).
  *
  * The higher-order-function formulation evaluated `bits` separate
  * interpreted `aggregate` folds per row — and each fold re-evaluated the
  * word-hash `transform` child per element (ArrayAggregate is
  * CodegenFallback). This computes all bit votes in ONE pass over the
  * array inside whole-stage codegen. Bit arithmetic is identical to the
  * fold (`(h >> b) & 1`, vote +1/-1, set iff votes > 0), so signatures —
  * and therefore the oracle-checked portable pair sets — cannot move.
  * Null elements vote −1 on every bit, matching the fold's
  * `when(null === 1, 1).otherwise(-1)` null semantics.
  */
case class SimHashSignature(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_sig"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    SimHashSignature.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.SimHashSignature.compute($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

object SimHashSignature {
  def compute(hashes: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = if (hashes.isNullAt(i)) 0L else hashes.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** The engine-portable word hash ([[graft.ops.TextAnalysis.portableWordHash]])
  * over every element of a word array, in one codegen pass.
  *
  * The Column formulation is a `transform` whose lambda is itself an
  * `aggregate` over `split(w, "")` — two nested CodegenFallback HOFs that
  * allocate a per-char array per word and evaluate the polynomial fold
  * interpreted. This computes the identical arithmetic — char-codepoint
  * polynomial `(acc·31 + cp) mod 2³¹−1` seeded at 7 (empty word → one
  * step with cp 0, matching `split('', '') = ['']` / `ascii('') = 0`),
  * finished with the portable mixer — as a tight loop per word.
  * Signatures and fingerprints built on it cannot move: every
  * intermediate is the same integer sequence the SQL oracle replays.
  * Null word elements (never produced by `split`) hash as the empty word.
  */
case class PortableWordHashes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_portable_word_hashes"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    PortableWordHashes.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.PortableWordHashes.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): PortableWordHashes =
    copy(child = newChild)
}

object PortableWordHashes {
  private final val M = 2147483647L
  private final val P1 = 2654435761L
  private final val P2 = 2246822519L

  def compute(words: ArrayData): ArrayData = {
    val out = new Array[Long](words.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = hashWord(if (words.isNullAt(i)) "" else words.getUTF8String(i).toString)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** charpoly + mix for one word. */
  def hashWord(s: String): Long = {
    var poly = 7L
    if (s.isEmpty) poly = (poly * 31) % M // split('','') = [''], ascii('') = 0
    else {
      var j = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        j += Character.charCount(cp)
        poly = (poly * 31 + cp) % M
      }
    }
    ((poly * P1 + P2) % M * P2) % M
  }
}

/** Random-hyperplane sign sketch: every band word of an embedding in one
  * codegen pass. Word w of band b packs `rowsPerBand` sign bits, bit r =
  * (vec · planes(b·rowsPerBand + r)) >= 0.
  *
  * The Column formulation evaluated bands × rowsPerBand separate
  * interpreted `aggregate(zip_with(...))` folds per row (128 with the
  * defaults), each allocating an intermediate array. One pass here, with
  * the same arithmetic: dots accumulate in element order, and a vector
  * whose length differs from the plane dimensionality — or containing a
  * null element — yields all-zero words, exactly as the null-poisoned
  * `zip_with` fold collapsed every `when` to its 0 branch.
  * Planes are compared structurally (Vector), so identical sketches
  * stay canonically equal for plan reuse.
  */
case class SignSketch(child: Expression,
                      planes: Vector[Vector[Double]], rowsPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(planes.nonEmpty && planes.length % rowsPerBand == 0,
    s"planes (${planes.length}) must be a positive multiple of rowsPerBand=$rowsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sign_sketch"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(input: Any): Any =
    SignSketch.compute(input.asInstanceOf[ArrayData], planesArr, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planesArr, "double[][]")
    val cls = classOf[SignSketch].getName
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $cls.compute($c, $planesRef, $rowsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): SignSketch =
    copy(child = newChild)
}

object SignSketch {
  /** one pass over the vector's dots. */
  def compute(v: ArrayData, planes: Array[Array[Double]],
              rowsPerBand: Int): ArrayData = {
    val d = planes(0).length
    val bands = planes.length / rowsPerBand
    val words = new Array[Long](bands)
    val n = v.numElements()
    var clean = n == d
    var i = 0
    while (clean && i < n) { if (v.isNullAt(i)) clean = false; i += 1 }
    if (clean) {
      var b = 0
      while (b < bands) {
        var word = 0L
        var r = 0
        while (r < rowsPerBand) {
          val p = planes(b * rowsPerBand + r)
          var s = 0.0
          var j = 0
          while (j < d) { s += v.getDouble(j) * p(j); j += 1 }
          if (s >= 0) word |= (1L << r)
          r += 1
        }
        words(b) = word
        b += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }
}

/** Product-quantization encode: for each subspace s, the index of the
  * nearest centroid to the vector's s-th subvector by squared L2, via
  * d = ‖c‖² − 2·x·c (the lloydProfile formula; ties → smaller index).
  *
  * The Column formulation built a K-element array of (d, j) structs per
  * subspace and took `array_min` — CreateArray/CreateStruct of 2·K
  * expression children per row evaluated INTERPRETED, a measured ~1.4 s
  * fixed overhead at sf0.1 regardless of data size. This computes all
  * m codes in one tight pass inside whole-stage codegen, with the SAME
  * arithmetic: ‖c‖² pre-folded sequentially per centroid (the driver
  * fold the oracle replays), the dot accumulated in element order, and
  * the argmin comparing doubles exactly as Spark's struct ordering did
  * (NaN greatest, −0.0 == 0.0, first index wins ties) — so codes, and
  * therefore q118's hash, cannot move.
  *
  * A vector shorter than (s+1)·sub truncates the dot to the available
  * elements — identical to the previous `slice` + min-length dot.
  * Codebooks are compared structurally (Vector), keeping canonical
  * equality for plan reuse; centroid counts may differ per subspace
  * (Lloyd cell drop) but every centroid must have the same length.
  */
case class PqEncode(child: Expression, codebooks: Vector[Vector[Vector[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "graft_pq_encode: every subspace needs at least one centroid")
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)),
    "graft_pq_encode: all centroids must share one subvector length")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val c2Arr: Array[Array[Double]] =
    cbArr.map(_.map { c =>
      var s = 0.0; c.foreach(x => s += x * x) // sequential — oracle parity
      s
    })

  override def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], cbArr, c2Arr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cbArr, "double[][][]")
    val c2Ref = ctx.addReferenceObj("c2", c2Arr, "double[][]")
    val cls = classOf[PqEncode].getName
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $cls.compute($c, $cbRef, $c2Ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqEncode {
  /** a < b under Spark's SQL double ordering (NaN greatest, −0.0 == 0.0)
    * — the comparison the struct array_min performed. */
  def lt(a: Double, b: Double): Boolean =
    if (a < b) true
    else if (a > b) false
    else if (a == b) false // covers -0.0 vs 0.0
    else !java.lang.Double.isNaN(a) && java.lang.Double.isNaN(b)

  /** all m codes in one pass. */
  def compute(v: ArrayData, cb: Array[Array[Array[Double]]],
              c2: Array[Array[Double]]): ArrayData = {
    val m = cb.length
    val sub = cb(0)(0).length
    val n = v.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * sub
      val lim = math.max(0, math.min(sub, n - base))
      val cents = cb(s)
      var bestJ = 0
      var best = Double.NaN
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var acc = 0.0
        var i = 0
        while (i < lim) { acc += v.getDouble(base + i) * c(i); i += 1 }
        val d = c2(s)(j) - 2.0 * acc
        if (j == 0 || lt(d, best)) { best = d; bestJ = j }
        j += 1
      }
      out(s) = bestJ
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Average perceptual hash (aHash) over a luma-grid array: bit i set
  * iff pixel i exceeds the mean of the first `bits` pixels.
  *
  * The Column formulation needs the mean inside all `bits` bit terms —
  * either a CodegenFallback HOF fold (interpreted, re-evaluated per
  * term: ~2 s / 50 k rows) or a `bits`-term add chain whose duplication
  * across terms explodes the expression tree. This kernel is two tight
  * loops per row inside whole-stage codegen. Arithmetic is bit-identical
  * to the oracle's `list_sum` formulation: sequential element-order
  * mean, `>` compare, exact long bit sum. Arrays shorter than `bits`
  * yield null, as does any null slot among the first `bits` elements.
  * `bits` ≤ 63 keeps the signature non-negative in signed-64 engines. */
case class AHash(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 63, "graft_ahash: bits must be in [1, 63]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ahash"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any =
    AHash.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, px =>
      Kernel.boxedOrNull(ctx, ev, dataType, s"graft.expr.AHash.compute($px, $bits)"))

  override protected def withNewChildInternal(newChild: Expression): AHash =
    copy(child = newChild)
}

object AHash {
  /** the hash, or null for a short grid or a null pixel. */
  def compute(px: ArrayData, bits: Int): java.lang.Long =
    if (Kernel.shortOrNull(px, bits)) null
    else {
      var s = 0.0; var i = 0
      while (i < bits) { s += px.getDouble(i); i += 1 }
      val mean = s / bits
      var h = 0L; i = 0
      while (i < bits) {
        if (px.getDouble(i) > mean) h += (1L << i)
        i += 1
      }
      h
    }
}

/** Difference perceptual hash (dHash) over a w×h row-major luma grid:
  * bit r·(w−1)+c set iff pixel (r,c) < pixel (r,c+1). Pure integer/
  * compare arithmetic in one codegen loop; arrays shorter than w·h
  * yield null, as does any null slot among the first w·h elements
  * (the [[AHash]] rule). (w−1)·h ≤ 63 — same sign-portability rule
  * as [[AHash]]. */
case class DHash(child: Expression, w: Int, h: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(w >= 2 && h >= 1 && (w - 1) * h <= 63,
    "graft_dhash: need w >= 2 and (w-1)*h <= 63")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dhash"
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def nullSafeEval(input: Any): Any =
    DHash.compute(input.asInstanceOf[ArrayData], w, h)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, px =>
      Kernel.boxedOrNull(ctx, ev, dataType, s"graft.expr.DHash.compute($px, $w, $h)"))

  override protected def withNewChildInternal(newChild: Expression): DHash =
    copy(child = newChild)
}

object DHash {
  /** the hash, or null for a short grid or a null pixel. */
  def compute(px: ArrayData, w: Int, h: Int): java.lang.Long =
    if (Kernel.shortOrNull(px, w * h)) null
    else {
      var hash = 0L; var r = 0
      while (r < h) {
        var c = 0
        while (c < w - 1) {
          if (px.getDouble(r * w + c) < px.getDouble(r * w + c + 1))
            hash += (1L << (r * (w - 1) + c))
          c += 1
        }
        r += 1
      }
      hash
    }
}

/** Helpers shared by the kernels and their generated code. */
private[expr] object Kernel {
  /** Generated code for a kernel call that returns a boxed value, or
    * null for a NULL result. */
  def boxedOrNull(ctx: CodegenContext, ev: ExprCode, dt: DataType, call: String): String = {
    val r = ctx.freshName("r")
    s"""${CodeGenerator.boxedType(dt)} $r = $call;
       |${ev.isNull} = $r == null;
       |if ($r != null) ${ev.value} = $r.${CodeGenerator.javaType(dt)}Value();""".stripMargin
  }

  /** true when `a` has fewer than `n` elements or a null among its first n. */
  def shortOrNull(a: ArrayData, n: Int): Boolean = {
    if (a.numElements() < n) return true
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }
}

object VectorExpressions {
  /** dot(a, b) as a Column — drop-in for the higher-order-function
    * formulation, ~an order of magnitude faster on the pair hot path.
    * Float inputs are cast to array<double> (same as the previous
    * explicit per-element casts — identical arithmetic). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a.cast("array<double>")),
      ColumnBridge.expression(b.cast("array<double>"))))

  /** aHash perceptual fingerprint of an array<double> luma grid. */
  def aHash(pixels: Column, bits: Int): Column =
    ColumnBridge.column(AHash(
      ColumnBridge.expression(pixels.cast("array<double>")), bits))

  /** dHash perceptual fingerprint of a w×h array<double> luma grid. */
  def dHash(pixels: Column, w: Int, h: Int): Column =
    ColumnBridge.column(DHash(
      ColumnBridge.expression(pixels.cast("array<double>")), w, h))

  /** MinHash signature of an array<bigint> of shingle hashes. */
  def minhashSig(hashes: Column, numPerms: Int): Column =
    ColumnBridge.column(MinHashSignature(
      ColumnBridge.expression(hashes), numPerms))

  /** SimHash signature (bit-majority) of an array<bigint> of word
    * hashes, low `bits` bits populated. */
  def simhashSig(hashes: Column, bits: Int): Column =
    ColumnBridge.column(SimHashSignature(
      ColumnBridge.expression(hashes), bits))

  /** all hyperplane-band sketch words of an embedding (array<long>,
    * one word per band of `rowsPerBand` sign bits). */
  def signSketch(vec: Column, planes: Vector[Vector[Double]],
                 rowsPerBand: Int): Column =
    ColumnBridge.column(SignSketch(
      ColumnBridge.expression(vec.cast("array<double>")), planes, rowsPerBand))

  /** portable word hash of every element of an array<string>. */
  def portableWordHashes(words: Column): Column =
    ColumnBridge.column(PortableWordHashes(ColumnBridge.expression(words)))

  /** most-frequent-word-n-gram count over a token array. */
  def topNgramCount(words: Column, n: Int): Column =
    ColumnBridge.column(TopNgramCount(ColumnBridge.expression(words), n))

  /** elementwise arr / divisor (L2-normalize kernel). */
  def vecDiv(arr: Column, divisor: Column): Column =
    ColumnBridge.column(VectorDivide(
      ColumnBridge.expression(arr.cast("array<double>")),
      ColumnBridge.expression(divisor.cast("double"))))

  /** symmetric int8 quantization of arr at the given scale. */
  def vecQuantizeInt8(arr: Column, scale: Column): Column =
    ColumnBridge.column(VectorQuantizeInt8(
      ColumnBridge.expression(arr.cast("array<double>")),
      ColumnBridge.expression(scale.cast("double"))))

  /** int8 dequantization back to array<double>. */
  def vecDequantInt8(arr: Column, scale: Column): Column =
    ColumnBridge.column(VectorDequantInt8(
      ColumnBridge.expression(arr),
      ColumnBridge.expression(scale.cast("double"))))

  /** integer dot over two int8 vectors (multiply by scaleA·scaleB for
    * the approximate real-valued dot). */
  def dotInt8(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductInt8(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** PQ codes of a vector against literal codebooks (array<int>, one
    * nearest-centroid index per subspace). */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(
      ColumnBridge.expression(vec.cast("array<double>")),
      codebooks.map(_.map(_.toVector).toVector).toVector))
}
