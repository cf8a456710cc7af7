package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

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
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot needs array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

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
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig needs array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sig = MinHashSignature.compute(
      Array.tabulate(hs.numElements())(hs.getLong), numPerms)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val p = ctx.freshName("p")
      val z = ctx.freshName("z"); val h = ctx.freshName("h")
      s"""
        int $n = $c.numElements();
        long[] $sig = new long[$numPerms];
        java.util.Arrays.fill($sig, Long.MAX_VALUE);
        for (int $i = 0; $i < $n; $i++) {
          long $h = $c.getLong($i);
          for (int $p = 0; $p < $numPerms; $p++) {
            long $z = $h + 0x9E3779B97F4A7C15L * ($p + 1);
            $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
            $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
            $z = $z ^ ($z >>> 31);
            if ($z < $sig[$p]) $sig[$p] = $z;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** interpreted path — same arithmetic as the generated code. */
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
case class TopNgramCount(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_top_ngram_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_top_ngram_count needs array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TopNgramCount.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TopNgramCount.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): TopNgramCount =
    copy(child = newChild)
}

object TopNgramCount {
  /** shared by interpreted eval and generated code. */
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
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_div"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_vec_div needs (array<double>, double), got " +
          s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val d = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) / d; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
        int $n = $a.numElements();
        double[] $out = new double[$n];
        for (int $i = 0; $i < $n; $i++) {
          $out[$i] = $a.getDouble($i) / $b;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDivide =
    copy(left = newLeft, right = newRight)
}

/** int8 quantization kernel: round(arr[i] / scale) clamped to
  * [-127, 127], as array<tinyint> — 4× smaller than float32 on disk and
  * over the wire, the standard storage/ANN-recall trade at corpus
  * scale. Symmetric (no zero-point): scale = maxAbs/127 keeps 0.0 → 0
  * exactly. Dequantization is [[VectorDequantInt8]]. */
case class VectorQuantizeInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false)
  override def prettyName: String = "graft_vec_quant_i8"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_vec_quant_i8 needs (array<double>, double), got " +
          s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val s = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q = Math.round(x.getDouble(i) / s)
      out(i) = Math.max(-127L, Math.min(127L, q)).toByte
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val q = ctx.freshName("q")
      s"""
        int $n = $a.numElements();
        byte[] $out = new byte[$n];
        for (int $i = 0; $i < $n; $i++) {
          long $q = java.lang.Math.round($a.getDouble($i) / $b);
          $out[$i] = (byte) java.lang.Math.max(-127L, java.lang.Math.min(127L, $q));
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorQuantizeInt8 =
    copy(left = newLeft, right = newRight)
}

/** integer dot product over two int8-quantized vectors — the direct
  * scoring kernel for quantized ANN: accumulates in a long (no
  * overflow: 127²·dim ≪ 2⁶³), caller multiplies by scaleA·scaleB.
  * Scoring quantized vectors directly reads 4× less data than
  * dequantize-then-dot and never materializes the double arrays. */
case class DotProductInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_i8"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(org.apache.spark.sql.types.ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot_i8 needs array<tinyint> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $s = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $s += ((long) $a.getByte($i)) * $b.getByte($i);
        }
        ${ev.value} = $s;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductInt8 =
    copy(left = newLeft, right = newRight)
}

/** int8 dequantization: arr[i] * scale back to array<double>. */
case class VectorDequantInt8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_dequant_i8"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.ByteType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_vec_dequant_i8 needs (array<tinyint>, double), got " +
          s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val s = b.asInstanceOf[Double]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getByte(i) * s; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
        int $n = $a.numElements();
        double[] $out = new double[$n];
        for (int $i = 0; $i < $n; $i++) {
          $out[$i] = $a.getByte($i) * $b;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDequantInt8 =
    copy(left = newLeft, right = newRight)
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
    extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash_sig needs array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashSignature.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val b = ctx.freshName("b"); val h = ctx.freshName("h")
      val votes = ctx.freshName("votes"); val sig = ctx.freshName("sig")
      s"""
        int $n = $c.numElements();
        int[] $votes = new int[$bits];
        for (int $i = 0; $i < $n; $i++) {
          long $h = $c.isNullAt($i) ? 0L : $c.getLong($i);
          for (int $b = 0; $b < $bits; $b++) {
            if ((($h >> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
          }
        }
        long $sig = 0L;
        for (int $b = 0; $b < $bits; $b++) {
          if ($votes[$b] > 0) $sig |= (1L << $b);
        }
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashSignature =
    copy(child = newChild)
}

object SimHashSignature {
  /** interpreted path — same arithmetic as the generated code. */
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
case class PortableWordHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_portable_word_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_portable_word_hashes needs array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val out = new Array[Long](words.numElements())
    var i = 0
    while (i < out.length) {
      val w = if (words.isNullAt(i)) null else words.getUTF8String(i)
      out(i) = PortableWordHashes.hashWord(
        if (w == null) "" else w.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val out = ctx.freshName("out"); val s = ctx.freshName("s")
      val cls = classOf[PortableWordHashes].getName
      s"""
        int $n = $c.numElements();
        long[] $out = new long[$n];
        for (int $i = 0; $i < $n; $i++) {
          java.lang.String $s = $c.isNullAt($i)
            ? "" : $c.getUTF8String($i).toString();
          $out[$i] = $cls.hashWord($s);
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PortableWordHashes =
    copy(child = newChild)
}

object PortableWordHashes {
  private final val M = 2147483647L
  private final val P1 = 2654435761L
  private final val P2 = 2246822519L

  /** charpoly + mix for one word — callable from generated code. */
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
    extends UnaryExpression {
  require(planes.nonEmpty && planes.length % rowsPerBand == 0,
    s"planes (${planes.length}) must be a positive multiple of rowsPerBand=$rowsPerBand")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sign_sketch"

  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_sketch needs array<double>, got ${t.simpleString}")
  }

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
  /** one pass over the vector's dots — callable from generated code. */
  def compute(v: ArrayData, planes: Array[Array[Double]],
              rowsPerBand: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
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
    new org.apache.spark.sql.catalyst.util.GenericArrayData(words)
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
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "graft_pq_encode: every subspace needs at least one centroid")
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)),
    "graft_pq_encode: all centroids must share one subvector length")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val c2Arr: Array[Array[Double]] =
    cbArr.map(_.map { c =>
      var s = 0.0; c.foreach(x => s += x * x) // sequential — oracle parity
      s
    })

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_encode needs array<double>, got ${t.simpleString}")
  }

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

  /** all m codes in one pass — callable from generated code. */
  def compute(v: ArrayData, cb: Array[Array[Array[Double]]],
              c2: Array[Array[Double]]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
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
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
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
  * yield null, as does any null slot among the first `bits` elements
  * when the array type admits element nulls (the null scan is only
  * emitted for containsNull inputs — cast-produced grids are
  * non-null and keep the tight kernel). `bits` ≤ 63 keeps the
  * signature non-negative in signed-64 engines. */
case class AHash(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63, "graft_ahash: bits must be in [1, 63]")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ahash"

  private lazy val elemsNullable = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ahash needs array<double>, got ${t.simpleString}")
  }

  private def anyNullSlot(px: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) { if (px.isNullAt(i)) return true; i += 1 }
    false
  }

  override def nullSafeEval(input: Any): Any = {
    val px = input.asInstanceOf[ArrayData]
    if (px.numElements() < bits) null
    else if (elemsNullable && anyNullSlot(px, bits)) null
    else {
      var s = 0.0; var i = 0
      while (i < bits) { s += px.getDouble(i); i += 1 }
      val mean = s / bits
      var h = 0L; i = 0
      while (i < bits) {
        if (px.getDouble(i) > mean) h += (1L << i); i += 1
      }
      h
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, px => {
      val s = ctx.freshName("s"); val m = ctx.freshName("m")
      val h = ctx.freshName("h"); val i = ctx.freshName("i")
      val nn = ctx.freshName("anyNull")
      val nullScan = if (elemsNullable)
        s"""if ($px.numElements() >= $bits) {
          for (int $i = 0; $i < $bits && !$nn; $i++) { $nn = $px.isNullAt($i); }
        }"""
      else ""
      s"""
        boolean $nn = false;
        $nullScan
        if ($px.numElements() < $bits || $nn) {
          ${ev.isNull} = true;
        } else {
          double $s = 0.0;
          for (int $i = 0; $i < $bits; $i++) { $s += $px.getDouble($i); }
          double $m = $s / $bits;
          long $h = 0L;
          for (int $i = 0; $i < $bits; $i++) {
            if ($px.getDouble($i) > $m) $h += (1L << $i);
          }
          ${ev.value} = $h;
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): AHash =
    copy(child = newChild)
}

/** Difference perceptual hash (dHash) over a w×h row-major luma grid:
  * bit r·(w−1)+c set iff pixel (r,c) < pixel (r,c+1). Pure integer/
  * compare arithmetic in one codegen loop; arrays shorter than w·h
  * yield null, as does any null slot among the first w·h elements of
  * a containsNull array (the [[AHash]] rule — the scan is skipped for
  * non-null element types). (w−1)·h ≤ 63 — same sign-portability rule
  * as [[AHash]]. */
case class DHash(child: Expression, w: Int, h: Int) extends UnaryExpression {
  require(w >= 2 && h >= 1 && (w - 1) * h <= 63,
    "graft_dhash: need w >= 2 and (w-1)*h <= 63")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dhash"

  private lazy val elemsNullable = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_dhash needs array<double>, got ${t.simpleString}")
  }

  private def anyNullSlot(px: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) { if (px.isNullAt(i)) return true; i += 1 }
    false
  }

  override def nullSafeEval(input: Any): Any = {
    val px = input.asInstanceOf[ArrayData]
    if (px.numElements() < w * h) null
    else if (elemsNullable && anyNullSlot(px, w * h)) null
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, px => {
      val hash = ctx.freshName("hash"); val r = ctx.freshName("r")
      val c = ctx.freshName("c"); val nn = ctx.freshName("anyNull")
      val nullScan = if (elemsNullable)
        s"""if ($px.numElements() >= ${w * h}) {
          for (int $r = 0; $r < ${w * h} && !$nn; $r++) { $nn = $px.isNullAt($r); }
        }"""
      else ""
      s"""
        boolean $nn = false;
        $nullScan
        if ($px.numElements() < ${w * h} || $nn) {
          ${ev.isNull} = true;
        } else {
          long $hash = 0L;
          for (int $r = 0; $r < $h; $r++) {
            for (int $c = 0; $c < ${w - 1}; $c++) {
              if ($px.getDouble($r * $w + $c) < $px.getDouble($r * $w + $c + 1))
                $hash += (1L << ($r * ${w - 1} + $c));
            }
          }
          ${ev.value} = $hash;
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): DHash =
    copy(child = newChild)
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
