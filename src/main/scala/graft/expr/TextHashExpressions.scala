package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen kernels for the word-n-gram hash hot paths (r19).
  *
  * The Column formulations — `transform(sequence(0, size(w)-n), i =>
  * xxhash64(get(w,i), ...))` — are CodegenFallback: ArrayTransform
  * interprets its lambda per element with boxing, and the captured
  * xxhash64 re-evaluates through the expression tree for every window.
  * Measured r19 (Profile, sf0.1): the ccnet bigram-array build was two
  * concurrent 4.1 s single-task jobs for ~1M bigrams (≈4 µs/element);
  * these kernels run the same windows through one tight loop.
  *
  * Hash fidelity: every hash routes through Spark's own
  * [[XxHash64Function]] with the same seed/chaining as the multi-arg
  * `xxhash64(...)` expression (fold left over arguments, null argument
  * leaves the accumulator untouched) — bit-identical outputs by
  * construction, which the unchanged oracle gate re-proves.
  */
object TextHash {
  private val S = StringType

  /** one argument step of Spark's multi-arg xxhash64 fold. */
  @inline private[expr] def step(w: UTF8String, seed: Long): Long =
    if (w == null) seed else XxHash64Function.hash(w, S, seed)

  /** all n-token window hashes of `words` in positional order —
    * hash = foldLeft(42L)((h, w) => xxhash64Step(w, h)) over the window,
    * exactly `xxhash64(w[i], ..., w[i+n-1])`. Fewer than n tokens →
    * empty. `distinct` keeps first occurrences in order, matching
    * `array_distinct`. */
  def ngramHashes(words: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = words.numElements()
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = len - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 42L
      var k = 0
      while (k < n) {
        val w = if (words.isNullAt(i + k)) null else words.getUTF8String(i + k)
        h = step(w, h)
        k += 1
      }
      out(i) = h
      i += 1
    }
    if (!distinct) UnsafeArrayData.fromPrimitiveArray(out)
    else {
      val seen = new java.util.HashSet[java.lang.Long](m * 2)
      val kept = new Array[Long](m)
      var o = 0
      i = 0
      while (i < m) {
        if (seen.add(out(i))) { kept(o) = out(i); o += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(kept, o))
    }
  }

  /** all bigram (h12, h1) pairs of `words` in positional order —
    * h12 = xxhash64(w[i], w[i+1]), h1 = xxhash64(w[i]); the shared
    * inner hash computes once. Fewer than 2 tokens → empty. */
  def bigramHashPairs(words: ArrayData): ArrayData = {
    val len = words.numElements()
    if (len < 2) return new GenericArrayData(Array.empty[Any])
    val m = len - 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val w1 = if (words.isNullAt(i)) null else words.getUTF8String(i)
      val w2 = if (words.isNullAt(i + 1)) null else words.getUTF8String(i + 1)
      val h1 = step(w1, 42L)
      val h12 = step(w2, h1)
      out(i) = InternalRow(h12, h1)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<long> (code points) → array<long> (trigram buckets): the
  * portable char-trigram feature hash of the trained language ID —
  * p1=(7·31+cp₀) mod M, p·31+cpₖ mod M chained, then the portable
  * mixer pmod(pmod(pmod(p,M)·P1+P2,M)·P2,M) and mod `buckets`; the
  * identical long arithmetic as the Column chain it replaces
  * ([[graft.ops.TextAnalysis.charTrigramBuckets]]), one tight loop
  * instead of an interpreted per-trigram lambda. NULL and arrays
  * shorter than 3 yield an empty result (the `when` guard's
  * `otherwise` branch), so the result is never NULL. */
case class CharTrigramBucketHashes(child: Expression, buckets: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(buckets >= 1, "graft_char_trigram_buckets: buckets must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_char_trigram_buckets"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def eval(input: InternalRow): Any =
    CharTrigramBucketHashes.compute(child.eval(input).asInstanceOf[ArrayData], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.expr.CharTrigramBucketHashes.compute(
        ${c.isNull} ? null : ${c.value}, $buckets);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharTrigramBucketHashes = copy(child = newChild)
}

object CharTrigramBucketHashes {
  private final val M = 2147483647L
  private final val P1 = 2654435761L
  private final val P2 = 2246822519L

  def compute(cps: ArrayData, buckets: Int): ArrayData = {
    val len = if (cps == null) 0 else cps.numElements()
    if (len < 3) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = len - 2
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val p1 = (217L + cps.getLong(i)) % M // 7·31 = 217
      val p2 = (p1 * 31L + cps.getLong(i + 1)) % M
      val p3 = (p2 * 31L + cps.getLong(i + 2)) % M
      val mix = (((p3 % M) * P1 + P2) % M * P2) % M
      out(i) = ((mix % buckets) + buckets) % buckets
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** array<string> → array<long>: positional n-gram window hashes,
  * optionally first-occurrence-distinct — the [[graft.ops.Dedup]]
  * shingle/window hot path. */
case class NgramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "graft_ngram_hashes: n must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    TextHash.ngramHashes(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TextHash.ngramHashes($c, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): NgramHashes =
    copy(child = newChild)
}

/** array<string> → array<struct<h12:long, h1:long>>: every adjacent
  * bigram's (pair hash, left-unigram hash) — the ccnet / bigram-LM
  * fit+score hot path ([[graft.ops.TextAnalysis]]). */
case class BigramHashPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h12", LongType, nullable = false),
      StructField("h1", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_bigram_hash_pairs"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    TextHash.bigramHashPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TextHash.bigramHashPairs($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramHashPairs =
    copy(child = newChild)
}

object TextHashExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** positional (non-distinct) n-gram window hashes — one codegen loop,
    * hashes identical to `xxhash64(w[i], ..., w[i+n-1])`. */
  def ngramHashesAll(words: Column, n: Int): Column =
    ColumnBridge.column(NgramHashes(ColumnBridge.expression(words), n,
      distinct = false))

  /** first-occurrence-distinct n-gram window hashes — matches
    * `array_distinct(transform(...))`. */
  def ngramHashesDistinct(words: Column, n: Int): Column =
    ColumnBridge.column(NgramHashes(ColumnBridge.expression(words), n,
      distinct = true))

  /** adjacent-bigram (h12, h1) struct array. */
  def bigramHashPairs(words: Column): Column =
    ColumnBridge.column(BigramHashPairs(ColumnBridge.expression(words)))

  /** portable char-trigram bucket array over a code-point array. */
  def charTrigramBuckets(cps: Column, buckets: Int): Column =
    ColumnBridge.column(CharTrigramBucketHashes(
      ColumnBridge.expression(cps), buckets))
}
