package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.lang.{Long => JLong}

/** Misra–Gries heavy hitters over a string column (Misra & Gries 1982;
  * mergeable-summaries merge rule from Agarwal et al., PODS 2012 —
  * public algorithms; the reference has no sketch equivalent): find the
  * frequent items of a 100 TB corpus with a k-counter summary per
  * partition instead of a corpus-wide groupBy. Each map task ships ONE
  * bounded buffer (≤ k−1 entries) and merges are associative, so the
  * whole corpus reduces in one aggregation tree — the top-tokens /
  * hot-URLs / dominant-domains pass that a full distinct-count shuffle
  * can't afford at scale.
  *
  * Guarantees (n = non-null input rows): every reported count c(x)
  * satisfies freq(x) − n/k ≤ c(x) ≤ freq(x), and every item with
  * freq(x) > n/k is present in the summary. When the column's distinct
  * count is < k the summary never evicts anywhere — counts are EXACT
  * and equal to a plain GROUP BY (q103's oracle).
  *
  * Update is the classic counter scheme: hit → +1; room → insert;
  * full → decrement every counter, drop zeros (amortized O(1): each
  * decrement round retires k−1 count units and each row adds one).
  * Merge sums counters pointwise, then restores the k−1 bound by
  * subtracting the k-th largest count from all and dropping ≤ 0 —
  * the PODS'12 rule that keeps the n/k bound additive across merges.
  *
  * Output: array<struct<item string, cnt long>> sorted by cnt desc,
  * item asc — deterministic for a deterministic input DATASET (the
  * surviving counter set is partitioning-dependent in general; it is
  * partitioning-INdependent in the exact regime, which is what the
  * oracle pins).
  */
case class MisraGriesAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[UTF8String, JLong]]
  with UnaryLike[Expression] with ExpectsInputTypes {

  require(k >= 2, "misra_gries: k must be >= 2")

  override def prettyName: String = "graft_misra_gries"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): java.util.HashMap[UTF8String, JLong] =
    new java.util.HashMap[UTF8String, JLong]()

  override def update(buf: java.util.HashMap[UTF8String, JLong],
                      input: InternalRow): java.util.HashMap[UTF8String, JLong] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      val cur = buf.get(s)
      if (cur != null) buf.put(s, cur + 1L)
      // clone: the UTF8String points into a reused UnsafeRow buffer
      else if (buf.size < k - 1) buf.put(s.clone(), 1L)
      else {
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.longValue == 1L) it.remove()
          else e.setValue(e.getValue - 1L)
        }
      }
    }
    buf
  }

  override def merge(a: java.util.HashMap[UTF8String, JLong],
                     b: java.util.HashMap[UTF8String, JLong]): java.util.HashMap[UTF8String, JLong] = {
    b.forEach { (s, c) =>
      val cur = a.get(s)
      a.put(s, if (cur == null) c else cur + c)
    }
    if (a.size > k - 1) {
      val counts = new Array[Long](a.size)
      var i = 0
      a.forEach { (_, c) => counts(i) = c; i += 1 }
      java.util.Arrays.sort(counts)
      val kth = counts(a.size - k) // k-th largest
      val it = a.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= kth) it.remove() else e.setValue(e.getValue - kth)
      }
    }
    a
  }

  override def eval(buf: java.util.HashMap[UTF8String, JLong]): Any = {
    val entries = new Array[(UTF8String, Long)](buf.size)
    var i = 0
    buf.forEach { (s, c) => entries(i) = (s, c); i += 1 }
    val sorted = entries.sortWith { case ((s1, c1), (s2, c2)) =>
      if (c1 != c2) c1 > c2 else s1.compareTo(s2) < 0
    }
    new GenericArrayData(sorted.map { case (s, c) =>
      InternalRow(s, c)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: java.util.HashMap[UTF8String, JLong]): Array[Byte] = {
    var bytes = 4
    buf.forEach { (s, _) => bytes += 4 + s.numBytes() + 8 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.size)
    buf.forEach { (s, c) =>
      val sb = s.getBytes
      bb.putInt(sb.length); bb.put(sb); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.HashMap[UTF8String, JLong] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new java.util.HashMap[UTF8String, JLong](n * 2)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val sb = new Array[Byte](len)
      bb.get(sb)
      out.put(UTF8String.fromBytes(sb), bb.getLong)
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

object HeavyHitters {
  /** the Misra–Gries summary as a Column:
    * array<struct<item, cnt>> (cnt desc, item asc). */
  def misraGries(c: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGriesAgg(ColumnBridge.expression(c), k).toAggregateExpression())
}
