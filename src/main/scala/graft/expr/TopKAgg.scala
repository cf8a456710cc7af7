package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Per-group top-k as a MERGEABLE bounded-state aggregate — the scale
  * alternative to the rank-window formulation. A row_number window must
  * shuffle EVERY row of every group and sort whole partitions before it
  * can drop anything; this aggregate keeps at most k (score, id) pairs
  * per group per map task (classic size-bounded binary heap, eviction
  * O(log k)), ships only those, and merges them associatively up the
  * aggregation tree — so a 100 TB corpus reduces to |groups|·k rows at
  * the map side and the sort cost is k·log k per group at eval, not
  * n·log n per partition. The result is EXACT (not a sketch): top-k
  * under the strict total order (score desc, id asc) is decomposable.
  *
  * Ordering: higher score wins; equal scores break toward the SMALLER
  * id, so with unique ids the order is total and the output is fully
  * deterministic and partitioning-independent (HeavyHittersSpec pins
  * both, plus the window-replay differential). For bottom-k, negate the
  * score. Scores compare by java.lang.Double ordering (NaN sorts
  * greatest — same as Spark's DESC sort placing NaN first). Rows with a
  * null score or id are skipped (SQL aggregate convention).
  *
  * Output: array<struct<score double, id long>> best-first.
  */
case class TopKAgg(
    left: Expression, right: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[(Double, Long)]]
  with BinaryLike[Expression] with ExpectsInputTypes {

  require(k >= 1, "graft_top_k: k must be >= 1")

  override def prettyName: String = "graft_top_k"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  /** head = WORST retained entry, so eviction is a peek/poll. */
  private def worstFirst = new java.util.Comparator[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(b._2, a._2)
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[(Double, Long)] =
    new java.util.PriorityQueue[(Double, Long)](k, worstFirst)

  /** true when (s, i) beats the queue's worst entry. */
  private def beats(q: java.util.PriorityQueue[(Double, Long)],
                    s: Double, i: Long): Boolean = {
    val w = q.peek()
    val c = java.lang.Double.compare(s, w._1)
    c > 0 || (c == 0 && i < w._2)
  }

  private def insert(q: java.util.PriorityQueue[(Double, Long)],
                     s: Double, i: Long): Unit =
    if (q.size < k) q.offer((s, i))
    else if (beats(q, s, i)) { q.poll(); q.offer((s, i)) }

  override def update(q: java.util.PriorityQueue[(Double, Long)],
                      input: InternalRow): java.util.PriorityQueue[(Double, Long)] = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null)
      insert(q, s.asInstanceOf[Double], i.asInstanceOf[Long])
    q
  }

  override def merge(a: java.util.PriorityQueue[(Double, Long)],
                     b: java.util.PriorityQueue[(Double, Long)]): java.util.PriorityQueue[(Double, Long)] = {
    val it = b.iterator()
    while (it.hasNext) {
      val e = it.next()
      insert(a, e._1, e._2)
    }
    a
  }

  override def eval(q: java.util.PriorityQueue[(Double, Long)]): Any = {
    val entries = new Array[(Double, Long)](q.size)
    var i = 0
    val it = q.iterator()
    while (it.hasNext) { entries(i) = it.next(); i += 1 }
    // best-first: exactly the reverse of worstFirst
    java.util.Arrays.sort(entries, worstFirst.reversed())
    new GenericArrayData(entries.map { case (s, id) =>
      InternalRow(s, id)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(q: java.util.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + q.size * 16)
    bb.putInt(q.size)
    val it = q.iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putDouble(e._1); bb.putLong(e._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = createAggregationBuffer()
    var i = 0
    while (i < n) { out.offer((bb.getDouble, bb.getLong)); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAgg =
    copy(left = newLeft, right = newRight)
}

object TopK {
  /** exact per-group top-k summary as a Column:
    * array<struct<score double, id bigint>> best-first
    * (score desc, id asc). */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(score.cast("double")),
        ColumnBridge.expression(id.cast("long")), k).toAggregateExpression())
}
