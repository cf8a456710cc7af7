package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

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
  * Payload: an optional third child whose value rides each retained
  * entry (a shortlist that carries its vectors needs no join back to
  * the table it was scored from). It is evaluated and copied only when
  * the entry enters the heap, never orders anything, and may be NULL.
  *
  * Output: array<struct<score double, id long>> best-first, with a
  * third `payload` field when a payload is given.
  */
case class TopKAgg(
    score: Expression, id: Expression, k: Int,
    payload: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.PriorityQueue[TopKAgg.Entry]]
  with ExpectsInputTypes {
  import TopKAgg.Entry

  require(k >= 1, "graft_top_k: k must be >= 1")

  override def prettyName: String = "graft_top_k"
  override def children: Seq[Expression] = Seq(score, id) ++ payload
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)) ++
    payload.map(p => StructField("payload", p.dataType, p.nullable))),
    containsNull = false)
  override def nullable: Boolean = false

  override def inputTypes: Seq[DataType] =
    Seq(DoubleType, LongType) ++ payload.map(_.dataType)

  @transient private lazy val payloadExpr: Expression = payload.orNull
  @transient private lazy val payloadRow: UnsafeProjection =
    UnsafeProjection.create(Array(payloadExpr.dataType))

  /** head = WORST retained entry, so eviction is a peek/poll. */
  private def worstFirst = new java.util.Comparator[Entry] {
    override def compare(a: Entry, b: Entry): Int = {
      val c = java.lang.Double.compare(a.score, b.score)
      if (c != 0) c else java.lang.Long.compare(b.id, a.id)
    }
  }

  override def createAggregationBuffer(): java.util.PriorityQueue[Entry] =
    new java.util.PriorityQueue[Entry](k, worstFirst)

  /** true when (s, i) would be retained: the heap has room, or (s, i)
    * beats its worst entry. */
  private def admits(q: java.util.PriorityQueue[Entry], s: Double, i: Long): Boolean =
    q.size < k || {
      val w = q.peek()
      val c = java.lang.Double.compare(s, w.score)
      c > 0 || (c == 0 && i < w.id)
    }

  private def insert(q: java.util.PriorityQueue[Entry], e: Entry): Unit = {
    if (q.size >= k) q.poll()
    q.offer(e)
  }

  override def update(q: java.util.PriorityQueue[Entry],
                      input: InternalRow): java.util.PriorityQueue[Entry] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val sv = s.asInstanceOf[Double]
      val iv = i.asInstanceOf[Long]
      if (admits(q, sv, iv)) insert(q, new Entry(sv, iv,
        if (payloadExpr == null) null else InternalRow.copyValue(payloadExpr.eval(input))))
    }
    q
  }

  override def merge(a: java.util.PriorityQueue[Entry],
                     b: java.util.PriorityQueue[Entry]): java.util.PriorityQueue[Entry] = {
    val it = b.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (admits(a, e.score, e.id)) insert(a, e)
    }
    a
  }

  override def eval(q: java.util.PriorityQueue[Entry]): Any = {
    val entries = q.toArray(new Array[Entry](q.size))
    // best-first: exactly the reverse of worstFirst
    java.util.Arrays.sort(entries, worstFirst.reversed())
    new GenericArrayData(entries.map { e =>
      if (payloadExpr == null) InternalRow(e.score, e.id)
      else InternalRow(e.score, e.id, e.payload)
    }.asInstanceOf[Array[Any]])
  }

  /** n, then per entry: score, id and — with a payload — the payload as
    * a length-prefixed one-field UnsafeRow. */
  override def serialize(q: java.util.PriorityQueue[Entry]): Array[Byte] = {
    val entries = q.toArray(new Array[Entry](q.size))
    val payloads = if (payloadExpr == null) null else entries.map(e =>
      payloadRow(InternalRow(e.payload)).copy().getBytes)
    val size = 4 + entries.length * 16 +
      (if (payloads == null) 0 else payloads.map(4 + _.length).sum)
    val bb = ByteBuffer.allocate(size)
    bb.putInt(entries.length)
    var i = 0
    while (i < entries.length) {
      bb.putDouble(entries(i).score); bb.putLong(entries(i).id)
      if (payloads != null) { bb.putInt(payloads(i).length); bb.put(payloads(i)) }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val s = bb.getDouble
      val id = bb.getLong
      val p = if (payloadExpr == null) null else {
        val len = bb.getInt
        val row = new UnsafeRow(1)
        row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + bb.position(), len)
        bb.position(bb.position() + len)
        if (row.isNullAt(0)) null else InternalRow.copyValue(row.get(0, payloadExpr.dataType))
      }
      out.offer(new Entry(s, id, p))
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren.lift(2))
}

object TopKAgg {
  /** One retained entry; `payload` is null without a payload child. */
  final class Entry(val score: Double, val id: Long, val payload: Any)
}

object TopK {
  /** exact per-group top-k summary as a Column:
    * array<struct<score double, id bigint>> best-first
    * (score desc, id asc). */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(score.cast("double")),
        ColumnBridge.expression(id.cast("long")), k).toAggregateExpression())

  /** [[topK]] whose entries also carry `payload`'s value:
    * array<struct<score double, id bigint, payload>>. */
  def topK(score: Column, id: Column, k: Int, payload: Column): Column =
    ColumnBridge.column(
      TopKAgg(ColumnBridge.expression(score.cast("double")),
        ColumnBridge.expression(id.cast("long")), k,
        Some(ColumnBridge.expression(payload))).toAggregateExpression())
}
