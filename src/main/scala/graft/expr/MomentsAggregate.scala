package graft.expr

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge, InternalBridge}
import org.apache.spark.sql.types._

/** Single-pass first+second vector moments for covariance / PCA over an
  * embedding column: ONE aggregation that accumulates, per input vector x,
  *   buf[0]                += 1                          (count)
  *   buf[1+i]              += micros(x_i)                (first moments)
  *   buf[1+d+tri(i,j)]     += micros(x_i · x_j), i <= j  (second moments)
  * where micros(v) is v rounded to decimal(18,6) as an unscaled long —
  * the engine's established order-independent exact-sum policy
  * (`functions.dsum`): integer sums are exact and associative, so the
  * result is bit-stable across partitionings AND replicable in any engine
  * that can `SUM(CAST(expr AS DECIMAL(18,6)))` (q96's DuckDB oracle).
  *
  * This is THE covariance plan that survives 100 TB: the d(d+1)/2
  * pair-product matrix never leaves the executor as rows — each map task
  * ships one ~(d²/2)-long buffer and the merge is elementwise adds. The
  * explode + self-join formulation (the oracle's shape) shuffles
  * n·d(d+1)/2 rows — a 2000× row blowup at d=64 that only an engine
  * grading correctness on 500 rows could afford.
  *
  * Overflow posture: unit-normalized embeddings keep |x_i·x_j| ≤ 1, so a
  * slot overflows long only past ~9.2e12 rows; `Math.addExact` throws
  * loudly rather than wrapping silently. For un-normalized data scale the
  * inputs first (or shard the aggregation) — documented on
  * [[graft.ops.Embeddings.covarianceMatrix]].
  *
  * Rounding matches Spark's own double→decimal cast exactly
  * (`JBigDecimal.valueOf`, i.e. the shortest-decimal representation,
  * HALF_UP) — the same equivalence `functions.dsum` already relies on
  * for its DuckDB parity — and an element the ANSI cast rejects (NaN,
  * ±Inf, outside decimal(18,6)) fails the aggregation.
  */
case class VectorMomentsAgg(
    child: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  private val nSlots = 1 + dim + dim * (dim + 1) / 2

  override def prettyName: String = "graft_vector_moments"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def inputTypes =
    Seq(InternalBridge.anyOf(ArrayType(FloatType), ArrayType(DoubleType)))

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nSlots)

  private def micros(v: Double): Long = MomentsAggregate.micros(v)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == dim,
        s"graft_vector_moments: expected dim=$dim, got ${arr.numElements()}")
      val xs = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        xs(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        i += 1
      }
      buf(0) = Math.addExact(buf(0), 1L)
      i = 0
      var k = 1 + dim
      while (i < dim) {
        buf(1 + i) = Math.addExact(buf(1 + i), micros(xs(i)))
        var j = i
        while (j < dim) {
          buf(k) = Math.addExact(buf(k), micros(xs(i) * xs(j)))
          k += 1; j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nSlots) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(nSlots * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](nSlots)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorMomentsAgg =
    copy(child = newChild)
}

object MomentsAggregate {
  /** v rounded to decimal(18,6) micros, HALF_UP on the shortest-decimal
    * representation: [[UnscaledMicros.fast]], and the exact BigDecimal
    * path for the values it leaves undecided. Fails like Spark's ANSI
    * cast: NaN and ±Inf throw `NumberFormatException`, a value outside
    * decimal(18,6) throws `ArithmeticException`. */
  def micros(v: Double): Long = {
    val m = UnscaledMicros.fast(v, 6)
    if (m != UnscaledMicros.Undecided) m
    else {
      val d = JBigDecimal.valueOf(v).setScale(6, RoundingMode.HALF_UP)
      if (d.precision > 18)
        throw new ArithmeticException(s"$v does not fit decimal(18,6)")
      d.unscaledValue().longValueExact()
    }
  }

  /** the packed moments buffer as a Column (array<bigint> of
    * 1 + d + d(d+1)/2 slots — count, per-dim micro-sums, upper-triangle
    * pair-product micro-sums). */
  def vectorMoments(vec: Column, dim: Int): Column =
    ColumnBridge.column(
      VectorMomentsAgg(ColumnBridge.expression(vec), dim).toAggregateExpression())

  /** flat upper-triangle index of (i, j), i <= j, row-major. */
  def triIndex(dim: Int, i: Int, j: Int): Int =
    i * dim - i * (i - 1) / 2 + (j - i)

  /** exact micros-long → double (one rounding, same as decimal→double cast). */
  def microsToDouble(m: Long): Double =
    new JBigDecimal(BigInteger.valueOf(m), 6).doubleValue()
}
