package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch (Cormode & Muthukrishnan 2005) over a string key —
  * the point-queryable frequency complement to the Misra-Gries top-k
  * aggregate: a fixed depth×width counter grid that answers "about how
  * often did THIS key occur" for ANY key, with one-sided error
  * (estimate ≥ truth; overshoot ≤ e·n/width with prob ≥ 1−e^−depth).
  *
  * Scale shape: the buffer is a constant-size long array per map task —
  * a corpus-cardinality groupBy never happens; partials merge by
  * element-wise add up the aggregation tree, and slice sketches persist
  * as plain array<long> columns that later UNION-of-slices queries
  * merge with `zip_with(+)` and never rescan (the HLL pattern, for
  * counts instead of distincts).
  *
  * The hash family is the repo's PORTABLE one (charPoly → mix, row salt
  * r·P1), so a DuckDB oracle recomputes the identical grid and
  * estimates relationally (q156) — unlike Spark's own
  * `count_min_sketch`, whose murmur-based binary can't be replayed.
  * BMP-scoped like [[graft.ops.TextAnalysis.portableWordHash]].
  */
case class CountMinAgg(
    child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] with ExpectsInputTypes {

  require(depth >= 1 && depth <= 16, "count_min: depth must be in [1,16]")
  require(width >= 2, "count_min: width must be >= 2")

  override def prettyName: String = "graft_count_min"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = CountMin.wordHash(v.asInstanceOf[UTF8String].toString)
      var r = 0
      while (r < depth) {
        buf(r * width + CountMin.bucket(h, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any =
    UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
}

/** The portable hash arithmetic, shared verbatim by the JVM aggregate,
  * the Column-side estimator, and (as SQL text via `Sql.mix`/
  * `Sql.wordHash`) the DuckDB oracle — one formula, three engines. */
object CountMin {
  val M = 2147483647L   // Mersenne 2^31-1 (graft.api.Frame.MixM)
  val P1 = 2654435761L  // Knuth (Frame.MixP1)
  val P2 = 2246822519L  // xxhash prime (Frame.MixP2)

  /** ((z % M)·P1 + P2) % M · P2 % M — Frame.portableMix on a
    * non-negative long (where pmod == %). */
  def mix(z: Long): Long = (((z % M) * P1 + P2) % M) * P2 % M

  /** TextAnalysis.portableWordHash on the JVM: fold (acc·31 + codepoint)
    * mod M from 7, then mix. The empty string folds ONCE with 0 —
    * Spark's split("","") yields [""] and ascii("") is 0, and DuckDB's
    * string_split_regex/ascii agree (verified), so all three engines
    * hash "" identically. */
  def wordHash(s: String): Long = {
    if (s.isEmpty) return mix(7L * 31 % M)
    var acc = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % M
      i += Character.charCount(cp)
    }
    mix(acc)
  }

  /** row-r bucket of a pre-hashed key. */
  def bucket(h: Long, r: Int, width: Int): Int =
    (mix(h + r * P1) % width).toInt
}
