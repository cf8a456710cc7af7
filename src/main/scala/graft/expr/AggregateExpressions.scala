package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Exact 128-bit sum of long "micros" (decimal(18,6) unscaled values).
  *
  * The engine's order-independent exact-sum policy (`functions.dsum`)
  * aggregates through DecimalType; Spark types `sum(decimal(18,6))` as
  * decimal(28,6), whose 28-digit buffer exceeds the 18-digit compact
  * (long-backed) representation — every row update becomes a BigDecimal
  * allocate-and-add, measured as ~75% of q01's wall-clock. This
  * aggregate keeps the identical per-row rounding (the same
  * `cast(x as decimal(18,6))`, whose unscaled value is a plain long)
  * and accumulates in a two-long 128-bit register inside whole-stage
  * codegen: primitive adds, no allocation, bit-identical results
  * (integer summation is exact and associative in any order).
  *
  * Overflow posture: 128 bits hold ±1.7e38 — 10¹² rows of 10¹²-sized
  * micros leave 14 orders of magnitude of headroom. The carry is the
  * standard unsigned-add formula `((a&b)|((a|b)&~sum)) >>> 63`; the
  * high word adds the value's sign extension so negative micros work.
  */
case class Int128SumMicros(child: Expression, scale: Int = 6)
    extends DeclarativeAggregate with UnaryLike[Expression] with ExpectsInputTypes {

  override def prettyName: String = "graft_dsum128"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def inputTypes: Seq[DataType] = Seq(LongType)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val nonEmpty =
    AttributeReference("nonEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, nonEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** wraparound add — Catalyst Add under ANSI throws on long overflow,
    * but 128-bit limb arithmetic NEEDS the wrap. */
  private def addWrap(a: Expression, b: Expression): Expression =
    Add(a, b, EvalMode.LEGACY)

  /** (hi1,lo1) + (hi2,lo2) in 128-bit two's complement. */
  private def add128(h1: Expression, l1: Expression,
                     h2: Expression, l2: Expression): (Expression, Expression) = {
    val newLo = addWrap(l1, l2)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(l1, l2),
        BitwiseAnd(BitwiseOr(l1, l2), BitwiseNot(newLo))),
      Literal(63))
    val newHi = addWrap(addWrap(h1, h2), carry)
    (newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = child
    val (nh, nl) = add128(hi, lo, ShiftRight(v, Literal(63)), v)
    if (child.nullable) Seq(
      If(IsNull(v), hi, nh),
      If(IsNull(v), lo, nl),
      Or(nonEmpty, IsNotNull(v)))
    else Seq(nh, nl, Literal(true))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (nh, nl) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(nh, nl, Or(nonEmpty.left, nonEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(nonEmpty, Int128MicrosToDouble(hi, lo, scale), Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): Int128SumMicros =
    copy(child = newChild)
}

/** exact (hi, lo) 128-bit micros register → double, via BigDecimal —
  * the same one-rounding conversion as `cast(decimal as double)`.
  * Evaluated once per GROUP (not per row), so the BigInteger allocation
  * is irrelevant; real codegen (not CodegenFallback) because aggregate
  * result expressions can be inlined into whole-stage codegen where no
  * INPUT_ROW exists for a fallback eval. */
case class Int128MicrosToDouble(left: Expression, right: Expression,
    scale: Int = 6) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_int128_to_double"

  override def nullSafeEval(h: Any, l: Any): Any =
    Int128MicrosToDouble.toDouble(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, l) => {
      s"${ev.value} = graft.expr.Int128MicrosToDouble.toDouble($h, $l, $scale);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128MicrosToDouble =
    copy(left = newLeft, right = newRight)
}

object Int128MicrosToDouble {
  def toDouble(hi: Long, lo: Long, scale: Int): Double = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    new java.math.BigDecimal(bi, scale).doubleValue()
  }
}

/** `UnscaledValue(Cast(x, decimal(18, s)))` — the per-row input of every
  * exact sum — without a BigDecimal per row when `x` is a double. Spark
  * builds a `BigDecimal` for each double→decimal cast; [[UnscaledMicros.fast]]
  * decides most rows in floating point, and the rows it cannot decide
  * (near a rounding tie, non-finite, outside precision 18) evaluate the
  * unchanged cast child, so NaN→NULL, ANSI overflow errors and legacy
  * NULLs stay Spark's own. Any other child shape (float, integer or
  * decimal input) is just the child. */
case class UnscaledMicros(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_unscaled_micros"

  /** the double input and the scale, when the fast path applies */
  private lazy val doubleInput: Option[(Expression, Int)] = child match {
    case UnscaledValue(Cast(x, d: DecimalType, _, _))
        if d.precision == 18 && x.dataType == DoubleType && x.deterministic =>
      Some((x, d.scale))
    case _ => None
  }

  override def eval(input: InternalRow): Any = doubleInput match {
    case Some((x, s)) =>
      val v = x.eval(input)
      if (v == null) null
      else {
        val m = UnscaledMicros.fast(v.asInstanceOf[Double], s)
        if (m != UnscaledMicros.Undecided) m else child.eval(input)
      }
    case None => child.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    doubleInput match {
      case Some((x, s)) =>
        val xv = x.genCode(ctx)
        val exact = child.genCode(ctx)
        ev.copy(code = code"""
          |${xv.code}
          |boolean ${ev.isNull} = ${xv.isNull};
          |long ${ev.value} = -1L;
          |if (!${ev.isNull}) {
          |  ${ev.value} = graft.expr.UnscaledMicros.fast(${xv.value}, $s);
          |  if (${ev.value} == ${UnscaledMicros.Undecided}L) {
          |    ${exact.code}
          |    ${ev.isNull} = ${exact.isNull};
          |    ${ev.value} = ${exact.value};
          |  }
          |}""".stripMargin)
      case None => child.genCode(ctx)
    }

  override protected def withNewChildInternal(newChild: Expression): UnscaledMicros =
    copy(child = newChild)
}

object UnscaledMicros {
  /** [[fast]]'s answer when only the exact decimal path can decide. */
  final val Undecided = Long.MinValue

  private val pow10 = Array.tabulate(19)(i => math.pow(10, i)) // exact to 10^22

  /** v rounded HALF_UP to `scale` digits as an unscaled long — exactly
    * `JBigDecimal.valueOf(v).setScale(scale, HALF_UP)`, the rounding of
    * Spark's double→decimal cast — or [[Undecided]] for NaN, ±Inf and
    * every value within a proven error bound of a rounding tie.
    *
    * Bound: `Double.toString(a)` (the decimal the cast rounds) is within
    * ½ ulp of `a` and the product `a·10^s` rounds once more, so `x` is
    * within 2⁻⁵²·x of the decimal's scaled value; `x + 0.5` rounds by at
    * most 2⁻⁵³·(x + 0.5). Together < 3.4e-16·(x + 1) (a subnormal `a`
    * adds under 1e-305), and `err` is over 10× that. A `shifted` further
    * than `err` from an integer floors to the decimal's HALF_UP rounding,
    * taken on the magnitude because HALF_UP rounds away from zero. From
    * x ≈ 1.25e14 on `err` ≥ ½ and nothing is decided, so a decided value
    * stays far inside precision 18. */
  def fast(v: Double, scale: Int): Long = {
    val x = Math.abs(v) * pow10(scale)
    if (!(x < 1e15)) return Undecided // NaN, ±Inf, and past the bound's reach
    val shifted = x + 0.5
    val err = (x + 1) * 4e-15
    if (Math.abs(shifted - Math.rint(shifted)) <= err) Undecided
    else {
      val r = Math.floor(shifted).toLong
      if (v < 0) -r else r
    }
  }
}

object AggregateExpressions {
  /** exact order-independent sum of a double column as double — the
    * engine's `functions.dsumD`: each row rounded to decimal(18,6) as
    * by `cast(c as decimal(18,6))` (through [[UnscaledMicros]]), the
    * unscaled longs summed in a codegen'd 128-bit register instead of a
    * BigDecimal-backed decimal(28,6) buffer. Identical values. */
  def dsum128(c: Column): Column = dsumScaled(c, 6)

  /** same 128-bit exact sum over `cast(c as decimal(18, scale))` for
    * any scale — the per-row cast fixes the rounding, the unscaled long
    * accumulates exactly (used by the moment aggregates, whose x² terms
    * need scale 4 to stay inside 18 digits). */
  def dsumScaled(c: Column, scale: Int): Column =
    ColumnBridge.column(
      Int128SumMicros(
        UnscaledMicros(
          UnscaledValue(ColumnBridge.expression(c.cast(s"decimal(18,$scale)")))),
        scale)
        .toAggregateExpression())
}
