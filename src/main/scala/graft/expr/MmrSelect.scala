package graft.expr

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graftbridge.{ColumnBridge, InternalBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Greedy Maximal Marginal Relevance selection over ONE query's
  * candidate list (array<struct<id, rel: double, vec: array<double>>>),
  * returning array<struct<rank: int, __c: id, __score: double>> in rank
  * order. Round t picks
  *   argmax_c  λ·rel(c) − (1−λ)·ms(c)
  * over the unpicked candidates, where ms = 0.0 in round 1 and after
  * that the running max of cosine(c, s) over the picked s. The running
  * max follows Spark's `max` aggregate: NULL cosines are skipped and
  * the double order is `SQLOrderingUtil.compareDoubles` (NaN greatest).
  *
  * cosine(a, b) = dot(a, b) / (norm(a)·norm(b)), norm = sqrt(dot(a, a)),
  * with [[DotProduct.fold]] as the dot and Spark's `Divide` semantics:
  * a NULL vector gives NULL; a zero divisor raises DIVIDE_BY_ZERO when
  * `failOnError` (ANSI, read from the session when the expression is
  * built, as `Divide` does) and gives NULL otherwise.
  *
  * Ties on score go to the smaller id under the id type's interpreted
  * ordering, a non-NULL id before a NULL one. A candidate whose score is
  * NULL (NULL rel, or NULL max-sim) is never picked. A round picks every
  * unpicked candidate that carries the winning id. The list ends once a
  * round has no candidate to pick, or its winner has a NULL id.
  *
  * Interpreted only: the work is O(k·N·dim) per group on a shortlist,
  * so there is no hot loop worth generating code for. */
case class MmrSelect(child: Expression, k: Int, lambda: Double,
                     failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression with CodegenFallback {

  private def idType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(0).dataType

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("__c", idType),
    StructField("__score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_mmr_select"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(id, StructField(_, DoubleType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) =>
      TypeUtils.checkForOrderingExpr(id.dataType, prettyName)
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<struct<id, double, array<double>>>, got ${t.simpleString}")
  }

  @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(idType)

  override def nullSafeEval(input: Any): Any = {
    val cands = input.asInstanceOf[ArrayData]
    val n = cands.numElements()
    val rows = Array.tabulate(n)(cands.getStruct(_, 3))
    val ids = rows.map(r => if (r.isNullAt(0)) null else r.get(0, idType))
    val vecs = rows.map(r => if (r.isNullAt(2)) null else r.getArray(2))
    val norms = vecs.map(v => if (v == null) 0.0 else math.sqrt(DotProduct.fold(v, v)))
    val ms = new Array[Double](n)
    val hasMs = new Array[Boolean](n)
    val unpicked = Array.fill(n)(true)
    val out = ArrayBuffer.empty[InternalRow]
    var newPicks = Seq.empty[Int]
    var t = 1
    var more = true
    while (t <= k && more) {
      for (j <- 0 until n if unpicked(j) && vecs(j) != null; s <- newPicks
           if vecs(s) != null) {
        val divisor = norms(j) * norms(s)
        if (divisor == 0.0) {
          if (failOnError) throw InternalBridge.divideByZeroError()
        } else {
          val cos = DotProduct.fold(vecs(j), vecs(s)) / divisor
          if (!hasMs(j) || SQLOrderingUtil.compareDoubles(cos, ms(j)) > 0) {
            ms(j) = cos; hasMs(j) = true
          }
        }
      }
      var best = -1; var bestScore = 0.0
      for (j <- 0 until n if unpicked(j) && !rows(j).isNullAt(1) && (t == 1 || hasMs(j))) {
        val score = lambda * rows(j).getDouble(1) -
          (1.0 - lambda) * (if (t == 1) 0.0 else ms(j))
        val cmp = if (best < 0) 1 else SQLOrderingUtil.compareDoubles(score, bestScore)
        if (cmp > 0 || (cmp == 0 && ids(j) != null &&
            (ids(best) == null || idOrdering.lt(ids(j), ids(best))))) {
          best = j; bestScore = score
        }
      }
      if (best < 0 || ids(best) == null) more = false
      else {
        val id = InternalRow.copyValue(ids(best))
        newPicks = (0 until n).filter(j =>
          unpicked(j) && ids(j) != null && idOrdering.equiv(ids(j), id))
        newPicks.foreach { j =>
          unpicked(j) = false
          out += new GenericInternalRow(Array[Any](t, id, bestScore))
        }
        t += 1
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): MmrSelect =
    copy(child = newChild)
}

object Mmr {
  /** [[MmrSelect]] over a collected candidate list, as a Column. */
  def select(candidates: Column, k: Int, lambda: Double): Column =
    ColumnBridge.column(MmrSelect(ColumnBridge.expression(candidates), k, lambda))
}
