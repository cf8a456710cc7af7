package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** An edge list (array<array<id>>, each inner array one (a, b) pair):
  * `nodes` are the distinct non-NULL endpoints ascending under the id
  * type's interpreted ordering, `pairs` the distinct edges with no NULL
  * endpoint as `index(a) << 32 | index(b)`, ascending. Neither depends
  * on the order of the edges. */
private[expr] final class EdgeIndex(edges: ArrayData, idType: DataType) {
  private val ord = TypeUtils.getInterpretedOrdering(idType)
  private val rows = Array.tabulate(edges.numElements())(edges.getArray)
  val hasNull: Boolean = rows.exists(r => r.isNullAt(0) || r.isNullAt(1))
  val nodes: Array[AnyRef] = {
    val ids = rows.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(r.get(_, idType)))
    java.util.Arrays.sort(ids, ord)
    ids.indices.filter(i => i == 0 || !ord.equiv(ids(i - 1), ids(i))).map(ids).toArray
  }
  val pairs: Array[Long] = {
    def at(r: ArrayData, i: Int) = java.util.Arrays.binarySearch(nodes, r.get(i, idType), ord)
    val ps = rows.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
      .map(r => at(r, 0).toLong << 32 | at(r, 1))
    java.util.Arrays.sort(ps)
    ps.indices.filter(i => i == 0 || ps(i - 1) != ps(i)).map(ps).toArray
  }
  def out(i: Int, v: Any): InternalRow =
    new GenericInternalRow(Array[Any](InternalRow.copyValue(nodes(i)), v))
}

/** Shared by the graph kernels: one argument, array<array<id>> with an
  * orderable id, and an array<struct<node: id, `field`>> result. */
private[expr] trait EdgeListKernel extends UnaryExpression with CodegenFallback {
  protected def idType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[ArrayType].elementType
  protected def field: StructField
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("node", idType), field)), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ArrayType(t, _), _) => TypeUtils.checkForOrderingExpr(t, prettyName)
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<array<id>>, got ${t.simpleString}")
  }
}

/** PageRank over ONE edge list with no NULL endpoint, every iteration
  * inside this task; returns array<struct<node, r: double>>, one entry
  * per distinct endpoint. Edges dedupe (a multi-edge counts once, a
  * self-loop is an ordinary edge); N = the number of distinct
  * endpoints; r starts at 1.0/N. Each iteration quantises every node's
  * r/outdeg once to decimal(38,18), sums the terms into each
  * destination and the dangling nodes' r (same quantisation) into dm,
  * both exactly with Spark's `Decimal` and cast to double as Spark's
  * `Cast` does, then sets r = (1−d)/N + d·(c + dm/N), a missing c read
  * as 0.0. The exact sums are associative, so the result does not
  * depend on the order of the collected rows, and it is bit-identical
  * to the same arithmetic run as joins and `sum` aggregates.
  *
  * One task holds the whole edge list; the work is O(iterations·E)
  * after an O(E log E) sort. There is no cap and no fallback path. */
case class PageRankIterate(child: Expression, iterations: Int, damping: Double)
    extends EdgeListKernel {
  override protected def field = StructField("r", DoubleType, nullable = false)
  override def prettyName: String = "graft_pagerank"

  override def nullSafeEval(input: Any): Any = {
    val g = new EdgeIndex(input.asInstanceOf[ArrayData], idType)
    val n = g.nodes.length.toDouble
    val od = new Array[Int](g.nodes.length)
    g.pairs.foreach(p => od((p >>> 32).toInt) += 1)
    def q(x: Double) = { val d = Decimal(x); d.changePrecision(38, 18); d }
    var r = Array.fill(g.nodes.length)(1.0 / n)
    for (_ <- 1 to iterations) {
      val t = Array.tabulate(r.length)(u => if (od(u) > 0) q(r(u) / od(u)) else null)
      val c = new Array[Decimal](r.length)
      g.pairs.foreach { p =>
        val (u, v) = ((p >>> 32).toInt, p.toInt)
        c(v) = if (c(v) == null) t(u) else c(v) + t(u)
      }
      val dm = r.indices.filter(od(_) == 0).map(u => q(r(u))).reduceOption(_ + _)
        .fold(0.0)(_.toDouble)
      r = c.map(cv => (1.0 - damping) / n + damping * (Option(cv).fold(0.0)(_.toDouble) + dm / n))
    }
    new GenericArrayData(r.indices.map(i => g.out(i, r(i))).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): PageRankIterate =
    copy(child = newChild)
}

/** Connected components of ONE undirected edge list, by union-find;
  * returns array<struct<node, component>> labelling each distinct
  * non-NULL endpoint with its component's minimum id under the id
  * type's interpreted ordering, the fixpoint min-label propagation
  * reaches. A NULL endpoint links nothing: an id paired only with NULL
  * is its own component, and when any endpoint is NULL the result ends
  * with one (NULL, NULL) entry. The result does not depend on the order
  * of the collected rows.
  *
  * One task holds the whole edge list; the work is near-linear in E
  * after an O(E log E) sort. There is no cap and no fallback path. */
case class ComponentLabels(child: Expression) extends EdgeListKernel {
  override protected def field = StructField("component", idType)
  override def prettyName: String = "graft_components"

  override def nullSafeEval(input: Any): Any = {
    val g = new EdgeIndex(input.asInstanceOf[ArrayData], idType)
    val root = Array.range(0, g.nodes.length)
    def find(i: Int): Int = if (root(i) == i) i else { root(i) = root(root(i)); find(root(i)) }
    g.pairs.foreach { p =>
      val a = find((p >>> 32).toInt); val b = find(p.toInt)
      root(math.max(a, b)) = math.min(a, b)
    }
    val labelled = root.indices.map(i => g.out(i, InternalRow.copyValue(g.nodes(find(i)))))
    val nulls = if (g.hasNull) Seq(new GenericInternalRow(Array[Any](null, null))) else Nil
    new GenericArrayData((labelled ++ nulls).toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): ComponentLabels =
    copy(child = newChild)
}

/** [[PageRankIterate]] and [[ComponentLabels]] as Columns. */
object GraphKernels {
  def pageRank(edges: Column, iterations: Int, damping: Double): Column =
    ColumnBridge.column(PageRankIterate(ColumnBridge.expression(edges), iterations, damping))
  def components(edges: Column): Column =
    ColumnBridge.column(ComponentLabels(ColumnBridge.expression(edges)))
}
