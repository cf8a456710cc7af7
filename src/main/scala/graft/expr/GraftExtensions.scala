package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook: registers graft's custom Catalyst
  * expressions with the SQL function registry, so `spark.sql` users get
  * them too (the Column API path via [[VectorExpressions]] needs no
  * registration).
  *
  * Enabled by `spark.sql.extensions=graft.expr.GraftExtensions`, which
  * [[graft.Runtime.session]] sets.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b) takes two array<double> args")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_minhash_sig(hashes, numPerms) takes an array<bigint> and an int literal")
        val n = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"numPerms must be an int literal, got $other")
        }
        MinHashSignature(args.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dsum128"),
      new ExpressionInfo(classOf[Int128SumMicros].getName, "graft_dsum128"),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 2,
          "graft_dsum128(unscaledMicros[, scale]) sums bigint unscaled values exactly")
        val scale = args.lift(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"scale must be an int literal, got $other")
        }.getOrElse(6)
        Int128SumMicros(args.head, scale)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_compression_ratio"),
      new ExpressionInfo(classOf[CompressionRatio].getName,
        "graft_compression_ratio"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          "graft_compression_ratio(text) takes one string column")
        CompressionRatio(args.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_misra_gries"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_misra_gries(item, k) takes a string column and an int literal")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"k must be an int literal, got $other")
        }
        MisraGriesAgg(args.head, k).toAggregateExpression()
      }))
  }
}
