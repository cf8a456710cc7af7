package graft

import org.apache.spark.sql.functions._
import graft.api.Udf

/** lift / lift2 / reduce — the user-code escape hatch
  * (reference Functions.hs:63-105, 237-240). */
class UdfSpec extends SparkSpec {
  import spark.implicits._

  test("lift applies a unary Scala function; nulls pass through") {
    val df = Seq(Some("abc"), None, Some("xy")).toDF("s")
    val rev = Udf.lift((x: String) => x.reverse)
    val out = df.select(rev($"s").as("r")).collect().map(r =>
      if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("cba", null, "yx"))
  }

  test("lift2 applies a binary function") {
    val df = Seq((2, 3), (5, 7)).toDF("a", "b")
    val mulAdd = Udf.lift2((a: Int, b: Int) => a * b + 1)
    assert(df.select(mulAdd($"a", $"b")).as[Int].collect().toSeq == Seq(7, 36))
  }

  test("reduce folds with associative merge across partitions") {
    val df = spark.range(1, 1001).repartition(8).select($"id".cast("double").as("x"))
    val sumSq = Udf.reduce[Double, Long](0L,
      (acc, x) => acc + math.round(x) * math.round(x), _ + _)($"x")
    val got = df.agg(sumSq).as[Long].head()
    assert(got == (1L to 1000L).map(i => i * i).sum)
    // grouped use
    val g = spark.range(0, 100).select(($"id" % 3).as("k"), $"id".cast("double").as("x"))
    val folded = g.groupBy("k").agg(Udf.reduce[Double, Long](0L,
      (acc, x) => acc + math.round(x), _ + _)($"x").as("s"))
    val want = (0L until 100L).groupBy(_ % 3).view.mapValues(_.sum).toMap
    folded.collect().foreach(r => assert(r.getLong(1) == want(r.getLong(0))))
  }
}
