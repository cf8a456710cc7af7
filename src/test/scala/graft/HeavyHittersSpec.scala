package graft

import org.apache.spark.sql.functions._

import graft.expr.HeavyHitters.misraGries

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  private def summary(items: Seq[String], k: Int, parts: Int): Map[String, Long] =
    items.toDF("w").repartition(parts)
      .agg(misraGries(col("w"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .as[(String, Long)].collect().toMap

  test("exact regime: distinct < k gives exact GROUP BY counts " +
    "under any partitioning") {
    val items = Seq.tabulate(3000)(i => s"tok${i % 13}")
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 4, 7)) {
      assert(summary(items, k = 32, parts = parts) == truth,
        s"parts=$parts")
    }
  }

  test("approx regime: n/k error bound holds and every item above " +
    "n/k frequency is reported") {
    // zipf-ish: item i appears 2000/(i+1) times, plus a long noise tail
    val heavy = (0 until 10).flatMap(i => Seq.fill(2000 / (i + 1))(s"hot$i"))
    val noise = (0 until 3000).map(i => s"cold$i")
    val items = new scala.util.Random(42).shuffle(heavy ++ noise)
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = items.size.toLong
    val k = 64
    val got = summary(items, k, parts = 5)
    assert(got.size <= k - 1)
    got.foreach { case (item, c) =>
      val f = truth(item)
      assert(c <= f, s"$item overcounted: $c > $f")
      assert(c >= f - n / k, s"$item undercounted past n/k: $c < $f - ${n / k}")
    }
    truth.foreach { case (item, f) =>
      if (f > n / k) assert(got.contains(item), s"missed heavy item $item ($f > ${n / k})")
    }
  }

  test("graft_misra_gries is callable from spark.sql") {
    Seq("x", "y", "x").toDF("w").createOrReplaceTempView("hh_in")
    val got = spark.sql(
      "SELECT explode(graft_misra_gries(w, 8)) AS e FROM hh_in")
      .select(col("e.item"), col("e.cnt"))
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("x", 2L), ("y", 1L)))
  }

  test("null inputs are ignored; output is sorted cnt desc, item asc") {
    val rows = spark.createDataFrame(
      Seq(Some("b"), Some("a"), None, Some("b"), Some("c"), Some("a"), Some("b"))
        .map(Tuple1(_))).toDF("w")
    val arr = rows.agg(misraGries(col("w"), 16).as("hh"))
      .select(col("hh")).as[Seq[(String, Long)]].collect().head
    assert(arr == Seq(("b", 3L), ("a", 2L), ("c", 1L)))
  }

  test("top-k aggregate: equals the rank window, ties to smaller id, " +
    "partitioning-independent, k > group size, nulls skipped") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random scores with planted ties
    val rows = (0L until 500L).map { i =>
      val g = s"g${i % 7}"
      val s = ((i * 2654435761L) % 97L).toDouble // 97 buckets → many ties
      (g, i, s)
    }
    val df = rows.toDF("g", "id", "s")
    def windowTopK(k: Int) = {
      val w = Window.partitionBy("g").orderBy(col("s").desc, col("id"))
      df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("g"), col("rank"), col("id"), col("s").as("score"))
        .as[(String, Int, Long, Double)].collect().toSet
    }
    for (k <- Seq(1, 5, 1000)) { // 1000 > any group: whole group, ordered
      val exp = windowTopK(k)
      val got = graft.ops.Mixture.topKPerGroup(df, "g", col("s"), "id", k)
        .as[(String, Int, Long, Double)].collect().toSet
      assert(got == exp, s"k=$k")
      // force different partial-merge trees: result must not move
      val re = graft.ops.Mixture.topKPerGroup(
        df.repartition(13, col("id")), "g", col("s"), "id", k)
        .as[(String, Int, Long, Double)].collect().toSet
      assert(re == exp, s"k=$k repartitioned")
    }
    // null score / null id rows are skipped, not ranked
    val withNulls = Seq(("a", Some(1L), Some(5.0)), ("a", Some(2L), None),
      ("a", None, Some(9.0)), ("a", Some(3L), Some(4.0)))
      .toDF("g", "id", "s")
    val got = graft.ops.Mixture.topKPerGroup(withNulls, "g", col("s"), "id", 10)
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got == Set(("a", 1, 1L, 5.0), ("a", 2, 3L, 4.0)))
  }

  import graft.api.functions.{cmsSketch, cmsEstimate, cmsMerge}

  test("count-min: JVM hash matches the Column-side portable word hash") {
    val words = Seq("join", "a", "", "Grüße", "東京", "x y")
    val colSide = words.toDF("w")
      .select(col("w"), graft.ops.TextAnalysis.portableWordHash(col("w")))
      .as[(String, Long)].collect().toMap
    words.foreach { w =>
      assert(graft.expr.CountMin.wordHash(w) == colSide(w), s"word=$w")
    }
  }

  test("count-min: exact when wide, one-sided when narrow, nulls skipped, " +
    "partitioning-independent") {
    val items = (0 until 40).flatMap(i => Seq.fill(i + 1)(s"tok$i"))
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def estimates(width: Int, parts: Int): Map[String, Long] = {
      val df = (items.map(Option(_)) ++ Seq(None)).toDF("w").repartition(parts)
      val sk = df.agg(cmsSketch(col("w"), 3, width).as("sk"))
      truth.keys.toSeq.toDF("p").crossJoin(sk)
        .select(col("p"), cmsEstimate(col("sk"), col("p"), 3, width).as("e"))
        .as[(String, Long)].collect().toMap
    }
    // wide grid: every estimate is exact, under any partial-merge tree
    for (parts <- Seq(1, 7)) {
      assert(estimates(width = 4096, parts = parts) == truth, s"parts=$parts")
    }
    // narrow grid: collisions overestimate, NEVER underestimate
    val narrow = estimates(width = 8, parts = 5)
    truth.foreach { case (w, t) =>
      assert(narrow(w) >= t, s"underestimate for $w")
    }
    assert(narrow.exists { case (w, e) => e > truth(w) },
      "width 8 with 40 keys must collide somewhere")
  }

  test("count-min: union of per-slice sketches equals the whole-corpus " +
    "sketch, estimates included") {
    val df = (0 until 500)
      .map(i => (s"slice${i % 4}", s"tok${i % 23}")).toDF("g", "w")
    val whole = df.agg(cmsSketch(col("w"), 3, 64).as("sk"))
      .as[Array[Long]].collect().head
    val merged = df.groupBy("g").agg(cmsSketch(col("w"), 3, 64).as("sk"))
      .agg(org.apache.spark.sql.functions.reduce(
        collect_list(col("sk")),
        typedLit(Array.fill(3 * 64)(0L)), (acc, x) => cmsMerge(acc, x)).as("m"))
      .as[Array[Long]].collect().head
    assert(merged.toSeq == whole.toSeq)
  }
}
