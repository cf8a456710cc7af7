package graft

import org.apache.spark.sql.functions._
import graft.api._

/** Frame op semantics on tiny in-memory frames, mirroring the reference's
  * unit suites (tests/Operations — FIXTURES.md §1). */
class FrameSpec extends SparkSpec {
  import spark.implicits._

  // reference tests/Main.hs:37-42: ints 1..26 × letters a..z
  lazy val main26 = Frame((1 to 26).map(i => (i, ('a' + i - 1).toChar.toString))
    .toDF("test1", "test2"))

  // reference Join.hs:51-53 doc frames
  lazy val left = Frame(Seq(("K0", "A0"), ("K1", "A1"), ("K2", "A2"), ("K3", "A3"))
    .toDF("key", "A"))
  lazy val right = Frame(Seq(("K0", "B0"), ("K1", "B1"), ("K2", "B2"))
    .toDF("key", "B"))

  test("fromNamedColumns / fromRows: inference, Option unwrap, null-pad") {
    val f = Frame.fromNamedColumns(spark, Seq(
      "a" -> Seq(1, 2, 3),
      "b" -> Seq(Some("x"), None, Some("z")),
      "c" -> Seq(1.5))) // shorter → null-pads
    assert(f.df.schema.fields.map(_.dataType.simpleString).toSeq ==
      Seq("int", "string", "double"))
    assert(f.df.count() == 3)
    assert(f.df.filter($"b".isNull).count() == 1)
    assert(f.df.filter($"c".isNull).count() == 2)
    val r = Frame.fromRows(spark, Seq("x", "y"),
      Seq(Seq(1L, "a"), Seq(2L, "b")))
    assert(r.df.orderBy("x").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    assert(Frame.fromUnnamedColumns(spark, Seq(Seq(1), Seq(2))).columns ==
      Seq("0", "1"))
  }

  test("insertVector aligns by position and null-pads both directions") {
    val base = Frame(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val shorter = base.insertVector("extra", Seq(10.5, 20.5), Asc(col("k")))
    assert(shorter.df.count() == 3)
    assert(shorter.df.filter($"extra".isNull).select("k").as[Int].head() == 3)
    val longer = base.insertVector("extra", Seq(1.0, 2.0, 3.0, 4.0), Asc(col("k")))
    assert(longer.df.count() == 4)
    assert(longer.df.filter($"k".isNull).select("extra").as[Double].head() == 4.0)
  }

  test("takeLast / dropLast / filterByVector / insertVectorWithDefault") {
    val last = main26.takeLast(3, Asc(col("test1")))
    assert(last.df.select("test1").as[Int].collect().sorted.toSeq == Seq(24, 25, 26))
    val dropped = main26.dropLast(3, Asc(col("test1")))
    assert(dropped.df.count() == 23 && dropped.df.agg(max("test1")).as[Int].head() == 23)
    val masked = main26.filterByVector(
      (1 to 26).map(_ % 2 == 0), Asc(col("test1")))
    assert(masked.df.count() == 13)
    assert(masked.df.agg(min("test1")).as[Int].head() == 2)
    val withDef = main26.insertVectorWithDefault("w", -1.0,
      Seq(1.5, 2.5), Asc(col("test1")))
    assert(withDef.df.filter($"w" === -1.0).count() == 24)
  }

  test("filterByVector: a too-long mask cannot fabricate phantom rows") {
    val base = Frame(Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val masked = base.filterByVector(Seq(true, true, true, true), Asc(col("k")))
    assert(masked.df.count() == 2)
    assert(masked.df.filter($"k".isNull).count() == 0)
    // too-short mask: rows beyond it drop
    val short = base.filterByVector(Seq(true), Asc(col("k")))
    assert(short.df.select("k").as[Int].collect().toSeq == Seq(1))
  }

  test("driver-side extractors and declareColumns codegen") {
    assert(main26.columnAsList[Int]("test1").sorted == (1 to 26))
    val m = Frame(Seq((1, 2.5), (3, 4.5)).toDF("a", "b")).toDoubleMatrix
    assert(m.map(_.toSeq) == Seq(Seq(1.0, 2.5), Seq(3.0, 4.5)))
    // nulls surface as NaN, not NPE
    val withNaN = Frame(Seq((1, Some(2.0)), (2, None)).toDF("a", "b")).toDoubleMatrix
    assert(withNaN.exists(_(1).isNaN) && withNaN.exists(_(1) == 2.0))
    val decl = main26.declareColumns
    assert(decl.contains("""val test1: Column = col("test1")"""))
  }

  test("applyAtIndex changes exactly one positioned row") {
    val f = main26.applyAtIndex(0, "test1", Asc(col("test1")))(_ + 100)
    assert(f.df.filter($"test1" === 101).count() == 1)
    assert(f.df.filter($"test1" === 1).count() == 0)
    assert(f.df.count() == 26)
  }

  test("toMarkdownTable / asText render bounded driver-side tables") {
    val md = main26.toMarkdownTable(2)
    assert(md.startsWith("| test1 | test2 |"))
    assert(md.linesIterator.size == 4) // header + sep + 2 rows
    assert(md.linesIterator.toSeq(1).contains("---"))
    val txt = main26.asText(3)
    assert(txt.contains("| int | string |") && txt.endsWith("Showing 3 rows"))
  }

  test("select / exclude / rename / cloneColumn") {
    assert(main26.select("test1").columns == Seq("test1"))
    assert(main26.exclude("test1").columns == Seq("test2"))
    assert(main26.rename("test1", "n").columns == Seq("n", "test2"))
    val cloned = main26.cloneColumn("test1", "copy")
    assert(cloned.df.filter($"copy" === $"test1").count() == 26)
  }

  test("selectBy name predicate and numeric property") {
    assert(main26.selectBy(_.endsWith("2")).columns == Seq("test2"))
    assert(main26.selectNumeric.columns == Seq("test1"))
    assert(main26.selectByIndexRange(0, 0).columns == Seq("test1"))
  }

  test("derive + applyTo + applyWhere") {
    val d = main26.derive("sq", $"test1" * $"test1")
    assert(d.df.filter($"sq" === 625).count() == 1)
    val a = main26.applyTo("test1")(_ * 2)
    assert(a.df.agg(max("test1")).as[Int].head() == 52)
    val w = main26.applyWhere($"test2" === "a", "test1")(_ + 100)
    assert(w.df.agg(max("test1")).as[Int].head() == 101)
  }

  test("filters: filterWhere / filterJust / filterAllJust") {
    val withNull = Frame(Seq((1, Some(2.0)), (2, None), (3, Some(4.0)))
      .toDF("a", "b"))
    assert(withNull.filterJust("b").df.count() == 2)
    assert(withNull.filterNothing("b").df.count() == 1)
    assert(withNull.filterAllJust.df.count() == 2)
    // (2, None) has a non-null `a`: all-nothing (conjunctive, the
    // reference's foldr filterNothing) excludes it; any-nothing keeps it
    assert(withNull.filterAllNothing.df.count() == 0)
    assert(withNull.filterAnyNothing.df.count() == 1)
    val bothNull = Frame(Seq((Some(1), Some(2.0)), (None, None), (Some(3), None))
      .toDF("a", "b"))
    assert(bothNull.filterAllNothing.df.count() == 1)
    assert(bothNull.filterAnyNothing.df.count() == 2)
    assert(main26.filterWhere($"test1" > 20).df.count() == 6)
  }

  test("unionByNameCoerced: numeric widening, string fallback, complex error") {
    val ints = Frame(Seq((1, 10), (2, 20)).toDF("k", "v"))
    val dbls = Frame(Seq((3, 1.5), (4, 2.5)).toDF("k", "v"))
    val u1 = ints.unionByNameCoerced(dbls)
    assert(u1.df.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(u1.df.agg(sum($"v")).as[Double].head() == 34.0)
    val strs = Frame(Seq((5, "x")).toDF("k", "v"))
    val u2 = ints.unionByNameCoerced(strs)
    assert(u2.df.schema("v").dataType == org.apache.spark.sql.types.StringType)
    assert(u2.df.count() == 3)
    // missing columns still null-pad
    val extra = Frame(Seq((6, 1.0, "z")).toDF("k", "v", "w"))
    val u3 = ints.unionByNameCoerced(extra)
    assert(u3.df.columns.toSet == Set("k", "v", "w"))
    assert(u3.df.filter($"w".isNull).count() == 2)
    val arr = Frame(Seq((7, Seq(1, 2))).toDF("k", "v"))
    intercept[IllegalArgumentException] { ints.unionByNameCoerced(arr) }
  }

  test("dimensions split: columnsCount is schema-only, rowCount counts") {
    assert(main26.columnsCount == 2)
    assert(main26.rowCount == 26L)
    assert(main26.dimensions == (26L, 2))
  }

  test("impute fills nulls") {
    val withNull = Frame(Seq((1, Some(2.0)), (2, None)).toDF("a", "b"))
    val imp = withNull.impute("b", 9.9)
    assert(imp.df.filter($"b" === 9.9).count() == 1)
    val mean = withNull.imputeWithMean("b")
    assert(mean.df.filter($"b" === 2.0).count() == 2)
    // median fill: odd count → middle value, not the mean
    val skewed = Frame(Seq((1, Some(1.0)), (2, None), (3, Some(3.0)),
      (4, Some(100.0))).toDF("a", "b"))
    val med = skewed.imputeWithMedian("b")
    assert(med.df.filter($"a" === 2 && $"b" === 3.0).count() == 1)
    // generalized imputeWith accepts any aggregate
    val mx = skewed.imputeWith("b", org.apache.spark.sql.functions.max)
    assert(mx.df.filter($"a" === 2 && $"b" === 100.0).count() == 1)
  }

  test("positional: takeRows / dropRows / range keep order semantics") {
    assert(main26.takeRows(5, Asc($"test1")).df.as[(Int, String)].collect()
      .map(_._1).toSeq == Seq(1, 2, 3, 4, 5))
    assert(main26.dropRows(20, Asc($"test1")).df.count() == 6)
    assert(main26.range(10, 15, Asc($"test1")).df.as[(Int, String)].collect()
      .map(_._1).toSeq == Seq(11, 12, 13, 14, 15))
  }

  test("sample / randomSplit / kFolds partition the frame") {
    val (tr, te) = main26.randomSplit(0.5, seed = 7)
    assert(tr.df.count() + te.df.count() == 26)
    val folds = main26.kFolds(3, seed = 7)
    assert(folds.map(_.df.count()).sum == 26)
    assert(main26.shuffle(seed = 7).df.count() == 26)
  }

  test("joins: inner/left/right/full with Right_ clash prefix") {
    val inner = left.innerJoin(right, Seq("key"))
    assert(inner.df.count() == 3)
    val l = left.leftJoin(right, Seq("key"))
    assert(l.df.count() == 4)
    assert(l.df.filter($"B".isNull).count() == 1)
    val full = left.fullOuterJoin(right, Seq("key"))
    assert(full.df.count() == 4)
    // clash: both sides carry a non-key column "A"
    val rightClash = Frame(Seq(("K0", "ZZ")).toDF("key", "A"))
    val joined = left.innerJoin(rightClash, Seq("key"))
    assert(joined.columns.contains("Right_A"))
    assert(left.semiJoin(right, Seq("key")).df.count() == 3)
    assert(left.antiJoin(right, Seq("key")).df.count() == 1)
  }

  test("unionByName null-pads missing columns; intersect/except") {
    val extra = Frame(Seq((100, "x", true)).toDF("test1", "test2", "flag"))
    val u = main26.unionByName(extra)
    assert(u.df.count() == 27)
    assert(u.df.filter($"flag".isNull).count() == 26)
    val i = main26.select("test1").intersect(main26.select("test1"))
    assert(i.df.count() == 26)
    val e = main26.select("test1")
      .except(Frame(Seq(1, 2, 3).toDF("test1")))
    assert(e.df.count() == 23)
  }

  test("explodeCol / posexplodeCol unnest array columns") {
    val f = Frame(Seq((1L, Seq("a", "b")), (2L, Seq("c")), (3L, Seq.empty[String]))
      .toDF("id", "xs"))
    val ex = f.explodeCol("xs", "x")
    assert(ex.columns == Seq("id", "x"))
    assert(ex.df.orderBy("id", "x").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (1L, "b"), (2L, "c"))) // empty array drops
    val pos = f.posexplodeCol("xs", "pos", "x")
    assert(pos.columns == Seq("id", "pos", "x"))
    assert(pos.df.filter($"id" === 1L && $"x" === "b")
      .select("pos").as[Int].head() == 1)
    // functions surface
    import graft.api.{functions => gf}
    val viaFn = f.df.select($"id", gf.explodeOuter($"xs").as("x"))
    assert(viaFn.count() == 4) // id=3 keeps a null row
  }

  test("hconcat zips by position") {
    val a = Frame(Seq(1, 2, 3).toDF("x"))
    val b = Frame(Seq("a", "b", "c").toDF("y"))
    val z = a.hconcat(b, Asc($"x"), Asc($"y"))
    assert(z.df.orderBy("x").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("groupBy aggregate + collectGroups + cube/rollup") {
    val g = Frame(Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v"))
    val agg = g.groupBy("k").aggregate(
      "total" -> sum($"v"), "n" -> count(lit(1)))
    assert(agg.df.filter($"k" === "a" && $"total" === 3).count() == 1)
    val coll = g.groupBy("k").collectGroups($"v", "vs")
    assert(coll.df.filter($"k" === "a").select(size($"vs")).as[Int].head() == 2)
    assert(g.groupBy("k").cube("n" -> count(lit(1))).df.count() == 3)  // a, b, all
    assert(g.groupBy("k").rollup("n" -> count(lit(1))).df.count() == 3)
  }

  test("sortBy / distinct / dropDuplicates") {
    val dup = Frame(Seq((1, "x"), (1, "x"), (2, "y")).toDF("a", "b"))
    assert(dup.distinct.df.count() == 2)
    assert(dup.dropDuplicates("a").df.count() == 2)
    val sorted = main26.sortBy(Desc($"test1")).df.as[(Int, String)].head()
    assert(sorted._1 == 26)
  }

  test("describeColumns / frequencies / valueCounts / summarize") {
    val withNull = Frame(Seq((1, Some(2.0)), (2, None), (3, Some(1.0)))
      .toDF("a", "b"))
    val desc = withNull.describeColumns.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(desc("b") == (2L, 1L))
    val freq = main26.derive("bucket", $"test1" % 2).frequencies("bucket")
    assert(freq.filter($"bucket" === 0).select($"percentage").as[Double].head() == 50.0)
    val vc = main26.valueCounts("test2")
    assert(vc.count() == 26)
    val sm = withNull.summarize
    assert(sm.filter($"column" === "b").select($"median").as[Double].head() == 1.5)
  }

  test("melt: wide to long inverts pivot, preserves ids, null values kept") {
    val wide = Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)).toDF("id", "a", "b")
    val long = Frame(wide).melt(Seq("id"), Seq("a", "b")).df
      .orderBy("id", "variable").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(long.toSeq == Seq((1L, "a", 10.0), (1L, "b", 20.0),
      (2L, "a", 30.0), (2L, "b", 40.0)))
    // round trip: melt → pivot recovers the wide frame
    val back = Frame(wide).melt(Seq("id"), Seq("a", "b")).df
      .groupBy("id").pivot("variable", Seq("a", "b"))
      .agg(first($"value")).orderBy("id").collect().map(_.toSeq)
    assert(back.toSeq == wide.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("histogram: equi-width bins, max in last bin, constant column, ascii render") {
    val f = Frame((0 to 100).map(_.toDouble).toDF("v"))
    val h = f.histogram("v", bins = 10).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    assert(h.keySet == (0L to 9L).toSet)
    assert(h(0L)._3 == 10 && h(9L)._3 == 11) // 90..100 inclusive: max joins last bin
    assert(h(0L)._1 == 0.0 && math.abs(h(9L)._2 - 100.0) < 1e-9)
    // nulls ignored; constant column lands entirely in bin 0
    val c = Frame(Seq(Some(5.0), Some(5.0), None).toDF("v"))
      .histogram("v", bins = 4).collect()
    assert(c.length == 1 && c.head.getLong(0) == 0L && c.head.getLong(3) == 2L)
    val art = f.asciiHistogram("v", bins = 5)
    assert(art.linesIterator.size == 5 && art.contains("#"))
  }
}
