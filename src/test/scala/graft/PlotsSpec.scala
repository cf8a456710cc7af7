package graft

import graft.api.Plots

/** Terminal renderer goldens on fixed frames — shape parity with the
  * reference's plotting module (Display/Terminal/Plot.hs; glyph work
  * there is Granite's, so goldens pin OUR renderers' exact output). */
class PlotsSpec extends SparkSpec {
  import spark.implicits._

  test("groupWithOther folds the tail, reference semantics") {
    val items = Seq("a" -> 5.0, "b" -> 4.0, "c" -> 3.0, "d" -> 2.0, "e" -> 1.0)
    assert(Plots.groupWithOther(3, items) ==
      Seq("a" -> 5.0, "b" -> 4.0, "c" -> 3.0, "Other (2 items)" -> 3.0))
    // no tail → unchanged; zero-sum tail → dropped
    assert(Plots.groupWithOther(5, items) == items)
    assert(Plots.groupWithOther(1, Seq("a" -> 2.0, "b" -> 0.0)) == Seq("a" -> 2.0))
    // pie variant bakes the percent into the label
    assert(Plots.groupWithOtherForPie(3, items) ==
      Seq("a" -> 5.0, "b" -> 4.0, "c" -> 3.0, "Other (2 items, 20%)" -> 3.0))
  }

  test("renderBars golden: scaled, labeled, integer-formatted") {
    val got = Plots.renderBars(Seq("alpha" -> 8.0, "beta" -> 4.0, "g" -> 1.0), width = 8)
    val want =
      """alpha | ######## 8
        |beta  | #### 4
        |g     | # 1""".stripMargin
    assert(got == want)
  }

  test("asciiBarsTopN over a real column: top-n + Other") {
    val df = Seq("x", "x", "x", "y", "y", "z", "w").toDF("c")
    val got = Plots.asciiBarsTopN(df, "c", n = 2, width = 6)
    val want =
      """x               | ###### 3
        |y               | #### 2
        |Other (2 items) | #### 2""".stripMargin
    assert(got == want)
  }

  test("asciiScatter golden: corners land on corners, axes labeled") {
    val df = Seq((0.0, 0.0), (10.0, 5.0), (5.0, 2.5)).toDF("x", "y")
    val got = Plots.asciiScatter(df, "x", "y", width = 11, height = 5)
    val want =
      """      5.00 |          *
        |           |
        |           |     *
        |           |
        |      0.00 |*
        |           +-----------
        |            0.00  10.00""".stripMargin
    assert(got == want)
  }

  test("asciiScatter grouped: one glyph per group + legend") {
    val df = Seq((0.0, 0.0, "a"), (10.0, 5.0, "b")).toDF("x", "y", "g")
    val got = Plots.asciiScatter(df, "x", "y", Some("g"), width = 11, height = 3)
    assert(got.contains("* a  + b"))
    assert(got.linesIterator.next().endsWith("+")) // group b's glyph top-right
  }

  test("asciiLines golden: two series, two glyphs, legend") {
    val df = Seq((1, 1.0, 4.0), (2, 2.0, 3.0), (3, 3.0, 2.0), (4, 4.0, 1.0))
      .toDF("t", "up", "down")
    val got = Plots.asciiLines(df, "t", Seq("up", "down"), width = 7, height = 4)
    val want =
      """      4.00 |+     *
        |           |  + *
        |           |  * +
        |      1.00 |*     +
        |           +-------
        |            1.00 4.00
        |* up  + down""".stripMargin
    assert(got == want)
  }

  test("asciiBoxPlot golden: box glyphs ordered, outliers annotated") {
    // group g1: 1..9 plus outlier 100 → q1=3, med=5.5, q3=8 (duckdb-style
    // interpolation is Stats.boxPlotStats' concern; here we pin render shape)
    val df = ((1 to 9).map(v => ("g1", v.toDouble)) :+ ("g1", 100.0))
      .toDF("g", "v")
    val got = Plots.asciiBoxPlot(df, "v", "g", width = 31)
    val lines = got.linesIterator.toSeq
    assert(lines.length == 2)
    val bar = lines.head
    // glyph ordering: | … [ … M … ] … | then the (n, outliers) tail
    val idx = Seq('|', '[', 'M', ']').map(bar.indexOf(_))
    assert(idx == idx.sorted && idx.forall(_ >= 0))
    assert(bar.indexOf('|', idx.head + 1) > idx.last)
    assert(bar.endsWith("(n=10, outliers=1)"))
    // q1=3.25, q3=7.75 (interpolated), iqr=4.5 → lo whisker -3.50; the
    // outlier 100 is excluded from the scale (hi whisker 14.50 caps it)
    assert(lines(1).trim.startsWith("-3.50"))
    assert(lines(1).trim.endsWith("14.50"))
  }

  test("asciiStackedBars golden: segments sum per category") {
    val df = Seq(("c1", 2.0, 2.0), ("c1", 2.0, 2.0), ("c2", 1.0, 1.0))
      .toDF("cat", "s1", "s2")
    val got = Plots.asciiStackedBars(df, "cat", Seq("s1", "s2"), width = 8)
    val want =
      """c1 | ****++++ 8
        |c2 | *+ 2
        |* s1  + s2""".stripMargin
    assert(got == want)
  }

  test("renderPie golden: slice fractions and legend percents") {
    val got = Plots.renderPie(Seq("a" -> 3.0, "b" -> 1.0), radius = 3)
    val lines = got.linesIterator.toSeq
    assert(lines.length == 7 + 2) // disc rows + legend
    assert(lines(7) == "* a: 3 (75%)")
    assert(lines(8) == "+ b: 1 (25%)")
    // 12-to-3-o'clock quadrant belongs to slice a (first quarter of 75%)…
    val top = lines(1)
    assert(top.contains('*'))
    // …and the top-left quadrant is slice b's only if b spans it: with
    // 25% ending at 6 o'clock-ward? b occupies (75%,100%) = top-LEFT.
    assert(lines(1).takeWhile(_ != '*').contains('+'))
  }

  test("asciiPie over a column: Other fold keeps ≤ maxSlices+1 slices") {
    val df = (1 to 10).flatMap(i => Seq.fill(i)(s"v$i")).toDF("c")
    val got = Plots.asciiPie(df, "c", maxSlices = 3, radius = 4)
    val legend = got.linesIterator.toSeq.dropWhile(l => !l.contains(": "))
    assert(legend.length == 4)
    assert(legend.last.startsWith("x Other (7 items,")) // 4th slice → glyph 'x'
  }
}
