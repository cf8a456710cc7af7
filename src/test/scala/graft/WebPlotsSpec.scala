package graft

import graft.api.WebPlots

/** Self-contained-HTML emitter goldens (reference Display/Web/Plot.hs —
  * shape parity; ours inline SVG instead of Chart.js+CDN so the file is
  * truly self-contained). */
class WebPlotsSpec extends SparkSpec {
  import spark.implicits._

  private def wellFormed(html: String): Unit = {
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<svg xmlns=\"http://www.w3.org/2000/svg\""))
    assert(html.contains("</svg>"))
    assert(html.trim.endsWith("</html>"))
    // no external fetches: self-contained means no script/src/href at all
    assert(!html.contains("<script"))
    assert(!html.contains("http://") || html.contains("http://www.w3.org/2000/svg"))
    assert(!html.contains("src="))
  }

  test("htmlHistogram: bars scale to max count, title defaulted") {
    val df = (Seq.fill(8)(1.0) ++ Seq.fill(2)(9.0)).toDF("v")
    val html = WebPlots.htmlHistogram(df, "v", bins = 2)
    wellFormed(html)
    assert(html.contains("<h3>Histogram of v</h3>"))
    // 2 bins: n=8 gets full height (300), n=2 gets a quarter (75)
    assert(html.contains("height=\"300\""))
    assert(html.contains("height=\"75\""))
    assert(html.contains("n=8"))
  }

  test("htmlScatter: corner points at plot-area corners, grouped legend") {
    val df = Seq((0.0, 0.0, "a"), (10.0, 5.0, "b")).toDF("x", "y", "g")
    val html = WebPlots.htmlScatter(df, "x", "y", Some("g"))
    wellFormed(html)
    // x∈[0,10]→[50,590], y∈[0,5]→[350,50] (y down)
    assert(html.contains("""<circle cx="50" cy="350""""))
    assert(html.contains("""<circle cx="590" cy="50""""))
    assert(html.contains(">a</text>") && html.contains(">b</text>"))
    // two groups, two palette colors
    assert(html.contains("#4bc0c0") && html.contains("#ff6384"))
  }

  test("htmlLines: one polyline per series, points ordered by x") {
    val df = Seq((1, 1.0, 4.0), (2, 2.0, 3.0), (3, 4.0, 1.0)).toDF("t", "up", "dn")
    val html = WebPlots.htmlLines(df, "t", Seq("up", "dn"))
    wellFormed(html)
    val polys = "<polyline".r.findAllIn(html).size
    assert(polys == 2)
    // up series: (1,1)→(50,350), (3,4)→(590,50); x ascending in the path
    assert(html.contains("""points="50,350 320,250 590,50""""))
  }

  test("htmlBars golden: top-n + Other fold, counts labeled") {
    val df = Seq("x", "x", "x", "y", "y", "z", "w").toDF("c")
    val html = WebPlots.htmlBars(df, "c", n = 2)
    wellFormed(html)
    assert(html.contains(">x</text>") && html.contains(">y</text>"))
    assert(html.contains(">Other (2 items)</text>"))
    assert(!html.contains(">z</text>"))
    assert(html.contains(">3</text>") && html.contains(">2</text>"))
  }

  test("htmlPie: slice arcs sum to the circle, legend percents") {
    val df = (Seq.fill(3)("a") ++ Seq.fill(1)("b")).toDF("c")
    val html = WebPlots.htmlPie(df, "c")
    wellFormed(html)
    assert("<path ".r.findAllIn(html).size == 2)
    // 75% slice takes the large-arc flag; 25% does not
    assert(html.contains("A 150 150 0 1 1"))
    assert(html.contains("A 150 150 0 0 1"))
    assert(html.contains(">a: 3 (75%)</text>"))
    assert(html.contains(">b: 1 (25%)</text>"))
  }

  test("htmlPie: single category renders a full circle, not a degenerate arc") {
    val df = Seq("only", "only").toDF("c")
    val html = WebPlots.htmlPie(df, "c")
    wellFormed(html)
    assert(html.contains("<circle"))
    assert(html.contains(">only: 2 (100%)</text>"))
  }

  test("save writes the document") {
    val df = Seq(1.0, 2.0).toDF("v")
    val p = java.nio.file.Files.createTempDirectory("webplots").resolve("h.html")
    WebPlots.save(p.toString, WebPlots.htmlHistogram(df, "v", bins = 2))
    assert(java.nio.file.Files.readString(p).startsWith("<!DOCTYPE html>"))
  }
}
