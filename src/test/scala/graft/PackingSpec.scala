package graft

import org.apache.spark.sql.functions._

import graft.ops.Packing

class PackingSpec extends SparkSpec {
  import spark.implicits._

  /** brute-force expectation: lay token counts end-to-end by id, cut at
    * multiples of L. */
  private def expected(docs: Seq[(Long, Long)], L: Long): Seq[(Long, Long, Long, Long)] = {
    var cum = 0L
    docs.sortBy(_._1).filter(_._2 > 0).flatMap { case (id, n) =>
      val cb = cum; cum += n
      (cb / L to (cb + n - 1) / L).map { p =>
        (id, p, math.max(p * L, cb) - cb, math.min((p + 1) * L, cb + n) - cb)
      }
    }
  }

  test("packConcat cuts the concatenated token stream at maxLen boundaries") {
    val docs = Seq((10L, 3L), (11L, 5L), (12L, 9L), (13L, 2L), (14L, 1L))
    val df = docs.toDF("id", "ntok")
    val got = Packing.packConcat(df, "id", col("ntok"), maxLen = 4)
      .orderBy("id", "pack_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected(docs, 4))
    // every pack except the last is exactly full
    val perPack = got.groupBy(_._2).view.mapValues(_.map(r => r._4 - r._3).sum)
    val lastPack = perPack.keys.max
    perPack.foreach { case (p, tot) =>
      if (p != lastPack) assert(tot == 4, s"pack $p holds $tot tokens") }
  }

  test("packConcat: a doc longer than maxLen spans several packs; " +
    "zero-token docs are absent") {
    val df = Seq((1L, 0L), (2L, 10L)).toDF("id", "ntok")
    val got = Packing.packConcat(df, "id", col("ntok"), maxLen = 3)
      .orderBy("pack_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 0L, 0L, 3L), (2L, 1L, 3L, 6L),
      (2L, 2L, 6L, 9L), (2L, 3L, 9L, 10L)))
  }

  test("compactPacks: rewritten ∪ kept-live intervals tile every " +
    "surviving doc exactly; dead rows in kept packs become the mask") {
    val docs = (0L until 200L).map(i => (i, 1L + i % 29))
    val total = docs.map(_._2).sum
    val L = 50L
    val pm = Packing.packConcat(docs.toDF("id", "ntok"), "id", col("ntok"), L)
    val pmSeq = pm.as[(Long, Long, Long, Long)].collect().toSeq
    val pmRows = pmSeq.toSet
    val tomb = pm.filter(col("id") % 5 === 2) // doc-level deletions
    val out = Packing.compactPacks(pm, tomb, "id", L, 0.7, total)
      .as[(Long, Long, Long, Long, Boolean, String)].collect().toSeq
    val origPacks = pmRows.map(_._2)
    val keptRows = out.filter(_._6 == "kept")
    val rwRows = out.filter(_._6 == "rewritten")
    assert(rwRows.nonEmpty && keptRows.nonEmpty)
    // kept rows are verbatim prior-map rows; rewritten rows are live
    // and live in fresh packs at/after the next pack boundary
    keptRows.foreach { r =>
      assert(pmRows.contains((r._1, r._2, r._3, r._4)), s"kept row $r") }
    val freshStart = (total + L - 1) / L
    rwRows.foreach { r =>
      assert(r._5 && r._2 >= freshStart && !origPacks.contains(r._2), r) }
    // every new pack except the global last is exactly full
    val perNew = rwRows.groupBy(_._2).view.mapValues(_.map(r => r._4 - r._3).sum)
    perNew.foreach { case (p, tot) =>
      if (p != perNew.keys.max) assert(tot == L, s"new pack $p holds $tot") }
    // tombstoned docs: only as live=false masks inside kept packs
    out.filter(_._1 % 5 == 2).foreach { r =>
      assert(!r._5 && r._6 == "kept", s"tombstoned doc leaked live: $r") }
    // surviving docs: live intervals tile [0, ntok) exactly
    val byDoc = out.filter(_._5).groupBy(_._1)
    docs.filter(_._1 % 5 != 2).foreach { case (d, n) =>
      val iv = byDoc.getOrElse(d, Seq()).map(r => (r._3, r._4)).sorted
      assert(iv.nonEmpty, s"doc $d vanished")
      assert(iv.head._1 == 0 && iv.last._2 == n, s"doc $d range $iv")
      iv.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 == s2, s"doc $d gap: $iv")
        case _ => () } }
    // the live-fraction rule holds on both sides of the threshold
    val deadIds = docs.map(_._1).filter(_ % 5 == 2).toSet
    val frac = pmSeq.groupBy(_._2).map { case (p, rs) =>
      val tot = rs.map(r => r._4 - r._3).sum.toDouble
      p -> rs.filter(r => !deadIds(r._1)).map(r => r._4 - r._3).sum / tot }
    val keptPacks = keptRows.map(_._2).toSet
    frac.foreach { case (p, f) =>
      assert(keptPacks(p) == (f >= 0.7), s"pack $p frac $f kept=${keptPacks(p)}") }
  }

  test("compactPacks edges: no tombstones → prior map verbatim; " +
    "minLiveFrac=1.0 rewrites every touched pack") {
    val docs = Seq((1L, 7L), (2L, 4L), (3L, 12L), (4L, 2L))
    val pm = Packing.packConcat(docs.toDF("id", "ntok"), "id", col("ntok"), 5)
    val none = pm.limit(0)
    val out0 = Packing.compactPacks(pm, none, "id", 5, 0.5, 25)
      .as[(Long, Long, Long, Long, Boolean, String)].collect().toSeq
    assert(out0.forall(r => r._5 && r._6 == "kept"))
    assert(out0.map(r => (r._1, r._2, r._3, r._4)).sorted ==
      pm.as[(Long, Long, Long, Long)].collect().toSeq.sorted)
    val tomb = pm.filter(col("id") === 2L)
    val strict = Packing.compactPacks(pm, tomb, "id", 5, 1.0, 25)
      .as[(Long, Long, Long, Long, Boolean, String)].collect().toSeq
    // every pack holding doc 2 is below a 1.0 live bar → rewritten;
    // doc 2 itself disappears entirely (dead rows of retired packs)
    assert(!strict.exists(_._1 == 2L))
    val touched = pm.filter(col("id") === 2L)
      .select("pack_id").as[Long].collect().toSet
    assert(strict.filter(r => touched(r._2)).isEmpty)
    strict.filter(_._6 == "rewritten").foreach(r => assert(r._2 >= 5L, r))
  }

  test("packConcat is invariant to input partitioning") {
    val docs = (0L until 500L).map(i => (i, 1L + i % 37))
    val base = docs.toDF("id", "ntok")
    val a = Packing.packConcat(base, "id", col("ntok"), maxLen = 100)
      .orderBy("id", "pack_id").as[(Long, Long, Long, Long)].collect().toSeq
    val b = Packing.packConcat(base.repartition(7, col("ntok")), "id",
        col("ntok"), maxLen = 100)
      .orderBy("id", "pack_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
    assert(a == expected(docs, 100))
  }
}
