package graft

import org.apache.spark.sql.functions._

import graft.ops.Embeddings

class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val m = 4 // subvectors of 2 dims

  /** three tight planted clusters in 8-d, 32 points each. */
  private lazy val planted = {
    val centers = Seq(
      Array(5.0, 5, 5, 5, 5, 5, 5, 5),
      Array(-5.0, -5, -5, -5, 5, 5, 5, 5),
      Array(0.0, 0, 5, 5, -5, -5, 0, 0))
    val rnd = new scala.util.Random(7)
    (0L until 96L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(_ + rnd.nextGaussian() * 0.05).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("pqEncode picks each subspace's true nearest centroid") {
    val cbs = Embeddings.pqInitCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10)
    val rows = planted
      .select(col("vec_id"), col("embedding"),
        Embeddings.pqEncode(col("embedding"), cbs).as("codes"))
      .as[(Long, Seq[Double], Seq[Int])].collect()
    rows.foreach { case (_, v, codes) =>
      codes.zipWithIndex.foreach { case (code, s) =>
        val sv = v.slice(s * 2, s * 2 + 2)
        val best = cbs(s).zipWithIndex.minBy { case (c, j) =>
          (c.zip(sv).map { case (a, b) => (a - b) * (a - b) }.sum, j)
        }._2
        assert(code == best, s"subspace $s: got $code want $best")
      }
    }
  }

  test("pqDecode reconstructs within the cluster radius; " +
    "trained codebooks do not reconstruct worse") {
    def avgErr(cbs: Array[Array[Array[Double]]]): Double = {
      val errs = planted.select(col("embedding"),
          Embeddings.pqDecode(
            Embeddings.pqEncode(col("embedding"), cbs), cbs).as("rec"))
        .as[(Seq[Double], Seq[Double])].collect()
        .map { case (v, r) =>
          math.sqrt(v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum) }
      errs.sum / errs.length
    }
    val init = Embeddings.pqInitCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10)
    val trained = Embeddings.pqTrainCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10, iters = 5)
    val (e0, e1) = (avgErr(init), avgErr(trained))
    assert(e0 < 1.0, s"raw-init reconstruction too lossy: $e0")
    assert(e1 <= e0 + 1e-9, s"training regressed reconstruction: $e1 > $e0")
  }

  test("pqTopKRerank: recall@k never drops below ADC-only; ranks are " +
    "ascending exact distance") {
    val cbs = Embeddings.pqTrainCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10, iters = 3)
    val coded = planted.select(col("vec_id"), col("embedding"),
      Embeddings.pqEncode(col("embedding"), cbs).as("codes"))
    val all = planted.as[(Long, Seq[Double])].collect()
    val queries = Seq(5L, 17L, 40L).map(q =>
      q -> all.find(_._1 == q).get._2.toArray).toArray
    val k = 5
    def exactTop(qv: Array[Double]): Set[Long] = all.sortBy { case (i, v) =>
      (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.take(k).map(_._1).toSet
    def bySet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("qid", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val adc = bySet(Embeddings.pqTopK(queries, coded, "vec_id", "codes", cbs, k))
    val rr = Embeddings.pqTopKRerank(queries, coded, "vec_id", "codes",
      "embedding", cbs, k, rerank = 4)
    val rrSet = bySet(rr)
    queries.foreach { case (qid, qv) =>
      val ex = exactTop(qv)
      assert((rrSet(qid) & ex).size >= (adc(qid) & ex).size,
        s"query $qid: rerank recall below ADC-only")
    }
    // ranks 1..k per query, dist nondecreasing in rank
    val rows = rr.select("qid", "rank", "dist")
      .as[(Long, Int, Double)].collect().groupBy(_._1)
    rows.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to k))
      assert(sorted.sliding(2).forall(p => p(0)._3 <= p(1)._3))
    }
  }

  test("pqIvfTopK: probing every cell reproduces flat ADC exactly; " +
    "nProbe=1 still finds the planted nearest neighbor") {
    val cbs = Embeddings.pqTrainCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10, iters = 3)
    val coded = planted.select(col("vec_id"), col("embedding"),
      Embeddings.pqEncode(col("embedding"), cbs).as("codes"))
    val all = planted.as[(Long, Seq[Double])].collect()
    // ids 0/32/64 land in the three distinct planted clusters (i % 3)
    val coarse = Seq(0L, 32L, 64L).map(i =>
      all.find(_._1 == i).get._2.toArray).toArray
    val queries = Seq(5L, 17L, 40L).map(q =>
      q -> all.find(_._1 == q).get._2.toArray).toArray
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val flat = rows(Embeddings.pqTopK(queries, coded, "vec_id", "codes",
      cbs, k = 5))
    val ivfAll = rows(Embeddings.pqIvfTopK(queries, coded, coarse,
      "vec_id", "codes", "embedding", cbs, k = 5, nProbe = 3))
    assert(ivfAll == flat, "probing all cells must equal the flat ADC scan")
    val ivf1 = Embeddings.pqIvfTopK(queries, coded, coarse,
        "vec_id", "codes", "embedding", cbs, k = 1, nProbe = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toMap
    queries.foreach { case (qid, qv) =>
      val exact = all.minBy { case (i, v) =>
        (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i) }._1
      assert(ivf1(qid) == exact,
        s"query $qid: ivfpq top-1 ${ivf1(qid)} vs exact $exact")
    }
  }

  test("pqEncode ties break to the smaller centroid index") {
    // two identical centroids per subspace: every vector must code 0.
    val cb = Array.fill(m)(Array(Array(1.0, 1.0), Array(1.0, 1.0)))
    val codes = planted
      .select(Embeddings.pqEncode(col("embedding"), cb).as("codes"))
      .as[Seq[Int]].collect()
    assert(codes.nonEmpty && codes.forall(_.forall(_ == 0)))
  }

  test("pq codebook fits reject K > 256 (byte-code regime) without " +
    "an unbounded collect") {
    val big = (0L until 300L).map(i => (i, Seq.fill(8)(i.toDouble)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Embeddings.pqInitCodebooks(big, "vec_id", "embedding", dim, m, every = 1)
    }
    assert(e1.getMessage.contains("256"))
    val e2 = intercept[IllegalArgumentException] {
      Embeddings.pqTrainCodebooks(big, "vec_id", "embedding", dim, m,
        every = 1, iters = 1)
    }
    assert(e2.getMessage.contains("256"))
  }

  test("pqTopK: ADC top-1 equals the exact nearest neighbor on " +
    "separated clusters") {
    val cbs = Embeddings.pqTrainCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10, iters = 3)
    val coded = planted.select(col("vec_id"),
      Embeddings.pqEncode(col("embedding"), cbs).as("codes"))
    val all = planted.as[(Long, Seq[Double])].collect()
    val queries = Seq(5L, 17L, 40L).map(q =>
      q -> all.find(_._1 == q).get._2.toArray).toArray
    val got = Embeddings.pqTopK(queries, coded, "vec_id", "codes", cbs, k = 3)
      .filter(col("rank") === 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toMap
    queries.foreach { case (qid, qv) =>
      val exact = all.minBy { case (i, v) =>
        (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i) }._1
      assert(got(qid) == exact, s"query $qid: adc ${got(qid)} vs exact $exact")
    }
  }

  test("residual IVFPQ: a single zero centroid degenerates to flat ADC; " +
    "residual codes beat raw codes on reconstruction; top-1 is exact " +
    "on separated clusters") {
    val all = planted.as[(Long, Seq[Double])].collect()
    val queries = Seq(5L, 17L, 40L).map(q =>
      q -> all.find(_._1 == q).get._2.toArray).toArray
    // one all-zero coarse centroid: residual == raw vector, so the
    // residual path must reproduce the flat ADC ranking exactly
    val zero = Array(Array.fill(dim)(0.0))
    val cbsRaw = Embeddings.pqInitCodebooks(planted, "vec_id", "embedding",
      dim, m, every = 10)
    val cbsZero = Embeddings.pqResidualCodebooks(planted, "vec_id",
      "embedding", zero, dim, m, every = 10)
    assert(cbsZero.map(_.map(_.toSeq).toSeq).toSeq ==
      cbsRaw.map(_.map(_.toSeq).toSeq).toSeq)
    val coded = planted.select(col("vec_id"),
      Embeddings.pqEncode(col("embedding"), cbsRaw).as("codes"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet
    val flat = rows(Embeddings.pqTopK(queries, coded, "vec_id", "codes",
      cbsRaw, k = 5))
    val resZero = rows(Embeddings.pqIvfResidualTopK(queries, planted, zero,
      "vec_id", "embedding", cbsRaw, k = 5, nProbe = 1))
    assert(resZero == flat, "zero-centroid residual path must equal flat ADC")
    // real coarse centroids (the three planted cluster seeds): residual
    // reconstruction error must undercut raw-codebook reconstruction
    val coarse = Seq(0L, 32L, 64L).map(i =>
      all.find(_._1 == i).get._2.toArray).toArray
    val cbsRes = Embeddings.pqResidualCodebooks(planted, "vec_id",
      "embedding", coarse, dim, m, every = 10)
    def mse(recon: org.apache.spark.sql.Column) = planted
      .select(aggregate(zip_with(col("embedding").cast("array<double>"),
        recon, (a, b) => (a - b) * (a - b)), lit(0.0), _ + _).as("e"))
      .agg(avg("e")).as[Double].collect().head
    val (cell, res) = Embeddings.residualParts(col("embedding"), coarse)
    val centArr = element_at(typedLit(coarse.map(_.toSeq).toSeq), cell + 1)
    val rawRecon = Embeddings.pqDecode(
      Embeddings.pqEncode(col("embedding"), cbsRaw), cbsRaw)
    val resRecon = zip_with(centArr,
      Embeddings.pqDecode(Embeddings.pqEncode(res, cbsRes), cbsRes), _ + _)
    assert(mse(resRecon) < mse(rawRecon),
      s"residual mse ${mse(resRecon)} !< raw mse ${mse(rawRecon)}")
    // and the search itself: top-1 with nProbe=1 is the exact NN
    val top1 = Embeddings.pqIvfResidualTopK(queries, planted, coarse,
        "vec_id", "embedding", cbsRes, k = 1, nProbe = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect().toMap
    queries.foreach { case (qid, qv) =>
      val exact = all.minBy { case (i, v) =>
        (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i) }._1
      assert(top1(qid) == exact,
        s"query $qid: residual ivfpq top-1 ${top1(qid)} vs exact $exact")
    }
  }
}
