package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Property-based checks for the custom kernels and portable-hash
  * invariants — randomized inputs catch the edge cases example tests
  * miss. The pure-JVM kernels run hundreds of scalacheck cases in
  * milliseconds; Spark-side invariants use one seeded bulk frame per
  * property (one job, not one per case). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def checkProp(p: Prop, cases: Int = 200): Unit = {
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, r.status.toString)
  }

  // ---- TopNgramCount vs a naive reference implementation -----------------
  private def naiveTopNgram(words: Seq[String], n: Int): Long =
    if (words.length < n) 0L
    else words.sliding(n).map(_.mkString(" ")).toSeq
      .groupBy(identity).values.map(_.size).max.toLong

  test("TopNgramCount matches the naive count on random word lists") {
    val word = Gen.oneOf("a", "b", "ab", "xyz", "", "δ")
    val gen = for {
      len <- Gen.choose(0, 30)
      ws <- Gen.listOfN(len, word)
      n <- Gen.choose(1, 4)
    } yield (ws, n)
    checkProp(Prop.forAllNoShrink(gen) { case (words, n) =>
      val arr = new GenericArrayData(
        words.map(w => UTF8String.fromString(w)).toArray[Any])
      graft.expr.TopNgramCount.compute(arr, n) == naiveTopNgram(words, n)
    })
  }

  // ---- MinHash signature invariants --------------------------------------
  test("MinHash signatures: permutation-invariant, fixed length, monotone under union") {
    val gen = for {
      hs <- Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (hs, seed)
    checkProp(Prop.forAllNoShrink(gen) { case (hs, seed) =>
      val a = graft.expr.MinHashSignature.compute(hs.toArray, 16)
      val shuffled = graft.expr.MinHashSignature.compute(
        new scala.util.Random(seed).shuffle(hs).toArray, 16)
      val sup = graft.expr.MinHashSignature.compute(
        (hs ++ List(42L, -7L)).toArray, 16)
      a.toSeq == shuffled.toSeq && a.length == 16 &&
        sup.zip(a).forall { case (s, x) => s <= x }
    })
  }

  // ---- SimHash signature vs the per-bit majority fold it replaced --------
  private def naiveSimhash(hs: Seq[Long], bits: Int): Long =
    (0 until bits).map { b =>
      val votes = hs.foldLeft(0) { (acc, h) =>
        acc + (if (((h >> b) & 1L) == 1L) 1 else -1)
      }
      if (votes > 0) 1L << b else 0L
    }.foldLeft(0L)(_ | _)

  test("SimHashSignature matches the per-bit majority fold on random word hashes") {
    val gen = for {
      hs <- Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      bits <- Gen.oneOf(1, 7, 31, 64)
    } yield (hs, bits)
    checkProp(Prop.forAllNoShrink(gen) { case (hs, bits) =>
      val arr = new GenericArrayData(hs.toArray)
      graft.expr.SimHashSignature.compute(arr, bits) == naiveSimhash(hs, bits)
    })
  }

  // ---- Int128 accumulation vs BigInt reference ---------------------------
  test("Int128 micros accumulation matches BigInt over random signed longs") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-1000000000000L, 1000000000000L))
    checkProp(Prop.forAllNoShrink(gen) { xs =>
      var hi = 0L; var lo = 0L
      xs.foreach { v =>
        val nl = lo + v
        val carry = ((lo & v) | ((lo | v) & ~nl)) >>> 63
        hi = hi + (v >> 63) + carry
        lo = nl
      }
      val got = graft.expr.Int128MicrosToDouble.toDouble(hi, lo, 6)
      val want = new java.math.BigDecimal(
        new java.math.BigInteger(xs.map(BigInt(_)).sum.toString), 6)
        .doubleValue()
      got == want
    })
  }

  // ---- portable mixer: one bulk frame, reference arithmetic --------------
  test("micros fast path agrees with the BigDecimal reference everywhere") {
    // Spark's ANSI cast to decimal(18,6): HALF_UP, and a value needing
    // more than 18 digits (|v| ≥ 1e12 after rounding) is an error
    def ref(v: Double): Long = {
      val d = java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP)
      if (d.precision > 18) throw new ArithmeticException(s"$v")
      d.unscaledValue().longValueExact()
    }
    def same(v: Double) = scala.util.Try(graft.expr.MomentsAggregate.micros(v))
      .toEither.left.map(_.getClass) ==
      scala.util.Try(ref(v)).toEither.left.map(_.getClass)
    // adversarial: exact .5-micro boundaries, tiny, negative, large
    for (v <- Seq(0.0, -0.0, 1.5e-7, -1.5e-7, 0.0000005, -0.0000005,
        0.0000015, 1.0, -1.0, 123.4567895, -123.4567895, 1e-9, 7e11,
        0.1 + 0.2, math.Pi, -math.E * 1e6, 1e12, -1e12, 999999999999.9999))
      assert(same(v), s"v=$v")
    val gen = Gen.chooseNum(-1e12, 1e12)
    checkProp(Prop.forAllNoShrink(gen)(same), cases = 2000)
    // products of floats — the aggregate's actual input distribution
    val fg = Gen.chooseNum(-100f, 100f)
    checkProp(Prop.forAllNoShrink(Gen.zip(fg, fg)) { case (a, b) =>
      same(a.toDouble * b.toDouble)
    }, cases = 2000)
  }

  test("UnscaledMicros.fast decides 10M seeded doubles per scale exactly as BigDecimal HALF_UP") {
    import graft.expr.UnscaledMicros.{Undecided, fast}
    import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
    val rnd = new scala.util.Random(43)
    val n = 10000000
    for (s <- Seq(4, 6)) {
      // a decimal HALF_UP tie at the (s+1)th digit, as the nearest double
      def tie() = new JBigDecimal(
        BigInteger.valueOf((rnd.nextLong() % 100000000000L) * 10 + 5), s + 1).doubleValue
      var decided = 0
      var i = 0
      while (i < n) {
        val v = i % 5 match {
          case 0 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(26) - 9)
          case 1 => tie()
          case 2 => // within 64 ulps of a tie: both sides of the error bound
            val t = tie(); t + (rnd.nextInt(129) - 64) * Math.ulp(t)
          case 3 => // 2-dp price times a 2-dp factor, the TPC-H shape
            rnd.nextInt(100000000) / 100.0 * (1 - rnd.nextInt(11) / 100.0)
          case _ => java.lang.Double.longBitsToDouble(rnd.nextLong())
        }
        val m = fast(v, s)
        if (m != Undecided) {
          decided += 1
          val want = JBigDecimal.valueOf(v).setScale(s, RoundingMode.HALF_UP)
            .unscaledValue().longValueExact()
          if (m != want) fail(s"fast($v, $s) = $m, want $want")
        }
        i += 1
      }
      assert(decided > n / 4, s"scale $s: only $decided of $n values decided")
    }
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        1e12, -1e12); s <- Seq(4, 6))
      assert(fast(v, s) == Undecided, s"fast($v, $s)")
  }

  test("portableMix stays in [0, 2^31-1) and matches the documented arithmetic") {
    val M = 2147483647L
    def mixRef(x: Long): Long =
      (((x % M) * 2654435761L + 2246822519L) % M) * 2246822519L % M
    val rnd = new scala.util.Random(97)
    val xs = Seq.fill(2000)(math.abs(rnd.nextLong() / 2))
    val got = xs.toDF("id")
      .select(col("id"), graft.api.Frame.portableMix(col("id")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      assert(got(x) >= 0 && got(x) < M && got(x) == mixRef(x))
    }
  }

  test("kFoldsHash partitions: disjoint, complete, deterministic") {
    val df = spark.range(0, 500).select($"id".as("doc_id"))
    val folds = graft.api.Frame(df).kFoldsHash("doc_id", 4)
      .map(_.df.select("doc_id").as[Long].collect().toSet)
    assert(folds.map(_.size).sum == 500)
    assert(folds.reduce(_ union _).size == 500) // disjoint + complete
    val again = graft.api.Frame(df).kFoldsHash("doc_id", 4)
      .map(_.df.select("doc_id").as[Long].collect().toSet)
    assert(folds == again)
  }

  // ---- BPE invariants (pure-JVM kernels) ----------------------------------
  test("BPE: encodeWord losslessly reconstructs the word under any merges") {
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)
    val pair = Gen.zip(Gen.alphaLowerStr.suchThat(_.nonEmpty),
      Gen.alphaLowerStr.suchThat(_.nonEmpty))
    val gen = Gen.zip(word, Gen.listOf(pair))
    checkProp(Prop.forAllNoShrink(gen) { case (w, merges) =>
      val ranks = merges.zipWithIndex.toMap
      val toks = graft.ops.Bpe.encodeWord(w, ranks)
      // concatenating the tokens and stripping the end marker gives the
      // word back, and every token is non-empty
      toks.mkString.stripSuffix(graft.ops.Bpe.EndOfWord) == w &&
        toks.forall(_.nonEmpty)
    })
  }

  test("BPE: applyMerge never changes the flattened symbol stream") {
    val sym = Gen.oneOf("a", "b", "ab", "c")
    val gen = Gen.zip(Gen.listOf(sym), Gen.zip(sym, sym))
    checkProp(Prop.forAllNoShrink(gen) { case (syms, (a, b)) =>
      graft.ops.Bpe.applyMerge(syms, a, b).mkString == syms.mkString
    })
  }

  // ---- Misra-Gries invariants (pure-JVM merge/update algebra) -------------
  test("MG summary: n/k bound and heavy-item recall on random partitioned streams") {
    val gen = Gen.zip(
      Gen.listOfN(400, Gen.chooseNum(0, 30).map(i => s"t$i")),
      Gen.chooseNum(4, 24), Gen.chooseNum(1, 7))
    checkProp(Prop.forAllNoShrink(gen) { case (items, k, parts) =>
      // drive the aggregate's REAL update/merge across `parts`
      // partitions, exactly as Spark would
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
      import org.apache.spark.sql.types.StringType
      val agg = graft.expr.MisraGriesAgg(
        BoundReference(0, StringType, nullable = true), k)
      val bufs = items.grouped(math.max(1, items.size / parts)).map { part =>
        val b = agg.createAggregationBuffer()
        part.foreach { s => agg.update(b,
          new GenericInternalRow(Array[Any](UTF8String.fromString(s)))) }
        b
      }.toSeq
      val merged = bufs.reduce(agg.merge)
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      val got = {
        val m = scala.collection.mutable.Map[String, Long]()
        merged.forEach { (s, c) => m(s.toString) = c }
        m.toMap
      }
      got.forall { case (s, c) => c <= truth(s) && c >= truth(s) - n / k } &&
        truth.forall { case (s, f) => f <= n / k || got.contains(s) }
    }, cases = 100)
  }

  // ---- perceptual-hash kernels vs naive references -----------------------
  test("AHash/DHash kernels match naive Scala references on random grids") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def naiveA(px: Seq[Double], bits: Int): Any =
      if (px.length < bits) null
      else {
        val mean = px.take(bits).sum / bits // left-fold order = kernel order
        px.take(bits).zipWithIndex
          .map { case (p, i) => if (p > mean) 1L << i else 0L }.sum
      }
    def naiveD(px: Seq[Double], w: Int, h: Int): Any =
      if (px.length < w * h) null
      else (for { r <- 0 until h; c <- 0 until w - 1 }
        yield if (px(r * w + c) < px(r * w + c + 1)) 1L << (r * (w - 1) + c)
          else 0L).sum
    val gen = for {
      len <- Gen.choose(0, 80)
      px <- Gen.listOfN(len, Gen.oneOf(
        Gen.chooseNum(-255.0, 255.0), Gen.oneOf(0.0, -0.0, 1.0)))
    } yield px
    checkProp(Prop.forAllNoShrink(gen) { px =>
      val lit = Literal.create(px, ArrayType(DoubleType))
      val a = graft.expr.AHash(lit, 63).eval(null)
      val d = graft.expr.DHash(lit, 9, 7).eval(null)
      a == naiveA(px, 63) && d == naiveD(px, 9, 7) &&
        (a == null || a.asInstanceOf[Long] >= 0L) &&
        (d == null || d.asInstanceOf[Long] >= 0L)
    })
  }

  // ---- weighted percentiles vs a brute-force reference -------------------
  test("weightedPercentiles matches brute-force cumulative weights on a " +
    "seeded bulk frame") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      (s"g${rnd.nextInt(4)}", rnd.nextInt(30).toLong,
        (rnd.nextInt(50) + 1).toDouble)
    }
    val ps = Seq(0.1, 0.5, 0.9, 1.0)
    val got = graft.api.Stats.weightedPercentiles(
        rows.toDF("grp", "v", "w"), "grp", $"v", $"w", ps)
      .as[(String, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // brute force on 6-dp-quantized weights (the op's contract)
    def q6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    for (g <- rows.map(_._1).distinct; p <- ps) {
      val byV = rows.filter(_._1 == g).groupBy(_._2).view
        .mapValues(_.map(r => q6(r._3)).sum).toSeq.sortBy(_._1)
      val tw = byV.map(_._2).sum
      var cum = BigDecimal(0); var ans = Option.empty[Long]
      for ((v, w) <- byV if ans.isEmpty) {
        cum += w
        if (cum >= BigDecimal(p) * tw) ans = Some(v)
      }
      assert(got((g, p)) == ans.get, s"group $g p=$p")
    }
  }

  // ---- span corruption reconstruction on random docs ---------------------
  test("spanCorruption (input, target) reconstruct the original on " +
    "random token documents") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 60L).map { i =>
      val n = rnd.nextInt(70)
      (i, (1 to n).map(_ => s"t${rnd.nextInt(9)}").mkString(" "))
    }
    val got = graft.ops.Masking.spanCorruption(
        docs.toDF("doc_id", "text"), "doc_id", "text", chunk = 7, spanLen = 2)
      .select($"doc_id", $"text", $"input", $"target")
      .as[(Long, String, String, String)].collect()
    assert(got.length == 60)
    for ((id, text, input, target) <- got) {
      val spans = raw"<extra_id_(\d+)> ((?:(?!<extra_id_)\S+ ?)*)".r
        .findAllMatchIn(target)
        .map(m => m.group(1).toInt -> m.group(2).trim).toMap
      val rebuilt = input.split(" ", -1).flatMap { t =>
        raw"^<extra_id_(\d+)>$$".r.findFirstMatchIn(t) match {
          case Some(m) => spans(m.group(1).toInt).split(" ").toSeq
          case None => Seq(t)
        }
      }.mkString(" ")
      assert(rebuilt == text, s"doc $id reconstructs")
    }
  }

  // ---- interval-overlap bucketing is lossless vs the theta join ----------
  test("intervalOverlap equals the direct theta join on random intervals " +
    "across bucket widths") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(13)
    def t(m: Long) = new Timestamp(1767225600000L + m * 60000L)
    val left = (1L to 80L).map { i =>
      val s = rnd.nextInt(500); val len = rnd.nextInt(60)
      (i % 5, i, t(s), t(s + len))
    }
    val right = (100L to 180L).map { i =>
      val s = rnd.nextInt(500); val len = rnd.nextInt(60)
      (i % 5, i, t(s), t(s + len))
    }
    val expected = (for {
      (lk, li, ls, le) <- left
      (rk, ri, rs, re) <- right
      if lk == rk && !ls.after(re) && !rs.after(le)
    } yield (li, ri)).toSet
    for (widthMin <- Seq(1L, 7L, 120L)) {
      val got = graft.ops.RangeJoin.intervalOverlap(
          left.toDF("k", "l_id", "l_s", "l_e"),
          right.toDF("k", "r_id", "r_s", "r_e"),
          "k", "l_id", "r_id", "l_s", "l_e", "r_s", "r_e",
          bucketWidthMicros = widthMin * 60L * 1000000)
        .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"width ${widthMin}min")
    }
  }

  // ---- positional API surface --------------------------------------------
  test("withIndex / topKPerGroup") {
    val f = graft.api.Frame(Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8))
      .toDF("k", "v"))
    val idx = f.withIndex("i", graft.api.Asc($"k"), graft.api.Asc($"v"))
    assert(idx.df.orderBy("i").select("v").as[Int].collect().toSeq ==
      Seq(1, 2, 3, 8, 9))
    val top = f.topKPerGroup(Seq("k"), 2, graft.api.Desc($"v"))
    assert(top.df.orderBy("k", "v").as[(String, Int)].collect().toSeq ==
      Seq(("a", 2), ("a", 3), ("b", 8), ("b", 9)))
  }
}
