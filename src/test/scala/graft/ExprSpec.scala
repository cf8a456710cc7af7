package graft

import org.apache.spark.sql.functions._
import graft.api.{functions => gf}

/** Custom Catalyst aggregate semantics: the 128-bit exact sum must be
  * bit-identical to the decimal(18,6) formulation it replaces, on every
  * path (partial/final merge, grouped, nulls, negatives, empty). */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  private def decimalSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,6)")).cast("double")

  test("dsum128 equals the decimal sum on random signed data across partitions") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(10000)((rnd.nextLong() % 4, // 4 groups
      (rnd.nextDouble() - 0.5) * 2e9 + rnd.nextGaussian() * 1e-4))
    val df = xs.toDF("k", "x").repartition(16) // force partial + merge
    val got = df.groupBy("k").agg(gf.dsumD($"x").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = df.groupBy("k").agg(decimalSum($"x").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want) // exact double equality — same per-row rounding + exact sum
  }

  test("dsum128: nulls skipped, all-null and empty groups → null, magnitudes near the cast bound") {
    val df = Seq[(Long, Option[Double])](
      (1L, Some(1.0000005)), (1L, None), (1L, Some(-2.25)),
      (2L, None), (2L, None),
      (3L, Some(9.99999e11)), (3L, Some(-9.99999e11)), (3L, Some(0.000001))
    ).toDF("k", "x")
    val rows = df.groupBy("k").agg(gf.dsumD($"x").as("s"), decimalSum($"x").as("w"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1),
         if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    rows.values.foreach { case (got, want) => assert(got == want) }
    assert(rows(2L)._1 == null)
    // ungrouped over an empty frame → null, matching SUM semantics
    val empty = df.filter($"k" === 99L)
    assert(empty.agg(gf.dsumD($"x")).head().isNullAt(0))
  }

  test("dsum128: negative totals and the 2^63 lo-word carry path") {
    // many large negative micros force low-word wraparound + borrow
    val df = spark.range(0, 200000)
      .select((lit(-9.5e8) - ($"id" % 7).cast("double")).as("x"))
    val got = df.agg(gf.dsumD($"x")).head().getDouble(0)
    val want = df.agg(decimalSum($"x")).head().getDouble(0)
    assert(got == want && got < 0)
  }

  test("percentileApprox tracks the exact percentile within sketch error") {
    val df = spark.range(1, 100001).select($"id".cast("double").as("x"))
    val r = df.agg(
      gf.percentile($"x", 50).as("exact"),
      gf.percentileApprox($"x", 50).as("approx")).head()
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) / r.getDouble(0) < 0.01)
  }

  test("vecDiv matches the HOF transform division bit-for-bit") {
    val rnd = new scala.util.Random(17)
    val df = Seq.fill(500)(Seq.fill(16)(rnd.nextDouble() * 2 - 1))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val nrm = graft.ops.Similarity.norm($"v")
    val got = df.select($"id",
        graft.expr.VectorExpressions.vecDiv($"v", nrm).as("u"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    val want = df.withColumn("n", nrm)
      .select($"id", transform($"v", x => x / $"n").as("u"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    assert(got.zip(want).forall { case (a, b) => a == b })
    // normalized self-dot is 1 within fp
    val n2 = df.select(
      graft.ops.Embeddings.l2Normalize($"v").as("u"))
      .select(graft.ops.Similarity.dot($"u", $"u")).collect()
    assert(n2.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("SimHashSignature column matches the per-bit HOF aggregate it replaced") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumped over the lazy dog",
      "completely different text about spark catalyst expressions",
      "", "single", "a a a a a a a a"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((wordHash, bits) <- Seq(
        ((w: org.apache.spark.sql.Column) => xxhash64(w), 64),
        ((w: org.apache.spark.sql.Column) =>
          graft.ops.TextAnalysis.portableWordHash(w), 31))) {
      val hs = transform(split($"text", " "), wordHash)
      val hof = (0 until bits).map { b =>
        val votes = aggregate(hs, lit(0), (acc, h) =>
          acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
        when(votes > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
      val rows = docs.select(
        graft.expr.VectorExpressions.simhashSig(hs, bits).as("got"),
        hof.as("want")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
  }

  test("PortableWordHashes matches the nested-HOF portableWordHash per word") {
    val texts = Seq(
      "the quick brown fox",
      "double  space trailing ",
      " leading",
      "", "a", "δ mixed ünïcödé 漢字",
      "𝄞 astral clef", // non-BMP code point
      "punct!? 123 #$%"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val words = split($"text", " ")
    val rows = texts.select($"id",
        graft.expr.VectorExpressions.portableWordHashes(words).as("got"),
        transform(words, w =>
          graft.ops.TextAnalysis.portableWordHash(w)).as("want"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"mismatch on text id ${r.getLong(0)}")
    }
    // portable simhash end-to-end: codegen chain equals HOF chain
    val hof = {
      val hs = transform(words, w => graft.ops.TextAnalysis.portableWordHash(w))
      (0 until 31).map { b =>
        val votes = aggregate(hs, lit(0), (acc, h) =>
          acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
        when(votes > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
    val sh = texts.select(
      graft.ops.Dedup.simhashPortable($"text").as("got"), hof.as("want")).collect()
    sh.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("SignSketch matches the per-bit aggregate(zip_with) sketch it replaced") {
    val rnd0 = new scala.util.Random(5)
    val dim = 8; val bands = 4; val rowsPerBand = 8
    val vecs: Seq[Seq[Double]] = Seq.fill(40)(Seq.fill(dim)(rnd0.nextGaussian())) ++
      Seq(Seq.fill(dim)(0.0),            // all-zero → every dot 0 → all bits set
          Seq.fill(dim - 2)(1.0),        // short vector → null-poisoned → words 0
          Seq.fill(dim + 3)(1.0))        // long vector → null-poisoned → words 0
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val rnd = new scala.util.Random(42)
    val planes = Vector.fill(bands * rowsPerBand, dim)(rnd.nextGaussian())
    val hofWords = (0 until bands).map { b =>
      (0 until rowsPerBand).map { r =>
        val plane = planes(b * rowsPerBand + r)
        val d = aggregate(
          zip_with($"v", typedLit(plane), (x, p) => x.cast("double") * p),
          lit(0.0), (acc, x) => acc + x)
        when(d >= 0, shiftleft(lit(1L), r)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }
    val rows = df.select($"id",
        graft.expr.VectorExpressions.signSketch($"v", planes, rowsPerBand).as("got"),
        array(hofWords: _*).as("want"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"sketch mismatch on vec ${r.getLong(0)}")
    }
  }

  test("int8 quantize: error bounded by scale/2, zero vector exact, round trip preserves cosine") {
    val rnd = new scala.util.Random(23)
    val df = (Seq.fill(300)(Seq.fill(24)(rnd.nextDouble() * 6 - 3)) :+
        Seq.fill(24)(0.0))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val q = graft.ops.Embeddings.quantizeEmbeddings(df, "v")
    assert(q.schema("v_q").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false))
    val back = graft.ops.Embeddings.dequantEmbeddings(q, "v")
      .withColumnRenamed("v", "vd")
      .join(df, "id")
    // per-component |v - dequant(quant(v))| <= scale/2 (+ ulp)
    val viol = back.select($"id", $"v", $"vd",
        graft.ops.Embeddings.int8Scale($"v").as("sc"))
      .collect().count { r =>
        val v = r.getSeq[Double](1); val vd = r.getSeq[Double](2)
        val sc = r.getDouble(3)
        v.zip(vd).exists { case (a, b) => math.abs(a - b) > sc / 2 + 1e-12 }
      }
    assert(viol == 0)
    // zero vector survives exactly
    val z = back.filter($"id" === 300L).head()
    assert(z.getSeq[Double](1).forall(_ == 0.0) &&
      z.getSeq[Double](2).forall(_ == 0.0))
    // cosine(v, dequant) stays near 1 for non-zero vectors
    val cosines = back.filter($"id" < 300L).select(
      (graft.ops.Similarity.cosine($"v", $"vd")).as("c")).collect()
    assert(cosines.forall(r => r.getDouble(0) > 0.999))
  }

  test("int8 dot kernel: integer accumulate matches dequantized double dot; cosine within quant error") {
    val rnd = new scala.util.Random(41)
    val df = Seq.fill(200)((Seq.fill(32)(rnd.nextDouble() * 4 - 2),
        Seq.fill(32)(rnd.nextDouble() * 4 - 2)))
      .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("id", "a", "b")
    val sa = graft.ops.Embeddings.int8Scale($"a")
    val sb = graft.ops.Embeddings.int8Scale($"b")
    val q = df.select($"id", $"a", $"b", sa.as("sa"), sb.as("sb"),
      graft.ops.Embeddings.quantizeInt8($"a", sa).as("qa"),
      graft.ops.Embeddings.quantizeInt8($"b", sb).as("qb"))
    // integer-dot × scales ≡ dot of the dequantized doubles (both are
    // exactly Σ qa_i·qb_i·sa·sb — same value, 4× less data read)
    val rows = q.select(
      graft.ops.Embeddings.dotQuantized($"qa", $"sa", $"qb", $"sb").as("di"),
      graft.ops.Similarity.dot(
        graft.ops.Embeddings.dequantInt8($"qa", $"sa"),
        graft.ops.Embeddings.dequantInt8($"qb", $"sb")).as("dd"),
      graft.ops.Embeddings.cosineQuantized($"qa", $"sa", $"qb", $"sb").as("cq"),
      graft.ops.Similarity.cosine($"a", $"b").as("c")).collect()
    // di vs dd: same sum, different association order — fp-close
    assert(rows.forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
    assert(rows.forall(r => math.abs(r.getDouble(2) - r.getDouble(3)) < 0.02))
  }

  test("davg matches the decimal formulation") {
    val df = Seq(Some(1.5), None, Some(2.5), Some(-0.25)).toDF("x")
    val got = df.agg(gf.davg($"x")).head().getDouble(0)
    val want = df.agg((decimalSum($"x") / count(when($"x".isNotNull, 1))))
      .head().getDouble(0)
    assert(got == want)
  }

  test("parseJson/jsonGet: schema-on-read, malformed → null, missing → null") {
    val df = Seq(
      (1L, """{"k": 7, "s": "a", "tags": ["x","y"]}"""),
      (2L, """{"s": "b"}"""),          // k missing
      (3L, """not json at all"""),     // malformed
      (4L, null.asInstanceOf[String])) // null payload
      .toDF("id", "js")
    val parsed = df.select($"id",
      gf.parseJson($"js", "k BIGINT, s STRING, tags ARRAY<STRING>").as("p"),
      gf.jsonGet($"js", "$.k").as("raw_k"))
    val rows = parsed.orderBy("id").collect()
    assert(rows(0).getStruct(1).getLong(0) == 7L
      && rows(0).getStruct(1).getString(1) == "a"
      && rows(0).getStruct(1).getAs[scala.collection.Seq[String]](2).toSeq ==
        Seq("x", "y"))
    assert(rows(0).getString(2) == "7")
    assert(rows(1).getStruct(1).isNullAt(0)
      && rows(1).getStruct(1).getString(1) == "b")
    // permissive mode: malformed payload → all-null struct, not an error
    assert(rows(2).getStruct(1).isNullAt(0) && rows(2).getStruct(1).isNullAt(1))
    assert(rows(2).isNullAt(2))
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
  }

  test("HLL sketches: union-of-slices equals whole-data estimate, error bounded") {
    // the 100 TB shape: sketch each source slice once, answer the
    // union later by merging sketches — never rescanning the slices
    val df = (1 to 5000).map(i => (i % 7, (i % 1800).toLong)).toDF("src", "v")
    val perSlice = df.groupBy("src").agg(gf.hllSketch($"v").as("sk"))
    val merged = perSlice.agg(
      gf.hllEstimate(gf.hllUnion($"sk")).as("est")).head().getLong(0)
    val whole = df.agg(gf.hllEstimate(gf.hllSketch($"v")).as("est"))
      .head().getLong(0)
    // deterministic: same multiset → same sketch → identical estimates
    assert(merged == whole)
    // lgK=12 → ~1.6% relative standard error; 5σ bound on 1800 distinct
    assert(math.abs(merged - 1800L) <= 1800L * 0.08,
      s"HLL estimate $merged too far from 1800")
    // sketches survive a write/read round trip as plain binary
    val dir = java.nio.file.Files.createTempDirectory("graft_hll")
      .resolve("out").toString
    perSlice.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
      .agg(gf.hllEstimate(gf.hllUnion($"sk"))).head().getLong(0)
    assert(back == merged)
  }

  test("toJsonString inverts parseJson on present fields") {
    val df = Seq((1L, """{"k":7,"s":"a"}"""), (2L, """{"k":-3,"s":"b"}"""))
      .toDF("id", "js")
    val round = df.select($"id",
      gf.toJsonString(gf.parseJson($"js", "k BIGINT, s STRING")).as("out"))
      .orderBy("id").collect().map(_.getString(1))
    assert(round.toSeq == Seq("""{"k":7,"s":"a"}""", """{"k":-3,"s":"b"}"""))
  }

  test("compressionRatio: matches java.util.zip exactly, degenerate < " +
    "prose < incompressible, empty/null → null, codegen ≡ interpreted") {
    import graft.expr.{CompressionRatio, StringExpressions}
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders through a meadow describing various unrelated subjects " +
      "with great enthusiasm while several other animals watch from a " +
      "careful distance wondering what could possibly motivate such " +
      "energetic behavior on an otherwise ordinary afternoon in the " +
      "countryside where nothing much ever happens except the " +
      "occasional passing storm"
    val degenerate = "spam ham " * 60
    // seeded LCG over printable ASCII — near-max per-char entropy for
    // deflate (hex-soup style fixtures compress to ~0.56 via Huffman
    // and would sort BELOW organic prose; 94 symbols stay above it)
    val incompressible = {
      var x = 88172645463325252L
      val sb = new StringBuilder
      (0 until 800).foreach { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append((33 + java.lang.Long.remainderUnsigned(x >>> 33, 94)).toChar)
      }
      sb.toString
    }
    val rows = Seq(
      (1L, Option(prose)), (2L, Option(degenerate)),
      (3L, Option(incompressible)), (4L, Option("")),
      (5L, Option.empty[String]), (6L, Option("héllo wörld ünïcode")))
      .toDF("id", "txt")
    val got = rows.select($"id",
        StringExpressions.compressionRatio($"txt").as("r"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    // exact differential vs the JDK deflater on the same bytes
    def direct(s: String): Double =
      CompressionRatio.ratio(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(got(1L).contains(direct(prose)))
    assert(got(2L).contains(direct(degenerate)))
    assert(got(3L).contains(direct(incompressible)))
    assert(got(6L).contains(direct("héllo wörld ünïcode")))
    assert(got(4L).isEmpty, "empty string must be NULL")
    assert(got(5L).isEmpty, "null must stay NULL")
    // the signal's whole point: the tails separate
    assert(got(2L).get < got(1L).get && got(1L).get < got(3L).get,
      s"degenerate ${got(2L)} < prose ${got(1L)} < incompressible ${got(3L)}")
    assert(got(2L).get < 0.2 && got(3L).get > 0.8)
    // interpreted eval path agrees with the codegen path above
    import org.apache.spark.sql.catalyst.expressions.Literal
    val interp = CompressionRatio(Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(prose))).eval(null)
    assert(interp == direct(prose))
    // and the SQL registration resolves to the same kernel
    val viaSql = spark.sql(
      s"SELECT graft_compression_ratio('$degenerate') AS r").head.getDouble(0)
    assert(viaSql == direct(degenerate))
  }

  // --- r19 text-hash kernels: bit-identical to the Column chains ---------

  /** adversarial word arrays: repeats (distinct path), empties, single
    * words, empty-string tokens (split(' ') artifacts), non-ASCII. */
  private def hashWordFrames = {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "bb", "ccc", "", "wörd", "日本語", "é",
      "loop", "the", "x" * 50)
    val rows = Seq.tabulate(300) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))))
    } ++ Seq((300L, Seq.empty[String]), (301L, Seq("solo")),
      (302L, Seq("a", "a", "a", "a")))
    rows.toDF("id", "w").repartition(8)
  }

  test("ngramHashes matches transform+xxhash64(+array_distinct) bit-for-bit") {
    for (n <- Seq(1, 2, 3, 5); dist <- Seq(true, false)) {
      val df = hashWordFrames.filter(size($"w") >= n)
      val kernel =
        if (dist) graft.expr.TextHashExpressions.ngramHashesDistinct($"w", n)
        else graft.expr.TextHashExpressions.ngramHashesAll($"w", n)
      val ref0 = transform(sequence(lit(0), size($"w") - n),
        i => xxhash64((0 until n).map(k => get($"w", i + k)): _*))
      val ref = if (dist) array_distinct(ref0) else ref0
      val rows = df.select($"id", kernel.as("g"), ref.as("r"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"n=$n distinct=$dist id=${r.getLong(0)}")
      }
    }
  }

  test("bigramHashPairs matches the struct(xxhash64) transform bit-for-bit") {
    val df = hashWordFrames.filter(size($"w") >= 2)
    val ref = transform(sequence(lit(0), size($"w") - 2),
      i => struct(
        xxhash64(get($"w", i), get($"w", i + 1)).as("h12"),
        xxhash64(get($"w", i)).as("h1")))
    val rows = df.select($"id",
        graft.expr.TextHashExpressions.bigramHashPairs($"w").as("g"),
        ref.as("r")).collect()
    rows.foreach { r =>
      val g = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))
      val w = r.getSeq[org.apache.spark.sql.Row](2).map(x => (x.getLong(0), x.getLong(1)))
      assert(g == w, s"id=${r.getLong(0)}")
    }
  }

  test("charTrigramBuckets kernel matches the interpreted charpoly chain") {
    val M = 2147483647L
    val rnd = new scala.util.Random(29)
    // code points across the plane incl. 0 and max BMP/astral values
    val rows = Seq.tabulate(200) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(
        Seq(0L, 65L, 122L, 0x7fL, 0x80L, 0x4e2dL, 0x1f600L)(rnd.nextInt(7))))
    } ++ Seq((200L, Seq.empty[Long]), (201L, Seq(65L, 66L)))
    val df = rows.toDF("id", "cp").repartition(4)
    val ref = when(size($"cp") >= 3,
      transform(sequence(lit(0), size($"cp") - 3), i => {
        val p1 = (lit(7L) * 31 + get($"cp", i)) % M
        val p2 = (p1 * 31 + get($"cp", i + 1)) % M
        val p3 = (p2 * 31 + get($"cp", i + 2)) % M
        pmod(graft.api.Frame.portableMix(p3), lit(512L))
      })).otherwise(array().cast("array<bigint>"))
    val got = df.select($"id",
        graft.expr.TextHashExpressions.charTrigramBuckets($"cp", 512).as("g"),
        ref.as("r")).collect()
    got.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"id=${r.getLong(0)}"))
  }
}
