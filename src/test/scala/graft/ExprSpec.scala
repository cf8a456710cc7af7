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
      CompressionRatio.ratio(org.apache.spark.unsafe.types.UTF8String.fromString(s))
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
      (i.toLong, Option(Seq.fill(rnd.nextInt(40))(
        Seq(0L, 65L, 122L, 0x7fL, 0x80L, 0x4e2dL, 0x1f600L)(rnd.nextInt(7)))))
    } ++ Seq((200L, Some(Seq.empty[Long])), (201L, Some(Seq(65L, 66L))),
      (202L, None), (203L, Some(Seq(0x1f600L))),
      (204L, Some(Seq(0x1f600L, 0x10ffffL))))
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
    assert(got.find(_.getLong(0) == 202L).get.getSeq[Long](1).isEmpty,
      "NULL input must yield the empty array")
  }

  // --- codegen on ≡ codegen off, one adversarial frame -------------------

  /** one double per adversarialFrame row: HALF_UP ties at the 7th and
    * 5th decimal, ±0.0, the smallest subnormal, NaN, ±Inf, and values
    * either side of decimal(18,6)'s and decimal(18,4)'s precision edge. */
  private val edgeDoubles: Seq[Option[Double]] = Seq(None, Some(0.0000005),
    Some(-1.2345675), Some(-0.0), Some(java.lang.Double.MIN_VALUE), Some(2.00005),
    Some(Double.NaN), Some(Double.PositiveInfinity), Some(Double.NegativeInfinity),
    Some(999999999999.9999), Some(-1.0e12), Some(99999999999999.99))

  /** NULL rows, empty arrays, null elements, arrays shorter than every
    * kernel's `bits`/`w·h`/`n`, empty, decomposed and non-ASCII strings,
    * ±0.0/NaN/±Inf and the long extremes — read back from parquet, so
    * both runs scan the same rows and nothing is constant-folded. */
  private def adversarialFrame(dir: String) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("w", ArrayType(StringType)), StructField("h", ArrayType(LongType)),
      StructField("v", ArrayType(DoubleType)), StructField("q", ArrayType(ByteType)),
      StructField("x", DoubleType), StructField("hi", LongType), StructField("lo", LongType),
      StructField("e", DoubleType)))
    val rnd = new scala.util.Random(31)
    def vec(n: Int) = Seq.fill(n)(rnd.nextGaussian())
    val vocab = Vector("a", "bb", "", "wörd", "日本語", "é", "the", "x" * 40)
    val rows = Seq(
      Row(0L, null, null, null, null, null, null, null, null),
      Row(1L, "", Seq(), Seq(), Seq(), Seq(), 0.0, 0L, 0L),
      Row(2L, "héllo wörld", Seq("a", null, "b", "a", null),
        Seq(1L, null, 3L), Seq(1.0, null) ++ vec(18), Seq(1.toByte, null, (-3).toByte),
        2.0, -1L, -1L),
      Row(3L, "日本語のテキスト", Seq("solo"), Seq(42L), Seq(0.5, -0.25),
        Seq(127.toByte), -2.0, 0L, Long.MinValue),
      Row(4L, "e\u0301cole \ufb01ne A\u030a \ud834\udd1e", Seq("日本", "語", "日本", "語"),
        Seq(Long.MinValue, Long.MaxValue, 0L, -1L), vec(17),
        Seq(-128.toByte, 127.toByte, 0.toByte), 1e-6, Long.MaxValue, Long.MaxValue),
      Row(5L, "spam ham " * 30, Seq("a", "a", "a", "a"), Seq(7L, 7L, 7L),
        Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity) ++ Seq.fill(16)(1.0),
        Seq(2.toByte, 2.toByte), 9.99999e11, 3L, 12345678L),
      Row(6L, "plain ascii text", Seq.fill(9)(vocab(rnd.nextInt(vocab.length))),
        Seq.fill(25)(rnd.nextLong()), vec(20),
        Seq.fill(20)((rnd.nextInt(255) - 127).toByte), -9.99999e11, -2L, 5L)
    ) ++ (7 until 12).map { i =>
      Row(i.toLong, vocab.mkString(" ").take(i * 3),
        Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))),
        Seq.fill(rnd.nextInt(30))(rnd.nextLong()), vec(20),
        Seq.fill(20)((rnd.nextInt(255) - 127).toByte), rnd.nextDouble() * 10 - 5,
        rnd.nextLong() % 1000, rnd.nextLong())
    }
    val withE = rows.zip(edgeDoubles).map { case (r, e) =>
      Row.fromSeq(r.toSeq :+ e.map(Double.box).orNull) }
    spark.createDataFrame(java.util.Arrays.asList(withE: _*), schema)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("every expr/ kernel returns identical rows with codegen on and off") {
    import graft.expr._
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, UnscaledValue}
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val dir = java.nio.file.Files.createTempDirectory("graft-kernels").toString
    val df = adversarialFrame(dir)
    val rnd = new scala.util.Random(37)
    val planes = Vector.fill(4, 20)(rnd.nextGaussian())
    val codebooks = Array.fill(2, 3, 10)(rnd.nextGaussian())
    val V = VectorExpressions; val T = TextHashExpressions; val S = StringExpressions
    val (w, h, v, q, x) = ($"w", $"h", $"v", $"q", $"x")
    // legacy cast: out-of-range and non-finite rows read NULL, not an error
    def unscaledMicros(scale: Int) = column(UnscaledMicros(UnscaledValue(Cast(
      expression($"e"), DecimalType(18, scale), None, EvalMode.LEGACY))))
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "DotProduct" -> V.dot(v, v),
      "MinHashSignature" -> V.minhashSig(h, 8),
      "TopNgramCount" -> V.topNgramCount(w, 2),
      "VectorDivide" -> V.vecDiv(v, x),
      "VectorQuantizeInt8" -> V.vecQuantizeInt8(v, x),
      "DotProductInt8" -> V.dotInt8(q, q),
      "VectorDequantInt8" -> V.vecDequantInt8(q, x),
      "SimHashSignature16" -> V.simhashSig(h, 16),
      "SimHashSignature64" -> V.simhashSig(h, 64),
      "PortableWordHashes" -> V.portableWordHashes(w),
      "SignSketch" -> V.signSketch(v, planes, 2),
      "PqEncode" -> V.pqEncode(v, codebooks),
      "AHash" -> V.aHash(v, 16),
      "DHash" -> V.dHash(v, 5, 4),
      "CharTrigramBucketHashes" -> T.charTrigramBuckets(h, 512),
      "NgramHashesAll" -> T.ngramHashesAll(w, 3),
      "NgramHashesDistinct" -> T.ngramHashesDistinct(w, 3),
      "BigramHashPairs" -> T.bigramHashPairs(w),
      "UnicodeNormalizeNFC" -> S.unicodeNormalize($"s", "NFC"),
      "UnicodeNormalizeNFKC" -> S.unicodeNormalize($"s", "NFKC"),
      "CompressionRatio" -> S.compressionRatio($"s"),
      "Int128MicrosToDouble" -> column(
        Int128MicrosToDouble(expression($"hi"), expression($"lo"), 6)),
      "UnscaledMicros6" -> unscaledMicros(6),
      "UnscaledMicros4" -> unscaledMicros(4))
    def run(confs: (String, String)*): Map[String, Seq[String]] = {
      val keys = confs.map(_._1)
      val before = keys.map(k => k -> spark.conf.getOption(k))
      confs.foreach { case (k, value) => spark.conf.set(k, value) }
      try {
        val rows = df.select($"id" +: kernels.map { case (n, c) => c.as(n) }: _*)
          .collect().sortBy(_.getLong(0))
        val sums = df.groupBy(($"id" % 3).as("g"))
          .agg(AggregateExpressions.dsum128($"x").as("s")).collect().sortBy(_.getLong(0))
        val total = df.agg(AggregateExpressions.dsum128($"x")).collect()
        kernels.zipWithIndex.map { case ((n, _), i) =>
          n -> rows.map(r => s"${r.getLong(0)}: ${r.get(i + 1)}").toSeq
        }.toMap + ("Int128SumMicros" -> (sums ++ total).map(_.toString).toSeq)
      } finally before.foreach {
        case (k, Some(old)) => spark.conf.set(k, old)
        case (k, None) => spark.conf.unset(k)
      }
    }
    try {
      val codegen = run("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")
      val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      assert(codegen("Int128SumMicros").size == 4)
      val differ = codegen.keys.toSeq.sorted.filter(k => codegen(k) != interpreted(k))
      assert(differ.isEmpty, differ.map { k =>
        val (a, b) = codegen(k).zip(interpreted(k)).find(p => p._1 != p._2).get
        s"$k: codegen $a, interpreted $b"
      }.mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("dsumD equals its cast formulation on edge doubles, ANSI on and off: " +
    "rows, NULLs and error class") {
    import org.apache.spark.sql.catalyst.expressions.UnscaledValue
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val rnd = new scala.util.Random(41)
    def tie() = new java.math.BigDecimal(java.math.BigInteger.valueOf(
      (rnd.nextLong() % 10000000000L) * 10 + 5), 7).doubleValue
    val more = Seq.fill(600)(rnd.nextInt(3) match {
      case 0 => tie()
      case 1 => val t = tie(); t + (rnd.nextInt(65) - 32) * Math.ulp(t)
      case _ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(20) - 8)
    })
    val all = (edgeDoubles ++ more.map(Some(_))).zipWithIndex
      .map { case (e, i) => (i.toLong, e) }.toDF("k", "e").repartition(4)
    // finite and inside decimal(18,6) (Spark orders NaN above +Inf)
    val fitting = all.filter($"e".isNull || abs($"e") < 999999999999.9999995)
    def condition(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
      }.getOrElse(e.toString)
    def outcome(df: org.apache.spark.sql.DataFrame, ansi: Boolean, parent: Boolean) = {
      val before = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        // the Cast takes its eval mode from the conf when it is built
        val agg = if (parent) column(graft.expr.Int128SumMicros(UnscaledValue(
          expression($"e".cast("decimal(18,6)")))).toAggregateExpression())
          else gf.dsumD($"e")
        // each edge row its own group (a NULL input gives a NULL sum)
        val g = when($"k" < edgeDoubles.size, $"k").otherwise($"k" % 3 - 3)
        Right((df.groupBy(g).agg(agg).collect() ++ df.agg(agg).collect())
          .map(_.toString).sorted.toSeq)
      } catch { case e: Exception => Left(condition(e)) }
      finally spark.conf.set("spark.sql.ansi.enabled", before)
    }
    for ((name, df) <- Seq("all" -> all, "fitting" -> fitting); ansi <- Seq(true, false)) {
      val got = outcome(df, ansi, parent = false)
      assert(got == outcome(df, ansi, parent = true), s"$name, ansi=$ansi")
      if (ansi && name == "all")
        assert(got.left.exists(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")), got)
      else assert(got.exists(_.exists(_.contains("null"))), got)
    }
  }

  private def momentsError(bad: Double): Seq[Throwable] = {
    val df = Seq(Seq(0.5, 0.25), Seq(bad, 1.0)).toDF("v")
    val e = intercept[Exception](
      df.agg(graft.expr.MomentsAggregate.vectorMoments($"v", 2)).collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
  }

  test("vectorMoments fails on a NaN element instead of counting it as zero") {
    val chain = momentsError(Double.NaN)
    assert(chain.exists(_.isInstanceOf[NumberFormatException]), chain.mkString(" / "))
  }

  test("vectorMoments fails on an element outside decimal(18,6)") {
    val chain = momentsError(1.5e12)
    assert(chain.exists(_.isInstanceOf[ArithmeticException]), chain.mkString(" / "))
  }

  test("graft_minhash_sig takes numPerms only as an int literal and " +
    "array<bigint> hashes without implicit casts") {
    val viaSql = spark.sql(
      "SELECT graft_minhash_sig(array(1L, 2L, 3L), 4) AS s").head.getSeq[Long](0)
    val viaColumn = spark.range(1).select(graft.expr.VectorExpressions.minhashSig(
      array(lit(1L), lit(2L), lit(3L)), 4)).head.getSeq[Long](0)
    assert(viaSql == viaColumn && viaSql.size == 4)
    val e = intercept[Exception](spark.sql(
      "SELECT graft_minhash_sig(array(1L, 2L), id) FROM range(2)").collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("numPerms must be an int literal")),
      messages.mkString(" / "))
    val typed = intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      "SELECT graft_minhash_sig(array(1, 2), 4)").collect())
    assert(typed.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", typed.getMessage)
  }
}
