package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis => TA}

/** dedup / similarity / text-analysis semantics on small controlled data. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  val doc0Text = "the quick brown fox jumps over the lazy dog again and again"

  lazy val docs = Seq(
    (0L, doc0Text),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different words describing an unrelated subject entirely here"),
    (4L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps smallest id per duplicate text") {
    val kept = Dedup.exact(docs, "doc_id", "text")
    assert(kept.count() == 4)
    assert(kept.filter($"doc_id" === 1L).count() == 0)
    assert(kept.filter($"doc_id" === 0L).count() == 1)
  }

  test("ngram Jaccard finds exact and near dup pairs with correct J") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)            // identical docs
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.3 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash LSH recovers the high-similarity pairs of exact Jaccard") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.contains((0L, 1L)))
  }

  test("skew guards: shingle dfCap and LSH bucket cap prune without losing near-dups") {
    // 30 docs share a common header trigram (high DF); two true near-dups
    val common = "shared header words appear everywhere in this corpus"
    val filler = (1 to 30).map(i =>
      (100L + i, s"$common unique tail number $i content ${i * 37}"))
    val dup = Seq((1L, doc0Text), (2L, doc0Text + " extra"))
    val d = (filler ++ dup).toDF("doc_id", "text")
    // capped run still finds the true near-dup pair
    val capped = Dedup.ngramJaccard(d, "doc_id", "text", 0.5, dfCap = Some(10))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)))
    // and prunes: the shared-header docs no longer co-occur on the common shingles
    val uncapped = Dedup.ngramJaccard(d, "doc_id", "text", 0.0)
      .count()
    val cappedAll = Dedup.ngramJaccard(d, "doc_id", "text", 0.0, dfCap = Some(10))
      .count()
    assert(cappedAll < uncapped)
    // LSH bucket cap: exact duplicates form a mega-bucket; cap 5 bounds it
    val clones = (1 to 20).map(i => (i.toLong, doc0Text)).toDF("doc_id", "text")
    val cappedLsh = Dedup.minhashLsh(clones, "doc_id", "text", 0.8,
      maxBucket = Some(5))
    assert(cappedLsh.count() == 0) // every bucket over cap → all skipped
    val openLsh = Dedup.minhashLsh(clones, "doc_id", "text", 0.8)
    assert(openLsh.count() == 20L * 19 / 2)
  }

  test("LSH bucket capping is the DEFAULT: a clique past DefaultMaxBucket " +
    "reports no pairs while organic near-dups are unaffected; None opts " +
    "back into exact banding recall") {
    // recall contract (scaladoc): a pair is lost only if EVERY band
    // bucket holding it is over-cap — for a near-identical clique all
    // 32 buckets ARE the clique, so a clique > 4096 vanishes entirely,
    // and nothing else is touched
    val cliqueText = "replicated boilerplate page body shared by the " +
      "whole mirror farm with identical words throughout"
    val clique = (1 to Dedup.DefaultMaxBucket + 40).map(i =>
      (10_000L + i, cliqueText))
    val organic = Seq((1L, doc0Text), (2L, doc0Text + " extra"))
    val d = (clique ++ organic).toDF("doc_id", "text")
    val res = Dedup.minhashLsh(d, "doc_id", "text", 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(res == Set((1L, 2L)),
      s"default cap should suppress the clique and keep the organic pair: $res")
    // None opt-out restores the full pairing (small clique so the
    // quadratic stays testable)
    val small = (1 to 20).map(i => (i.toLong, cliqueText)).toDF("doc_id", "text")
    assert(Dedup.minhashLsh(small, "doc_id", "text", 0.8, maxBucket = None)
      .count() == 20L * 19 / 2)
    // incremental shares the contract: a seen-side mega-clique is
    // dropped by default, the organic seen match still surfaces
    val seen = (clique :+ (2L, doc0Text + " extra")).toDF("doc_id", "text")
    val fresh = Seq((1L, doc0Text)).toDF("doc_id", "text")
    val inc = Dedup.minhashLshIncremental(fresh, seen, "doc_id", "text", 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(inc == Set((1L, 2L)), s"incremental default cap: $inc")
  }

  test("lshBucketStats: size histogram mass equals banded rows, a " +
    "planted clique surfaces as one size-N bucket per band, pair_work " +
    "is the quadratic it would cost") {
    val clique = (1 to 25).map(i => (100L + i, doc0Text))
    val d = (clique ++ Seq(
      (1L, "some organic text with its own words here"),
      (2L, "another organic document again different words"))).toDF("doc_id", "text")
    val stats = Dedup.lshBucketStats(d, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    // mass: Σ size·n_buckets = 32 bands × docs-with-shingles
    assert(stats.map { case (sz, nb, _) => sz * nb }.sum == 32L * 27)
    // the 25-clique: identical docs share every band signature →
    // exactly 32 buckets of size 25 (one per band)
    val big = stats.find(_._1 == 25L).get
    assert(big._2 == 32L, s"clique buckets: $big")
    assert(big._3 == 32L * (25L * 24 / 2), "pair_work = n·size·(size-1)/2")
    // deterministic across partitionings
    val again = Dedup.lshBucketStats(d.repartition(7), "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    assert(again == stats)
  }

  test("minhash signature length and determinism") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
    val rows = sig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows.values.forall(_.length == 16))
    assert(rows(0L) == rows(1L)) // identical docs → identical signatures
  }

  test("simhash: identical docs at distance 0, near dups close, unrelated far") {
    val sims = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(0L), sims(1L)) == 0)
    assert(ham(sims(0L), sims(2L)) < ham(sims(0L), sims(3L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash blocking recall: pairs match exact all-pairs hamming (sf0.001)") {
    // differential check of the pigeonhole blocking: the bucketed path
    // must return EXACTLY the pairs an exact all-pairs hamming join finds
    val d = Tables.documents(spark, sfSmoke).select($"doc_id", $"text")
    for (maxDist <- Seq(3, 10)) {
      val got = Dedup.simhashPairs(d, "doc_id", "text", maxDist)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val sims = d.select($"doc_id", Dedup.simhash($"text").as("sh"))
      val exact = sims.as("a").crossJoin(sims.as("b"))
        .filter($"a.doc_id" < $"b.doc_id" &&
          Dedup.hamming($"a.sh", $"b.sh") <= maxDist)
        .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
      assert(got == exact, s"maxDist=$maxDist: got ${got.size}, exact ${exact.size}")
    }
  }

  test("portable simhash/fingerprint: deterministic, 31-bit, blocking matches exact all-pairs") {
    val d = Tables.documents(spark, sfSmoke).select($"doc_id", $"text")
    // 31-bit codomain
    val sims = d.select(Dedup.simhashPortable($"text")).as[Long].collect()
    assert(sims.forall(s => s >= 0 && s < (1L << 31)))
    // blocking differential vs exact all-pairs hamming
    val got = Dedup.simhashPairsPortable(d, "doc_id", "text", maxDist = 3)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val sh = d.select($"doc_id", Dedup.simhashPortable($"text").as("sh"))
    val exact = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc_id" < $"b.doc_id" && Dedup.hamming($"a.sh", $"b.sh") <= 3)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(got == exact, s"got ${got.size}, exact ${exact.size}")
    // portable fingerprint: deterministic, order-sensitive, in-mixer-range
    val fps = docs.select($"doc_id", TA.fingerprintPortable($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(1L) && fps(0L) != fps(2L))
    assert(fps.values.forall(f => f >= 0 && f < (1L << 31)))
  }

  test("asof join: backward, ties attach, no match → null, per-key isolation") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val trades = Seq((1L, 1L, t(10)), (2L, 1L, t(20)), (3L, 1L, t(30)),
      (4L, 2L, t(15)), (5L, 3L, t(5)))
      .toDF("trade_id", "k", "ts")
    val quotes = Seq((1L, t(10), 1.0), (1L, t(25), 2.0), (2L, t(14), 9.0))
      .toDF("k", "ts", "px")
    val got = graft.ops.AsofJoin
      .asofJoinBackward(trades, quotes, "k", "ts", Seq("px"))
      .orderBy("trade_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(got(1L) == 1.0)  // tie: quote at ts == trade ts attaches
    assert(got(2L) == 1.0)  // latest quote <= 20 is the one at 10
    assert(got(3L) == 2.0)  // picks up the 25-minute quote
    assert(got(4L) == 9.0)  // key 2 sees only key-2 quotes
    assert(got(5L) == null) // key 3 has no quote at all
    // plan: the window is key-partitioned, never global
    val plan = graft.ops.AsofJoin
      .asofJoinBackward(trades, quotes, "k", "ts", Seq("px"))
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty)
  }

  test("covarianceMatrix: single-pass aggregate matches the naive computation") {
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 0.5f)),
      (2L, Array(0.0f, 1.0f, 1.5f)),
      (3L, Array(2.0f, 3.0f, -0.5f)),
      (4L, Array(1.0f, 0.0f, 0.25f))).toDF("vec_id", "embedding")
    val got = graft.ops.Embeddings.covarianceMatrix(vecs, "embedding", dim = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val xs = Seq(
      Array(1.0, 2.0, 0.5), Array(0.0, 1.0, 1.5),
      Array(2.0, 3.0, -0.5), Array(1.0, 0.0, 0.25))
    val n = xs.size.toDouble
    for (i <- 0 until 3; j <- i until 3) {
      val p = xs.map(x => x(i) * x(j)).sum / n
      val naive = p - (xs.map(_(i)).sum / n) * (xs.map(_(j)).sum / n)
      assert(math.abs(got((i, j)) - naive) < 1e-6, s"cov($i,$j)")
    }
    assert(got.size == 6)
  }

  test("pcaBasis recovers a planted dominant direction; projection is scan-stage") {
    // points spread along u = (3,4)/5 with small orthogonal jitter
    val rng = new scala.util.Random(11)
    val u = Array(0.6, 0.8)
    val pts = (0 until 200).map { i =>
      val t = rng.nextGaussian() * 5.0
      val e = rng.nextGaussian() * 0.05
      (i.toLong, Array((t * u(0) - e * u(1)).toFloat, (t * u(1) + e * u(0)).toFloat))
    }.toDF("vec_id", "embedding")
    val basis = graft.ops.Embeddings.pcaBasis(pts, "embedding", dim = 2, k = 2)
    val cos = math.abs(basis(0)(0) * u(0) + basis(0)(1) * u(1))
    assert(cos > 0.999, s"top component misaligned: cos=$cos")
    val dot01 = basis(0)(0) * basis(1)(0) + basis(0)(1) * basis(1)(1)
    assert(math.abs(dot01) < 1e-9, "components not orthogonal")
    assert(math.abs(basis(1).map(x => x * x).sum - 1.0) < 1e-9, "not unit norm")
    // projecting the basis row itself yields ~(1, 0)
    val proj = pts.limit(1)
      .withColumn("p", graft.ops.Embeddings.project(
        org.apache.spark.sql.functions.lit(basis(0).map(_.toFloat)), basis))
      .select($"p").head().getSeq[Double](0)
    assert(math.abs(proj(0) - 1.0) < 1e-4 && math.abs(proj(1)) < 1e-4)
  }

  test("randomProject: deterministic basis, distances preserved in expectation") {
    val b1 = graft.ops.Embeddings.randomProjectionBasis(16, 8, seed = 7L)
    val b2 = graft.ops.Embeddings.randomProjectionBasis(16, 8, seed = 7L)
    assert(b1.map(_.toSeq).toSeq == b2.map(_.toSeq).toSeq) // no RNG state
    assert(b1.flatten.forall(v => math.abs(math.abs(v) - 1.0 / math.sqrt(8)) < 1e-12))
    // JL: squared distances survive within a loose factor on average
    val rng = new scala.util.Random(3)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
      .withColumn("p", graft.ops.Embeddings.randomProject($"embedding", 16, 8, 7L))
    val proj = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
    val orig = vecs.toMap.view.mapValues(_.map(_.toDouble)).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for (i <- 0L until 40L; j <- (i + 1) until 40L)
      yield d2(proj(i), proj(j)) / d2(orig(i), orig(j))
    val mean = ratios.sum / ratios.size
    assert(mean > 0.75 && mean < 1.25, s"mean distortion $mean")
  }

  test("trained quality classifier separates planted good/junk docs") {
    val rng = new scala.util.Random(5)
    val goodWords = Seq("the", "quick", "brown", "fox", "jumps", "over", "a",
      "lazy", "dog", "and", "it", "is", "that", "kind", "of", "tale")
    def good = (0 until 30).map(_ => goodWords(rng.nextInt(goodWords.size))).mkString(" ")
    def junk = (0 until 30).map(_ => "###" + rng.nextInt(99)).mkString(" ")
    val train = ((0 until 25).map(i => (i.toLong, good, 1.0)) ++
      (0 until 25).map(i => (100L + i, junk, 0.0))).toDF("id", "text", "label")
    val (w, b) = TA.fitQualityClassifier(train, "text", "label")
    assert(w.length == 5)
    val scored = train.select($"label",
        TA.scoreQualityLr($"text", w, b).as("score")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1))
    val goodMin = scored.filter(_._1 == 1.0).map(_._2).min
    val junkMax = scored.filter(_._1 == 0.0).map(_._2).max
    assert(goodMin > junkMax,
      s"classifier failed to separate: goodMin=$goodMin junkMax=$junkMax")
    assert(goodMin > 0.9 && junkMax < 0.1)
  }

  test("int8-quantized ANN: dequantized search recalls the exact neighborhood") {
    // the 4×-compressed storage path end-to-end: quantize → store →
    // dequantize → IVF search; on clustered data the top neighbor must
    // survive quantization
    val rng = new scala.util.Random(7)
    def cluster(center: Array[Float], n: Int, base: Long) =
      (0 until n).map(i => (base + i, center.map(c => c + rng.nextFloat() * 0.1f)))
    val data = (cluster(Array(1f, 0f, 0f), 20, 0L) ++
      cluster(Array(0f, 1f, 0f), 20, 100L)).toDF("vec_id", "embedding")
    val stored = graft.ops.Embeddings.quantizeEmbeddings(data, "embedding")
    val restored = graft.ops.Embeddings.dequantEmbeddings(stored, "embedding")
      .select($"vec_id", $"embedding")
    val centroids = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
      .toDF("cid", "embedding")
    val queries = restored.filter($"vec_id" === 0L || $"vec_id" === 100L)
    // quantization (error ≤ scale/2 per comp) can swap near-ties, so
    // the recall contract is top-k overlap, not exact top-1 identity:
    // the quantized top-1 must be one of the exact top-5 (same cluster)
    val bfTop5 = Similarity.bruteForceTopK(
      data.filter($"vec_id" === 0L || $"vec_id" === 100L), data,
      "vec_id", "embedding", 5)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivfQuant = Similarity.ivfTopK(queries, restored, centroids,
      "vec_id", "embedding", k = 1, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ivfQuant.forall { case (q, n) => bfTop5(q).contains(n) })
    assert(ivfQuant.keySet == Set(0L, 100L))
  }

  test("decision tree: recovers a planted axis-aligned rule exactly, deterministically") {
    // rule: x <= 4 → a; else y <= 2 → b; else c  (10×10 grid × 5)
    val rows = for {
      _ <- 1 to 5; x <- 0 to 9; y <- 0 to 9
    } yield (x.toDouble, y.toDouble,
      if (x <= 4) "a" else if (y <= 2) "b" else "c")
    val df = rows.toDF("x", "y", "lab").repartition(8)
    val tree = graft.ops.DecisionTree.fitClassifier(
      df, Seq("x", "y"), "lab", maxDepth = 3, minSamplesSplit = 5)
    val acc = df.withColumn("p", tree.predictColumn)
      .agg(avg(when($"p" === $"lab", 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0)
    // root splits on x inside [4, 5); right child on y inside [2, 3)
    val root = tree.nodes(1L)
    assert(tree.features(root.feature) == "x" &&
      root.threshold >= 4.0 && root.threshold < 5.0)
    val right = tree.nodes(root.right)
    assert(tree.features(right.feature) == "y" &&
      right.threshold >= 2.0 && right.threshold < 3.0)
    // left child is a pure leaf — no further split
    assert(tree.nodes(root.left).feature == -1)
    // deterministic: same data → identical tree
    val tree2 = graft.ops.DecisionTree.fitClassifier(
      df, Seq("x", "y"), "lab", maxDepth = 3, minSamplesSplit = 5)
    assert(tree2.nodes == tree.nodes)
    // minLeafSize binds: a huge floor forbids any split
    val stump = graft.ops.DecisionTree.fitClassifier(
      df, Seq("x", "y"), "lab", maxDepth = 3, minLeafSize = 400)
    assert(stump.nodes.size == 1 && stump.nodes(1L).prediction == "a")
  }

  test("TAO: repairs a planted mis-split, re-majorizes leaves, never hurts") {
    import graft.ops.DecisionTree
    import graft.ops.DecisionTree.{Node, Tree}
    // truth: x <= 4 → a, else b (5 copies of 0..9 so percentiles are stable)
    val rows = for (_ <- 1 to 5; x <- 0 to 9)
      yield (x.toDouble, if (x <= 4) "a" else "b")
    val df = rows.toDF("x", "lab").repartition(4)
    def acc(t: Tree) = df.withColumn("p", t.predictColumn)
      .agg(avg(when($"p" === $"lab", 1.0).otherwise(0.0))).head().getDouble(0)

    // 1) planted tree with a damaged root threshold (1.5 instead of ~4.5):
    //    every reach row is a care point; one pass must relocate the split
    val damaged = Tree(Map(
      1L -> Node(1L, 0, 50, "a", 0, 1.5, 2L, 3L),
      2L -> Node(2L, 1, 10, "a", -1, 0.0, 0L, 0L),
      3L -> Node(3L, 1, 40, "b", -1, 0.0, 0L, 0L)), Seq("x"))
    assert(acc(damaged) < 0.8)
    val fixed = DecisionTree.taoRefine(df, damaged, "lab")
    assert(acc(fixed) == 1.0)
    val root = fixed.nodes(1L)
    assert(root.threshold >= 4.0 && root.threshold < 5.0)
    assert(fixed.nodes(2L).prediction == "a" && fixed.nodes(2L).n == 25)
    assert(fixed.nodes(3L).prediction == "b" && fixed.nodes(3L).n == 25)

    // 2) correct split, swapped leaf predictions: the bottom-up order
    //    re-majorizes the leaves FIRST, so the root split then has zero
    //    care-point errors and must stay put
    val swapped = Tree(Map(
      1L -> Node(1L, 0, 50, "a", 0, 4.5, 2L, 3L),
      2L -> Node(2L, 1, 25, "b", -1, 0.0, 0L, 0L),
      3L -> Node(3L, 1, 25, "a", -1, 0.0, 0L, 0L)), Seq("x"))
    val relabeled = DecisionTree.taoRefine(df, swapped, "lab")
    assert(acc(relabeled) == 1.0)
    assert(relabeled.nodes(1L).threshold == 4.5)
    assert(relabeled.nodes(2L).prediction == "a" &&
      relabeled.nodes(3L).prediction == "b")

    // 3) TAO never damages an already-perfect greedy fit, and the full
    //    loop converges (fitClassifierTao == greedy here)
    val grid = (for (_ <- 1 to 5; x <- 0 to 9; y <- 0 to 9)
      yield (x.toDouble, y.toDouble,
        if (x <= 4) "a" else if (y <= 2) "b" else "c"))
      .toDF("x", "y", "lab").repartition(8)
    val greedy = DecisionTree.fitClassifier(
      grid, Seq("x", "y"), "lab", maxDepth = 3, minSamplesSplit = 5)
    val tao = DecisionTree.fitClassifierTao(
      grid, Seq("x", "y"), "lab", maxDepth = 3, minSamplesSplit = 5)
    assert(tao.nodes == greedy.nodes)
  }

  test("compound TAO: planted XOR rule is repaired only by a compound split") {
    import graft.ops.DecisionTree
    import graft.ops.DecisionTree.{Node, Tree}
    // truth: label = (x <= 0.5) XOR (y <= 0.5) on an ASYMMETRIC 10×9
    // grid (symmetric XOR re-majorizes both leaves to the same label —
    // no care points survive; the 20/25-quadrant imbalance keeps the
    // leaf majorities distinct). The case the reference's synthesis-
    // grammar candidates exist for: no axis-aligned depth-1 split
    // strictly improves, a two-literal compound does.
    val rows = for (xi <- 1 to 10; yi <- 1 to 9) yield {
      val (x, y) = (xi / 10.0, yi / 10.0)
      (x, y, if ((x <= 0.5) ^ (y <= 0.5)) "1" else "0")
    }
    val df = rows.toDF("x", "y", "lab").repartition(4)
    def acc(t: Tree) = df.withColumn("p", t.predictColumn)
      .agg(avg(when($"p" === $"lab", 1.0).otherwise(0.0))).head().getDouble(0)
    // depth-1 start: axis split on x, leaf majorities "0"/"1" (25-0 vs
    // 20-1 left, 25-1 vs 20-0 right) → 50/90 accuracy
    val start = Tree(Map(
      1L -> Node(1L, 0, 90, "0", 0, 0.5, 2L, 3L),
      2L -> Node(2L, 1, 45, "0", -1, 0.0, 0L, 0L),
      3L -> Node(3L, 1, 45, "1", -1, 0.0, 0L, 0L)), Seq("x", "y"))
    assert(math.abs(acc(start) - 50.0 / 90) < 1e-12)
    // axis-only TAO cannot strictly improve any threshold: stays put
    val axisOnly = DecisionTree.taoRefine(df, start, "lab")
    assert(math.abs(acc(axisOnly) - 50.0 / 90) < 1e-12)
    assert(axisOnly.nodes(1L).split2.isEmpty)
    // the compound pass carves out a pure quadrant (e.g. and → the
    // 25-row TT corner, all "0"): 50/90 → 70/90 (XOR itself needs two
    // levels, as in the reference grammar)
    val fixed = DecisionTree.taoRefineCompound(df, start, "lab")
    assert(math.abs(acc(fixed) - 70.0 / 90) < 1e-12)
    val root = fixed.nodes(1L)
    assert(root.split2.isDefined)
    val (op, _, _) = root.split2.get
    assert(graft.ops.DecisionTree.compoundOps.contains(op))
    // leaves re-majorized on the compound reach sets, counts recounted
    assert(fixed.nodes(2L).n + fixed.nodes(3L).n == 90)
    // never-worse invariant: compound pass on an already-perfect fit
    val sep = (for (xi <- 1 to 10; yi <- 1 to 10)
      yield (xi / 10.0, yi / 10.0, if (xi <= 5) "a" else "b"))
      .toDF("x", "y", "lab").repartition(4)
    val greedy = DecisionTree.fitClassifier(sep, Seq("x", "y"), "lab",
      maxDepth = 2, minSamplesSplit = 5)
    val comp = DecisionTree.taoRefineCompound(sep, greedy, "lab")
    assert(comp.nodes.values.forall(_.split2.isEmpty))
    // and the opt loop accepts the compound flag end-to-end
    val looped = DecisionTree.taoOptimize(df, start, "lab",
      iterations = 3, compound = true)
    assert(acc(looped) >= 0.75)
    // disallowedCombinations (reference SynthConfig, DecisionTree.hs:
    // 50-63): blocking the ONLY improving pair forces the pass to skip
    // it — no compound installs, accuracy stays at the axis fit; order
    // of the pair doesn't matter, and unknown names are ignored
    for (block <- Seq(Seq("x" -> "y"), Seq("y" -> "x"))) {
      val blocked = DecisionTree.taoRefineCompound(df, start, "lab",
        disallowed = block)
      assert(blocked.nodes.values.forall(_.split2.isEmpty), s"block=$block")
      assert(math.abs(acc(blocked) - 50.0 / 90) < 1e-12, s"block=$block")
    }
    val unrelated = DecisionTree.taoRefineCompound(df, start, "lab",
      disallowed = Seq("x" -> "zz", "nope" -> "y"))
    assert(unrelated.nodes(1L).split2.isDefined) // nothing actually blocked
    // end-to-end through the fit entry point
    val fitBlocked = DecisionTree.fitClassifierTao(df, Seq("x", "y"), "lab",
      maxDepth = 1, taoIterations = 2, compound = true,
      disallowed = Seq("x" -> "y"))
    assert(fitBlocked.nodes.values.forall(_.split2.isEmpty))
  }

  test("feature synthesis: beam recovers a planted conjunction with F1 = 1") {
    // target ≡ x <= 4 AND y <= 6 over a 10×10 grid: both atoms exist as
    // percentile thresholds, one and-expansion must reach F1 = 1
    val rows = for (x <- 0 to 9; y <- 0 to 9)
      yield (x.toDouble, y.toDouble, x <= 4 && y <= 6)
    val df = rows.toDF("x", "y", "t").repartition(4)
    val beam = graft.ops.FeatureSynthesis.synthesizeBoolean(
      df, $"t", Seq("x", "y"), beamWidth = 8, rounds = 1)
    assert(beam.head.f1 == 1.0)
    assert(beam.head.description.contains("and"))
    assert(beam.head.description.contains("x <=") &&
      beam.head.description.contains("y <="))
    // the winning expression actually reproduces the target
    val missed = df.filter(beam.head.expr =!= $"t").count()
    assert(missed == 0)
    // determinism: identical rerun yields the identical beam
    val beam2 = graft.ops.FeatureSynthesis.synthesizeBoolean(
      df, $"t", Seq("x", "y"), beamWidth = 8, rounds = 1)
    assert(beam2.map(c => (c.description, c.f1)) ==
      beam.map(c => (c.description, c.f1)))
  }

  test("numeric synthesis: beam recovers planted arithmetic targets to MSE 0") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(200)((rnd.nextDouble() * 10, rnd.nextDouble() * 10))
      .map { case (x, y) => (x, y, x + y, 2 * x + y) }
    val df = rows.toDF("x", "y", "t1", "t2").repartition(4)
    // t1 = x + y: one expansion round
    val b1 = graft.ops.FeatureSynthesis.synthesizeNumeric(
      df.select("x", "y", "t1"), $"t1", Seq("x", "y"), rounds = 1)
    assert(b1.head.mse == 0.0, s"best: ${b1.head}")
    // t2 = 2x + y: needs (x + x) + y — two rounds
    val b2 = graft.ops.FeatureSynthesis.synthesizeNumeric(
      df.select("x", "y", "t2"), $"t2", Seq("x", "y"),
      beamWidth = 12, rounds = 2)
    assert(b2.head.mse < 1e-20, s"best: ${b2.head}")
    // beam quality never degrades round over round (monotone MSE)
    val b0 = graft.ops.FeatureSynthesis.synthesizeNumeric(
      df.select("x", "y", "t2"), $"t2", Seq("x", "y"),
      beamWidth = 12, rounds = 0)
    assert(b2.head.mse <= b0.head.mse)
  }

  test("zorder layout: every file covers a narrow range of BOTH columns") {
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
    val rnd = new scala.util.Random(31)
    // two independent uniform columns — the adversarial case for a
    // single-column sort
    val df = Seq.fill(20000)((rnd.nextInt(100000).toLong,
      rnd.nextInt(100000).toLong)).toDF("a", "b")
    def spans(d: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val s = d.withColumn("f", input_file_name())
        .groupBy("f")
        .agg((fmax($"a") - fmin($"a")).as("sa"), (fmax($"b") - fmin($"b")).as("sb"))
        .agg(avg($"sa"), avg($"sb")).head()
      (s.getDouble(0) / 100000.0, s.getDouble(1) / 100000.0)
    }
    val zdir = s"$dir/z"
    graft.ops.Layout.zorderBy(df, Seq("a", "b"), numFiles = 16)
      .write.parquet(zdir)
    val (za, zb) = spans(spark.read.parquet(zdir))
    val sdir = s"$dir/s"
    df.repartitionByRange(16, $"a").sortWithinPartitions("a")
      .write.parquet(sdir)
    val (sa, sb) = spans(spark.read.parquet(sdir))
    // single-column sort: perfect on a, useless on b (span ≈ 1)
    assert(sa < 0.2 && sb > 0.8)
    // z-order: BOTH columns narrow (16 files ⇒ 4 Z-bits ⇒ each file
    // spans ≤ ~1/4 of each dimension, modulo range-partition cuts)
    assert(za < 0.5 && zb < 0.5)
    assert(spark.read.parquet(zdir).count() == 20000)
  }

  test("planted key skew (one shingle on 20% of docs): the posting-list " +
    "self-join completes under AQE skew handling without a straggler " +
    "task 10x the stage median") {
    // PlanSpec pins shapes at PLANNING time; this is the runtime half:
    // thresholds are lowered so the spec-sized corpus actually crosses
    // AQE's skew-split limits (defaults are 256 MB — cluster-sized),
    // and broadcast is disabled so the join is the sort-merge shape a
    // corpus-scale run would use (both sides large).
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int,
      scala.collection.mutable.ArrayBuffer[Long]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val buf = byStage.computeIfAbsent(e.stageId,
          _ => scala.collection.mutable.ArrayBuffer[Long]())
        buf.synchronized { buf += e.taskInfo.duration }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // 5000 docs; every 5th carries the same hot header phrase →
      // one shingle key holds 20% of the corpus → ~500k candidate
      // pairs through a single shuffle key, dwarfing everything else
      val docs = (0 until 5000).map { i =>
        val hot =
          if (i % 5 == 0) "the common boilerplate header phrase appears " +
            "in every mirrored page "
          else ""
        (i.toLong,
          hot + s"unique body $i with words ${i * 7} ${i * 13} ${i * 29}")
      }.toDF("doc_id", "text")
      // no dfCap: the skew must REACH the join for AQE to handle it
      val n = graft.ops.Dedup.ngramJaccard(docs, "doc_id", "text", 0.9,
        dfCap = None).count()
      assert(n >= 0) // completion is half the assertion
      Thread.sleep(1000) // listener bus drains asynchronously
      val stages = scala.jdk.CollectionConverters
        .MapHasAsScala(byStage).asScala
        .map { case (sid, buf) => sid -> buf.synchronized(buf.toSeq) }
      // the join stage is the heaviest MULTI-task stage; 1-task stages
      // (driver collects, tiny pins) carry no spread to measure
      val multi = stages.filter(_._2.length >= 2)
      assert(multi.nonEmpty, "no multi-task stage ran — join not parallel")
      val (heavy, ds) = multi.maxBy(_._2.sum)
      val sorted = ds.sorted
      val med = sorted(sorted.length / 2)
      val mx = sorted.last
      // only meaningful when tasks carry real work (ms-scale tasks
      // make the ratio pure scheduler noise)
      if (med >= 50L)
        assert(mx <= 10 * med,
          s"stage $heavy straggler: max ${mx}ms vs median ${med}ms " +
            s"over ${ds.length} tasks — skew not split")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("z-order/Hilbert clustering makes READERS prune: a 2-D range " +
    "predicate scans a fraction of the row groups the shuffled layout " +
    "scans (parquet min/max row-group skipping)") {
    // The q157/q187 tests pin per-file bboxes (writer side); this one
    // asserts the read side actually benefits: parquet pushdown skips
    // whole row groups by column stats, and the scan's numOutputRows
    // counts only rows of SURVIVING row groups (record-level parquet
    // filtering is off by default, so unskipped rows all surface and
    // Spark's Filter trims them — making the metric a direct row-group
    // -skipping probe).
    val dir = java.nio.file.Files.createTempDirectory("graft_zprune")
    val rnd = new scala.util.Random(47)
    val df = Seq.fill(50000)((rnd.nextInt(100000).toLong,
      rnd.nextInt(100000).toLong)).toDF("a", "b")
    def writeTo(path: String, d: org.apache.spark.sql.DataFrame): Unit =
      d.write
        .option("parquet.block.size", (64 * 1024).toString) // many row groups
        .option("parquet.page.size", (8 * 1024).toString)
        .parquet(path)
    val zdir = s"$dir/z"; val hdir = s"$dir/h"; val sdir = s"$dir/s"
    val dims = Seq(($"a", 0.0, 100000.0), ($"b", 0.0, 100000.0))
    writeTo(zdir, graft.ops.ZOrder.clusterByZOrder(df, dims,
      bits = 5, bucketBits = 4))
    writeTo(hdir, graft.ops.ZOrder.clusterByHilbert(df, dims(0), dims(1),
      bits = 5, bucketBits = 4))
    writeTo(sdir, df.repartition(16)) // unclustered: every file spans all
    val pred = $"a" < 12500L && $"b" < 12500L // 1/8 × 1/8 corner region
    def scanned(path: String): (Long, Set[(Long, Long)]) = {
      // metrics live on the QueryExecution that actually RAN — derive
      // the typed view first, then collect through that same instance
      val q = spark.read.parquet(path).filter(pred).as[(Long, Long)]
      val rows = q.collect().toSet
      val scan = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (scan.metrics("numOutputRows").value, rows)
    }
    val (zScan, zRows) = scanned(zdir)
    val (hScan, hRows) = scanned(hdir)
    val (sScan, sRows) = scanned(sdir)
    assert(zRows == sRows && hRows == sRows, "layouts changed the answer")
    // unclustered layout: stats prune nothing — the scan reads ~all rows
    assert(sScan > 40000L, s"shuffled layout unexpectedly pruned: $sScan")
    // clustered layouts: the corner region lives in few row groups
    assert(zScan * 4 < sScan, s"z-order scan $zScan vs shuffled $sScan")
    assert(hScan * 4 < sScan, s"hilbert scan $hScan vs shuffled $sScan")
  }

  test("compaction: rewrites many small files into the size-targeted count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
    val src = s"$dir/src"; val dst = s"$dir/dst"
    spark.range(0, 50000).toDF("id")
      .withColumn("payload", $"id" * 2)
      .repartition(64).write.parquet(src)
    val (bytes, before) = graft.ops.Layout.parquetFootprint(spark, src)
    assert(before == 64)
    val (b2, after) = graft.ops.Layout.compactParquet(spark, src, dst,
      targetFileBytes = bytes / 4)
    assert(b2 == 64 && after <= 6 && after >= 3) // ~4 size-targeted files
    assert(spark.read.parquet(dst).count() == 50000)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Layout.compactParquet(spark, src, src, 1000)
    }
    assert(e.getMessage.contains("in-place"))
    // partitioned compaction preserves the hive layout
    val psrc = s"$dir/psrc"; val pdst = s"$dir/pdst"
    spark.range(0, 9000).toDF("id")
      .withColumn("part", ($"id" % 3).cast("string"))
      .repartition(48).write.partitionBy("part").parquet(psrc)
    val (pb, _) = graft.ops.Layout.parquetFootprint(spark, psrc)
    graft.ops.Layout.compactParquet(spark, psrc, pdst, pb / 3,
      partitionBy = Seq("part"))
    val dirs = new java.io.File(pdst).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("part=0", "part=1", "part=2"))
    assert(spark.read.parquet(pdst).count() == 9000)
    val prunedFiles = spark.read.parquet(pdst)
      .filter($"part" === "1").select(input_file_name()).distinct().count()
    val totalFiles = graft.ops.Layout.parquetFootprint(spark, pdst)._2
    assert(prunedFiles < totalFiles) // pruning still works post-compaction
  }

  test("asof join: a null value on the matched right row stays null") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    // quote at minute 20 has px = NULL; trade at 25 must see that null,
    // NOT skip back to the non-null quote at minute 10
    val trades = Seq((1L, 1L, t(25))).toDF("trade_id", "k", "ts")
    val quotes = Seq((1L, t(10), Some(1.0)), (1L, t(20), None))
      .toDF("k", "ts", "px")
    val got = graft.ops.AsofJoin
      .asofJoinBackward(trades, quotes, "k", "ts", Seq("px")).head()
    assert(got.isNullAt(3))
  }

  test("connected components: a 50-node chain is one component labelled 1") {
    // diameter 49: no round cap splits it
    val chain = (1L until 50L).map(i => (i, i + 1)).toDF("d1", "d2").repartition(3)
    val comps = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(comps.map(_._1).sorted.toSeq == (1L to 50L))
    assert(comps.forall(_._2 == 1L), comps.toSeq)
  }

  test("kmeans: empty init and non-long id fail fast") {
    val df = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.ops.KMeans.lloydProfile(df, "vec_id", "embedding",
        initEvery = 1000, iters = 1)
    }
    assert(e.getMessage.contains("zero centroids"))
    val typed = df.withColumn("vec_id", $"vec_id".cast("int"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.KMeans.lloydProfile(typed, "vec_id", "embedding", 1, 1)
    }
    assert(e2.getMessage.contains("LongType"))
  }

  test("range join: shared non-key column names fail fast") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val pts = Seq((1L, 1L, t(10), "x")).toDF("pid", "k", "ts", "tag")
    val ivs = Seq((1L, t(0), t(30), "a")).toDF("k", "lo", "hi", "tag")
    val e = intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.pointInInterval(pts, ivs, "k", "ts", "lo", "hi",
        bucketWidthMicros = 60000000L)
    }
    assert(e.getMessage.contains("tag"))
  }

  test("decontamination flags only docs sharing a full n-gram with the benchmark") {
    val bench = Seq((100L, "the secret answer to question seven is forty two exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words the secret answer to question seven is forty two exactly suffix"),
      (2L, "the secret answer to question nine is different entirely here now"),
      (3L, "completely unrelated content with no overlap at all whatsoever today")
    ).toDF("doc_id", "text")
    val flagged = Dedup.decontaminationReport(corpus, bench, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L) && flagged(1L) >= 1) // verbatim leak
    assert(!flagged.contains(2L)) // shares only a 6-word prefix, not 8
    assert(!flagged.contains(3L))
  }

  test("connected components: chain, triangle, isolated pair; dedup keeps min per cluster") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain → component 1
      (10L, 11L), (10L, 12L), (11L, 12L), // triangle → component 10
      (20L, 21L)                       // pair → component 20
    ).toDF("d1", "d2")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // string ids label by string order; a self-pair (x, x) is its own
    // component; a NULL endpoint links nothing (y stays alone) and adds
    // one (NULL, NULL) row. Rows as min-label propagation gave them, the
    // same for 1 or 3 input partitions and 1 or 7 shuffle partitions
    val sPairs = Seq[(String, String)](("b", "a"), ("c", "b"), ("x", "x"),
      ("y", null), ("d", "e"), ("e", "d")).toDF("d1", "d2")
    val sWant = Seq[(String, String)]((null, null), ("a", "a"), ("b", "a"),
      ("c", "a"), ("d", "d"), ("e", "d"), ("x", "x"), ("y", "y"))
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions")
    for (parts <- Seq(1, 3); p <- Seq(1, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        val got = Dedup.connectedComponents(sPairs.repartition(parts))
          .orderBy("node").as[(String, String)].collect().toSeq
        assert(got == sWant, s"$parts input, $p shuffle partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", shuffleWidth)
    }
    // end-to-end near-dup dedup: docs 0/1 identical, 2 near-dup of 0 →
    // one cluster keeps only doc 0; 3 and 4 untouched
    val kept = Dedup.dedupNearMinhash(docs, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(0L) && !kept.contains(1L))
    assert(kept.contains(3L) && kept.contains(4L))
  }

  test("decontamination report: exact (doc, n_shared) rows on planted 8-grams") {
    val mk = (i: Long, t: String) => (i, t)
    val corpus = Seq(
      mk(1, "the quick brown fox jumps over the lazy dog today ok"),
      mk(2, "completely unrelated words with no benchmark overlap at all whatsoever"),
      mk(3, "the quick brown fox jumps over the lazy dog again and again"),
      mk(4, "short text")).toDF("doc_id", "text")
    val bench = Seq(
      mk(100, "the quick brown fox jumps over the lazy dog today and more"))
      .toDF("doc_id", "text")
    // doc 1 shares the bench's first three 8-grams, doc 3 its first two;
    // doc 2 shares none and doc 4 is shorter than one gram
    val report = Dedup.decontaminationReport(corpus, bench, "doc_id", "text",
      n = 8)
    assert(report.columns.toSeq == Seq("doc_id", "n_shared"))
    assert(report.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet ==
      Set(1L -> 3L, 3L -> 2L))
  }

  test("incremental dedup: batch-unique AND unseen survive") {
    val seen = Seq("alpha", "beta").toDF("text")
    val batch = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"),
      (13L, "delta")).toDF("doc_id", "text")
    val kept = graft.ops.Dedup.exactIncremental(batch, seen, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L)) // alpha seen; gamma deduped to 11; delta new
  }

  test("salted join equals the plain join and spreads the hot key") {
    // one hot key (90% of rows) + tail
    val left = (1 to 2000).map(i =>
      (if (i % 10 == 0) i.toLong else 7L, i)).toDF("k", "payload")
    val right = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty"))
      .toDF("k", "v")
    val plain = left.join(right, Seq("k"), "inner")
      .select("k", "payload", "v").as[(Long, Int, String)].collect().sorted.toSeq
    val salted = graft.ops.Skew.saltedJoin(left, right, Seq("k"), factor = 8)
      .select("k", "payload", "v").as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain && plain.nonEmpty)
    val leftOuter = graft.ops.Skew.saltedJoin(left, right, Seq("k"), 8, "left")
    assert(leftOuter.count() == 2000)
    assert(leftOuter.filter($"v".isNull).count() == left.filter(
      !$"k".isin(7L, 10L, 20L)).count())
  }

  test("funnel: greedy chain is order-strict per user") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val events = Seq(
      // user 1 completes in order
      (1L, t(10), "view"), (1L, t(20), "click"), (1L, t(30), "purchase"),
      // user 2: purchase BEFORE click → chain stops at click
      (2L, t(10), "view"), (2L, t(30), "click"), (2L, t(20), "purchase"),
      // user 3: click only, no view → never starts
      (3L, t(10), "click"),
      // user 4: view-click tie (same ts) is NOT "after" → stops at view
      (4L, t(10), "view"), (4L, t(10), "click")
    ).toDF("user_id", "ts", "event_type")
    val counts = graft.ops.Funnel.funnelCounts(events, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase")).head()
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2),
      counts.getLong(3)) == (4L, 3L, 2L, 1L))
    val times = graft.ops.Funnel.funnelTimes(events, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(times(1L).getTimestamp(3) == t(30))
    assert(times(2L).isNullAt(3)) // purchase at 20 precedes click at 30
    assert(times(4L).isNullAt(2)) // tie doesn't advance
  }

  test("range join: bucketed point-in-interval matches, boundaries inclusive, cap truncates") {
    def t(min: Long) = new java.sql.Timestamp(min * 60000L)
    val pts = Seq((1L, 1L, t(10)), (2L, 1L, t(30)), (3L, 1L, t(31)),
      (4L, 2L, t(10)), (5L, 1L, t(50))).toDF("pid", "k", "ts")
    val ivs = Seq((1L, t(0), t(30), "a"), (1L, t(25), t(95), "b"),
      (3L, t(0), t(100), "c")).toDF("k", "lo", "hi", "tag")
    // bucket width 7 min: intervals span many buckets; matches must be exact
    val got = graft.ops.RangeJoin.pointInInterval(
        pts, ivs, "k", "ts", "lo", "hi", bucketWidthMicros = 7L * 60000000L)
      .select("pid", "tag").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"), (5L, "b")))
    // one row per (point, interval) pair — no bucket-induced duplicates
    val n = graft.ops.RangeJoin.pointInInterval(
      pts, ivs, "k", "ts", "lo", "hi", bucketWidthMicros = 60000000L).count()
    assert(n == 5)
    // cap truncates long intervals to 2 buckets of 7 min from lo:
    // b covers buckets [3, 4] only → minute 50 (bucket 7) drops,
    // minute 30 (bucket 4) stays
    val capped = graft.ops.RangeJoin.pointInInterval(
        pts, ivs, "k", "ts", "lo", "hi", 7L * 60000000L,
        maxBucketsPerInterval = Some(2))
      .select("pid", "tag").as[(Long, String)].collect().toSet
    assert(!capped.contains((5L, "b")))
    assert(capped.contains((2L, "b")) && capped.contains((1L, "a")))
  }

  test("cosine similarity: orthogonal=0, identical=1, topK ranks correctly") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.1f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val cos = vecs.as("a").crossJoin(vecs.as("b"))
      .select($"a.vec_id".as("i"), $"b.vec_id".as("j"),
        Similarity.cosine($"a.embedding", $"b.embedding").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(cos((0L, 3L)) - 1.0) < 1e-12)  // parallel
    assert(math.abs(cos((0L, 1L))) < 1e-12)        // orthogonal
    val topk = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding", 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(topk.toSeq == Seq((1, 3L), (2, 2L)))    // rank1=parallel, rank2=near
  }

  test("blocked cosine pair join matches the BNL validator exactly") {
    val e = Tables.embeddings(spark, sfSmoke)
    for (blocks <- Seq(1, 8)) {
      val got = graft.ops.Similarity
        .cosinePairsBlocked(e, "vec_id", "embedding", 0.4, blocks)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val want = graft.ops.Similarity
        .cosineJoin(e, "vec_id", "embedding", 0.4)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(got == want, s"blocks=$blocks: got ${got.size}, want ${want.size}")
    }
  }

  test("LSH near-dup recovers all high-cosine pairs on clustered vectors") {
    // 3 clusters of near-identical vectors + noise dims: true pairs are
    // within-cluster (cos > 0.95); LSH with r=8, b=16 must find them all
    val rnd = new scala.util.Random(7)
    val dim = 32
    val base = Array.fill(3, dim)(rnd.nextGaussian())
    val rows = for (c <- 0 until 3; i <- 0 until 5) yield {
      val v = base(c).map(x => (x + rnd.nextGaussian() * 0.05).toFloat)
      (c * 100L + i, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.ops.Similarity
      .cosineNearDupLsh(df, "vec_id", "embedding", 0.9)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val want = graft.ops.Similarity
      .cosineJoin(df, "vec_id", "embedding", 0.9)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty && got == want,
      s"got ${got.size}, want ${want.size}")
  }

  test("cosineNearDupLsh: explicit dim is lazy (no job at construction); empty frame short-circuits") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.01f)))
      .toDF("vec_id", "embedding")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Similarity.cosineNearDupLsh(df, "vec_id", "embedding", 0.9, dim = 2)
    assert(tracker.getJobIdsForGroup(null).length == before,
      "constructing the operator with an explicit dim ran a Spark job")
    assert(plan.count() == 1)
    // empty frame, inferred dim: empty result, no NoSuchElementException
    val empty = df.limit(0)
    val emptyRes = Similarity.cosineNearDupLsh(empty, "vec_id", "embedding", 0.9)
    assert(emptyRes.count() == 0)
    assert(emptyRes.columns.toSeq == Seq("d1", "d2", "cos"))
  }

  test("kmeans lloydProfile recovers planted clusters") {
    val rnd = new scala.util.Random(3)
    // two tight planted clusters around (±1, 0, 0); ids interleaved so the
    // every-2nd-id init seeds one centroid in each
    val rows = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq(base + rnd.nextFloat() * 0.01f,
        rnd.nextFloat() * 0.01f, rnd.nextFloat() * 0.01f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val prof = graft.ops.KMeans.lloydProfile(df, "vec_id", "embedding",
      initEvery = 20, iters = 3)
    val cells = prof.select("cell", "n").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.values.toSeq.sorted == Seq(20L, 20L)) // balanced recovery
    val c0 = prof.filter($"cell" === 0L && $"pos" === 0).select("c").head().getDouble(0)
    val c1 = prof.filter($"cell" === 1L && $"pos" === 0).select("c").head().getDouble(0)
    assert(math.abs(math.abs(c0) - 1.0) < 0.02 && math.abs(math.abs(c1) - 1.0) < 0.02)
    assert(c0 * c1 < 0) // one per side
  }

  test("ivf ANN finds the same top neighbor as brute force on clustered data") {
    val rng = new scala.util.Random(42)
    def cluster(center: Array[Float], n: Int, base: Long) =
      (0 until n).map(i => (base + i, center.map(c => c + rng.nextFloat() * 0.1f)))
    val data = (cluster(Array(1f, 0f, 0f), 20, 0L) ++
      cluster(Array(0f, 1f, 0f), 20, 100L)).toDF("vec_id", "embedding")
    val centroids = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
      .toDF("cid", "embedding")
    val queries = data.filter($"vec_id" === 0L || $"vec_id" === 100L)
    val bf = Similarity.bruteForceTopK(queries, data, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val ivf = Similarity.ivfTopK(queries, data, centroids, "vec_id", "embedding",
      k = 1, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ivf == bf)
  }

  test("text analysis: tokens, stopwords, quality, langid, fingerprint") {
    val t = docs.select($"doc_id",
      TA.tokenCount($"text").as("n"),
      TA.stopwordCount($"text").as("stops"),
      TA.qualityScore($"text").as("q"),
      TA.predictLang($"text").as("lang"),
      TA.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getString(4), r.getLong(5))).toMap
    assert(t(0L)._1 == 12)
    assert(t(0L)._2 == 3)               // the, the, and
    assert(t(0L)._4 == "en")
    assert(t(0L)._3 > 0 && t(0L)._3 <= 1.0)
    assert(t(0L)._5 == t(1L)._5)        // identical text → identical fingerprint
    assert(t(0L)._5 != t(2L)._5)
    assert(TA.defaultStopwords.nonEmpty)
  }

  test("tfIdfTopK: hand-computed scores, rank order, word tie-break") {
    val df = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana date"),
      (3L, "apple date date date"),
      (4L, "y x")).toDF("doc_id", "text")
    val out = TA.tfIdfTopK(df, "doc_id", "text", k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(5)) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // N=4; idf(df=1) = round(ln(5/2),9)+1, idf(df=2) = round(ln(5/3),9)+1
    val idf1 = BigDecimal(math.log(2.5)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 1.0
    val idf2 = BigDecimal(math.log(5.0 / 3)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 1.0
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 1)) == ("apple", 2L, 2L, r6(2 * idf2)))   // tf wins
    assert(out((1L, 2)) == ("cherry", 1L, 1L, r6(idf1)))      // idf beats tf=1 df=2
    assert(out((1L, 3))._1 == "banana")
    assert(out((3L, 1)) == ("date", 3L, 2L, r6(3 * idf2)))
    assert(!out.contains((2L, 3)))                            // only 2 distinct terms
    assert(out((4L, 1))._1 == "x" && out((4L, 2))._1 == "y")  // equal score → word asc
  }

  test("gopher quality flags: each rule fires on its adversarial doc") {
    val good = (("the quick brown fox jumps over a lazy dog and " * 5) +
      "it is that kind of tale").trim
    val docsDf = Seq(
      (1L, good),                                   // passes everything
      (2L, "short text only"),                      // words_ok fails
      (3L, ("## ### #### " * 20).trim),             // symbol + alpha fail
      (4L, (1 to 60).map(i => s"- bullet $i").mkString("\n")), // bullet fails
      (5L, good.split(" ").map(w => s"$w...").mkString("\n"))  // ellipsis fails
    ).toDF("doc_id", "text")
    val f = docsDf.select($"doc_id",
        graft.ops.TextAnalysis.gopherFlags($"text", minWords = 10).as("f"))
      .select($"doc_id", $"f.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getBoolean(8)) // keep
    assert(!f(2L).getBoolean(1) && !f(2L).getBoolean(8)) // words_ok
    assert(!f(3L).getBoolean(3) || !f(3L).getBoolean(6)) // symbol/alpha
    assert(!f(4L).getBoolean(4) && !f(4L).getBoolean(8)) // bullet_ok
    assert(!f(5L).getBoolean(5)) // ellipsis_ok
  }

  test("repetition signals: looping text scores high, varied text low") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),              // one repeated word
      (2L, "buy now buy now buy now buy now"),            // repeated bigram
      (3L, "all these words appear exactly once here"),   // no repetition
      (4L, "x"),                                          // shorter than any n-gram
      (5L, "line\nline\nother")                           // duplicate line
    ).toDF("doc_id", "text")
    val r = df.select($"doc_id",
      TA.topNgramFraction($"text", 2).as("top2"),
      TA.duplicateWordFraction($"text").as("dupw"),
      TA.duplicateLineFraction($"text").as("dupl"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1L)._1 > 0.9 && r(1L)._2 > 0.8)   // "spam spam" dominates
    assert(r(2L)._1 > 0.9)                      // "buy now" covers most tokens
    assert(r(3L)._1 < 0.4 && r(3L)._2 == 0.0)
    assert(r(4L)._1 == 0.0 && r(4L)._2 == 0.0)
    assert(math.abs(r(5L)._3 - (1.0 - 2.0 / 3)) < 1e-12)
    assert(r(3L)._3 == 0.0)
  }

  test("chunkTokens: overlap, short docs, exact coverage") {
    val txt = (1 to 50).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, txt), (2L, "tiny doc"), (3L, "")).toDF("doc_id", "text")
    val chunks = df.select($"doc_id",
      TA.chunkTokens($"text", chunkSize = 20, overlap = 5).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // 50 tokens, stride 15 → ceil(45/15)=3 chunks: [1,20],[16,35],[31,50]
    assert(chunks(1L).length == 3)
    val c = chunks(1L).map(_.split(" "))
    assert(c(0).head == "w1" && c(0).last == "w20")
    assert(c(1).head == "w16" && c(1).last == "w35")
    assert(c(2).head == "w31" && c(2).last == "w50")
    assert(c(0).takeRight(5).sameElements(c(1).take(5))) // overlap
    assert(chunks(2L) == Seq("tiny doc")) // short doc → itself
    assert(chunks(3L) == Seq(""))          // empty doc → one empty chunk
  }

  test("PII redaction: emails, IPs, phones replaced; counts match; clean text untouched") {
    val df = Seq(
      (1L, "mail alice.smith+test@sub.example.org and bob@x.io now"),
      (2L, "server at 192.168.1.254 responded"),
      (3L, "call +4915123456789 today"),
      (4L, "nothing sensitive here 3.14 is fine")
    ).toDF("doc_id", "text")
    val r = df.select($"doc_id", TA.piiCount($"text").as("n"),
      TA.redactPii($"text").as("c"))
      .collect().map(x => x.getLong(0) -> (x.getInt(1), x.getString(2))).toMap
    assert(r(1L) == (2, "mail <EMAIL> and <EMAIL> now"))
    assert(r(2L) == (1, "server at <IP> responded"))
    assert(r(3L) == (1, "call <PHONE> today"))
    assert(r(4L) == (0, "nothing sensitive here 3.14 is fine"))
  }

  test("bpe-ish token count segments words and punctuation") {
    val df = Seq((1L, "hello, world! a1b2")).toDF("doc_id", "text")
    val n = df.select(TA.tokenCountBpeIsh($"text")).as[Int].head()
    assert(n > 5) // hell+o+,+worl+d+!+a+1+b+2
  }

  test("multimodal: real PNG decode, features, and geometric resize") {
    import java.awt.image.BufferedImage
    // two synthetic PNGs: solid dark gray 8x6, and half-black/half-white 16x4
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgbAt(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val solid = png(8, 6, (_, _) => 0x404040)
    val split = png(16, 4, (x, _) => if (x < 8) 0x000000 else 0xFFFFFF)
    // doc 4: RECOGNIZED format but truncated — ImageIO throws (not null);
    // the codec must swallow it into null features like unrecognized bytes
    val packed = Seq((1L, solid), (2L, split), (3L, "not an image".getBytes),
      (4L, solid.take(30)))
      .toDF("doc_id", "payload")
    val feats = Multimodal.decodeImages(packed).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1L).getInt(1) == 8 && feats(1L).getInt(2) == 6)
    assert(math.abs(feats(1L).getDouble(3) - 0x40) < 1.0)
    assert(feats(2L).getInt(1) == 16)
    assert(math.abs(feats(2L).getDouble(3) - 127.5) < 2.0)
    // corrupt payloads → null features, no failure (both the unrecognized
    // and the recognized-but-truncated kind)
    assert(feats(3L).isNullAt(1))
    assert(feats(4L).isNullAt(1))
    // geometric resize: 16x4 → 4x2, still a decodable PNG
    val resized = Multimodal.resizeImages(packed.filter($"doc_id" === 2L), 4, 2)
    val back = Multimodal.decodeImages(resized).head()
    assert(back.getInt(1) == 4 && back.getInt(2) == 2)
  }

  test("multimodal audio: real WAV PCM decode + features; corrupt → null") {
    import javax.sound.sampled._
    // 0.5 s of a 440 Hz sine at 8 kHz, amplitude 0.5, written through
    // javax.sound (an independent WAV writer — stronger than testing our
    // decoder against bytes we laid out ourselves)
    val rate = 8000f; val freq = 440.0; val n = 4000
    val samples = Array.tabulate(n)(i =>
      (math.sin(2 * math.Pi * freq * i / rate) * 0.5 * 32767).toInt.toShort)
    val pcm = new Array[Byte](n * 2)
    java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asShortBuffer().put(samples)
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val packed = Seq((1L, wav), (2L, "not audio at all".getBytes),
      (3L, wav.take(30))) // recognized header, truncated data
      .toDF("doc_id", "payload")
    val feats = Multimodal.decodeAudio(packed).collect()
      .map(r => r.getLong(0) -> r).toMap
    val f = feats(1L)
    assert(f.getInt(1) == 8000 && f.getLong(2) == 4000L)
    assert(math.abs(f.getDouble(3) - 0.5) < 1e-9)                 // duration
    assert(math.abs(f.getDouble(4) - 0.5 / math.sqrt(2)) < 0.005) // sine RMS
    assert(math.abs(f.getDouble(6) - 2 * freq / rate) < 0.01)     // zero-cross rate
    assert(f.getDouble(5) <= 0.5 + 1e-6 && f.getDouble(5) > 0.45) // peak
    assert(feats(2L).isNullAt(1) && feats(3L).isNullAt(1))
  }

  test("multimodal: pack → features → frames → resize plumbing") {
    val packed = Multimodal.packDocuments(docs)
    assert(packed.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(packed)
    val f = feats.filter($"doc_id" === 0L).head()
    assert(f.getLong(1) == doc0Text.getBytes("UTF-8").length.toLong)
    assert(f.getDouble(3) > 0)                     // entropy
    assert(f.getSeq[Long](4).length == 8)
    // identical payloads → identical features
    val f1 = feats.filter($"doc_id" === 1L).head()
    assert(f.getDouble(2) == f1.getDouble(2) && f.getDouble(3) == f1.getDouble(3))
    // typed Dataset.mapPartitions path: extraction stays in ONE plan —
    // no ExistingRDD scan (no Row-encoder round trip through an RDD)
    val planStr = feats.queryExecution.executedPlan.toString
    assert(!planStr.contains("ExistingRDD"), planStr.take(1500))
    assert(planStr.contains("MapPartitions"))
    val frames = Multimodal.sampleFrames(packed, blockBytes = 16, stride = 2)
    assert(frames.filter($"doc_id" === 0L).select(size($"frames")).as[Int].head() >= 1)
    val resized = Multimodal.resizePayload(packed, 32)
    assert(resized.select(length($"payload")).as[Int].collect().forall(_ == 32))
  }

  test("semantic dedup: within-cell near-dups drop their larger id, cross-cell survive") {
    // two well-separated clusters; ids 1/2 near-identical in cluster A,
    // id 10 a near-copy of 1 but planted in cluster B (cross-cell miss
    // by design), id 3 in A but dissimilar enough to survive
    val vs = Seq(
      (1L, Array(0.9, 0.1, 0.0)),
      (2L, Array(0.9, 0.1, 0.001)),       // near-dup of 1, same cell
      (3L, Array(0.7, 0.0, 0.7)),         // cell A, cos(1,3) ≈ 0.77 < 0.99
      (10L, Array(0.1, 0.9, 0.0))         // cell B
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0, 0.0, 0.0)), (100L, Array(0.0, 1.0, 0.0)))
      .toDF("cid", "embedding")
    val assigned = Similarity.assignCells(vs, cents, "vec_id", "embedding")
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(assigned(1L) == 0L && assigned(2L) == 0L && assigned(3L) == 0L)
    assert(assigned(10L) == 100L)
    val pairs = Similarity.semanticDedupPairs(vs, cents, "vec_id", "embedding", 0.99)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    val kept = Similarity.semanticDedup(vs, cents, "vec_id", "embedding", 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 10L))               // 2 drops (larger id of the pair)
    // maxCell guard: cap below cell A's size suppresses its pairs
    val capped = Similarity.semanticDedupPairs(vs, cents, "vec_id", "embedding",
      0.99, maxCell = Some(2)).count()
    assert(capped == 0L)
  }

  test("duplicate span coverage: corpus-repeated windows count, within-doc repeats don't") {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),   // shares all with 1
      (1L, "alpha beta gamma delta epsilon zeta"),   // exact copy: frac 1.0
      (2L, "one two three four five six seven"),     // unique: frac 0.0
      (3L, "rep rep rep rep rep rep rep rep rep rep"), // self-repeats ONLY
      (4L, "too short")                               // < n tokens: absent
    ).toDF("doc_id", "text")
    val stats = Dedup.duplicateSpanStats(d, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!stats.contains(4L))
    assert(stats(0L) == ((2L, 2L, 1.0)))   // 6 tokens → 2 windows, both shared
    assert(stats(1L) == ((2L, 2L, 1.0)))
    assert(stats(2L)._2 == 0L && stats(2L)._3 == 0.0)
    assert(stats(3L) == ((6L, 0L, 0.0)))   // within-doc repetition ≠ duplication
    // multiplicity: a doc repeating a corpus-shared span twice counts both
    val d2 = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon and alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val s2 = Dedup.duplicateSpanStats(d2, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s2(1L)._1 == 7L && s2(1L)._2 == 2L) // 11 tokens → 7 windows, 2 dup
  }

  test("mixture: shares account exactly, rates cap at 1, rebalance honors targets") {
    import graft.ops.Mixture
    // web: 8 docs × 10 tokens; books: 2 docs × 10 tokens; junk: 2 docs
    def mk(src: String, base: Long, n: Int) = (0 until n).map(i =>
      (base + i, src, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
    val d = (mk("web", 0L, 8) ++ mk("books", 100L, 2) ++ mk("junk", 200L, 2))
      .toDF("doc_id", "source", "text")
    val targets = Map("web" -> 0.5, "books" -> 0.5) // junk absent → dropped
    val mix = Mixture.tokenMixture(d, "source", "text", targets)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(5))).toMap
    assert(mix("web") == ((8L, 80L, 0.666667, 0.75)))   // 0.5/(80/120) = 0.75
    assert(mix("books")._4 == 1.0)                      // under-represented: cap
    assert(mix("junk")._4 == 0.0)                       // absent from targets
    val kept = Mixture.rebalance(d, "doc_id", "source", "text", targets)
    val bySrc = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("junk"))
    assert(bySrc("books") == 2L)                        // rate 1 keeps all
    assert(bySrc.getOrElse("web", 0L) < 8L)             // subsampled
    // deterministic: same rows on a second run
    val again = Mixture.rebalance(d, "doc_id", "source", "text", targets)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again == kept.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("bigram LM score: repetition scores high, gibberish low, smoothing covers unseen") {
    val d = Seq(
      (0L, "the cat sat on the mat and the cat sat on the mat again"),
      (1L, "the cat sat on the mat"),
      (2L, "zq xv wk jn qp"),   // every bigram unique in corpus
      (3L, "one")               // < 2 tokens: absent
    ).toDF("doc_id", "text")
    val scores = TA.bigramLmScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!scores.contains(3L))
    assert(scores(1L)._1 == 5L)   // 6 tokens → 5 bigrams
    // repeated phrases → higher (less negative) mean log-prob than gibberish
    assert(scores(0L)._2 > scores(2L)._2)
    // fitOn: scoring a doc of entirely-unseen words against a fit corpus
    // gets the pure smoothed fallback ln(1/V) for every bigram
    val fit = d.filter($"doc_id" <= 1L)
    val novel = Seq((9L, "totally novel words here")).toDF("doc_id", "text")
    val vocab = fit.select(explode(split($"text", " "))).distinct().count()
    val got = TA.bigramLmScore(novel, "doc_id", "text", fitOn = Some(fit))
      .select("avg_logp").as[Double].head()
    val expected = BigDecimal(math.log(1.0 / vocab.toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got - expected) < 1e-6, s"got $got expected $expected (V=$vocab)")
  }

  test("ccnetPerplexityBuckets: per-language terciles, open-vocab " +
    "fallback, uncovered languages excluded") {
    // six en docs with distinct fluency against an en+fr fit slice →
    // exactly 2 head / 2 middle / 2 tail; a language absent from the
    // fit corpus has no LM and drops; < 2 tokens absent.
    val fit = Seq(
      ("en", "the cat sat on the mat and the dog sat on the mat"),
      ("en", "the cat ran to the mat and the dog ran to the mat"),
      ("fr", "le chat dort sur le tapis et le chien dort ici")
    ).toDF("lang", "text").withColumn("doc_id", lit(-1L))
    val score = Seq(
      (0L, "en", "the cat sat on the mat"),
      (1L, "en", "the dog ran to the mat"),
      (2L, "en", "the cat ran on the mat and the dog sat"),
      (3L, "en", "cat mat dog the on sat"),
      (4L, "en", "zq xv wk jn qp zz"),
      (5L, "en", "qq ww ee rr tt yy uu"),
      (6L, "fr", "le chat dort sur le tapis"),
      (7L, "xx", "unfit language words here"),
      (8L, "en", "one")
    ).toDF("doc_id", "lang", "text")
    val got = TA.ccnetPerplexityBuckets(score, "doc_id", "text", "lang", fit)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("bucket"), r.getAs[Double]("ppl"))).toMap
    assert(!got.contains(7L), "language with no fit LM must be excluded")
    assert(!got.contains(8L), "single-token doc has no bigrams")
    // gibberish ppl strictly above fluent in-distribution ppl
    assert(got(4L)._2 > got(0L)._2)
    assert(got(5L)._2 > got(1L)._2)
    // bucket assignment ≡ the per-language tercile rule (Spark
    // Percentile's two-sided interpolation; at-threshold → higher)
    def expectBuckets(pps: Map[Long, Double]): Map[Long, String] = {
      val v = pps.values.toSeq.sorted
      def q(p: Double): Double = {
        val pos = p * (v.size - 1)
        val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
        if (lo == hi) v(lo) else (hi - pos) * v(lo) + (pos - lo) * v(hi)
      }
      val (t1, t2) = (q(1.0 / 3), q(2.0 / 3))
      pps.map { case (k, x) =>
        k -> (if (x >= t2) "tail" else if (x >= t1) "middle" else "head") }
    }
    val en = got.filter { case (k, _) => k <= 5L }
    assert(en.map { case (k, v) => k -> v._1 } ==
      expectBuckets(en.map { case (k, v) => k -> v._2 }))
    // a single-doc language IS both its terciles → at-threshold rule
    assert(got(6L)._1 == "tail")
  }

  test("incremental MinHash+LSH equals the full run restricted to " +
    "cross-boundary pairs") {
    val d = Tables.documents(spark, sfSmoke)
    val newB = d.filter($"doc_id" % 2 === 1)
    val seen = d.filter($"doc_id" % 2 === 0)
    val inc = Dedup.minhashLshIncremental(newB, seen, "doc_id", "text", 0.8)
      .select("d1", "d2").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val full = Dedup.minhashLsh(d, "doc_id", "text", 0.8)
      .select("d1", "d2").as[(Long, Long)].collect()
      .filter { case (a, b) => a % 2 != b % 2 } // cross-parity only
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(inc == full && inc.nonEmpty)
    // seen-side mega-bucket cap: cap 0 kills every candidate
    assert(Dedup.minhashLshIncremental(newB, seen, "doc_id", "text", 0.8,
      maxSeenBucket = Some(0)).count() == 0)
    // banding parameters must divide: bands > numPerms would collapse
    // every doc into one bucket per band; a non-dividing bands silently
    // weakens recall — both fail fast.
    intercept[IllegalArgumentException] {
      Dedup.minhashLsh(d, "doc_id", "text", 0.8, numPerms = 64, bands = 96)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashLshIncremental(newB, seen, "doc_id", "text", 0.8,
        numPerms = 64, bands = 24)
    }
  }

  test("incremental SimHash equals the full run restricted to " +
    "cross-boundary pairs (pigeonhole: exact, not probabilistic)") {
    val d = Tables.documents(spark, sfSmoke)
    val newB = d.filter($"doc_id" % 2 === 1)
    val seen = d.filter($"doc_id" % 2 === 0)
    val inc = Dedup.simhashPairsIncremental(newB, seen, "doc_id", "text", 3)
      .select("d1", "d2").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val full = Dedup.simhashPairs(d, "doc_id", "text", 3)
      .select("d1", "d2").as[(Long, Long)].collect()
      .filter { case (a, b) => a % 2 != b % 2 }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    assert(inc == full && inc.nonEmpty)
  }

  test("capPerGroup keeps exactly n per group, deterministically, and " +
    "is invariant to input partitioning") {
    val d = Tables.documents(spark, sfSmoke)
    val capped = graft.ops.Mixture.capPerGroup(d, "doc_id", "source", 5)
    val counts = capped.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val totals = d.groupBy("source").count().as[(String, Long)].collect().toMap
    totals.foreach { case (src, tot) =>
      assert(counts.getOrElse(src, 0L) == math.min(5L, tot),
        s"$src: got ${counts.get(src)} of $tot")
    }
    val a = capped.select("doc_id").as[Long].collect().sorted.toSeq
    val b = graft.ops.Mixture.capPerGroup(
        d.repartition(7, $"text"), "doc_id", "source", 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b, "cap selection must not depend on partitioning")
  }

  test("keepTopQuantile prunes below each group's own threshold") {
    val d = (Seq.tabulate(10)(i => ("a", i.toDouble)) ++
      Seq.tabulate(4)(i => ("b", 100.0 + i))).toDF("g", "v")
    val kept = TA.keepTopQuantile(d, "g", $"v", q = 0.5)
      .as[(String, Double)].collect().toSet
    // group a: median of 0..9 = 4.5 → keep 5..9; group b: median of
    // 100..103 = 101.5 → keep 102, 103. Thresholds are PER GROUP.
    assert(kept == (5 to 9).map(i => ("a", i.toDouble)).toSet ++
      Set(("b", 102.0), ("b", 103.0)))
    // boundary rows (score == threshold) stay
    val e = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0)).toDF("g", "v")
    val keptE = TA.keepTopQuantile(e, "g", $"v", q = 0.5)
      .as[(String, Double)].collect().toSet
    assert(keptE == Set(("g", 2.0), ("g", 3.0)))
    // approx path agrees on well-separated data
    val keptA = TA.keepTopQuantile(d, "g", $"v", q = 0.5, approx = true)
      .as[(String, Double)].collect().toSet
    assert(keptA.map(_._1).toSet == Set("a", "b") && keptA.size >= 6)
  }

  test("negativeSamples: k non-self partners per row, deterministic " +
    "across partitionings") {
    val d = (0L until 97L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val neg = graft.ops.Mixture.negativeSamples(d, "doc_id", k = 4)
      .as[(Long, Int, Long)].collect().toSeq
    assert(neg.size == 97 * 4)
    assert(neg.forall { case (a, _, b) => a != b }, "drew itself")
    assert(neg.groupBy(_._1).forall(_._2.map(_._2).sorted == Seq(0, 1, 2, 3)))
    val again = graft.ops.Mixture.negativeSamples(d.repartition(7), "doc_id", 4)
      .as[(Long, Int, Long)].collect().toSeq
    assert(neg.toSet == again.toSet)
  }

  test("bucketByQuantiles assigns per-group quartiles with >= boundaries") {
    val d = (Seq.tabulate(8)(i => ("a", (i + 1).toDouble)) ++
      Seq(("b", 100.0), ("b", 200.0))).toDF("g", "v")
    val got = TA.bucketByQuantiles(d, "g", $"v", Seq(0.25, 0.5, 0.75))
      .select("g", "v", "bucket").as[(String, Double, Int)]
      .collect().toSet
    // group a: 1..8 → quartile thresholds 2.75 / 4.5 / 6.25
    val expA = Seq(1 -> 0, 2 -> 0, 3 -> 1, 4 -> 1, 5 -> 2, 6 -> 2, 7 -> 3, 8 -> 3)
      .map { case (v, b) => ("a", v.toDouble, b) }.toSet
    // group b: thresholds 125/150/175 → 100 below all, 200 above all
    assert(got == expA ++ Set(("b", 100.0, 0), ("b", 200.0, 3)))
  }

  test("repeated-line removal: boilerplate drops, order survives, " +
    "empty docs vanish unless keepEmpty") {
    val d = Seq(
      (1L, "keep me\nfooter text\nme too"),
      (2L, "footer text\nonly mine"),
      (3L, "footer text"), // nothing survives
      (4L, "solo doc untouched\nfooter text\nlast line")
    ).toDF("id", "txt")
    val got = Dedup.removeRepeatedLines(d, "id", "txt", minDocs = 2)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "keep me\nme too",
      2L -> "only mine",
      4L -> "solo doc untouched\nlast line")) // id 3 absent
    val kept = Dedup.removeRepeatedLines(d, "id", "txt", minDocs = 2,
      keepEmpty = true).as[(Long, String)].collect().toMap
    assert(kept(3L) == "" && kept.size == 4)
    // minDocs counts DISTINCT docs: a line repeated within ONE doc stays
    val within = Seq((1L, "dup\nmid\ndup"), (2L, "other")).toDF("id", "txt")
    val w = Dedup.removeRepeatedLines(within, "id", "txt", minDocs = 2)
      .as[(Long, String)].collect().toMap
    assert(w(1L) == "dup\nmid\ndup")
  }

  test("duplicate-span removal: canonical keeps, overlap unions, " +
    "whole-doc dup vanishes unless keepEmpty") {
    val d = Seq(
      (1L, "a b c d e"),        // canonical holder of "a b c"
      (2L, "x a b c y"),        // non-canonical occurrence → cut
      (3L, "p q r s t z"),      // canonical holder of the long span
      (4L, "m p q r s t"),      // overlapping dup windows union → keeps "m"
      (5L, "hi")                // < n tokens: no windows, untouched
    ).toDF("id", "txt")
    val got = Dedup.removeDuplicateSpans(d, "id", "txt", n = 3)
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "a b c d e",
      2L -> "x y",
      3L -> "p q r s t z",
      4L -> "m",
      5L -> "hi"))
    // whole-doc dup: every window removable → doc vanishes / keepEmpty ''
    val dup = Seq((1L, "one two three four"), (2L, "one two three four"))
      .toDF("id", "txt")
    val cut = Dedup.removeDuplicateSpans(dup, "id", "txt", n = 3)
      .as[(Long, String)].collect().toMap
    assert(cut == Map(1L -> "one two three four")) // id 2 absent
    val kept = Dedup.removeDuplicateSpans(dup, "id", "txt", n = 3,
      keepEmpty = true).as[(Long, String)].collect().toMap
    assert(kept == Map(1L -> "one two three four", 2L -> ""))
  }

  test("duplicate-span removal: minDocs counts distinct docs, but a " +
    "corpus-dup span's extra occurrence inside the canonical doc cuts") {
    // intra-doc-only repetition is NOT corpus boilerplate → stays whole
    val within = Seq((1L, "u v w z u v w"), (2L, "other words here"))
      .toDF("id", "txt")
    val w = Dedup.removeDuplicateSpans(within, "id", "txt", n = 3)
      .as[(Long, String)].collect().toMap
    assert(w(1L) == "u v w z u v w")
    // once "a b c" IS corpus-dup, only its (minDoc, minPos) occurrence
    // survives — the second occurrence in doc 1 cuts too
    val d = Seq((1L, "a b c z a b c"), (2L, "q a b c q2")).toDF("id", "txt")
    val got = Dedup.removeDuplicateSpans(d, "id", "txt", n = 3)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a b c z", 2L -> "q q2"))
  }

  test("contaminated-span removal: every benchmark-overlapping window " +
    "cuts (no canonical), margin extends and clamps, untouched docs " +
    "round-trip, keepEmpty") {
    val bench = Seq((100L, "secret eval item")).toDF("id", "txt")
    val corpus = Seq(
      (1L, "intro secret eval item outro end"), // one hit mid-doc
      (2L, "clean text with no overlap at all"), // untouched
      (3L, "secret eval item"),                  // whole doc contaminated
      (4L, "secret eval item tail secret eval item")) // two hits
      .toDF("id", "txt")
    // margin 0: exactly the 3-token windows cut
    val m0 = Dedup.removeContaminatedSpans(corpus, bench, "id", "txt",
      n = 3, margin = 0).as[(Long, String)].collect().toMap
    assert(m0 == Map(
      1L -> "intro outro end",
      2L -> "clean text with no overlap at all",
      4L -> "tail")) // id 3 fully cut → absent
    val m0k = Dedup.removeContaminatedSpans(corpus, bench, "id", "txt",
      n = 3, margin = 0, keepEmpty = true).as[(Long, String)].collect().toMap
    assert(m0k(3L) == "" && m0k.size == 4)
    // margin 1: one context token on each side also cuts, clamped at
    // the doc start/end
    val m1 = Dedup.removeContaminatedSpans(corpus, bench, "id", "txt",
      n = 3, margin = 1, keepEmpty = true).as[(Long, String)].collect().toMap
    assert(m1 == Map(1L -> "end", 2L -> "clean text with no overlap at all",
      3L -> "", 4L -> ""))
    // overlapping benchmark windows union their coverage: a doc made of
    // a longer quoted span loses the whole span
    val bench2 = Seq((100L, "a b c d e")).toDF("id", "txt")
    val c2 = Seq((1L, "x a b c d e y")).toDF("id", "txt")
    val got2 = Dedup.removeContaminatedSpans(c2, bench2, "id", "txt",
      n = 3, margin = 0).as[(Long, String)].collect().toMap
    assert(got2 == Map(1L -> "x y"))
  }

  test("snapshot diff: added / removed / changed classified by key, " +
    "unchanged filtered unless requested") {
    val old = Seq((1L, "h1"), (2L, "h2"), (3L, "h3old")).toDF("id", "k")
    val nw = Seq((2L, "h2"), (3L, "h3new"), (4L, "h4")).toDF("id", "k")
    val diff = Dedup.snapshotDiff(old, nw, "id", "k")
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(diff == Map(
      1L -> (("removed", Some("h1"), None)),
      3L -> (("changed", Some("h3old"), Some("h3new"))),
      4L -> (("added", None, Some("h4")))))
    val all = Dedup.snapshotDiff(old, nw, "id", "k",
      includeUnchanged = true).collect()
    assert(all.length == 4)
  }

  test("applySnapshotChanges: latest change wins, upsert inserts/replaces, " +
    "delete drops, same-seq tie resolves upsert-over-delete") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq(
      (2L, "upsert", 1L, "b2"),   // update
      (3L, "delete", 1L, "x"),    // delete
      (4L, "upsert", 1L, "d"),    // insert
      (5L, "upsert", 1L, "e1"),   // insert, then...
      (5L, "delete", 2L, "x"),    // ...late delete wins by seq
      (6L, "delete", 3L, "x"),    // same-seq tie:
      (6L, "upsert", 3L, "f")     // upsert wins ('u' > 'd')
    ).toDF("id", "op", "seq", "v")
    val got = Dedup.applySnapshotChanges(base, changes, "id")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 4L -> "d", 6L -> "f"))
    // column order follows the base frame
    assert(Dedup.applySnapshotChanges(base, changes, "id").columns.toSeq
      == Seq("id", "v"))
  }

  test("expectations audit: one agg pass, declaration order, pass/fail " +
    "per rule, nulls fail value rules") {
    import graft.ops.Expectations._
    val df = Seq(
      (1L, Some("aa"), 10.0), (2L, Some("bb"), 20.0),
      (3L, None, 500.0), (3L, Some("zz"), 30.0)
    ).toDF("id", "code", "x")
    val got = audit(df, Seq(
      Expectation("code_set", inSetRate($"code", Seq("aa", "bb", "zz")), 0.8),
      Expectation("code_present", notNullRate($"code"), 1.0),
      Expectation("id_unique", uniqueRate($"id"), 1.0, "=="),
      Expectation("x_band", betweenRate($"x", 0, 100), 0.7),
      Expectation("x_small", betweenRate($"x", 0, 25), 0.9, "<=")
    )).as[(String, Double, Double, Boolean)].collect()
    assert(got.map(_._1).toSeq == Seq(
      "code_set", "code_present", "id_unique", "x_band", "x_small"))
    val m = got.map(r => r._1 -> ((r._2, r._4))).toMap
    assert(m("code_set") == ((0.75, false)))     // null fails the set test
    assert(m("code_present") == ((0.75, false)))
    assert(m("id_unique") == ((0.75, false)))    // 3 distinct / 4 rows
    assert(m("x_band") == ((0.75, true)))
    assert(m("x_small") == ((0.5, true)))        // <= direction
  }

  test("z-order: hand-computed interleave, cell clamping, and tighter " +
    "cross-dimension locality than a single-key sort") {
    import graft.ops.ZOrder
    // cells (3, 5) at 3 bits: dim0 bits 1,1,0 / dim1 bits 1,0,1 →
    // positions (b·2+j): 1,1,1,0,0,1 LSB-first = 0b100111 = 39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(ZOrder.zValue(Seq($"x", $"y"), 3).as("z"))
      .as[Long].collect().head
    assert(z == 39L)
    // clamping: below-lo → cell 0, above-hi → top cell
    val cells = Seq((-5.0, 999.0, 31.9)).toDF("lo", "hi", "mid")
      .select(ZOrder.zCell($"lo", 0, 64, 3).as("c1"),
        ZOrder.zCell($"hi", 0, 64, 3).as("c2"),
        ZOrder.zCell($"mid", 0, 64, 3).as("c3"))
      .as[(Long, Long, Long)].collect().head
    assert(cells == ((0L, 7L, 3L)))
    // locality: on a 64×64 uniform grid, z-order buckets bound BOTH
    // dims' spans; sorting by x alone leaves y's span at full width
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val spans = grid.select($"x", $"y",
        ZOrder.zBucket(ZOrder.zValue(Seq(
          ZOrder.zCell($"x", 0, 64, 6), ZOrder.zCell($"y", 0, 64, 6)), 6),
          12, 4).as("bucket"))
      .groupBy("bucket")
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .as[(Long, Long, Long)].collect()
    assert(spans.length == 16)
    // every bucket's bbox is a 16×16 quadrant (span 15), vs 63 for a
    // single-key sort's secondary dimension
    spans.foreach { case (b, xs, ys) =>
      assert(xs == 15L && ys == 15L, s"bucket $b bbox $xs x $ys")
    }
    // clusterByZOrder: 16 physical partitions, z-sorted within
    val parts = ZOrder.clusterByZOrder(grid,
      Seq(($"x", 0, 64), ($"y", 0, 64)), bits = 6, bucketBits = 4)
      .rdd.getNumPartitions
    assert(parts == 16)
  }

  test("hilbertValue2D: canonical xy2d values, bijection, and the " +
    "consecutive-neighbor property Morton lacks") {
    import graft.ops.ZOrder
    // hand-computed 4x4 walk (reflection constant n-1, +x first step)
    val g2 = ZOrder.hilbertValue2D(
        (for { x <- 0 until 4; y <- 0 until 4 } yield (x.toLong, y.toLong))
          .toDF("x", "y"), $"x", $"y", bits = 2, out = "d")
      .select($"x", $"y", $"d").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(g2((0L, 0L)) == 0 && g2((1L, 0L)) == 1 && g2((1L, 1L)) == 2 &&
      g2((0L, 1L)) == 3, "first quadrant walk")
    assert(g2((0L, 3L)) == 5 && g2((3L, 3L)) == 10 && g2((2L, 0L)) == 14 &&
      g2((3L, 0L)) == 15, "hand-checked corners")
    // 8x8: bijection onto [0, 64) and THE Hilbert property — every
    // consecutive pair of distances is a grid 4-neighborhood step
    val got = ZOrder.hilbertValue2D(
        (for { x <- 0 until 8; y <- 0 until 8 } yield (x.toLong, y.toLong))
          .toDF("x", "y"), $"x", $"y", bits = 3, out = "d")
      .select($"x", $"y", $"d").as[(Long, Long, Long)].collect()
    assert(got.map(_._3).sorted.toSeq == (0L until 64L), "bijection")
    got.sortBy(_._3).sliding(2).foreach { case Array(p, q) =>
      assert(math.abs(p._1 - q._1) + math.abs(p._2 - q._2) == 1,
        s"$p -> $q not neighbors")
    }
    // clusterByHilbert: bucket count and within-partition d-sort
    val parts = ZOrder.clusterByHilbert(
      (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
        .toDF("x", "y"),
      ($"x", 0.0, 64.0), ($"y", 0.0, 64.0), bits = 6, bucketBits = 4)
    assert(parts.rdd.getNumPartitions == 16)
    // Hilbert buckets bound both dims at quadrant width, like z-order
    val spans2 = ZOrder.hilbertValue2D(
        (for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong))
          .toDF("x", "y"),
        ZOrder.zCell($"x", 0, 64, 6), ZOrder.zCell($"y", 0, 64, 6),
        bits = 6, out = "d")
      .groupBy(ZOrder.zBucket($"d", 12, 4).as("bucket"))
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .as[(Long, Long, Long)].collect()
    assert(spans2.length == 16)
    spans2.foreach { case (b, xs, ys) =>
      assert(xs == 15L && ys == 15L, s"bucket $b bbox $xs x $ys") }
  }

  test("ngramContainment flags doc-in-doc inclusion Jaccard dilutes; " +
    "dedupContained keeps the container, ties keep the min id") {
    import graft.ops.Dedup
    val filler = (0 until 60).map(i => s"f$i").mkString(" ")
    val d = Seq(
      (1L, s"a b c d e $filler"), // container: the small doc + filler
      (2L, "a b c d e"),          // contained verbatim: cont = 1.0
      (3L, "z y x w v"),          // unrelated
      (4L, "z y x w v")           // exact twin of 3: tie on size
    ).toDF("doc_id", "text")
    val cont = Dedup.ngramContainment(d, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont((1L, 2L)) == 1.0, "wholesale inclusion scores 1.0")
    assert(cont((3L, 4L)) == 1.0)
    // symmetric Jaccard misses the same pair entirely
    val jac = Dedup.ngramJaccard(d, "doc_id", "text", 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "Jaccard dilutes inclusion")
    val kept = Dedup.dedupContained(d, "doc_id", "text", 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"container + first twin survive: $kept")
  }

  test("uniMaxMixture: hand-computed waterfilling — caps return slack, " +
    "budget conserves, surplus leaves everyone capped") {
    import graft.ops.Mixture
    def mk(n: Int, g: String, from: Long) =
      (0 until n).map(i => (from + i, g, Seq.fill(50)("w").mkString(" ")))
    // A: 100 tokens (2 docs), B: 1000 (20), C: 10000 (200); maxEpochs 2
    val d = (mk(2, "A", 0) ++ mk(20, "B", 100) ++ mk(200, "C", 1000))
      .toDF("doc_id", "src", "text")
    // budget 6000: asc caps (A 200, B 2000, C 20000);
    // A: min(200, 6000/3=2000) = 200 → rem 5800
    // B: min(2000, 5800/2=2900) = 2000 → rem 3800 (slack returned)
    // C: min(20000, 3800/1) = 3800 — budget exactly conserved
    val got = Mixture.uniMaxMixture(d, "src", "text", 6000L, 2.0)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("tokens"), r.getAs[Double]("quota"),
          r.getAs[Double]("epochs"))).toMap
    assert(got("A") == ((100L, 200.0, 2.0)))
    assert(got("B") == ((1000L, 2000.0, 2.0)))
    assert(got("C") == ((10000L, 3800.0, 0.38)))
    assert(got.values.map(_._2).sum == 6000.0, "budget conserved")
    // surplus budget: every source caps out at maxEpochs
    val sur = Mixture.uniMaxMixture(d, "src", "text", 1000000L, 2.0)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("epochs")).toMap
    assert(sur.values.forall(_ == 2.0), s"all capped: $sur")
    // epoched realization: A's epochs = 2.0 exactly → every A doc
    // emits exactly copies 0 and 1
    val re = Mixture.uniMaxRebalance(d, "doc_id", "src", "text", 6000L, 2.0)
    val aRows = re.filter($"src" === "A")
      .select("doc_id", "epoch").as[(Long, Long)].collect().sorted.toSeq
    assert(aRows == Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)))
  }

  test("hilbertValueND (Skilling): exhaustive bijection + unit-Manhattan " +
    "adjacency for (n,bits) in {(2,3),(3,2),(3,3),(4,2)}; starts at 0") {
    import graft.ops.ZOrder
    for ((n, bits) <- Seq((2, 3), (3, 2), (3, 3), (4, 2))) {
      val side = 1 << bits
      val total = 1L << (n * bits)
      val pts = (0L until total).map { k =>
        (0 until n).map(i => (k >> (i * bits)) & (side - 1)).toArray
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(pts.map(p =>
          org.apache.spark.sql.Row.fromSeq(p.toSeq)), 4),
        org.apache.spark.sql.types.StructType((0 until n).map(i =>
          org.apache.spark.sql.types.StructField(s"c$i",
            org.apache.spark.sql.types.LongType))))
      val got = ZOrder.hilbertValueND(df,
          (0 until n).map(i => col(s"c$i")), bits, out = "d")
        .collect().map(r => ((0 until n).map(i => r.getLong(i)).toVector,
          r.getAs[Long]("d")))
      assert(got.map(_._2).sorted.toSeq == (0L until total),
        s"(n=$n,bits=$bits) bijection")
      val byD = got.sortBy(_._2).map(_._1)
      assert(byD.head == Vector.fill(n)(0L), s"(n=$n,bits=$bits) origin")
      byD.sliding(2).foreach { case Array(p, q) =>
        val manh = p.zip(q).map { case (a, b) => math.abs(a - b) }.sum
        assert(manh == 1, s"(n=$n,bits=$bits) $p -> $q not neighbors")
      }
    }
    // clusterByHilbertND: partition count and bucket bbox tightness —
    // 3-D, 16 buckets over a 16^3 grid: each bucket spans at most half
    // the cube edge in every dimension (top-4 of 12 bits)
    val cube = (for { x <- 0 until 16; y <- 0 until 16; z <- 0 until 16 }
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    val parts = ZOrder.clusterByHilbertND(cube,
      Seq(($"x", 0.0, 16.0), ($"y", 0.0, 16.0), ($"z", 0.0, 16.0)),
      bits = 4, bucketBits = 4)
    assert(parts.rdd.getNumPartitions == 16)
    val spans = ZOrder.hilbertValueND(cube,
        Seq($"x", $"y", $"z"), bits = 4, out = "d")
      .groupBy(ZOrder.zBucket($"d", 12, 4).as("bucket"))
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"),
        (max($"z") - min($"z")).as("zs"))
      .as[(Long, Long, Long, Long)].collect()
    assert(spans.length == 16)
    spans.foreach { case (b, xs, ys, zs) =>
      assert(xs <= 8L && ys <= 8L && zs <= 8L,
        s"bucket $b bbox $xs x $ys x $zs") }
  }

  test("hilbertGate: the documented hazard (filter on the Hilbert key " +
    "in the SAME plan, n=3 bits=6) plans and completes through the " +
    "gate, under both pin strategies; values match the raw walk") {
    import graft.ops.{Materialize, ZOrder}
    // n=3, bits=6 is exactly the config that OOMed the optimizer when
    // the filter was pushed through the ungated walk (hilbertValueND
    // scaladoc). 500 spread points — the hazard is plan-time, not data.
    val pts = (0 until 500).map { i =>
      ((i * 7L) % 64, (i * 13L) % 64, (i * 29L) % 64) }
    val df = pts.toDF("x", "y", "z")
    val cells = Seq($"x", $"y", $"z")
    val cut = 1L << 15
    // expected: compute the walk WITHOUT any in-plan filter, cut locally
    val expect = ZOrder.hilbertValueND(df, cells, 6, "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("d")))
      .filter(_._4 < cut).sortBy(_._4).toSeq
    def run(): Seq[(Long, Long, Long, Long)] =
      ZOrder.hilbertGate(df, cells, 6, "d")
        .filter($"d" < cut).orderBy("d")
        .as[(Long, Long, Long, Long)].collect().toSeq
    assert(run() == expect, "gated filter under the default pin")
    val saved = Materialize.strategy
    try {
      Materialize.strategy = Materialize.Off
      assert(run() == expect, "gated filter under Materialize.Off " +
        "(lazy localCheckpoint arm)")
    } finally Materialize.strategy = saved
    // n = 2 routes through the canonical 2-D orientation
    val flat = pts.map(p => (p._1, p._2)).toDF("x", "y")
    val g2 = ZOrder.hilbertGate(flat, Seq($"x", $"y"), 6, "d")
      .orderBy("x", "y").as[(Long, Long, Long)].collect().toSeq
    val r2 = ZOrder.hilbertValue2D(flat, $"x", $"y", 6, "d")
      .orderBy("x", "y").as[(Long, Long, Long)].collect().toSeq
    assert(g2 == r2)
  }

  test("QualityClassifier: hand-computed GD trajectory; separating " +
    "feature gains weight; scores order by class; partitioning-" +
    "invariant; weights round-trip ModelStore") {
    import graft.ops.{ModelStore, QualityClassifier => QC}
    // 2 docs, bias + one feature x = ±2: with w = 0, σ = 0.5 exactly,
    // so g_bias = (0.5−1) + (0.5−0) = 0 and
    // g_x = ⌊2·(−0.5)·1e6 + ½⌋ + ⌊−2·0.5·1e6 + ½⌋ = −2e6
    // → w1 = (0, −0.5·(−2/2)) = (0, 0.5)
    val d = Seq((1L, 2.0, 1.0), (2L, -2.0, 0.0)).toDF("id", "x", "y")
    val feats = Seq(lit(1.0), col("x"))
    val w1 = QC.fitLogReg(d, feats, col("y"), iters = 1, lr = 0.5)
    assert(w1.toSeq == Seq(0.0, 0.5), s"got ${w1.toSeq}")
    val w3 = QC.fitLogReg(d, feats, col("y"), iters = 3, lr = 0.5)
    assert(w3(1) > 0.5 && w3(0) == 0.0,
      "separating feature must keep gaining weight; symmetric bias stays 0")
    // partitioning invariance (the long-sum gradient is exact)
    assert(QC.fitLogReg(d.repartition(7), feats, col("y"),
      iters = 3, lr = 0.5).toSeq == w3.toSeq)
    val scores = d.select(col("id"),
        QC.scoreCol(feats, w3.toSeq).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.5 && scores(2L) < 0.5)
    // persisted weights round-trip bit-for-bit
    val dir = java.nio.file.Files.createTempDirectory("qc").toString + "/w"
    ModelStore.saveModelTable(QC.weightsTable(spark, w3.toSeq), dir)
    assert(QC.loadWeights(ModelStore.loadModelTable(spark, dir, "pos"))
      .toSeq == w3.toSeq)
  }

  test("groupHoldout: group-atomic assignment, partitioning-stable, " +
    "expectation tracks the fraction") {
    import graft.ops.Mixture
    val df = (0 until 2000).map(i => (s"domain${i % 200}", i.toLong))
      .toDF("g", "id")
    val split = Mixture.groupHoldout(df, $"g", 0.3)
    // every group lands on exactly one side
    val sides = split.groupBy("g")
      .agg(countDistinct($"split").as("k")).as[(String, Long)].collect()
    assert(sides.forall(_._2 == 1L))
    // same assignment under a different partitioning
    val a = split.select("g", "split").distinct().as[(String, String)]
      .collect().toMap
    val b = Mixture.groupHoldout(df.repartition(13), $"g", 0.3)
      .select("g", "split").distinct().as[(String, String)].collect().toMap
    assert(a == b)
    // ~30% of the 200 groups in eval (portable hash, loose band)
    val evalGroups = a.count(_._2 == "eval")
    assert(evalGroups > 200 * 0.15 && evalGroups < 200 * 0.45,
      s"evalGroups=$evalGroups")
    // numeric group keys hash via their string form — deterministic
    val num = Mixture.groupHoldout(Seq(Tuple1(42L)).toDF("g"), $"g", 0.3)
      .select("split").as[String].collect().head
    assert(num == "eval" || num == "train")
  }

  test("URL canonicalization: case, userinfo, ports, tracking params, " +
    "fragments, IDN, non-URLs") {
    import graft.ops.Urls
    def canon(u: String): Option[String] =
      Seq(Tuple1(u)).toDF("u").select(Urls.canonicalizeUrl($"u")).collect()
        .headOption.flatMap(r => Option(r.getString(0)))
    assert(canon("HTTP://User@WWW.Ex.COM:80/Path?b=2&utm_source=x&a=1#f")
      == Some("http://www.ex.com/Path?a=1&b=2"))       // all steps at once
    assert(canon("https://example.org") == Some("https://example.org/"))
    assert(canon("https://ex.com:443/x") == Some("https://ex.com/x"))
    assert(canon("http://ex.com:8080/x") == Some("http://ex.com:8080/x"))
    assert(canon("http://MÜNCHEN.De/Straße") ==
      Some("http://münchen.de/Straße"))                // IDN lowercased, path case kept
    assert(canon("http://ex.com?utm_source=a&&gclid=1") ==
      Some("http://ex.com/"))                          // emptied query drops '?'
    assert(canon("not a url").isEmpty)
    assert(canon("/relative/path").isEmpty)
    // param sort collapses permuted duplicates to one canonical form
    assert(canon("http://e.com/p?a=1&b=2") == canon("http://e.com/p?b=2&a=1"))
  }

  test("registrable domain: eTLD+1, second-level suffixes, IPs, " +
    "short hosts; feeds per-domain capping") {
    import graft.ops.Urls
    val hosts = Seq("www.example.com", "a.b.example.co.uk", "example.co.uk",
      "co.uk", "192.168.0.1", "localhost", "sub.x.org")
    val got = hosts.toDF("h").select($"h", Urls.registrableDomain($"h"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "www.example.com" -> "example.com",
      "a.b.example.co.uk" -> "example.co.uk",
      "example.co.uk" -> "example.co.uk",
      "co.uk" -> "co.uk",          // the bare suffix is its own label set
      "192.168.0.1" -> "192.168.0.1",
      "localhost" -> "localhost",
      "sub.x.org" -> "x.org"))
    // the composition the operator exists for: cap documents per domain
    val crawl = Seq(
      (1L, "http://a.com/1"), (2L, "http://sub.a.com/2"), (3L, "http://a.com/3"),
      (4L, "http://b.org/1")).toDF("id", "url")
      .withColumn("domain", Urls.urlDomain($"url"))
    val capped = graft.ops.Mixture.capPerGroup(crawl, "id", "domain", 2)
    assert(capped.count() == 3) // a.com capped to 2 (hash-ordered pick), b.org kept
    assert(capped.filter($"domain" === "a.com").count() == 2)
  }

  /** reference Levenshtein for the differential below. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("editDistancePairs: blocked join equals brute-force all-pairs, " +
    "short strings and duplicates included") {
    // lengths straddle the q·(d+1)=6 short cutoff: "", "ab", "abc" are
    // short-block; words are gram-block; "ab"/"ax" share no 2-gram and
    // MUST come from the short block
    val keys = Seq("", "ab", "ax", "abc", "abd", "abcd",
      "red bolt", "hot bolt", "old bolt", "red gear", "red  bolt",
      "small ring", "small ringo", "smallring", "completely different",
      "red bolt") // duplicate value on distinct ids
    val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "k")
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(df, "id", "k", maxDist = d)
        .as[(Long, Long, Int)].collect().toSet
      val exp = (for {
        i <- keys.indices; j <- keys.indices if i < j
        dist = lev(keys(i), keys(j)) if dist <= d
      } yield (i.toLong, j.toLong, dist)).toSet
      assert(got == exp, s"maxDist=$d")
      assert(exp.exists { case (a, b, _) => keys(a.toInt).length < 6 &&
        keys(b.toInt).length < 6 }, "planted short-short pair missing from oracle")
    }
    // null keys match nothing
    val withNull = df.union(Seq((99L, null.asInstanceOf[String])).toDF("id", "k"))
    val gn = Dedup.editDistancePairs(withNull, "id", "k", maxDist = 2)
      .filter($"d1" === 99L || $"d2" === 99L).count()
    assert(gn == 0)
    // capped mode only ever drops pairs (recall trade, documented)
    val exact = Dedup.editDistancePairs(df, "id", "k", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    val capped = Dedup.editDistancePairs(df, "id", "k", maxDist = 2,
      dfCap = Some(2)).as[(Long, Long, Int)].collect().toSet
    assert(capped.subsetOf(exact))
    // bounded short-vocabulary probe fails fast
    val err = intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "id", "k", maxDist = 2, maxShortDistinct = 2)
    }
    assert(err.getMessage.contains("distinct keys shorter"))
  }

  test("weightedSample: matches the local A-Res replay; " +
    "non-positive/null weights carry no mass") {
    val rows = (0L until 300L).map(i => (i, ((i * 37) % 100 + 1).toDouble))
    val df = (rows ++ Seq((900L, 0.0), (901L, -5.0))).toDF("id", "w")
    def mixL(x: Long): Long =
      (((x % 2147483647L) * 2654435761L + 2246822519L) % 2147483647L) *
        2246822519L % 2147483647L
    val exp = rows.map { case (i, w) =>
      val u = (mixL(i) + 1).toDouble / 2147483647.0
      (i, BigDecimal(math.log(u) / w)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (i, k) => (-k, i) }.take(20)
      .zipWithIndex.map { case ((i, k), r) => (r + 1, i, k) }.toSet
    val got = graft.ops.Mixture.weightedSample(df, "id", col("w"), 20)
      .as[(Int, Long, Double)].collect().toSet
    assert(got == exp)
    assert(!got.exists { case (_, i, _) => i >= 900L })
  }

  test("weightedSamplePerGroup: each group draws independently (a " +
    "group's sample is invariant to other groups); short groups whole") {
    val rows = (0L until 200L).map(i =>
      (s"g${i % 3}", i, ((i * 37) % 100 + 1).toDouble)) ++
      Seq(("tiny", 500L, 2.0), ("tiny", 501L, 3.0))
    val df = rows.toDF("g", "id", "w")
    val got = graft.ops.Mixture
      .weightedSamplePerGroup(df, "g", "id", col("w"), n = 5)
      .as[(String, Int, Long, Double)].collect()
    val byG = got.groupBy(_._1)
    assert(byG("g0").length == 5 && byG("g1").length == 5 &&
      byG("g2").length == 5)
    assert(byG("tiny").map(_._3).toSet == Set(500L, 501L),
      "under-n group taken whole")
    // independence: dropping every other group leaves g0's draw intact
    val solo = graft.ops.Mixture.weightedSamplePerGroup(
        df.filter($"g" === "g0"), "g", "id", col("w"), n = 5)
      .as[(String, Int, Long, Double)].collect().toSet
    assert(solo == byG("g0").toSet)
    // per-group == global restricted to that group's rows
    val globalG0 = graft.ops.Mixture.weightedSample(
        df.filter($"g" === "g0"), "id", col("w"), 5)
      .as[(Int, Long, Double)].collect().map(r => ("g0", r._1, r._2, r._3))
    assert(globalG0.toSet == byG("g0").toSet)
  }

  test("temperatureMixture: hand-computed α=0.5 shares/targets/repeat; " +
    "α=1 is a no-op mixture") {
    val df = Seq(
      ("a", 1L, Seq.fill(90)("w").mkString(" ")),
      ("b", 2L, Seq.fill(10)("w").mkString(" "))
    ).toDF("src", "id", "text")
    // shares .9/.1; sqrt → .948683298/.316227766 (9 dp); z = 1.264911064
    // exact; targets .75/.25; repeat .75·100/90 = .833333 and 2.5
    val m = graft.ops.Mixture.temperatureMixture(df, "src", "text", 0.5)
      .orderBy("src")
      .select("src", "share", "target", "repeat", "rate")
      .as[(String, Double, Double, Double, Double)].collect()
    assert(m(0) == (("a", 0.9, 0.75, 0.833333, 0.833333)))
    assert(m(1) == (("b", 0.1, 0.25, 2.5, 1.0)))
    val id1 = graft.ops.Mixture.temperatureMixture(df, "src", "text", 1.0)
      .orderBy("src").select("target", "repeat")
      .as[(Double, Double)].collect()
    assert(id1.toSeq == Seq((0.9, 1.0), (0.1, 1.0)))
  }

  test("temperatureMixture: a sub-5e-7 share source keeps its sampling " +
    "mass (the power is taken on the unrounded ratio, not the 6-dp share)") {
    val big = Seq.fill(3000000)("w").mkString(" ")
    val df = Seq(("big", 1L, big), ("tiny", 2L, "w")).toDF("src", "id", "text")
    val m = graft.ops.Mixture.temperatureMixture(df, "src", "text", 0.5)
      .filter($"src" === "tiny")
      .select("share", "target", "repeat", "rate")
      .as[(Double, Double, Double, Double)].head()
    assert(m._1 == 0.0, "fixture must round the 6-dp share to zero")
    // pre-fix: share^α = 0 → target/repeat/rate all 0 and the epoched
    // realization silently DROPPED the source; the unrounded ratio keeps
    // α=0.5's low-resource upweighting alive (repeat ≫ 1 here)
    assert(m._2 > 0.0 && m._3 > 1.0 && m._4 > 0.0, s"got $m")
  }

  test("temperatureRebalance: epoched copies realize the repeat factors " +
    "exactly; α=1 is identity; maxRepeat truncates") {
    val df = ((0L until 9L).map(i => ("a", i, Seq.fill(10)("w").mkString(" "))) :+
      (("b", 100L, Seq.fill(10)("w").mkString(" ")))).toDF("src", "id", "text")
    val mixv = df.select($"id", graft.api.Frame.portableMix($"id"))
      .as[(Long, Long)].collect().toMap
    // repeats from the temperatureMixture hand-check: a .833333, b 2.5
    val rates = Map("a" -> 0.833333, "b" -> 2.5)
    def copies(g: String, id: Long): Long = {
      val r = rates(g); val nf = math.floor(r).toLong
      val thresh = math.round((r - math.floor(r)) * graft.api.Frame.MixM)
      nf + (if (mixv(id) < thresh) 1L else 0L)
    }
    val expected = (for {
      (g, id) <- Seq("a" -> 0L, "a" -> 1L, "a" -> 2L, "a" -> 3L, "a" -> 4L,
        "a" -> 5L, "a" -> 6L, "a" -> 7L, "a" -> 8L, "b" -> 100L)
      e <- 0L until copies(g, id)
    } yield (g, id, e)).toSet
    val got = graft.ops.Mixture
      .temperatureRebalance(df, "id", "src", "text", 0.5, maxRepeat = 8)
      .select("src", "id", "epoch").as[(String, Long, Long)].collect()
    assert(got.toSet == expected && got.length == expected.size)
    // b's doc upsamples (⌊2.5⌋ ≥ 2 copies); some a docs drop (rate < 1)
    assert(got.count(_._1 == "b") >= 2 && got.count(_._1 == "a") < 9)
    // α = 1: exactly one copy of every row, epoch 0
    val noop = graft.ops.Mixture
      .temperatureRebalance(df, "id", "src", "text", 1.0)
      .select("id", "epoch").as[(Long, Long)].collect()
    assert(noop.map(_._1).sorted.toSeq == (0L until 9L) :+ 100L)
    assert(noop.forall(_._2 == 0L))
    // maxRepeat = 2 caps b at exactly 2 whole copies (frac 0 → no extra)
    val capped = graft.ops.Mixture
      .temperatureRebalance(df, "id", "src", "text", 0.5, maxRepeat = 2)
      .filter($"src" === "b").select("epoch").as[Long].collect()
    assert(capped.sorted.toSeq == Seq(0L, 1L))
  }

  test("dedupNearCanonical: keeps the max-quality doc per cluster (not " +
    "min id), ties to min id, unpaired docs survive") {
    val qd = Seq(
      (0L, doc0Text, 5.0),
      (1L, doc0Text, 9.0), // exact dup of 0, highest quality → canonical
      (2L, "the quick brown fox jumps over the lazy cat again and again", 1.0),
      (3L, "completely different words describing an unrelated subject entirely here", 0.0),
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 4.0),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", 4.0)
    ).toDF("doc_id", "text", "q")
    val kept = Dedup.dedupNearCanonical(qd, "doc_id", "text", $"q", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 10L))
  }

  test("dedupNearCanonical: null quality loses the argmax but an " +
    "ALL-null cluster still keeps its min-id representative") {
    val qd = Seq(
      (0L, doc0Text, None: Option[Double]),
      (1L, doc0Text, Some(2.0)),           // only scored member → canonical
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        None: Option[Double]),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        None: Option[Double])               // all-null cluster → min id 10
    ).toDF("doc_id", "text", "q")
    val kept = Dedup.dedupNearCanonical(qd, "doc_id", "text", $"q", 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L), s"got $kept")
  }

  test("dedupNear* wrappers INHERIT the default bucket cap: a clique " +
    "past DefaultMaxBucket is suppressed through the end-to-end entry " +
    "points (every member survives), organic near-dups still dedup") {
    // r15: the r14 default cap landed on minhashLsh but the production
    // wrappers declared maxBucket = None and bypassed it — the exact
    // quadratic exposure the cap exists to close. This pins default
    // INHERITANCE: no explicit maxBucket anywhere below.
    val cliqueText = "replicated boilerplate page body shared by the " +
      "whole mirror farm with identical words throughout"
    val clique = (1 to Dedup.DefaultMaxBucket + 40).map(i =>
      (10_000L + i, cliqueText, 1.0))
    val organic = Seq(
      (1L, doc0Text, 1.0),
      (2L, doc0Text + " extra", 9.0), // near-dup of 1, higher quality
      (3L, "completely different words describing an unrelated subject entirely here", 0.0))
    val d = (clique ++ organic).toDF("doc_id", "text", "q")
    val keptC = Dedup.dedupNearCanonical(d, "doc_id", "text", $"q", 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptC.count(_ >= 10_000L) == Dedup.DefaultMaxBucket + 40,
      "suppressed clique must survive whole (wrapper recall contract)")
    assert(!keptC.contains(1L) && keptC.contains(2L) && keptC.contains(3L),
      s"organic cluster must still keep its argmax-quality doc: $keptC")
    val keptM = Dedup.dedupNearMinhash(d.select("doc_id", "text"),
        "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptM.count(_ >= 10_000L) == Dedup.DefaultMaxBucket + 40)
    assert(keptM.contains(1L) && !keptM.contains(2L) && keptM.contains(3L),
      s"organic cluster must still keep its min-id doc: $keptM")
  }

  test("dedupNearCanonical cap-vs-components differential: a planted " +
    ">cap clique is suppressed whole while None dedups it to one; " +
    "survivors outside the clique identical either way") {
    val cliqueText = "replicated boilerplate page body shared by the " +
      "whole mirror farm with identical words throughout"
    val clique = (1 to 60).map(i => (1_000L + i, cliqueText, i.toDouble))
    val organic = Seq(
      (1L, doc0Text, 1.0),
      (2L, doc0Text + " extra", 9.0),
      (3L, "completely different words describing an unrelated subject entirely here", 0.0))
    val d = (clique ++ organic).toDF("doc_id", "text", "q")
    val capped = Dedup.dedupNearCanonical(d, "doc_id", "text", $"q", 0.8,
        maxBucket = Some(20))
      .select("doc_id").as[Long].collect().toSet
    val open = Dedup.dedupNearCanonical(d, "doc_id", "text", $"q", 0.8,
        maxBucket = None)
      .select("doc_id").as[Long].collect().toSet
    assert(clique.forall(c => capped.contains(c._1)),
      "capped: clique suppressed → all members survive")
    assert(open.filter(_ >= 1_000L) == Set(1_060L),
      s"uncapped: argmax-quality member only: ${open.filter(_ >= 1_000L)}")
    assert(capped.filter(_ < 1_000L) == open.filter(_ < 1_000L),
      "survivors outside the clique must not depend on the cap")
  }

  test("exactCanonical: argmax-quality per identical key, ties to min " +
    "id, all-null group falls back to min id") {
    val d = Seq(
      (1L, "k1", Some(2.0)), (2L, "k1", Some(9.0)), (3L, "k1", Some(9.0)),
      (4L, "k2", None: Option[Double]), (5L, "k2", None: Option[Double]),
      (6L, "k3", Some(1.0))
    ).toDF("id", "k", "q")
    val kept = Dedup.exactCanonical(d, "id", "k", $"q")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 6L), s"got $kept")
  }

  test("exactFirst composition: an identical-text clique past the cap " +
    "is properly DEDUPED (not suppressed) through both wrappers; " +
    "under-cap shingled survivors equal the one-stage run; identical " +
    "sub-shingle docs additionally dedup (the documented strengthening)") {
    val cliqueText = "replicated boilerplate page body shared by the " +
      "whole mirror farm with identical words throughout"
    val clique = (1 to 60).map(i => (1_000L + i, cliqueText, i.toDouble))
    val organic = Seq(
      (1L, doc0Text, 1.0),
      (2L, doc0Text + " extra", 9.0),
      (3L, "completely different words describing an unrelated subject entirely here", 0.0),
      (20L, "tiny one", 5.0), (21L, "tiny one", 7.0)) // identical, sub-shingle
    val d = (clique ++ organic).toDF("doc_id", "text", "q")
    // min-id wrapper, cap 20 < clique 60: exactFirst collapses the
    // clique to its min id BEFORE banding, so suppression never fires
    val m = Dedup.dedupNearMinhash(d.select("doc_id", "text"), "doc_id",
        "text", 0.8, maxBucket = Some(20), exactFirst = true)
      .select("doc_id").as[Long].collect().toSet
    assert(m.filter(_ >= 1_000L) == Set(1_001L),
      s"clique must dedup to its min id, not survive suppressed: $m")
    assert(m.contains(1L) && !m.contains(2L) && m.contains(3L))
    assert(m.contains(20L) && !m.contains(21L),
      "identical sub-shingle docs dedup under exactFirst")
    // canonical wrapper: the clique collapses to its argmax-quality
    // member; the organic near-dup cluster still keeps its argmax
    val c = Dedup.dedupNearCanonical(d, "doc_id", "text", $"q", 0.8,
        maxBucket = Some(20), exactFirst = true)
      .select("doc_id").as[Long].collect().toSet
    assert(c.filter(_ >= 1_000L) == Set(1_060L),
      s"clique must keep its argmax-quality member: $c")
    assert(!c.contains(1L) && c.contains(2L) && c.contains(3L))
    assert(!c.contains(20L) && c.contains(21L),
      "canonical exactFirst keeps the higher-quality identical twin")
    // equivalence on a shingle-bearing under-cap corpus: identical
    // docs carry identical shingle sets, so exactFirst on/off agree
    val under = (clique.take(10) ++ organic.take(3))
      .toDF("doc_id", "text", "q").select("doc_id", "text")
    val a1 = Dedup.dedupNearMinhash(under, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    val a2 = Dedup.dedupNearMinhash(under, "doc_id", "text", 0.8,
        exactFirst = true)
      .select("doc_id").as[Long].collect().toSet
    assert(a1 == a2,
      s"exactFirst must not change under-cap shingled survivors: $a1 vs $a2")
  }

  test("suggestBucketCap: bimodal bucket distribution → cap above the " +
    "organic mode and below the clique mode; organic-only → None") {
    val cliqueText = "replicated boilerplate page body shared by the " +
      "whole mirror farm with identical words throughout"
    // 2000 organic docs with disjoint vocabularies → singleton (or
    // rare size-2) band buckets; one 500-doc identical clique → 32
    // size-500 buckets, a clean second mode past the gap factor
    val organic = (1 to 2000).map(i =>
      (i.toLong, s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"))
    val clique = (1 to 500).map(i => (100_000L + i, cliqueText))
    val cap = Dedup.suggestBucketCap(
      (organic ++ clique).toDF("doc_id", "text"), "doc_id", "text")
    assert(cap.isDefined, "bimodal distribution must yield a cap")
    assert(cap.get >= 1 && cap.get < 500,
      s"cap must sit between the organic and clique modes: $cap")
    // organic-only: unimodal, no clique evidence, no data-driven cap
    assert(Dedup.suggestBucketCap(
      organic.toDF("doc_id", "text"), "doc_id", "text").isEmpty)
    // the full diagnose→size→cap loop, exactly as the README recipe
    // spells it: feed the suggestion (default fallback) into the
    // wrapper with the exactFirst mitigation. The identical-text
    // clique folds to ONE representative in the exact pre-stage (so
    // the data-driven cap never has to suppress it) and the organic
    // docs — disjoint vocabularies, no pairs — all survive.
    val corpus = (organic ++ clique).toDF("doc_id", "text")
    val kept = Dedup.dedupNearMinhash(corpus, "doc_id", "text", 0.8,
        maxBucket = cap.orElse(Some(Dedup.DefaultMaxBucket)),
        exactFirst = true)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size == organic.size + 1 &&
      kept.count(_ > 100_000L) == 1,
      s"suggested-cap + exactFirst run must fold the clique to one " +
        s"rep and keep all organics: kept ${kept.size}")
  }

  test("capped-dedup session registry holds sessions WEAKLY: the " +
    "backing map is a WeakHashMap, so the registry never decides " +
    "session lifetime") {
    // A full GC-reachability test is NOT writable here: Spark's
    // active-session InheritableThreadLocal leaves strong copies in
    // long-lived pool threads (AQE/broadcast executors) that pin a
    // used session regardless of this registry, so collectability
    // can't be asserted from outside. What IS this module's contract —
    // the registry itself must not add a strong edge — is structural:
    // assert the set is backed by a WeakHashMap.
    // First make sure the registry is populated (a capped op on the
    // suite session registers it).
    val d = Seq((1L, doc0Text), (2L, doc0Text + " extra"))
      .toDF("doc_id", "text")
    assert(Dedup.minhashLsh(d, "doc_id", "text", 0.8).count() == 1L)
    def hidden(o: AnyRef, name: String): AnyRef = {
      var c: Class[_] = o.getClass
      var f: java.lang.reflect.Field = null
      while (f == null && c != null) {
        f = c.getDeclaredFields.find(_.getName == name).orNull
        if (f == null) c = c.getSuperclass
      }
      assert(f != null, s"field $name not found on ${o.getClass}")
      f.setAccessible(true) // build.sbt opens java.base/java.util
      f.get(o)
    }
    val regField = Dedup.getClass.getDeclaredFields
      .find(_.getName.toLowerCase.contains("observedsessions"))
    assert(regField.isDefined, "observedSessions registry field missing")
    regField.get.setAccessible(true)
    val synced = regField.get.get(Dedup)
    // Collections.synchronizedSet wrapper → backing collection "c"
    // (SetFromMap) → backing map "m"
    val backing = hidden(hidden(synced.asInstanceOf[AnyRef], "c"), "m")
    assert(backing.isInstanceOf[java.util.WeakHashMap[_, _]],
      s"registry backed by ${backing.getClass} — must be WeakHashMap so " +
        "dead sessions are collectable")
    assert(!backing.asInstanceOf[java.util.WeakHashMap[_, _]].isEmpty,
      "registry should contain the suite session after a capped op")
  }

  test("knBigramLmScore: hand-computed interpolated KN probabilities; " +
    "sub-bigram docs absent") {
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    // c(a,b)=2 c(a,c)=1; c(a)=3 fanout(a)=2; fanin(b)=fanin(c)=1; N11=2
    // P(b|a) = (max(2-.75,0) + .75·2·(1/2))/3 = 2/3; P(c|a) = (0.25+0.75)/3 = 1/3
    val got = TA.knBigramLmScore(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(got.length == 3)
    assert(got(0) == ((1L, 1L, -0.405465)) && got(1) == ((2L, 1L, -0.405465)))
    assert(got(2) == ((3L, 1L, -1.098612)))
  }

  test("pmiCollocations: hand-computed PMI, tie-break on (w1, w2), " +
    "support floor filters") {
    val corpus = Seq((1L, "x y x y"), (2L, "x z")).toDF("doc_id", "text")
    // uni x:3 y:2 z:1, NT=6; bigrams (x,y)×2 (y,x)×1 (x,z)×1, NB=4
    // pmi(x,y)=pmi(x,z)=ln 3→1.098612289; pmi(y,x)=ln 1.5→0.405465108
    val got = TA.pmiCollocations(corpus, "text", minCount = 1, k = 10)
      .as[(String, String, Long, Double)].collect()
    assert(got.toSeq == Seq(("x", "y", 2L, 1.098612289),
      ("x", "z", 1L, 1.098612289), ("y", "x", 1L, 0.405465108)))
    val floored = TA.pmiCollocations(corpus, "text", minCount = 2, k = 10)
      .as[(String, String, Long, Double)].collect()
    assert(floored.toSeq == Seq(("x", "y", 2L, 1.098612289)))
  }

  test("stripHtml: blocks drop wholesale, tags strip, entities decode " +
    "once, whitespace collapses") {
    val html = "<html><body class=\"m\"><p>Hello &amp; <b>world</b></p>" +
      "<script type=\"x\">var a=1; if(a<2){a=3;}</script>" +
      "<style>.x{color:red}</style><!-- note -->" +
      "<p>bye&nbsp;now &lt;tag&gt; it&#39;s &quot;q&quot; &amp;lt;</p></body></html>"
    val got = Seq(Tuple1(html)).toDF("t")
      .select(TA.stripHtml($"t").as("c")).as[String].collect().head
    // &amp;lt; un-escapes ONE level (to the literal "&lt;"), not two
    assert(got == "Hello & world bye now <tag> it's \"q\" &lt;")
    // unclosed script degrades to tag stripping, not data loss
    val got2 = Seq(Tuple1("a <script>x b")).toDF("t")
      .select(TA.stripHtml($"t").as("c")).as[String].collect().head
    assert(got2 == "a x b")
  }

  test("normalizeText: NFC composes, invisibles drop, typography folds, " +
    "space runs collapse, newlines survive") {
    def norm(s: String): String = Seq(Tuple1(s)).toDF("t")
      .select(TA.normalizeText($"t").as("c")).as[String].collect().head
    // decomposed e+combining-acute and A+combining-ring compose (NFC)
    assert(norm("Café Å") == "Café Å")
    // NBSP/thin space -> space; ZWSP/BOM/soft hyphen and BEL drop;
    // curly quotes, en/em dash, ellipsis fold to ASCII
    assert(norm("a b c ​d﻿e­fg") == "a b c defg")
    assert(norm("‘x’ “y” – — z…") ==
      "'x' \"y\" - - z...")
    // tab + space runs collapse to one space; spaces hugging a newline
    // strip but the newline itself survives (line-level ops need it)
    assert(norm("a\t  b  \n  c") == "a b\nc")
    // ASCII fixed point: already-clean text is untouched, and the pass
    // is idempotent on anything
    assert(norm("plain ascii text.") == "plain ascii text.")
    val once = norm("Café ‘ok’…")
    assert(norm(once) == once)
    // null propagates
    val n = Seq(Tuple1(null: String)).toDF("t")
      .select(TA.normalizeText($"t").as("c")).collect().head
    assert(n.isNullAt(0))
  }

  // ---- DSIR importance resampling ------------------------------------------

  private def mixL(x: Long): Long =
    (((x % 2147483647L) * 2654435761L + 2246822519L) % 2147483647L) *
      2246822519L % 2147483647L
  private def wordHashL(w: String): Long =
    mixL(w.foldLeft(7L)((a, c) => (a * 31 + c.toInt) % 2147483647L))
  private def ngramFeatsL(text: String, b: Int): Seq[Long] = {
    val ws = text.split(" ", -1).filter(_.nonEmpty).toSeq
    val uni = ws.map(w => wordHashL(w) % b)
    val bi = ws.sliding(2).filter(_.length == 2)
      .map(p => wordHashL(p(0) + " " + p(1)) % b).toSeq
    uni ++ bi
  }
  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dec6Sum(xs: Seq[Double]): Double =
    xs.map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  test("dsirLogWeights: matches the local hashed-ngram replay; " +
    "tokenless docs carry no weight; empty target is pure smoothing") {
    import graft.ops.Mixture
    val b = 64 // small → guaranteed collisions, the regime that matters
    val raw = Seq(
      (0L, "the quick brown fox"),
      (1L, "quick brown cows graze"),
      (2L, "slow green turtles crawl slow"),
      (3L, ""), // no tokens → no features → absent
      (4L, "the quick")).toDF("doc_id", "text")
    val tgt = Seq(
      (100L, "the quick brown fox runs"),
      (101L, "quick brown quick brown")).toDF("doc_id", "text")
    val rawRows = Seq(
      0L -> "the quick brown fox", 1L -> "quick brown cows graze",
      2L -> "slow green turtles crawl slow", 4L -> "the quick")
    val rawF = rawRows.map { case (i, t) => i -> ngramFeatsL(t, b) }
    val cr = rawF.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val ct = Seq("the quick brown fox runs", "quick brown quick brown")
      .flatMap(ngramFeatsL(_, b)).groupBy(identity).view.mapValues(_.size)
    val nr = cr.values.sum.toDouble
    val nt = ct.values.sum.toDouble
    def lam(bk: Long): Double =
      round9(math.log((ct.getOrElse(bk, 0) + 1.0) / (nt + b))) -
        round9(math.log((cr(bk) + 1.0) / (nr + b)))
    val exp = rawF.map { case (i, fs) =>
      (i, fs.size.toLong, dec6Sum(fs.map(lam))) }.toSet
    val got = Mixture.dsirLogWeights(raw, tgt, "doc_id", "text",
        buckets = b, alpha = 1.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == exp)
    assert(!got.exists(_._1 == 3L))
    // target docs that DO look like the target outscore ones that don't
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(0L) > byId(2L))
    // empty target: every bucket gets identical smoothing mass — runs,
    // stays finite, and ranks purely by raw-side rarity
    val noTgt = Mixture.dsirLogWeights(raw, tgt.limit(0), "doc_id", "text",
        buckets = b, alpha = 1.0)
      .as[(Long, Long, Double)].collect()
    assert(noTgt.length == 4 && noTgt.forall(r => !r._3.isNaN && !r._3.isInfinite))
  }

  test("dsirSample: Gumbel top-k matches the local replay and is " +
    "partitioning-invariant") {
    import graft.ops.Mixture
    val b = 64
    val raw = (0L until 200L)
      .map(i => (i, if (i % 3 == 0) "alpha beta gamma alpha beta gamma alpha beta gamma"
                    else "delta epsilon zeta delta epsilon zeta delta epsilon zeta"))
      .toDF("doc_id", "text")
    val tgt = Seq((900L, "alpha beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val lw = Mixture.dsirLogWeights(raw, tgt, "doc_id", "text", b, 1.0)
      .as[(Long, Long, Double)].collect()
    val exp = lw.map { case (i, _, w) =>
      val u = (mixL(i) + 1).toDouble / 2147483648.0
      (i, round9(w - math.log(-math.log(u))))
    }.sortBy { case (i, k) => (-k, i) }.take(25)
      .zipWithIndex.map { case ((i, k), r) => (r + 1, i, k) }.toSet
    val got = Mixture.dsirSample(raw, tgt, "doc_id", "text", n = 25,
      buckets = b).as[(Int, Long, Double)].collect().toSet
    assert(got == exp)
    val got13 = Mixture.dsirSample(raw.repartition(13), tgt, "doc_id",
      "text", n = 25, buckets = b).as[(Int, Long, Double)].collect().toSet
    assert(got13 == exp)
    // the logw gap between the two doc classes is tens of nats — far
    // beyond Gumbel noise — so the sample is all target-alike docs
    val alike = got.count { case (_, i, _) => i % 3 == 0 }
    assert(alike == 25, s"expected all target-alike, got $alike/25")
  }

  // ---- BM25 ranked retrieval ----------------------------------------------

  test("bm25TopK: matches the local Okapi replay; no-match docs absent; " +
    "duplicate query terms collapse") {
    val corpus = Seq(
      (0L, "apple banana apple cherry"),
      (1L, "banana banana banana"),
      (2L, "cherry date egg fig grape"),
      (3L, "unrelated words only here"),
      (4L, "")).toDF("doc_id", "text")
    val (k1v, bv) = (1.2, 0.75)
    val lens = Map(0L -> 4L, 1L -> 3L, 2L -> 5L, 3L -> 4L, 4L -> 0L)
    val avgdl = dec6Sum(lens.values.map(_.toDouble).toSeq) / 5
    val tf = Map((0L, "apple") -> 2L, (0L, "banana") -> 1L,
      (1L, "banana") -> 3L)
    val dfreq = Map("apple" -> 1L, "banana" -> 2L)
    def s(id: Long, t: String): Double = {
      val idf = round9(math.log(1.0 + (5 - dfreq(t) + 0.5) / (dfreq(t) + 0.5)))
      val raw = idf * (tf((id, t)) * (k1v + 1.0)) /
        (tf((id, t)) + (lens(id) * bv / avgdl + (1.0 - bv)) * k1v)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val perDoc = Seq(
      (0L, 2L, dec6Sum(Seq(s(0L, "apple"), s(0L, "banana")))),
      (1L, 1L, dec6Sum(Seq(s(1L, "banana")))))
    val exp = perDoc.sortBy { case (i, _, sc) => (-sc, i) }
      .zipWithIndex.map { case ((i, n, sc), r) => (r + 1, i, sc, n) }.toSet
    val got = TA.bm25TopK(corpus, "doc_id", "text",
        Seq("apple", "banana"), k = 10)
      .as[(Int, Long, Double, Long)].collect().toSet
    assert(got == exp)
    assert(!got.exists { case (_, i, _, _) => i >= 2L })
    val dup = TA.bm25TopK(corpus, "doc_id", "text",
        Seq("apple", "apple", "banana"), k = 10)
      .as[(Int, Long, Double, Long)].collect().toSet
    assert(dup == exp)
  }

  // ---- reciprocal-rank fusion ---------------------------------------------

  test("rrfFuse: sums 1/(K+rank) over appearing lists, ties break by id, " +
    "n_lists counts membership") {
    import graft.ops.Mixture
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val l1 = Seq((10L, 1), (11L, 2), (20L, 3)).toDF("doc_id", "rank")
    val l2 = Seq((12L, 1), (10L, 2), (21L, 3)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(l1, l2), "doc_id", k = 10)
      .as[(Int, Long, Double, Long)].collect().toSet
    val expScores = Map(
      10L -> dec6Sum(Seq(1.0 / 61, 1.0 / 62)),
      11L -> r6(1.0 / 62),
      12L -> r6(1.0 / 61),
      20L -> r6(1.0 / 63),
      21L -> r6(1.0 / 63))
    val expLists = Map(10L -> 2L, 11L -> 1L, 12L -> 1L, 20L -> 1L, 21L -> 1L)
    val exp = expScores.toSeq.sortBy { case (i, sc) => (-sc, i) }
      .zipWithIndex
      .map { case ((i, sc), r) => (r + 1, i, sc, expLists(i)) }.toSet
    assert(got == exp)
    // the tied pair (20, 21) at 1/63 lands in id order
    val ranks = got.map(r => r._2 -> r._1).toMap
    assert(ranks(20L) + 1 == ranks(21L))
    // both-list agreement beats any single-list entry here
    assert(ranks(10L) == 1)
  }

  // ---- token-budget mixture selection --------------------------------------

  test("tokenBudgetSelect: greedy fill in portable order; crossing doc " +
    "kept; short group taken whole; zero budget drops; exact boundary") {
    import graft.ops.Mixture
    // explicit priority column → the selection order is under test
    // control; ids 1..6 in group a with 10 tokens each, priority = id.
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L),
      (4L, "a", 10L), (5L, "a", 10L), (6L, "a", 10L),
      (7L, "b", 5L), (8L, "b", 5L),
      (9L, "c", 100L)).toDF("id", "g", "nt")
    def run(buds: Map[String, Long]) =
      Mixture.tokenBudgetSelect(df, "id", "g", col("nt"), buds,
          priority = Some(col("id").cast("double")))
        .as[(String, Long, Long, Long)].collect().toSet
    // budget 25 in a: docs 1 (cb 0), 2 (cb 10), 3 (cb 20 < 25 — the
    // crossing doc is KEPT) — doc 4 (cb 30) is not. b taken whole.
    assert(run(Map("a" -> 25L, "b" -> 100L)) == Set(
      ("a", 1L, 10L, 0L), ("a", 2L, 10L, 10L), ("a", 3L, 10L, 20L),
      ("b", 7L, 5L, 0L), ("b", 8L, 5L, 5L)))
    // exact boundary: budget 20 → doc 3 has cb 20, NOT < 20 → excluded
    assert(run(Map("a" -> 20L)).map(_._2) == Set(1L, 2L))
    // zero budget = group dropped; absent group = dropped
    assert(run(Map("a" -> 0L, "c" -> 1L)) == Set(("c", 9L, 100L, 0L)))
  }

  test("tokenBudgetSelect: zero-token docs are free; default priority " +
    "matches the portable mixer; partitioning-invariant") {
    import graft.ops.Mixture
    val rows = (0L until 40L).map(i =>
      (i, "s", if (i % 4 == 0) 0L else (i % 7) + 1L))
    val df = rows.toDF("id", "g", "nt")
    val b = Map("s" -> 30L)
    val got = Mixture.tokenBudgetSelect(df, "id", "g", col("nt"), b)
      .as[(String, Long, Long, Long)].collect().toSet
    // local replay with the same mixer arithmetic
    def mixL(x: Long): Long =
      (((x % 2147483647L) * 2654435761L + 2246822519L) % 2147483647L) *
        2246822519L % 2147483647L
    val ordered = rows.sortBy { case (i, _, _) => (mixL(i), i) }
    val cumBefore = ordered.map(_._3).scanLeft(0L)(_ + _)
    val exp = ordered.zip(cumBefore).collect {
      case ((i, _, nt), cb) if cb < 30L => ("s", i, nt, cb)
    }
    assert(got == exp.toSet)
    // the prefix contains at least one zero-token doc, selected for free
    assert(exp.exists(_._3 == 0L))
    // partitioning invariance
    val got12 = Mixture.tokenBudgetSelect(df.repartition(12), "id", "g",
        col("nt"), b)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got12 == got)
  }

  // ---- deterministic sharded export ----------------------------------------

  test("shardManifest: membership/token/fingerprint replay; order-" +
    "independent; sensitive to edits, re-ids, drops") {
    import graft.ops.Shard
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "delta"), (2L, ""),
      (3L, "epsilon zeta"), (4L, "eta theta iota kappa"),
      (5L, "lambda"), (6L, "mu nu"), (7L, "xi"), (8L, "omicron pi"))
    val df = docs.toDF("doc_id", "text")
    val got = Shard.shardManifest(df, "doc_id", "text", 4)
      .as[(Int, Long, Long, Long)].collect().toSet
    def mixL(x: Long): Long =
      (((x % 2147483647L) * 2654435761L + 2246822519L) % 2147483647L) *
        2246822519L % 2147483647L
    def charPoly(s: String): Long =
      // split("", "") is [""] with ascii("") = 0 — the pinned empty-
      // string convention (CountMinSpec's "" parity)
      if (s.isEmpty) 7L * 31
      else s.foldLeft(7L)((a, c) => (a * 31 + c.toInt) % 2147483647L)
    val exp = docs.groupBy { case (i, _) => (mixL(i) % 4).toInt }
      .map { case (sh, ds) =>
        (sh, ds.size.toLong,
          ds.map(d => d._2.split(" ", -1).length.toLong).sum,
          ds.map(d => mixL(mixL(charPoly(d._2)) * 31 + mixL(d._1))).sum
            % 2147483647L)
      }.toSet
    assert(got == exp)
    // row order can't matter (order-independent sum)
    val shuffled = scala.util.Random.shuffle(docs).toDF("doc_id", "text")
    assert(Shard.shardManifest(shuffled.repartition(5), "doc_id", "text", 4)
      .as[(Int, Long, Long, Long)].collect().toSet == got)
    // an edit, a re-id, and a drop each change that shard's fingerprint
    def fps(d: org.apache.spark.sql.DataFrame) =
      Shard.shardManifest(d, "doc_id", "text", 4)
        .as[(Int, Long, Long, Long)].collect()
        .map(r => r._1 -> r._4).toMap
    val base = fps(df)
    val edited = fps(docs.map { case (i, t) =>
      (i, if (i == 1L) "delta EDITED" else t) }.toDF("doc_id", "text"))
    assert(edited((mixL(1L) % 4).toInt) != base((mixL(1L) % 4).toInt))
    val dropped = fps(docs.filterNot(_._1 == 4L).toDF("doc_id", "text"))
    assert(dropped((mixL(4L) % 4).toInt) != base((mixL(4L) % 4).toInt))
  }

  test("writeShards: round trip preserves membership and the portable " +
    "within-shard order; manifest matches read-back") {
    import graft.ops.Shard
    val docs = (0L until 60L).map(i => (i, s"doc $i content word$i"))
    val df = docs.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards")
      .toString
    val manifest = Shard.writeShards(df, "doc_id", "text", 4, dir)
      .as[(Int, Long, Long, Long)].collect().toSet
    val back = spark.read.parquet(dir)
    // membership: every doc is in its mix(id) % 4 shard
    def mixL(x: Long): Long =
      (((x % 2147483647L) * 2654435761L + 2246822519L) % 2147483647L) *
        2246822519L % 2147483647L
    val mem = back.select("doc_id", "shard").as[(Long, Int)].collect()
    assert(mem.length == 60)
    mem.foreach { case (i, sh) => assert(sh == (mixL(i) % 4).toInt) }
    // within-shard file order is (shard_key, id) — parquet preserves
    // row order per file, shards are single-partition dirs here
    (0 until 4).foreach { sh =>
      val rows = spark.read.parquet(s"$dir/shard=$sh")
        .select("doc_id", "shard_key").as[(Long, Long)].collect()
      val expOrder = rows.sortBy { case (i, k) => (k, i) }
      assert(rows.toSeq == expOrder.toSeq, s"shard $sh order")
      // shard_key is the double mix
      rows.foreach { case (i, k) => assert(k == mixL(mixL(i) + 1L)) }
    }
    // manifest of the read-back equals the write-time manifest
    val backM = Shard.shardManifest(
        back.select("doc_id", "text"), "doc_id", "text", 4)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(backM == manifest)
  }

  test("semanticDecontaminate drops exactly the corpus rows with a " +
    "same-cell eval twin above threshold") {
    // cells around two orthogonal centroids; corpus 10/11 near c0,
    // 12 near c1; eval 90 ≈ corpus 10 (contaminated), eval 91 near c1
    // but far from 12 in cosine.
    val vecs = Seq(
      (100L, Array(1f, 0f, 0f, 0f)),   // centroid c0 stand-in lives in corpus too
      (10L, Array(0.9f, 0.1f, 0f, 0f)),
      (11L, Array(0.8f, -0.3f, 0f, 0f)),
      (12L, Array(0f, 0f, 1f, 0.1f)),
      (90L, Array(0.9f, 0.11f, 0f, 0f)),  // eval: cos vs 10 ≈ 1
      (91L, Array(0f, 0f, -1f, 0.9f))     // eval: same cell as 12, cos < 0
    ).toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 0f, 1f, 0f)))
      .toDF("cid", "embedding")
    val corpus = vecs.filter($"vec_id" < 50)
    val eval = vecs.filter($"vec_id" >= 50)
    val kept = Similarity.semanticDecontaminate(
        corpus, eval, centroids, "vec_id", "embedding", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L)) // 10 AND 100 contaminated by 90; 11 under τ
    // threshold below 12↔91's cosine? cos(12,91) is negative — still kept
    val keptLoose = Similarity.semanticDecontaminate(
        corpus, eval, centroids, "vec_id", "embedding", threshold = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(keptLoose.contains(12L))
  }

  test("tokenKlDivergence: identical-distribution group scores ~0, " +
    "disjoint-vocab group scores high, decomposition matches direct sum") {
    val df = Seq(
      ("a", "x x y"), ("a", "y z"),
      ("b", "x x y y z"),             // same unigram distribution as corpus-ish
      ("c", "q q q r r")              // disjoint vocabulary
    ).toDF("source", "text")
    val got = graft.ops.Mixture.tokenKlDivergence(df, "source", "text")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a")._2 == 5L && got("a")._3 == 3L)
    assert(got("c")._4 > got("b")._4)  // disjoint vocab diverges most
    assert(got.values.forall(_._4 > -1e-6)) // KL ≥ 0 up to rounding
    // direct full-vocab sum (double precision) agrees to ~1e-5
    val toks = df.select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0).as[(String, String)].collect()
    val corpus = toks.groupBy(_._2).view.mapValues(_.size).toMap
    val bigN = toks.size.toDouble; val bigV = corpus.size.toDouble
    for ((g, rec) <- got) {
      val gt = toks.filter(_._1 == g).groupBy(_._2).view.mapValues(_.size).toMap
      val ng = gt.values.sum.toDouble
      val kl = corpus.keys.toSeq.map { w =>
        val p = (gt.getOrElse(w, 0) + 1.0) / (ng + bigV)
        val q = (corpus(w) + 1.0) / (bigN + bigV)
        p * math.log(p / q)
      }.sum
      assert(math.abs(kl - rec._4) < 1e-4, s"group $g: $kl vs ${rec._4}")
    }
  }

  test("weightedPercentiles: cumulative-weight thresholds, exact " +
    "on-boundary tie-break, and null/non-positive weights drop") {
    val df = Seq(
      ("g", 1L, 1.0), ("g", 2L, 1.0), ("g", 3L, 2.0), // W = 4
      ("g", 4L, 0.0),                                  // zero weight drops
      ("h", 10L, 3.0), ("h", 20L, 1.0)
    ).toDF("grp", "v", "w")
    val got = graft.api.Stats.weightedPercentiles(
        df, "grp", $"v", $"w", Seq(0.25, 0.5, 0.75, 1.0))
      .as[(String, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // g: cum 1|2|4 of W=4 → 0.25→1 (exactly on boundary), 0.5→2, 0.75→3, 1→3
    assert(got(("g", 0.25)) == 1L)
    assert(got(("g", 0.5)) == 2L)
    assert(got(("g", 0.75)) == 3L)
    assert(got(("g", 1.0)) == 3L)
    // h: cum 3|4 of W=4 → 0.5→10, 1.0→20
    assert(got(("h", 0.5)) == 10L && got(("h", 1.0)) == 20L)
  }

  test("robustZOutliers flags the planted outlier and survives a " +
    "constant group (MAD = 0)") {
    val rows = (1L to 11L).map(i => ("a", i, i.toDouble)) :+
      (("a", 99L, 1000.0)) // planted
    val const = (1L to 5L).map(i => ("c", 100L + i, 7.0))
    val df = (rows ++ const).toDF("grp", "id", "x")
    val got = graft.api.Stats.robustZOutliers(df, "grp", $"x")
      .select($"id", $"rz", $"is_outlier")
      .as[(Long, Option[Double], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(99L)._3, "planted outlier flagged")
    assert((1L to 11L).forall(i => !got(i)._3), "inliers unflagged")
    assert((101L to 105L).forall(i => got(i)._2.isEmpty && !got(i)._3),
      "constant group: null rz, not flagged")
    // null-group rows keep (null rz, false flag) instead of vanishing
    val withNull = df.union(Seq((null.asInstanceOf[String], 500L, 3.0))
      .toDF("grp", "id", "x"))
    val gotN = graft.api.Stats.robustZOutliers(withNull, "grp", $"x")
      .select($"id", $"rz", $"is_outlier")
      .as[(Long, Option[Double], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(gotN.size == 18 && gotN(500L)._2.isEmpty && !gotN(500L)._3)
  }

  test("pageRank: mass conserves, dangling sinks redistribute, chain " +
    "orders by depth; degrees counts both sides") {
    import graft.ops.Graph
    // chain 1→2→3 plus hub 4→{2,3}: 3 is highest (two in-paths + depth)
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 2L), (4L, 3L))
      .toDF("s", "t")
    val pr = Graph.pageRank(edges, "s", "t", iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, "mass conserved")
    assert(pr(3L) > pr(2L) && pr(2L) > pr(1L), "depth ordering")
    assert(math.abs(pr(1L) - pr(4L)) < 1e-12, "sources symmetric")
    val deg = Graph.degrees(edges, "s", "t")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(deg(4L) == (2L, 0L) && deg(2L) == (1L, 2L) && deg(3L) == (0L, 2L))
    // duplicate edges dedupe: adding a repeat changes nothing
    val pr2 = Graph.pageRank(edges.union(Seq((1L, 2L)).toDF("s", "t")),
      "s", "t", iterations = 10).as[(Long, Double)].collect().toMap
    assert(pr2 == pr)
    // STRING node ids (the domain-graph use case) rank identically —
    // a long cast would silently null them into an empty result
    val sEdges = Seq(("a.com", "b.com"), ("b.com", "c.com"),
      ("d.com", "b.com"), ("d.com", "c.com")).toDF("s", "t")
    val sPr = Graph.pageRank(sEdges, "s", "t", iterations = 10)
      .as[(String, Double)].collect().toMap
    assert(sPr.keySet == Set("a.com", "b.com", "c.com", "d.com"))
    assert(sPr("c.com") == pr(3L) && sPr("b.com") == pr(2L),
      "isomorphic graph, identical ranks")
    // exact rows, as the per-iteration join-and-pin loop gave them: a
    // self-loop (5→5), a multi-edge (1→2 twice), NULL endpoints (the
    // 6→NULL and NULL→7 edges drop, so 6 and 7 are not nodes) and a
    // dangling sink (3); 10 iterations and 1; the same rows for 1 or 3
    // input partitions and 1 or 7 shuffle partitions
    val odd = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), Some(3L)), (Some(4L), Some(2L)), (Some(4L), Some(3L)),
      (Some(5L), Some(5L)), (Some(1L), Some(2L)), (Some(6L), None),
      (None, Some(7L)), (Some(5L), Some(1L))).toDF("s", "t")
    val want10 = Seq(1L -> 0.154251968447, 2L -> 0.257521472954,
      3L -> 0.345287505723, 4L -> 0.08868708443, 5L -> 0.154251968447)
    val want1 = Seq(1L -> 0.149, 2L -> 0.319, 3L -> 0.319, 4L -> 0.064,
      5L -> 0.149)
    def prRows(df: org.apache.spark.sql.DataFrame, iterations: Int) =
      Graph.pageRank(df, "s", "t", iterations).orderBy("node")
        .as[(Long, Double)].collect().toSeq
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions")
    for (parts <- Seq(1, 3); p <- Seq(1, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        val in = odd.repartition(parts)
        assert(prRows(in, 10) == want10, s"$parts input, $p shuffle partitions")
        assert(prRows(in, 1) == want1, s"$parts input, $p shuffle partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", shuffleWidth)
    }
    assert(prRows(Seq.empty[(Long, Long)].toDF("s", "t"), 4).isEmpty)
  }

  test("Materialize.Reliable: iterative ops survive the reliable-" +
    "checkpoint strategy with identical results (the cluster posture)") {
    import graft.ops.{Graph, Materialize, Mixture, Packing}
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 2L), (4L, 3L)).toDF("s", "t")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val local = Graph.pageRank(edges, "s", "t", iterations = 6)
      .as[(Long, Double)].collect().toMap
    val ccLocal = graft.ops.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // MMR (no pins) and the two range-partitioned prefix sums
    // (pinGate: their partition ids must agree across branches) return
    // the same rows under every strategy
    val cands = (0L until 12L).map { i =>
      (i % 2, i, 1.0 / (1 + i), Seq(math.sin(i.toDouble), math.cos(i.toDouble), i % 3 / 3.0))
    }.toDF("qid", "nid", "rel", "vec")
    val docs = (0L until 60L).map(i => (i, if (i % 3 == 0) "a" else "b", i % 11 + 1))
      .toDF("id", "g", "nt").repartition(4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(df.columns.map(col): _*).collect().toSeq
    def strategyOps() = Seq(
      rows(Similarity.mmrDiversify(cands, "qid", "nid", "rel", "vec", k = 4)),
      rows(Packing.packConcat(docs, "id", col("nt"), maxLen = 16)),
      rows(Mixture.tokenBudgetSelect(docs, "id", "g", col("nt"),
        Map("a" -> 40L, "b" -> 90L))))
    val opsLocal = strategyOps()
    assert(opsLocal.forall(_.nonEmpty))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
      .toString
    Materialize.strategy = Materialize.Reliable(dir)
    try {
      val rel = Graph.pageRank(edges, "s", "t", iterations = 6)
        .as[(Long, Double)].collect().toMap
      assert(rel == local, "reliable pageRank bit-identical")
      val ccRel = graft.ops.Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(ccRel == ccLocal, "reliable connectedComponents identical")
      assert(strategyOps() == opsLocal, "reliable mmr/pack/budget identical")
      // checkpoint files actually landed in the reliable dir
      def countFiles(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(countFiles(java.nio.file.Paths.get(dir)) > 0,
        "reliable strategy wrote DFS checkpoints")
      // Off runs too (pure lineage — tiny input)
      Materialize.strategy = Materialize.Off
      val off = Graph.pageRank(edges, "s", "t", iterations = 3)
        .as[(Long, Double)].collect().toMap
      assert(math.abs(off.values.sum - 1.0) < 1e-9)
      assert(strategyOps() == opsLocal, "Off mmr/pack/budget identical")
    } finally Materialize.strategy = Materialize.Local
  }

  test("Materialize.pin labels its job with the calling frame, even when " +
    "the caller's class name contains \"Materialize\"") {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.job.description"))
          .foreach(descs.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (pinned, line) = new MaterializeLabelProbe().pinHere(spark.range(100).toDF())
      val want = s"pin @ MaterializeLabelProbe.pinHere:$line"
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!descs.contains(want) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(descs.contains(want), s"job descriptions seen: $descs")
      assert(pinned.count() == 100)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("perceptual hashes: real decode→grid path; near-identical images " +
    "pair at small hamming distance, unrelated don't; corrupt → null") {
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, rgbAt: (Int, Int) => Int): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgbAt(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    // a 64x64 gradient scene, a slightly-perturbed copy (a few pixels
    // poked), and a structurally different scene
    def scene(x: Int, y: Int): Int = { val v = (x * 4) & 0xFF; v * 0x010101 }
    val a = png(64, 64, scene)
    val b = png(64, 64, (x, y) =>
      if (x == 10 && y < 3) 0xFFFFFF else scene(x, y))
    val c = png(64, 64, (x, y) => { val v = (y * 4) & 0xFF; v * 0x010101 })
    val packed = Seq((1L, a), (2L, b), (3L, c), (4L, "junk".getBytes))
      .toDF("doc_id", "payload")
    val grids = Multimodal.decodeLumaGrid(packed, 9, 7)
    // the typed decode's whole-stage codegen must compile: with fallback
    // off, a Janino failure throws instead of running interpreted
    val fallback = "spark.sql.codegen.fallback"
    spark.conf.set(fallback, "false")
    try assert(grids.collect().length == 4)
    finally spark.conf.unset(fallback)
    val gmap = grids.collect().map(r => r.getLong(0) -> r).toMap
    assert(gmap(4L).isNullAt(1), "corrupt payload → null grid")
    assert(gmap(1L).getSeq[Double](1).length == 63)
    val hashes = grids.filter($"pixels".isNotNull)
      .select($"doc_id", Multimodal.aHash($"pixels").as("ah"),
        Multimodal.dHash($"pixels").as("dh"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(hashes.values.forall(h => h._1 >= 0L && h._2 >= 0L),
      "63-bit signatures stay non-negative")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hashes(1L)._1, hashes(2L)._1) <= 6, "perturbed copy close")
    assert(ham(hashes(1L)._1, hashes(3L)._1) > 10, "different scene far")
    // end-to-end pairing: pigeonhole blocking finds exactly the planted pair
    val pairs = Multimodal.imageNearDupPairs(grids, "doc_id", "pixels",
      maxDist = 6).as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // blocking is lossless vs brute force at the same cutoff
    val all = hashes.keys.toSeq.combinations(2).map(_.sorted).count {
      case Seq(x, y) => ham(hashes(x)._1, hashes(y)._1) <= 6 }
    assert(pairs.length == all)
  }

  test("aHash/dHash: a null slot in a containsNull grid nulls the " +
    "signature instead of hashing an undefined value") {
    // array() built from a when() has containsNull=true slots
    val grid = (0 until 63).map(i => lit(i.toDouble))
    val holed = (0 until 63).map(i =>
      when(lit(i) === 5 && $"poke", lit(null)).otherwise(lit(i.toDouble)))
    val df = Seq(true, false).toDF("poke")
      .select($"poke", array(holed: _*).as("px"), array(grid: _*).as("ok"))
    val got = df.select($"poke",
        Multimodal.aHash($"px").as("ah"), Multimodal.dHash($"px").as("dh"),
        Multimodal.aHash($"ok").as("ah2"), Multimodal.dHash($"ok").as("dh2"))
      .collect().map(r => r.getBoolean(0) -> r).toMap
    assert(got(true).isNullAt(1) && got(true).isNullAt(2),
      "null slot → null signature")
    assert(!got(false).isNullAt(1) && !got(false).isNullAt(2),
      "no null slot → hashes fine even with containsNull type")
    assert(got(false).getLong(1) == got(false).getLong(3) &&
      got(false).getLong(2) == got(false).getLong(4),
      "containsNull scan does not change the hash of a clean grid")
  }

  test("spanCorruption: exact rate on full chunks, short docs pass " +
    "through, and (input, target) losslessly reconstruct the original") {
    import graft.ops.Masking
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, mk(45)), (2L, mk(7)), (3L, mk(20)))
      .toDF("doc_id", "text")
    val got = Masking.spanCorruption(df, "doc_id", "text",
        chunk = 10, spanLen = 2)
      .select($"doc_id", $"text", $"n_tokens", $"n_masked", $"input", $"target")
      .as[(Long, String, Int, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: 45 tokens → 4 full chunks × 2 masked; trailing 5 untouched
    assert(got(1L)._4 == 8L)
    // doc 2: shorter than a chunk → untouched, empty target
    assert(got(2L)._4 == 0L && got(2L)._5 == got(2L)._2 && got(2L)._6 == "")
    // doc 3: exactly two chunks → two spans, sentinels numbered 0 and 1
    assert(got(3L)._4 == 4L && got(3L)._5.contains("<extra_id_0>") &&
      got(3L)._5.contains("<extra_id_1>"))
    // reconstruction: splice each sentinel's target tokens back in
    for ((_, r) <- got) {
      val spans = raw"<extra_id_(\d+)> ((?:(?!<extra_id_)\S+ ?)*)".r
        .findAllMatchIn(r._6)
        .map(m => m.group(1).toInt -> m.group(2).trim).toMap
      val rebuilt = r._5.split(" ").flatMap { t =>
        raw"<extra_id_(\d+)>".r.findFirstMatchIn(t) match {
          case Some(m) => spans(m.group(1).toInt).split(" ").toSeq
          case None => Seq(t)
        }
      }.mkString(" ")
      assert(rebuilt == r._2, s"doc ${r._1} reconstructs")
    }
    // a NULL id has no mixer seed: doc passes through unmasked and
    // n_masked says 0 (not the full-chunk closed form)
    val nullId = Masking.spanCorruption(
        Seq((Option.empty[Long], mk(45))).toDF("doc_id", "text"),
        "doc_id", "text", chunk = 10, spanLen = 2)
      .select($"n_masked", $"input", $"target").as[(Long, String, String)]
      .head()
    assert(nullId == ((0L, mk(45), "")), "null id → untouched, n_masked 0")
  }

  test("trained language ID: char-trigram NB profiles classify held-out " +
    "text by character inventory; trigram-free docs predict unk") {
    // two synthetic "languages" with disjoint character inventories —
    // the trigram profiles must separate them perfectly
    val train = Seq(
      ("xx", "abc cab bca abcabc"), ("xx", "cba bac acb abba"),
      ("yy", "xyz zyx yxz xyzxyz"), ("yy", "zxy yzx xzy xyyx"),
      (null.asInstanceOf[String], "unlabeled noise dropped")
    ).toDF("lang", "text")
    val prof = TA.fitLangProfiles(train, "lang", "text", buckets = 64)
    assert(prof.count() == 2 * 64, "ALL buckets emit per language")
    assert(prof.filter($"logp" >= 0).isEmpty, "log-probs are negative")
    val held = Seq((1L, "ababab cbacba"), (2L, "zzzyx xyxy"),
      (3L, "ab"), (4L, "")).toDF("doc_id", "text")
    val got = TA.predictLangTrained(held, "doc_id", "text", prof,
        buckets = 64)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "xx", 2L -> "yy", 3L -> "unk", 4L -> "unk"))
    // scores: every (doc, lang) pair scores once, exactly 2 langs per doc
    val sc = TA.scoreLangProfiles(held, "doc_id", "text", prof, buckets = 64)
    assert(sc.groupBy("doc_id").count().as[(Long, Long)].collect().toMap ==
      Map(1L -> 2L, 2L -> 2L))
    // margin: confident docs get best − second; trigram-free docs absent
    val marg = TA.langIdMargin(held, "doc_id", "text", prof, buckets = 64)
      .as[(Long, String, Double)].collect().map(r => r._1 -> r).toMap
    assert(marg.keySet == Set(1L, 2L), "only scored docs carry confidence")
    assert(marg(1L)._2 == "xx" && marg(1L)._3 > 0, "positive margin")
    val scm = sc.as[(Long, String, Double)].collect()
      .filter(_._1 == 1L).map(_._3).sorted.reverse
    assert(math.abs(marg(1L)._3 - (scm(0) - scm(1))) == 0.0,
      "margin is exactly best - second")
  }

  test("hardNegatives: same-group and self rows excluded, skip band " +
    "drops the presumed-positive head, ranks re-base to 1") {
    // group A anchors; B/C corpus laid out so cosine order is knowable
    val rows = Seq(
      (1L, Array(1.0f, 0.0f), "A"),          // anchor
      (2L, Array(0.99f, 0.14f), "A"),        // same group — never a negative
      (10L, Array(0.98f, 0.2f), "B"),        // most similar cross-group
      (11L, Array(0.9f, 0.44f), "B"),
      (12L, Array(0.7f, 0.71f), "C"),
      (13L, Array(0.3f, 0.95f), "C"),
      (14L, Array(0.0f, 1.0f), "B")
    ).toDF("vec_id", "embedding", "source")
    val got = graft.ops.Similarity.hardNegatives(
        rows.filter($"vec_id" === 1), rows, "vec_id", "embedding",
        "source", k = 2, skipTop = 1)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    // cross-group cosine order: 10 > 11 > 12 > 13 > 14; skip 1 → (11, 12)
    assert(got.map(g => (g._2, g._3)).toSeq == Seq((1, 11L), (2, 12L)))
    assert(got.forall(g => g._3 != 2L && g._3 != 1L), "no same-group/self")
    // skipTop = 0 keeps the head
    val noSkip = graft.ops.Similarity.hardNegatives(
        rows.filter($"vec_id" === 1), rows, "vec_id", "embedding",
        "source", k = 2)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(noSkip.map(_._3).toSeq == Seq(10L, 11L))
  }

  test("splitSentences + sentenceDupStats: boundary runs, trimming, " +
    "and cross-doc repeated-sentence flags") {
    val df = Seq(
      (1L, "Accept cookies to continue. The weather is nice today! Done."),
      (2L, "Accept cookies to continue. A completely original thought?"),
      (3L, "No terminator at all"),
      (4L, "Multiple!!! Terminators... stay attached. Accept cookies to continue.")
    ).toDF("doc_id", "text")
    val sents = df.select($"doc_id", TA.splitSentences($"text").as("ss"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sents(1L) == Seq("Accept cookies to continue.",
      "The weather is nice today!", "Done."))
    assert(sents(3L) == Seq("No terminator at all"))
    assert(sents(4L).head == "Multiple!!!")
    assert(sents(4L)(1) == "Terminators...")
    val stats = TA.sentenceDupStats(df, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // "Accept cookies to continue." appears in docs 1, 2, 4
    assert(stats(1L)._3 == 1L && stats(1L)._2 == 3L)
    assert(stats(2L)._3 == 1L)
    assert(stats(3L)._3 == 0L)
    assert(stats(4L)._3 == 1L && stats(4L)._4 == 0.25)
  }

  test("scriptProfile: per-class fractions sum to 1, non-Latin scripts " +
    "counted, empty text → null profile") {
    val df = Seq(
      (1L, "Hello 42 world!"),
      (2L, "Привет мир"),          // Cyrillic + one space
      (3L, "中文 text こんにちは"), // CJK + latin + kana (kana → other)
      (4L, "")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TA.scriptProfile($"text").as("sp"))
      .select($"doc_id", $"sp.latin", $"sp.digit", $"sp.space",
        $"sp.punct_ascii", $"sp.cyrillic", $"sp.cjk", $"sp.arabic", $"sp.other")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(math.abs((1 to 8).map(r1.getDouble).sum - 1.0) < 1e-5,
      "classes partition the text")
    assert(r1.getDouble(2) == math.rint(2.0 / 15 * 1e6) / 1e6) // "42"
    assert(got(2L).getDouble(5) == math.rint(9.0 / 10 * 1e6) / 1e6)
    assert(got(3L).getDouble(6) > 0 && got(3L).getDouble(8) > 0)
    assert(got(4L).isNullAt(1), "empty text → null profile")
  }

  test("fleschReadingEase matches the published formula on a known " +
    "sentence and degrades for long-word text") {
    val df = Seq(
      (1L, "The cat sat on the mat."),
      (2L, "Incomprehensibility characterizes interdisciplinary " +
        "neuropharmacological investigations.")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TA.fleschReadingEase($"text"))
      .as[(Long, Double)].collect().toMap
    // doc 1: 6 words, 1 sentence, vowel groups: e,a,a,o,e,a = 6
    val exp1 = 206.835 - 1.015 * 6.0 - 84.6 * (6.0 / 6.0)
    assert(math.abs(got(1L) - exp1) < 1e-6)
    assert(got(2L) < got(1L), "polysyllabic text reads harder")
  }

  test("chunkBySentences: whole sentences per chunk, boundary only " +
    "overflows by the tail, document order preserved") {
    val text = (1 to 6).map(i => s"Sentence number $i has five words.")
      .mkString(" ") // 6 sentences × 6 tokens
    val df = Seq((1L, text), (2L, "Short.")).toDF("doc_id", "text")
    val got = TA.chunkBySentences(df, "doc_id", "text", maxTokens = 13)
      .orderBy("doc_id", "chunk_ix")
      .as[(Long, Int, Long, Long, String)].collect()
    val d1 = got.filter(_._1 == 1L)
    // quota rule: sentence i joins chunk floor(6i/13): s0,s1,s2→0 (0,6,12),
    // s3,s4→1 (18,24), s5→2 (30)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0, 3L, 18L), (1, 2L, 12L), (2, 1L, 6L)))
    assert(d1.head._5 ==
      "Sentence number 1 has five words. Sentence number 2 has five words. " +
      "Sentence number 3 has five words.")
    val d2 = got.filter(_._1 == 2L)
    assert(d2.toSeq == Seq((2L, 0, 1L, 1L, "Short.")))
  }

  test("mmrRerank equals bruteForceTopK joined back to its vectors and " +
    "fed to mmrDiversify, with tied scores and several queries") {
    // 60 rows of 3-d float vectors; every direction appears several
    // times, so cosine ties are common and break on the smaller id
    val corpus = (0L until 60L).map { i =>
      (i, Seq((i % 4).toFloat, ((i * 7) % 5).toFloat, 1.0f))
    }.toDF("id", "v").repartition(5)
    val queries = corpus.filter($"id".isin(3L, 10L, 41L))
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions")
    for (p <- Seq(1, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        val short = Similarity.bruteForceTopK(queries, corpus, "id", "v", k = 12)
          .join(corpus.select($"id".as("nid"), $"v"), Seq("nid"))
        val want = Similarity.mmrDiversify(short, "qid", "nid", "cos", "v",
            k = 4, lambda = 0.6).orderBy("qid", "rank")
          .as[(Long, Int, Long, Double)].collect().toSeq
        val got = Similarity.mmrRerank(queries, corpus, "id", "v",
            shortlist = 12, k = 4, lambda = 0.6).orderBy("qid", "rank")
          .as[(Long, Int, Long, Double)].collect().toSeq
        assert(want.size == 12 && got == want, s"$p shuffle partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", shuffleWidth)
    }
  }

  test("mmrDiversify: relevance-max first, then a diverse pick over a " +
    "near-duplicate; per-query independence") {
    // query direction (1,0,0): a is most relevant, b a near-dup of a,
    // c less relevant but diverse. With heavy diversity weight
    // (λ = 0.3), rank 2 must be c, not b.
    def rel(v: Array[Double]) =
      v(0) / math.sqrt(v.map(x => x * x).sum)
    val a = Array(0.9, 0.1, 0.0); val b = Array(0.9, 0.11, 0.0)
    val c = Array(0.5, 0.0, 0.6)
    val cands = Seq(
      (7L, 1L, rel(a), a.toSeq), (7L, 2L, rel(b), b.toSeq),
      (7L, 3L, rel(c), c.toSeq),
      // second query: only two candidates, reversed relevance
      (8L, 4L, 0.9, Seq(0.0, 1.0, 0.0)), (8L, 5L, 0.95, Seq(0.0, 0.0, 1.0))
    ).toDF("qid", "nid", "rel", "vec")
    val got = Similarity.mmrDiversify(cands, "qid", "nid", "rel", "vec",
        k = 3, lambda = 0.3)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(7L) == Seq(1L, 3L, 2L), "diverse c beats near-dup b at rank 2")
    assert(got(8L) == Seq(5L, 4L), "second query ranked independently")
    // with λ = 1 (pure relevance) the order is plain top-k
    val pure = Similarity.mmrDiversify(cands.filter($"qid" === 7), "qid",
        "nid", "rel", "vec", k = 3, lambda = 1.0)
      .orderBy("rank").as[(Long, Int, Long, Double)].collect().map(_._3).toSeq
    assert(pure == Seq(1L, 2L, 3L))
    // STRING ids rank identically
    val sCands = cands.withColumn("nid", concat(lit("doc-"), $"nid"))
    val sGot = Similarity.mmrDiversify(sCands, "qid", "nid", "rel", "vec",
        k = 3, lambda = 0.3)
      .filter($"qid" === 7).orderBy("rank")
      .as[(Long, Int, String, Double)].collect().map(_._3).toSeq
    assert(sGot == Seq("doc-1", "doc-3", "doc-2"))
    // edge inputs, expected rows as the k-round distributed loop gave
    // them: an exact round-1 tie, broken toward the smaller id under
    // each id type's own order (9 < 10, but "doc-10" < "doc-9"); k above
    // every group's candidate count; a NULL-rel candidate (never picked)
    // and a NULL-vec one (NULL max-sim after round 1, never picked);
    // each qid spread over several input partitions
    val edge = Seq(
      (20L, 10L, Some(0.5), Seq(1.0, 0.0)), (20L, 9L, Some(0.5), Seq(0.0, 1.0)),
      (20L, 11L, Some(0.4), Seq(1.0, 1.0)),
      (21L, 1L, None, Seq(1.0, 0.0, 0.0)), (21L, 2L, Some(0.8), Seq(0.0, 1.0, 0.0)),
      (21L, 3L, Some(0.6), Seq(0.6, 0.0, 0.8)),
      (22L, 4L, Some(0.9), Seq(1.0, 0.0)), (22L, 5L, Some(0.5), null),
      (22L, 6L, Some(0.3), Seq(0.5, 0.5))
    ).toDF("qid", "nid", "rel", "vec").repartition(3)
    val sEdge = edge.withColumn("nid", concat(lit("doc-"), $"nid"))
    def mmr(df: org.apache.spark.sql.DataFrame, k: Int) =
      Similarity.mmrDiversify(df, "qid", "nid", "rel", "vec", k = k)
        .orderBy("qid", "rank")
    def longRows(df: org.apache.spark.sql.DataFrame, k: Int) =
      mmr(df, k).as[(Long, Int, Long, Double)].collect().toSeq
    def stringRows(df: org.apache.spark.sql.DataFrame, k: Int) =
      mmr(df, k).as[(Long, Int, String, Double)].collect().toSeq
    val edgeWant = Seq((20L, 1, 9L, 0.35), (20L, 2, 10L, 0.35),
      (20L, 3, 11L, 0.067868), (21L, 1, 2L, 0.56), (21L, 2, 3L, 0.42),
      (22L, 1, 4L, 0.63), (22L, 2, 6L, -0.002132))
    val sEdgeWant = Seq((20L, 1, "doc-10", 0.35), (20L, 2, "doc-9", 0.35),
      (20L, 3, "doc-11", 0.067868), (21L, 1, "doc-2", 0.56),
      (21L, 2, "doc-3", 0.42), (22L, 1, "doc-4", 0.63),
      (22L, 2, "doc-6", -0.002132))
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions")
    for (p <- Seq(1, 7)) {
      spark.conf.set("spark.sql.shuffle.partitions", p.toString)
      try {
        assert(longRows(edge, 5) == edgeWant, s"$p shuffle partitions")
        assert(stringRows(sEdge, 5) == sEdgeWant, s"$p shuffle partitions")
      } finally spark.conf.set("spark.sql.shuffle.partitions", shuffleWidth)
    }
    // a zero-norm vector divides by zero in round 2: DIVIDE_BY_ZERO
    // under ANSI (the session default); without ANSI its cosine is NULL,
    // nothing is left to pick, and the group ends after round 1
    val zero = Seq((23L, 7L, 0.9, Seq(1.0, 0.0)), (23L, 8L, 0.5, Seq(0.0, 0.0)))
      .toDF("qid", "nid", "rel", "vec")
    val err = intercept[Exception](longRows(zero, 2))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO")), err)
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(longRows(zero, 2) == Seq((23L, 1, 7L, 0.63)))
      assert(longRows(edge, 5) == edgeWant)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("intervalOverlap: bucketed equi-join is lossless vs the direct " +
    "theta join, incl. multi-bucket pairs and key separation") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    // key 1: a long interval overlapping two shorts (one via several
    // shared buckets); key 2: same times, must not join to key 1
    val left = Seq(
      (1L, 10L, ts(0), ts(30)), (1L, 11L, ts(45), ts(50)),
      (2L, 12L, ts(0), ts(30))
    ).toDF("k", "l_id", "l_s", "l_e")
    val right = Seq(
      (1L, 20L, ts(25), ts(40)),  // overlaps 10 in buckets 25..30
      (1L, 21L, ts(31), ts(44)),  // gap: touches neither (30 < 31, 44 < 45)
      (1L, 22L, ts(50), ts(55)),  // touches 11 at the closed boundary
      (2L, 23L, ts(29), ts(33))   // overlaps 12 but only on key 2
    ).toDF("k", "r_id", "r_s", "r_e")
    val got = graft.ops.RangeJoin.intervalOverlap(left, right, "k",
        "l_id", "r_id", "l_s", "l_e", "r_s", "r_e",
        bucketWidthMicros = 5L * 60 * 1000000)
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    val expected = for {
      (lk, li, ls, le) <- Set((1L, 10L, 0, 30), (1L, 11L, 45, 50),
        (2L, 12L, 0, 30))
      (rk, ri, rs, re) <- Set((1L, 20L, 25, 40), (1L, 21L, 31, 44),
        (1L, 22L, 50, 55), (2L, 23L, 29, 33))
      if lk == rk && ls <= re && rs <= le
    } yield (li, ri)
    assert(got == expected)
    assert(got == Set((10L, 20L), (11L, 22L), (12L, 23L)))
    // multi-bucket meeting dedupes: exactly one row per pair
    val rows = graft.ops.RangeJoin.intervalOverlap(left, right, "k",
        "l_id", "r_id", "l_s", "l_e", "r_s", "r_e",
        bucketWidthMicros = 60L * 1000000) // 1-min buckets → many shared
      .select($"l_id", $"r_id").collect()
    assert(rows.length == rows.distinct.length && rows.length == 3)
    // cap <= 0 would make the bucket sequence DESCEND (implicit -1
    // step) — rejected up front on both range-join entry points
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.intervalOverlap(left, right, "k",
        "l_id", "r_id", "l_s", "l_e", "r_s", "r_e",
        bucketWidthMicros = 60L * 1000000, maxBucketsPerInterval = Some(0))
    }
    intercept[IllegalArgumentException] {
      graft.ops.RangeJoin.pointInInterval(
        left.select($"k", $"l_id", $"l_s".as("ts")),
        right.select($"k", $"r_id", $"r_s", $"r_e"), "k",
        "ts", "r_s", "r_e",
        bucketWidthMicros = 60L * 1000000, maxBucketsPerInterval = Some(-1))
    }
  }

  test("winsorize clamps exactly at the group band and leaves " +
    "mid-band values untouched") {
    val df = ((1 to 20).map(i => ("a", i.toLong, i.toDouble)) :+
      (("b", 100L, 5.0))).toDF("grp", "id", "x")
    val got = graft.api.Stats.winsorize(df, "grp", $"x",
        lo = 0.1, hi = 0.9, out = "w")
      .select($"id", $"w").as[(Long, Double)].collect().toMap
    // group a: p10 of 1..20 = 2.9, p90 = 18.1 (interpolated)
    assert(math.abs(got(1L) - 2.9) < 1e-9 && math.abs(got(2L) - 2.9) < 1e-9)
    assert(math.abs(got(20L) - 18.1) < 1e-9)
    assert(got(10L) == 10.0, "mid-band untouched")
    assert(got(100L) == 5.0, "single-value group maps to itself")
    // null-group rows pass through unclamped instead of vanishing
    val withNull = df.union(Seq((null.asInstanceOf[String], 999L, 77.0))
      .toDF("grp", "id", "x"))
    val gotN = graft.api.Stats.winsorize(withNull, "grp", $"x",
        lo = 0.1, hi = 0.9, out = "w")
      .select($"id", $"w").as[(Long, Double)].collect().toMap
    assert(gotN.size == 22 && gotN(999L) == 77.0, "null group kept, unclamped")
  }

  test("semanticDedupIncremental: drops only new rows with a seen " +
    "same-cell twin; new-new duplicates both survive; maxCell skips") {
    val centroids = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("cid", "embedding")
    val seen = Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(0.9f, 0.1f)),   // dup of seen 1
      (11L, Array(0.88f, 0.12f)), // near-dup of seen 1
      (12L, Array(1f, -0.5f)),    // same cell, dissimilar
      (13L, Array(0.2f, 0.8f)),   // dup-ish of seen 2
      (14L, Array(0.21f, 0.8f))   // new-new near-dup of 13: BOTH judged vs seen only
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedupIncremental(batch, seen, centroids,
        "vec_id", "embedding", threshold = 0.995)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(12L), "dissimilar same-cell row survives")
    assert(!kept.contains(10L) && !kept.contains(11L), "seen twins drop")
    // 13/14 vs seen 2: cos(0.2,0.8 ; 0.1,0.9) ≈ 0.986 < 0.995 → both keep
    assert(kept.contains(13L) && kept.contains(14L),
      "new-new near-dups are not each other's judges")
    // maxCell=0 skips EVERY seen cell (each holds one vector, 1 > 0)
    // → no seen row judges anything, so 10/11 keep too
    val keptCap = Similarity.semanticDedupIncremental(batch, seen, centroids,
        "vec_id", "embedding", threshold = 0.995, maxCell = Some(0))
      .select("vec_id").as[Long].collect().toSet
    assert(keptCap == Set(10L, 11L, 12L, 13L, 14L),
      "capped seen cells judge nothing")
  }

  test("cTfIdfTopTerms: a cluster-exclusive term outranks a shared " +
    "common term; ranks and scores are deterministic") {
    val df = Seq(
      ("a", "common common common alpha alpha"),
      ("a", "common alpha beta"),
      ("b", "common common gamma gamma gamma delta")
    ).toDF("source", "text")
    val got = TA.cTfIdfTopTerms(df, "source", "text", k = 2)
      .as[(String, Int, String, Double, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._5)).toMap
    // cluster a: alpha (tf 3, exclusive) must outrank common (tf 4, shared)
    assert(got(("a", 1))._1 == "alpha" && got(("a", 1))._2 == 3L)
    assert(got(("b", 1))._1 == "gamma" && got(("b", 1))._2 == 3L)
    // shared 'common' scores identically-per-tf in both clusters
    val all = TA.cTfIdfTopTerms(df, "source", "text", k = 10)
      .as[(String, Int, String, Double, Long)].collect()
    val ca = all.find(r => r._1 == "a" && r._3 == "common").get
    val cb = all.find(r => r._1 == "b" && r._3 == "common").get
    assert(ca._4 / ca._5 == cb._4 / cb._5, "same per-occurrence idf weight")
  }

  test("groupOverlapMatrix: identical slices score 1, disjoint score 0, " +
    "within-group duplicate grams count once") {
    val df = Seq(
      ("a", "one two three four"),      // trigrams: {1-2-3, 2-3-4}
      ("a", "one two three four"),      // duplicate doc: vocab unchanged
      ("b", "one two three four"),      // identical vocabulary
      ("c", "five six seven eight"),    // disjoint
      ("d", "one two three nine")       // shares 1 of 2 with a/b
    ).toDF("source", "text")
    val got = Dedup.groupOverlapMatrix(df, "source", "text", n = 3)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got(("a", "b"))._6 == 1.0 && got(("a", "b"))._3 == 2L,
      "identical vocabularies, dup docs counted once")
    assert(!got.contains(("a", "c")), "disjoint pair absent (no shared gram)")
    assert(got(("a", "d")) == ("a", "d", 2L, 2L, 1L, 0.333333))
  }

  test("lshTune: every factorization scored, chosen is the cost argmin, " +
    "and weighting fn higher buys more bands (recall protection)") {
    val t = Dedup.lshTune(spark, 0.8, 64).collect()
    assert(t.map(r => r.getInt(0) * r.getInt(1)).forall(_ == 64),
      "bands*rows must equal numPerms on every row")
    assert(t.length == 7, "divisor pairs of 64")
    val costs = t.map(_.getDouble(4))
    val chosen = t.filter(_.getBoolean(5))
    assert(chosen.nonEmpty &&
      chosen.forall(_.getDouble(4) == costs.min), "chosen = cost argmin")
    // extremes are never optimal at a mid threshold: b=1 (one giant
    // band = AND of all perms, misses everything) and b=64 (r=1:
    // candidate iff ANY single perm matches, floods the verify join)
    assert(!chosen.exists(r => r.getInt(0) == 1 || r.getInt(0) == 64))
    val lax = Dedup.lshPickParams(spark, 0.8, 64, fpWeight = 0.9,
      fnWeight = 0.1)
    val strict = Dedup.lshPickParams(spark, 0.8, 64, fpWeight = 0.1,
      fnWeight = 0.9)
    assert(strict._1 >= lax._1,
      s"fn-heavy weighting must not pick fewer bands: $strict vs $lax")
    // the pick is minhashLsh-compatible by construction
    val (b, r) = Dedup.lshPickParams(spark, 0.8, 64)
    assert(b * r == 64 && b >= 1)
  }

  test("corpusReport: dup rate, token mass, and percentiles per source") {
    val df = Seq(
      (1L, "a b c", "en", "s1", 5L), (2L, "a b c", "en", "s1", 5L),
      (3L, "d e", "de", "s1", 3L), (4L, "f", "en", "s2", 1L),
      (5L, "g h i j", "fr", "s2", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.ops.Report.corpusReport(df).collect()
      .map(r => r.getString(0) -> r).toMap
    val s1 = got("s1")
    assert(s1.getLong(1) == 3 && s1.getLong(2) == 8) // docs, tokens 3+3+2
    assert(s1.getLong(7) == 2, "two distinct texts in s1")
    assert(s1.getDouble(9) == round9(1.0 - 2.0 / 3.0), "dup rate 1/3")
    assert(s1.getLong(8) == 2, "langs en+de")
    val s2 = got("s2")
    assert(s2.getLong(1) == 2 && s2.getDouble(9) == 0.0)
    assert(s2.getDouble(5) == 4.0, "p50 of {1,7} interpolates to 4")
  }

  test("exactIncremental edge cases: dup keys, seen overlap, null keys, " +
    "empty sides") {
    import org.apache.spark.sql.DataFrame
    val batch = Seq(
      (1L, Option("aa")), (2L, Option("aa")),   // in-batch dup, unseen
      (3L, Option("bb")),                       // seen → drop
      (4L, Option("cc")),                       // unseen
      (5L, Option.empty[String]),               // null key: exact() drops —
      (6L, Option.empty[String]),               //   its semi join can't match
      (7L, Option("dd"))                        // seen → drop
    ).toDF("id", "k")
    val seen = Seq("bb", "dd", "zz").toDF("k")
    def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSet
    val kept = Dedup.exactIncremental(batch, seen, "id", "k")
    assert(ids(kept) == Set(1L, 4L))
    // the anti join on the key puts the key column first
    assert(kept.columns.toSeq == Seq("k", "id"))
    // empty seen index: everything new
    assert(ids(Dedup.exactIncremental(batch, seen.filter(lit(false)),
      "id", "k")) == Set(1L, 3L, 4L, 7L))
    // empty batch: empty out
    assert(Dedup.exactIncremental(batch.filter(lit(false)), seen,
      "id", "k").count() == 0)
  }

  test("removeRepeatedLinesPerGroup: group-scoped boilerplate, cross-" +
    "group singletons survive, minFrac scales, keepEmpty restores") {
    val df = Seq(
      // host A: "nav" in 3/3 docs, "foot" in 2/3
      (1L, "A", "nav\nalpha\nfoot"),
      (2L, "A", "nav\nbeta\nfoot"),
      (3L, "A", "nav\ngamma"),
      // host B: "nav" appears in ONE doc only → stays (group scope)
      (4L, "B", "nav\ndelta"),
      (5L, "B", "epsilon\nzeta"),
      (6L, "B", "epsilon\neta")                 // "epsilon" in 2/3 of B
    ).toDF("id", "host", "txt")
    def textOf(got: Array[org.apache.spark.sql.Row]) =
      got.map(r => r.getLong(0) -> r.getString(2)).toMap
    val byCount = textOf(Dedup.removeRepeatedLinesPerGroup(
      df, "id", "host", "txt").orderBy("id").collect())
    assert(byCount(1L) == "alpha" && byCount(2L) == "beta" &&
      byCount(3L) == "gamma", "A's nav+foot are group boilerplate")
    assert(byCount(4L) == "nav\ndelta",
      "nav occurs once in B — group scope keeps it")
    assert(byCount(5L) == "zeta" && byCount(6L) == "eta")
    // minFrac = 0.9: "foot" (2/3 of A) and "epsilon" (2/3 of B) now
    // BELOW the fraction bar; only A's nav (3/3) is removed
    val byFrac = textOf(Dedup.removeRepeatedLinesPerGroup(
      df, "id", "host", "txt", minFrac = Some(0.9)).orderBy("id").collect())
    assert(byFrac(1L) == "alpha\nfoot" && byFrac(3L) == "gamma")
    assert(byFrac(5L) == "epsilon\nzeta")
    // all-boilerplate doc: drops without keepEmpty, '' with it
    val allBp = Seq((1L, "A", "x"), (2L, "A", "x"), (3L, "A", "y\nz"))
      .toDF("id", "host", "txt")
    val dropped = Dedup.removeRepeatedLinesPerGroup(allBp, "id", "host", "txt")
    assert(dropped.count() == 1)
    val kept = Dedup.removeRepeatedLinesPerGroup(allBp, "id", "host", "txt",
      keepEmpty = true).orderBy("id").collect()
    assert(kept.length == 3 && kept(0).getString(2) == "" &&
      kept(1).getString(2) == "" && kept(2).getString(2) == "y\nz")
  }

  test("removeRepeatedLinesPerGroup: keepEmpty restores a NULL-group " +
    "doc's kept text (null-safe restore join), and minFrac's " +
    "denominator is distinct docs, not rows") {
    // NULL-group doc 7 has no boilerplate evidence → keeps every line;
    // before the null-safe restore, keepEmpty's (id, group) equi join
    // never matched null and blanked it to ''
    val df = Seq(
      (1L, Option("A"), "nav\nalpha"),
      (2L, Option("A"), "nav\nbeta"),
      (7L, Option.empty[String], "nav\nomega")
    ).toDF("id", "host", "txt")
    val got = Dedup.removeRepeatedLinesPerGroup(df, "id", "host", "txt",
        keepEmpty = true).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) == "alpha" && got(2L) == "beta")
    assert(got(7L) == "nav\nomega",
      s"null-group doc must keep its text under keepEmpty, got ${got(7L)}")
    // minFrac bar on distinct docs: host A has 3 distinct docs (doc 1
    // duplicated → 4 rows); "nav" sits in 2/3 distinct docs = 0.667 ≥
    // 0.6 → removed. A row-count denominator (4) would demand
    // ceil(2.4)=3 occurrences and silently keep it.
    val dup = Seq(
      (1L, "A", "nav\na"), (1L, "A", "nav\na"),
      (2L, "A", "nav\nb"), (3L, "A", "c")
    ).toDF("id", "host", "txt")
    val byFrac = Dedup.removeRepeatedLinesPerGroup(dup, "id", "host",
        "txt", minDocs = 2, minFrac = Some(0.6)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(byFrac(2L) == "b",
      s"minFrac must use the distinct-doc denominator, got ${byFrac(2L)}")
  }
}

/** A pin call site whose class name contains "Materialize" (see the
  * Materialize.pin label test). Returns the pinned frame and the source
  * line of the pin call. */
class MaterializeLabelProbe {
  def pinHere(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, Int) =
    (graft.ops.Materialize.pin(df), new Throwable().getStackTrace.head.getLineNumber)
}
