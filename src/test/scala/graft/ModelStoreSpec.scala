package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bpe, ModelStore, TextAnalysis => TA, Unigram}

/** Train-once/score-many round trips: every fitted artifact written by
  * [[graft.ops.ModelStore]] must load back so that load-then-encode is
  * BIT-IDENTICAL to fit-then-encode — the property that lets a 100 TB
  * pipeline train a tokenizer once and score corpora for months. */
class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/m"

  lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the lazy dog sleeps while the quick fox runs"),
    (3L, "pack my box with five dozen liquor jugs today"),
    (4L, "sphinx of black quartz judge my vow right now")
  ).toDF("doc_id", "text")

  test("BPE merges: save/load round-trips values AND merge order; " +
    "load-then-encode equals fit-then-encode bit-for-bit") {
    val dir = tmp("ms_bpe")
    val merges = Bpe.fit(corpus, "text", numMerges = 12)
    ModelStore.saveBpeMerges(spark, merges, dir)
    val loaded = ModelStore.loadBpeMerges(spark, dir)
    assert(loaded == merges, "merge table or its ORDER changed in transit")
    val a = Bpe.encodeTokens(corpus, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Bpe.encodeTokens(corpus, "doc_id", "text", loaded)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("unigram vocab: save/load round-trips (piece, logp) exactly; " +
    "load-then-encode equals fit-then-encode bit-for-bit") {
    val dir = tmp("ms_uni")
    val vocab = Unigram.fit(corpus, "text", vocabSize = 60)
    ModelStore.saveUnigramVocab(spark, vocab, dir)
    val loaded = ModelStore.loadUnigramVocab(spark, dir)
    assert(loaded == vocab, "vocab or a logp double changed in transit")
    val a = Unigram.encodeTokens(corpus, "doc_id", "text", vocab)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Unigram.encodeTokens(corpus, "doc_id", "text", loaded)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("langid profiles: save/load round-trips the model table; " +
    "load-then-predict equals fit-then-predict bit-for-bit") {
    val dir = tmp("ms_lang")
    val labeled = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", "a stitch in time saves nine every single day"),
      ("de", "der schnelle braune fuchs springt über den faulen hund"),
      ("de", "übung macht den meister sagte die alte frau")
    ).toDF("lang", "text")
    val profiles = TA.fitLangProfiles(labeled, "lang", "text", buckets = 64)
    ModelStore.saveLangProfiles(profiles, dir)
    val loaded = ModelStore.loadLangProfiles(spark, dir)
    val pa = profiles.orderBy("lang", "bucket").collect().map(_.toSeq).toSeq
    val pb = loaded.orderBy("lang", "bucket").collect().map(_.toSeq).toSeq
    assert(pa == pb && pa.size == 2 * 64)
    val a = TA.predictLangTrained(corpus, "doc_id", "text", profiles, 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = TA.predictLangTrained(corpus, "doc_id", "text", loaded, 64)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("PQ codebooks: save/load round-trips the subspace x code x dim " +
    "array bit-exactly; load-then-encode equals fit-then-encode") {
    import graft.ops.Embeddings
    val dir = tmp("ms_pq")
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map { i =>
      (i, Seq.fill(8)(rnd.nextGaussian() * 3)) }.toDF("vec_id", "embedding")
    val cbs = Embeddings.pqTrainCodebooks(vecs, "vec_id", "embedding",
      dim = 8, m = 4, every = 10, iters = 3)
    ModelStore.savePqCodebooks(spark, cbs, dir)
    val loaded = ModelStore.loadPqCodebooks(spark, dir)
    assert(loaded.length == cbs.length)
    assert(loaded.zip(cbs).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        x.toSeq == y.toSeq } }, "codebook values or order changed")
    val a = vecs.select(Embeddings.pqEncode(col("embedding"), cbs).as("c"))
      .as[Seq[Int]].collect().toSeq
    val b = vecs.select(Embeddings.pqEncode(col("embedding"), loaded).as("c"))
      .as[Seq[Int]].collect().toSeq
    assert(a == b && a.nonEmpty)
    intercept[Exception] {
      ModelStore.savePqCodebooks(spark, cbs, dir) // guarded overwrite
    }
  }

  test("model table: save/load round-trips a k-means profile with " +
    "pinned row order") {
    import graft.ops.KMeans
    val dir = tmp("ms_kmeans")
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 40L).map { i =>
      (i, Seq.fill(4)(rnd.nextGaussian() + (i % 2) * 10)) }
      .toDF("vec_id", "embedding")
    val prof = KMeans.lloydProfile(vecs, "vec_id", "embedding",
      initEvery = 20, iters = 2)
    ModelStore.saveModelTable(prof, dir)
    val loaded = ModelStore.loadModelTable(spark, dir, "cell", "pos")
    val pa = prof.orderBy("cell", "pos").collect().map(_.toSeq).toSeq
    assert(loaded.collect().map(_.toSeq).toSeq == pa && pa.nonEmpty)
  }

  test("byte-BPE merges ride saveBpeMerges: order round-trips; " +
    "load-then-encode equals fit-then-encode bit-for-bit (incl. " +
    "multi-byte symbols in the merge table)") {
    import graft.ops.ByteBpe
    val dir = tmp("ms_bytebpe")
    val docs = Seq((1L, "naïve café naïve café über alles"),
      (2L, "der zug fährt über die brücke")).toDF("doc_id", "text")
    val merges = ByteBpe.fit(docs, "text", numMerges = 12)
    ModelStore.saveBpeMerges(spark, merges, dir)
    val loaded = ModelStore.loadBpeMerges(spark, dir)
    assert(loaded == merges, "merge table or its ORDER changed in transit")
    def enc(m: Seq[(String, String)]) =
      ByteBpe.encodeTokens(docs, "doc_id", "text", m)
        .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    assert(enc(loaded) == enc(merges))
  }

  test("bigram LM model table: save/load round-trips; load-then-score " +
    "equals fit-then-score bit-for-bit, on held-out AND on the fit " +
    "corpus (where it equals the self-fit scorer)") {
    val dir = tmp("ms_bigram")
    ModelStore.saveModelTable(TA.fitBigramLm(corpus, "text"), dir)
    val model = ModelStore.loadModelTable(spark, dir, "h12")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // held-out: seen bigrams, unseen bigrams (add-one fallback), and a
    // sub-bigram doc that must be absent
    val held = Seq(
      (10L, "the quick brown fox runs"),
      (11L, "zq xv wk jn"),
      (12L, "one")).toDF("doc_id", "text")
    val direct = rows(TA.bigramLmScore(held, "doc_id", "text",
      fitOn = Some(corpus)))
    assert(rows(TA.bigramLmScoreWith(held, "doc_id", "text", model))
      == direct, "persisted-model scores diverged from fit-then-score")
    assert(direct.map(_.head) == Seq(10L, 11L), "sub-bigram doc leaked")
    // on the fit corpus every bigram is seen → equals the self-fit path
    assert(rows(TA.bigramLmScoreWith(corpus, "doc_id", "text", model))
      == rows(TA.bigramLmScore(corpus, "doc_id", "text")),
      "self-fit and persisted-model scores diverged on the fit corpus")
  }

  test("KN LM model table: round trip scores the fit corpus exactly " +
    "as the self-fit scorer (n_oov=0); unseen-type-in-vocab gets the " +
    "interpolated mass; OOV bigrams are excluded and counted") {
    val dir = tmp("ms_kn")
    ModelStore.saveModelTable(TA.fitKnBigramLm(corpus, "text"), dir)
    val model = ModelStore.loadModelTable(spark, dir, "h12")
    val self = TA.knBigramLmScore(corpus, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaModel = TA.knBigramLmScoreWith(corpus, "doc_id", "text", model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(viaModel.map(t => (t._1, t._2, t._4)) == self,
      "persisted-KN scores diverged from self-fit on the fit corpus")
    assert(viaModel.forall(_._3 == 0L), "fit-corpus bigrams scored OOV")
    // "dog the": both words in vocab ("dog" follows lazy/…, "the" opens
    // bigrams) but the TYPE is unseen → interpolated c12=0 mass, not
    // dropped; "dog zzz": zzz has no continuation mass → OOV, excluded
    val held = Seq((20L, "dog the"), (21L, "dog zzz")).toDF("doc_id", "text")
    val h = TA.knBigramLmScoreWith(held, "doc_id", "text", model)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)))).toSeq
    assert(h.map(t => (t._1, t._2, t._3)) == Seq((20L, 1L, 0L), (21L, 0L, 1L)))
    assert(h(0)._4.isDefined && h(0)._4.get.asInstanceOf[Double] < 0.0)
    assert(h(1)._4.isEmpty, "all-OOV doc must keep a null avg_logp")
  }

  test("ccnet LM model table: round trip; load-then-score equals " +
    "fit-then-score bit-for-bit; a bigram-less language's V survives " +
    "via the sentinel row") {
    val dir = tmp("ms_ccnet")
    val labeled = Seq(
      ("en", "the quick brown fox jumps over the lazy dog"),
      ("en", "a stitch in time saves nine every day"),
      ("de", "der schnelle fuchs springt heute hoch"),
      ("xx", "solo")  // vocabulary but zero bigrams → sentinel row
    ).toDF("lang", "text")
    ModelStore.saveModelTable(TA.fitCcnetLm(labeled, "text", "lang"), dir)
    val model = ModelStore.loadModelTable(spark, dir, "lang", "h12")
    val score = Seq(
      (1L, "en", "the quick fox jumps today"),
      (2L, "de", "der fuchs springt"),
      (3L, "xx", "solo act here"),   // covered language, all bigrams unseen
      (4L, "yy", "uncovered language row")).toDF("doc_id", "lang", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val direct = rows(TA.ccnetPerplexity(score, "doc_id", "text", "lang",
      fitOn = labeled))
    assert(rows(TA.ccnetPerplexityWith(score, "doc_id", "text", "lang",
      model)) == direct, "persisted ccnet LM diverged from fit-then-score")
    val ids = direct.map(_.head)
    assert(ids.contains(3L), "sentinel row lost: bigram-less language " +
      "dropped its open-vocab fallback")
    assert(!ids.contains(4L), "uncovered language must be excluded")
  }

  test("quantile-threshold table: round trip; bucketByThresholds " +
    "equals bucketByQuantiles; rows of an absent group are dropped") {
    val dir = tmp("ms_thr")
    val train = (1 to 40).map(i => ("a", i.toDouble)) ++
      (1 to 40).map(i => ("b", i * 3.0))
    val trainDf = train.toDF("g", "v")
    ModelStore.saveModelTable(
      TA.quantileThresholds(trainDf, "g", col("v"), Seq(1.0/3, 2.0/3)), dir)
    val thr = ModelStore.loadModelTable(spark, dir, "g")
    val expected = TA.bucketByQuantiles(trainDf, "g", col("v"),
        Seq(1.0/3, 2.0/3))
      .orderBy("g", "v").collect().map(_.toSeq).toSeq
    assert(TA.bucketByThresholds(trainDf, "g", col("v"), thr)
      .orderBy("g", "v").collect().map(_.toSeq).toSeq == expected)
    // score-time data from group "c" has no thresholds → dropped (the
    // ccnet uncovered-language rule); "a" rows bucket by TRAINING cuts
    val later = Seq(("a", 100.0), ("c", 1.0)).toDF("g", "v")
    val got = TA.bucketByThresholds(later, "g", col("v"), thr)
      .collect().map(r => (r.getString(0), r.getInt(2))).toSeq
    assert(got == Seq(("a", 2)), s"got $got")
  }

  test("save refuses to clobber an existing artifact unless overwrite") {
    val dir = tmp("ms_guard")
    ModelStore.saveBpeMerges(spark, Seq(("a", "b")), dir)
    intercept[Exception] {
      ModelStore.saveBpeMerges(spark, Seq(("c", "d")), dir)
    }
    ModelStore.saveBpeMerges(spark, Seq(("c", "d")), dir, overwrite = true)
    assert(ModelStore.loadBpeMerges(spark, dir) == Seq(("c", "d")))
  }
}
