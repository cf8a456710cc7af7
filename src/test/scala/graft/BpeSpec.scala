package graft

import org.apache.spark.sql.functions._

import graft.ops.Bpe

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // Sennrich et al. 2016 §3.2's worked example: low x5, lower x2,
  // newest x6, widest x3. First-round pair counts peak at 9 shared by
  // (e,s), (s,t), (t,</w>) — lexicographic tie-break picks (e,s).
  private val sennrich = Seq(
    (0L, "low low low low low"),
    (1L, "lower lower"),
    (2L, "newest newest newest newest newest newest"),
    (3L, "widest widest widest")).toDF("doc_id", "text")

  test("applyMerge joins all occurrences left-to-right without re-pairing") {
    assert(Bpe.applyMerge(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    // overlapping runs: the freshly-formed symbol does not re-pair
    assert(Bpe.applyMerge(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.applyMerge(Seq("x", "y"), "a", "b") == Seq("x", "y"))
  }

  test("fit reproduces the hand-computed Sennrich merges in order") {
    val merges = Bpe.fit(sennrich, "text", numMerges = 5)
    assert(merges == Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("fit stops early when no pair repeats") {
    val tiny = Seq((0L, "ab")).toDF("doc_id", "text")
    assert(Bpe.fit(tiny, "text", numMerges = 10).isEmpty)
  }

  test("encodeWord replays merge ranks greedily") {
    val ranks = Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"),
      ("lo", "w")).zipWithIndex.toMap
    // the unseen word of the worked example
    assert(Bpe.encodeWord("lowest", ranks) == Seq("low", "est</w>"))
    assert(Bpe.encodeWord("low", ranks) == Seq("low", "</w>"))
    assert(Bpe.encodeWord("newest", ranks) == Seq("n", "e", "w", "est</w>"))
    assert(Bpe.encodeWord("", ranks) == Seq.empty)
  }

  test("encodeTokens stamps dict encodings back in word order; " +
    "encodedTokenCount agrees") {
    val merges = Bpe.fit(sennrich, "text", numMerges = 5)
    val doc = Seq((7L, "low lowest newest")).toDF("doc_id", "text")
    val toks = Bpe.encodeTokens(doc, "doc_id", "text", merges)
      .select("tokens").as[Seq[String]].head()
    assert(toks == Seq("low", "</w>", "low", "est</w>", "n", "e", "w", "est</w>"))
    val n = Bpe.encodedTokenCount(doc, "doc_id", "text", merges)
      .select("n_bpe_tokens").as[Long].head()
    assert(n == toks.size.toLong)
  }

  test("local and distributed fit paths produce identical merges") {
    val local = Bpe.fit(sennrich, "text", 8) // vocab 4 << cap → local
    val dist = Bpe.fitDistributed(
      Bpe.wordCounts(sennrich, "text").localCheckpoint(), 8)
    assert(local == dist)
    // forcing the distributed path through fit's cap gives the same
    assert(Bpe.fit(sennrich, "text", 8, localVocabCap = 0) == local)
  }

  test("fit and encode are invariant to input partitioning") {
    val rep = sennrich.repartition(7, col("text"))
    assert(Bpe.fit(rep, "text", 5) == Bpe.fit(sennrich, "text", 5))
    val merges = Bpe.fit(sennrich, "text", 5)
    val docs = Seq((1L, "newest low"), (2L, "wider lows")).toDF("doc_id", "text")
    val a = Bpe.encodeTokens(docs, "doc_id", "text", merges)
      .orderBy("doc_id").select("tokens").as[Seq[String]].collect().toSeq
    val b = Bpe.encodeTokens(docs.repartition(5), "doc_id", "text", merges)
      .orderBy("doc_id").select("tokens").as[Seq[String]].collect().toSeq
    assert(a == b)
  }

  // ----- unigram-LM (SentencePiece) -----------------------------------------
  import graft.ops.Unigram

  test("Unigram.viterbi picks the max-likelihood segmentation with " +
    "hand-computed scores; unknown chars fall back finitely") {
    // vocab: ab=-1, a=-2, b=-2, c=-5, abc=-2.5
    val v = Map("ab" -> -1.0, "a" -> -2.0, "b" -> -2.0, "c" -> -5.0,
      "abc" -> -2.5)
    // "abc": abc(-2.5) beats ab+c(-6) and a+b+c(-9)
    assert(Unigram.viterbi("abc", v, 4, -20.0) == Seq("abc"))
    // "abab": ab+ab(-2) beats a+b+ab(-5), abab unknown (len-4 absent)
    assert(Unigram.viterbi("abab", v, 4, -20.0) == Seq("ab", "ab"))
    // unknown char z: penalty keeps the DP total and the split lossless
    assert(Unigram.viterbi("azb", v, 4, -20.0) == Seq("a", "z", "b"))
    // maxPieceLen caps candidates: with cap 2, abc can't be one piece
    assert(Unigram.viterbi("abc", v, 2, -20.0) == Seq("ab", "c"))
    // tie-break: equal-score splits prefer the shortest last piece —
    // vocab where xy = x+y exactly
    val t = Map("x" -> -1.0, "y" -> -1.0, "xy" -> -2.0)
    assert(Unigram.viterbi("xy", t, 4, -20.0) == Seq("x", "y"))
    assert(Unigram.viterbi("", v, 4, -20.0) == Seq.empty)
  }

  test("Unigram.seedVocab keeps every single char plus the capped " +
    "ranked multi-char substrings") {
    val df = Seq((0L, "aaa ab")).toDF("doc_id", "text")
    val got = Unigram.seedVocab(df, "text", vocabSize = 2, maxPieceLen = 3)
      .as[(String, Long)].collect().toMap
    // words: ▁aaa (x1), ▁ab (x1); single chars ▁, a, b always kept
    assert(got("▁") == 2L && got("a") == 4L && got("b") == 1L)
    // multi-char cap 2: 'aa' and '▁a' tie at cnt 2 and beat the
    // cnt-1 pieces; the (cnt desc, piece UTF8 asc) cut keeps both
    assert(got.keySet.filter(_.length > 1) == Set("aa", "▁a"))
    assert(got("aa") == 2L && got("▁a") == 2L)
  }

  test("Unigram EM round re-estimates from its own segmentations and " +
    "drops unused pieces") {
    // corpus where the seed contains 'ab' and EM keeps using it
    val df = Seq((0L, "ab ab ab cd")).toDF("doc_id", "text")
    val vocab = Unigram.fit(df, "text", vocabSize = 50, maxPieceLen = 3,
      emRounds = 2).toMap
    // every surviving piece was used by some Viterbi segmentation —
    // '▁ab' dominates; bare 'b' pieces that no segmentation uses drop
    assert(vocab.contains("▁ab"), "dominant word-piece survives EM")
    assert(vocab.values.forall(lp => lp < 0 && lp.isFinite))
    // log-probs renormalize: total prob mass ≈ 1
    val mass = vocab.values.map(math.exp).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"mass=$mass")
  }

  test("Unigram encode is lossless end-to-end, incl. words and chars " +
    "unseen at fit time, and is partitioning-invariant") {
    val train = Seq((0L, "the quick brown fox"), (1L, "the lazy dog"))
      .toDF("doc_id", "text")
    val vocab = Unigram.fit(train, "text", vocabSize = 100,
      maxPieceLen = 4, emRounds = 2)
    val docs = Seq((1L, "the quick dog"), (2L, "zebra?! unseen"),
      (3L, "the  the")).toDF("doc_id", "text") // double space collapses
    def recon(d: org.apache.spark.sql.DataFrame) =
      Unigram.encodeTokens(d, "doc_id", "text", vocab)
        .select(col("doc_id"),
          trim(regexp_replace(concat_ws("", col("tokens")),
            Unigram.WordStart, " ")).as("r"))
        .as[(Long, String)].collect().toMap
    val got = recon(docs)
    assert(got(1L) == "the quick dog")
    assert(got(2L) == "zebra?! unseen", "unseen chars reconstruct via unk")
    assert(got(3L) == "the the", "separators collapse, content survives")
    assert(recon(docs.repartition(5)) == got)
  }

  // ---- byte-level BPE (GPT-2 alphabet) ----------------------------------
  import graft.ops.ByteBpe

  test("ByteBpe.byteToChar is the GPT-2 bijection: printable ranges " +
    "map to themselves, the 68 others to 256..323 in byte order") {
    assert(ByteBpe.byteToChar.length == 256)
    assert(ByteBpe.byteToChar.distinct.length == 256, "not a bijection")
    assert(ByteBpe.byteToChar('a'.toInt) == "a")
    assert(ByteBpe.byteToChar('!'.toInt) == "!")
    assert(ByteBpe.byteToChar(0xFF) == "ÿ")
    // byte 0 is the FIRST non-printable → codepoint 256; space (0x20)
    // is the 33rd → 256 + 32
    assert(ByteBpe.byteToChar(0) == "Ā")
    assert(ByteBpe.byteToChar(' '.toInt) == "Ġ", "Ġ — the GPT-2 space")
  }

  test("ByteBpe on printable-ASCII text coincides with char-level Bpe: " +
    "same merges, same tokens (the q207/q208 oracle premise)") {
    val merges = ByteBpe.fit(sennrich, "text", numMerges = 5)
    assert(merges == Bpe.fit(sennrich, "text", numMerges = 5))
    val b = ByteBpe.encodeTokens(sennrich, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    val c = Bpe.encodeTokens(sennrich, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    assert(b == c)
  }

  test("ByteBpe hand-computed multi-byte merge: é splits into its two " +
    "UTF-8 bytes and the pair merges first") {
    // "héllo" x3: é = 0xC3 0xA9 → chars Ã © — the only pair with
    // count ≥ 2 beyond the shared h/l/o spine; all pairs tie at 3,
    // UTF8-binary lexicographic tie-break applies
    val d = Seq((0L, "héllo héllo héllo")).toDF("doc_id", "text")
    val m1 = ByteBpe.fit(d, "text", numMerges = 1).head
    // all adjacent pairs occur 3 times; lexicographic min among
    // (h,Ã) (Ã,©) (©,l) (l,l) (l,o) (o,</w>) in UTF8 byte order:
    // ASCII sorts before the 0xC3-led mapped bytes, so (h,Ã) vs
    // (l,l) vs (l,o) vs (o,</w>) — "h" is smallest
    assert(m1._1 == "h", s"got $m1")
  }

  test("ByteBpe round trip is lossless on CJK, emoji, umlauts, and " +
    "mixed scripts; distributed fit path agrees with local") {
    val docs = Seq(
      (0L, "naïve café naïve café über alles"),
      (1L, "日本語 テスト 日本語"),
      (2L, "mixed ascii und 漢字 🚀 rocket 🚀"),
      (3L, "низкий уровень байтов")).toDF("doc_id", "text")
    val merges = ByteBpe.fit(docs, "text", numMerges = 15)
    // distributed path (cap 0 forces it) produces identical merges
    assert(ByteBpe.fit(docs, "text", numMerges = 15, localVocabCap = 0)
      == merges)
    val enc = ByteBpe.encodeTokens(docs, "doc_id", "text", merges)
    val recon = ByteBpe.decodeTokens(enc, "doc_id")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val expected = docs.orderBy("doc_id").as[(Long, String)].collect()
      .map { case (i, t) =>
        (i, t.split(" ").filter(_.nonEmpty).mkString(" ")) }.toSeq
    assert(recon == expected, "byte-level round trip lost content")
    // no [UNK] anywhere: every token decodes
    val toks = enc.select(explode(col("tokens"))).as[String].collect()
    assert(toks.nonEmpty && !toks.contains("[UNK]"))
  }

  test("ByteBpe.encodedTokenCount matches the materialized token " +
    "arrays; partitioning-invariant") {
    val docs = Seq(
      (0L, "der schnelle fuchs über den zaun"),
      (1L, "der zaun über dem fuchs")).toDF("doc_id", "text")
    val merges = ByteBpe.fit(docs, "text", numMerges = 8)
    val fromArrays = ByteBpe.encodeTokens(docs, "doc_id", "text", merges)
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val counted = ByteBpe.encodedTokenCount(docs, "doc_id", "text", merges)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(counted == fromArrays)
    assert(ByteBpe.encodedTokenCount(docs.repartition(7), "doc_id",
        "text", merges)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq == counted)
  }

  // ---- exact batched distributed fit (the crawl-scale job shape) ----

  private def distBatched(df: org.apache.spark.sql.DataFrame, n: Int,
                          cap: Int): Seq[(String, String)] =
    Bpe.fitDistributed(Bpe.wordCounts(df, "text").localCheckpoint(), n,
      batchCap = cap)

  test("batched distributed fit reproduces the sequential merge list " +
    "exactly, at every batch cap") {
    // a corpus rich in conflicting top pairs: shared symbols, chains
    val corpus = Seq(
      (0L, "the then there that this those them themes"),
      (1L, "low lower lowest slow slower glow glowing"),
      (2L, "in on an and band bind bond sand sound"),
      (3L, "rate rather gather lather together tether"),
      (4L, "the the the there there low low an an an")).toDF("doc_id", "text")
    val seq40 = Bpe.fitLocal(
      Bpe.wordCounts(corpus, "text").collect()
        .map(r => (r.getString(0), r.getLong(1))), 40)
    for (cap <- Seq(1, 2, 5, 16, 64))
      assert(distBatched(corpus, 40, cap) == seq40,
        s"batchCap=$cap diverged from sequential")
  }

  test("batched fit survives the adversaries: count ties, self-pairs, " +
    "and concat collisions") {
    // ties: every pair count equal → tie-break order must survive trim
    val ties = Seq((0L, "ab ab cd cd ef ef gh gh")).toDF("doc_id", "text")
    assert(distBatched(ties, 6, 64) == Bpe.fit(ties, "text", 6))
    // self-pairs: runs of one symbol — (a,a) creates (aa,aa) pairs
    // whose count is NOT bounded by the stop row; the batch must close
    val runs = Seq((0L, "aaaaaaaa aaaa bb bbbb cc")).toDF("doc_id", "text")
    assert(distBatched(runs, 8, 64) == Bpe.fit(runs, "text", 8))
    // concat collision: merging (b,c) creates "bc"; words also contain
    // the 2-char spelling that merges to the same string via (a,b);
    // and "x bc" pairs exist that a colliding creation would boost
    val collide = Seq(
      (0L, "abc abc abc xbc xbc ab ab bc bc bc a a")).toDF("doc_id", "text")
    assert(distBatched(collide, 10, 64) == Bpe.fit(collide, "text", 10))
    // byte path through the same batched loop
    val bytes = Seq(
      (0L, "naïve café naïve café über alles alles alles"),
      (1L, "日本語 テスト 日本語 テスト")).toDF("doc_id", "text")
    assert(ByteBpe.fit(bytes, "text", 12, localVocabCap = 0)
      == ByteBpe.fit(bytes, "text", 12))
  }

  test("batched ≡ sequential on 10 seeded random corpora over a tiny " +
    "alphabet (tie/self-pair/collision-dense regime)") {
    // alphabet {a,b,c}: with ≤27 distinct trigrams and heavy repeats,
    // almost every round has count ties, (x,x) self-pairs, and merged
    // symbols colliding with existing spellings — the regime where an
    // unsound admission rule diverges within a few merges
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 10) {
      val words = Seq.fill(30 + rnd.nextInt(40)) {
        val len = 1 + rnd.nextInt(6)
        (Seq.fill(len)(('a' + rnd.nextInt(3)).toChar).mkString,
          1L + rnd.nextInt(9).toLong)
      }
      // collapse duplicate words (wordCounts would): sum the weights
      val wc = words.groupBy(_._1).map { case (w, g) =>
        (w, g.map(_._2).sum) }.toArray
      val seqFit = Bpe.fitLocal(wc, 20)
      val wcDf = wc.toSeq.toDF("w", "c").localCheckpoint()
      for (cap <- Seq(3, 64)) {
        val bat = Bpe.fitDistributed(wcDf, 20, batchCap = cap)
        assert(bat == seqFit,
          s"trial $trial cap $cap diverged:\n seq=$seqFit\n bat=$bat")
      }
    }
  }

  test("fitFromCounts over one shared word-count table equals fit on " +
    "the corpus, for all three tokenizers (the one-corpus-pass reuse)") {
    val corpus = Seq(
      (0L, "hug hug hug pug pug hugs the then there low lower"),
      (1L, "the the low slow glow band bind bond")).toDF("doc_id", "text")
    val wc = Bpe.wordCounts(corpus, "text").localCheckpoint()
    assert(Bpe.fitFromCounts(wc, 10) == Bpe.fit(corpus, "text", 10))
    assert(Bpe.fitFromCounts(wc, 10, localVocabCap = 0)
      == Bpe.fit(corpus, "text", 10))
    assert(ByteBpe.fitFromCounts(wc, 10) == ByteBpe.fit(corpus, "text", 10))
    assert(graft.ops.WordPiece.fitFromCounts(wc, 10)
      == graft.ops.WordPiece.fit(corpus, "text", 10))
    assert(Bpe.fitFromCounts(wc, 10, minWordCount = 2L)
      == Bpe.fit(corpus, "text", 10, minWordCount = 2L))
  }

  test("minWordCount floor prunes the singleton tail identically on " +
    "both paths") {
    val corpus = Seq(
      (0L, "common common common common rare1 rare2 rare3"),
      (1L, "common shared shared rare4")).toDF("doc_id", "text")
    val local = Bpe.fit(corpus, "text", 5, minWordCount = 2L)
    assert(Bpe.fit(corpus, "text", 5, localVocabCap = 0, minWordCount = 2L)
      == local)
    // the floor really removed the singletons: no merge can come from
    // a rare-only pair ("1".."4" appear only in singletons)
    assert(local.forall { case (a, b) =>
      !Seq("1", "2", "3", "4").exists(d => (a + b).contains(d)) })
  }
}
