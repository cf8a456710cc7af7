package graft

import org.apache.spark.sql.functions._

import graft.ops.{ModelStore, WordPiece}

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  // the HF-course worked example: hug x3, pug x2, hugs x1.
  // Round 1: counts h=4 p=2 ##u=6 ##g=6 ##s=1; scorable pairs
  // (h,##u)=4/24, (p,##u)=2/12, (##u,##g)=6/36 — an exact three-way
  // 1/6 tie (correctly-rounded IEEE division of the same rational),
  // so UTF8 order picks (##u,##g) ('#' < 'h' < 'p') → "##ug".
  // Round 2: (h,##ug)=4/24 ties (p,##ug)=2/12 → "hug".
  // Round 3: (p,##ug)=2/(2·2)=0.5 → "pug".
  // Round 4: only (hug,##s) count 1 → support floor → stop.
  private val hugs = Seq(
    (0L, "hug hug hug"),
    (1L, "pug pug"),
    (2L, "hugs")).toDF("doc_id", "text")

  private val expectVocab =
    Seq("##g", "##s", "##u", "h", "p", "##ug", "hug", "pug")

  test("fit reproduces the hand-computed likelihood-ratio merges, " +
    "alphabet first in UTF8 order, then merge order") {
    assert(WordPiece.fit(hugs, "text", numMerges = 5) == expectVocab)
  }

  test("encodeWord is greedy longest-prefix; any unmatched position " +
    "collapses the word to [UNK]") {
    val v = expectVocab.toSet
    assert(WordPiece.encodeWord("hug", v) == Seq("hug"))
    assert(WordPiece.encodeWord("hugs", v) == Seq("hug", "##s"))
    assert(WordPiece.encodeWord("h", v) == Seq("h"))
    assert(WordPiece.encodeWord("hugug", v) == Seq("hug", "##ug"))
    // '##h' never occurs (h is always word-initial in the fit corpus)
    assert(WordPiece.encodeWord("hughug", v) == Seq(WordPiece.Unk))
    // '##h' is not in the vocab: position 3 of "pugh" has no piece
    assert(WordPiece.encodeWord("pugh", v) == Seq(WordPiece.Unk))
    // start-form 'u' never seen word-initial → [UNK]
    assert(WordPiece.encodeWord("ug", v) == Seq(WordPiece.Unk))
    assert(WordPiece.encodeWord("", v) == Seq.empty)
  }

  test("encodeTokens stamps dict encodings in word order; " +
    "encodedTokenCount agrees") {
    val vocab = WordPiece.fit(hugs, "text", numMerges = 5)
    val doc = Seq((7L, "hug pug hugs")).toDF("doc_id", "text")
    val toks = WordPiece.encodeTokens(doc, "doc_id", "text", vocab)
      .select("tokens").as[Seq[String]].head()
    assert(toks == Seq("hug", "pug", "hug", "##s"))
    val n = WordPiece.encodedTokenCount(doc, "doc_id", "text", vocab)
      .select("n_wp_tokens").as[Long].head()
    assert(n == 4L)
  }

  test("local and distributed fit paths produce identical vocabularies") {
    val local = WordPiece.fit(hugs, "text", 8)
    assert(WordPiece.fit(hugs, "text", 8, localVocabCap = 0) == local)
    val rep = hugs.repartition(7, col("text"))
    assert(WordPiece.fit(rep, "text", 8) == local)
  }

  test("batched fit (batchCap > 1) is a deterministic, " +
    "partitioning-invariant scale variant; batchCap = 1 is exactly " +
    "sequential; every batched token is a valid symbol merge") {
    // cap=1 through fitDistributed == the sequential local fit
    val local = WordPiece.fit(hugs, "text", 8)
    assert(WordPiece.fit(hugs, "text", 8, batchCap = 1,
      localVocabCap = 0) == local)
    // batched: deterministic across runs and partitionings
    val corpus = Seq(
      (0L, "hug hug hug pug pug hugs bug bugs rug rugs"),
      (1L, "the then there that band bind bond sand"),
      (2L, "low lower lowest slow slower glow")).toDF("doc_id", "text")
    val b1 = WordPiece.fit(corpus, "text", 12, batchCap = 8)
    val b2 = WordPiece.fit(corpus.repartition(7, col("text")), "text", 12,
      batchCap = 8)
    assert(b1 == b2, "batched WordPiece fit not partitioning-invariant")
    // alphabet prefix identical to the sequential fit's (same corpus)
    val seqVocab = WordPiece.fit(corpus, "text", 12)
    val alpha = seqVocab.takeWhile(s => s.length == 1 || s.startsWith("##")
      && s.length == 3)
    assert(b1.startsWith(alpha))
    // each merged token decomposes as concat of earlier-known pieces
    // (start form + stripped continuations) — structural sanity
    val merged = b1.drop(alpha.size)
    assert(merged.nonEmpty && merged.forall(_.nonEmpty))
    // the first batched merge equals the first sequential merge (rank
    // 1 is always admitted, and round 1 scores coincide)
    assert(merged.head == seqVocab.drop(alpha.size).head)
  }

  test("the documents test table contains no literal '#' (the ## " +
    "continuation prefix stays unambiguous)") {
    val n = Tables.documents(spark, sfSmoke)
      .filter(col("text").contains("#")).count()
    assert(n == 0L)
  }

  test("ModelStore round-trips a WordPiece vocab in vocab order; " +
    "load-then-encode equals fit-then-encode") {
    val vocab = WordPiece.fit(hugs, "text", numMerges = 5)
    val dir = java.nio.file.Files.createTempDirectory("wpvocab")
      .resolve("v").toString
    ModelStore.saveWordPieceVocab(spark, vocab, dir)
    val loaded = ModelStore.loadWordPieceVocab(spark, dir)
    assert(loaded == vocab)
    intercept[Exception] {
      ModelStore.saveWordPieceVocab(spark, vocab, dir) // guarded overwrite
    }
    val doc = Seq((7L, "hug pug hugs")).toDF("doc_id", "text")
    val a = WordPiece.encodeTokens(doc, "doc_id", "text", vocab)
      .select("tokens").as[Seq[String]].head()
    val b = WordPiece.encodeTokens(doc, "doc_id", "text", loaded)
      .select("tokens").as[Seq[String]].head()
    assert(a == b)
  }
}
