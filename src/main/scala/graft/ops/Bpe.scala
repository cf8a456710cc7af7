package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and encoding over a Spark
  * corpus (Sennrich, Haddow & Birch 2016, arXiv:1508.07909 — public
  * method; the reference has no tokenizer). The structure exploits the
  * classic observation that BPE never needs the corpus after one pass:
  *
  *  - ONE corpus-scale aggregate builds the (word, count) vocabulary —
  *    the only job that touches 100 TB;
  *  - every merge round then runs on the vocabulary table (bounded by
  *    DISTINCT words, not corpus size): explode adjacent symbol pairs
  *    weighted by word count, one hash aggregate, one driver-side
  *    argmax row (the KMeans bounded-driver-collect pattern), and one
  *    rewrite projection. The vocabulary frame is re-pinned
  *    (localCheckpoint) each round to keep the plan flat across the
  *    iteration — the KMeans lineage-cut pattern;
  *  - encoding is RELATIONAL at corpus scale: each distinct word is
  *    encoded once (the merge-loop scan is a per-word JVM function —
  *    inherently iterative, no Catalyst expression expresses it — but
  *    it only ever runs on the vocabulary table), then an equi-join
  *    stamps the token arrays back onto the exploded corpus and a
  *    per-doc aggregate reassembles them in word order. Documents never
  *    carry the merge loop; AQE picks broadcast vs shuffle for the
  *    stamp join by the vocabulary's actual size.
  *
  * Symbol model: a word is its characters plus a trailing `</w>`
  * end-of-word symbol; a merge joins one adjacent symbol pair, all
  * occurrences left-to-right. Ties in pair frequency break
  * deterministically (count desc, then pair lexicographic), so fit is
  * reproducible across partitionings and engines.
  */
object Bpe {

  /** one merge applied to a symbol sequence, all occurrences,
    * left-to-right (a freshly-formed symbol does not re-pair with the
    * following symbol in the same pass). */
  private[graft] def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** greedy BPE encode of one word under trained merge ranks: repeatedly
    * merge the present pair with the LOWEST rank until none applies —
    * the standard inference rule that replays training order. */
  private[graft] def encodeWord(w: String, ranks: Map[(String, String), Int]): Seq[String] = {
    if (w.isEmpty) return Seq.empty
    encodeFrom(w.map(_.toString) :+ EndOfWord, ranks)
  }

  /** the greedy lowest-rank merge loop on an arbitrary initial symbol
    * sequence — shared by the char-level ([[encodeWord]]) and
    * byte-level ([[ByteBpe]]) alphabets. */
  private[graft] def encodeFrom(init: Seq[String],
                                ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = init
    var done = false
    while (!done && syms.length > 1) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        val (a, b) = (syms(bi), syms(bi + 1))
        syms = applyMerge(syms, a, b)
      }
    }
    syms
  }

  val EndOfWord = "</w>"

  /** chars + trailing end-of-word marker, as a Column (array<string>). */
  private def symbols(w: Column): Column =
    concat(split(w, ""), array(lit(EndOfWord)))

  private def adjacentPairs(syms: Column): Column =
    // slice guards the fully-merged single-symbol word: sequence(0, -1)
    // is DESCENDING in Spark ([0, -1]), which would emit two
    // (null, sym)/(sym, null) garbage pairs — a pair that repeats
    // across words and would win a merge round (seen with byte-level
    // "café</w>" collapsing to one symbol by merge 10)
    slice(transform(sequence(lit(0), size(syms) - 2),
      i => struct(get(syms, i).as("p1"), get(syms, i + 1).as("p2"))),
      lit(1), greatest(size(syms) - 1, lit(0)))

  /** the (word, count) vocabulary — the single corpus-scale pass. */
  def wordCounts(df: DataFrame, text: String): DataFrame =
    df.select(explode(split(col(text), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** adjacent symbol-pair frequencies of a (word|syms, count) frame —
    * round 1 of fit, exposed for the q105 oracle. */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val withSyms =
      if (vocab.columns.contains("syms")) vocab
      else vocab.withColumn("syms", symbols(col("w")))
    withSyms.select(col("c"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum(col("c")).as("cnt"))
  }

  /** train `numMerges` merges on the corpus; returns them in merge
    * order. Stops early when no pair occurs twice.
    *
    * After the one corpus-scale word-count pass, the merge loop runs
    * wherever the vocabulary actually fits: when the distinct-word
    * table has at most `localVocabCap` rows it collects ONCE and the
    * rounds run in driver memory (no per-round job — the KMeans
    * centroids trade, since a natural-language vocabulary is millions
    * of rows against a corpus of trillions); a larger vocabulary keeps
    * the rounds distributed over the vocabulary table. Both paths use
    * the same counts and the same UTF8-binary tie-break, so they
    * produce IDENTICAL merges (asserted in BpeSpec). */
  def fit(df: DataFrame, text: String, numMerges: Int,
          localVocabCap: Int = 1 << 20,
          minWordCount: Long = 1L): Seq[(String, String)] = {
    require(numMerges >= 1, "Bpe.fit: numMerges must be >= 1")
    require(minWordCount >= 1L, "Bpe.fit: minWordCount must be >= 1")
    // frequency-floor prune: at crawl scale the word-count table has a
    // huge singleton tail (typos, ids, URLs) that contributes almost
    // nothing to pair counts but dominates the vocabulary table's row
    // count. The floor applies BEFORE the local/distributed dispatch,
    // so both paths see identical counts (identical merges under the
    // same floor); floor > 1 is a deliberate, documented change to the
    // fit corpus, not an approximation of it.
    fitFromCounts(Materialize.pin(wordCounts(df, text)), numMerges,
      localVocabCap, minWordCount)
  }

  /** [[fit]] from a PRECOMPUTED (w, c) word-count table — the
    * production entry point at crawl scale: the corpus pass is the
    * only job that touches 100 TB, so compute it once, persist it, and
    * fit every tokenizer variant (merge counts, floors, byte vs char)
    * against the same table without rescanning the corpus. The frame
    * should be pinned or parquet-backed (each merge round re-reads
    * it). Same dispatch and identical-merges contract as [[fit]]. */
  def fitFromCounts(wc0: DataFrame, numMerges: Int,
                    localVocabCap: Int = 1 << 20,
                    minWordCount: Long = 1L): Seq[(String, String)] = {
    require(numMerges >= 1, "Bpe.fitFromCounts: numMerges must be >= 1")
    require(minWordCount >= 1L,
      "Bpe.fitFromCounts: minWordCount must be >= 1")
    val wc = if (minWordCount > 1L) wc0.filter(col("c") >= minWordCount)
             else wc0
    if (wc.count() <= localVocabCap) {
      val rows = wc.collect().map(r => (r.getString(0), r.getLong(1)))
      fitLocal(rows, numMerges)
    } else fitDistributed(wc, numMerges)
  }

  /** Spark's string ordering is UTF8 BYTE order; java.lang.String
    * compares UTF-16 code units. Identical on ASCII, different around
    * supplementary planes — the local path must match the distributed
    * tie-break exactly. */
  private def utf8Lt(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0

  private[graft] def fitLocal(words: Array[(String, Long)],
                              numMerges: Int,
                              toSyms: String => Seq[String] =
                                w => w.map(_.toString) :+ EndOfWord
                             ): Seq[(String, String)] = {
    var vocab: Array[(Seq[String], Long)] = words.map { case (w, c) =>
      (toSyms(w), c)
    }
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          counts.merge((syms(i), syms(i + 1)), c, _ + _)
          i += 1
        }
      }
      var best: (String, String) = null
      var bestC = 1L
      counts.forEach { (p, c) =>
        if (c > bestC || (c == bestC && best != null &&
            (utf8Lt(p._1, best._1) ||
              (p._1 == best._1 && utf8Lt(p._2, best._2)))))  {
          best = p; bestC = c
        }
      }
      if (best == null) exhausted = true
      else {
        merges += best
        vocab = vocab.map { case (syms, c) =>
          (applyMerge(syms, best._1, best._2), c)
        }
      }
      round += 1
    }
    merges.result()
  }

  /** Distributed fit with EXACT batched rounds: each job round ranks
    * the full pair table once (cnt desc, p1, p2 — the sequential
    * order) and admits a PREFIX of up to `batchCap` pairs that
    * provably reproduces the sequential merge list. Per ~B admitted
    * merges this costs 1 aggregate job (+ a pin every `pinEvery`
    * rounds) instead of sequential's 2 jobs per merge — the difference
    * between a 30k-merge fit being 60k vocabulary-table jobs and a few
    * thousand at crawl scale.
    *
    * Why the admitted prefix is exactly what sequential BPE picks —
    * merging (c,d) into S=cd can only change pair counts three ways:
    * pairs (x,c) lose the sites where the merge applied, pairs (d,y)
    * likewise, and pairs involving S are created. So candidate r_i
    * (rank order, i > 0) is admitted only while
    *   1. r_i.p2 is no admitted pair's LEFT symbol and r_i.p1 no
    *      admitted pair's RIGHT symbol (r_i's own count is untouched —
    *      note this is sharper than symbol-disjointness: (a,n) and
    *      (i,n) coexist, their sites cannot overlap);
    *   2. neither of r_i's symbols is an admitted concat, and r_i's
    *      concat is a BRAND-NEW string (not an existing vocabulary
    *      symbol — tracked driver-side: initial alphabet + concats —
    *      nor an earlier admitted concat), so no existing pair's count
    *      is ever boosted by merge-created symbols;
    *   3. r_i is not a self-pair (a,a) — a self-pair's created (aa,aa)
    *      count is bounded only by c_i/2, so it is admitted and then
    *      CLOSES the batch.
    * The first candidate failing these stops the batch (skipping is
    * unsound: a skipped pair's count may be UNchanged and outrank
    * later picks). Every created pair's count is then bounded by the
    * old count of a destroyed pair, which — sharing a symbol with an
    * admitted pair — was itself inadmissible and therefore ranks at or
    * below the stop row; trimming the admitted prefix to counts
    * STRICTLY above the stop row's count makes every admitted pair
    * dominate all created pairs and all non-admitted survivors at its
    * sequential step (ties lose to the admitted pair's earlier rank).
    * BpeSpec asserts the identity against [[fitLocal]], including
    * tie, self-pair, and concat-collision adversaries. */
  private[graft] def fitDistributed(wc: DataFrame, numMerges: Int,
                                    toSymsCol: Column => Column = symbols,
                                    batchCap: Int = 64,
                                    pinEvery: Int = 4
                                   ): Seq[(String, String)] = {
    require(batchCap >= 1, "Bpe.fitDistributed: batchCap must be >= 1")
    require(pinEvery >= 1, "Bpe.fitDistributed: pinEvery must be >= 1")
    var vocab = Materialize.pin(
      wc.withColumn("syms", toSymsCol(col("w"))).drop("w"))
    // driver-side inventory of CURRENT symbol strings (initial
    // alphabet once — a tiny distinct — plus every admitted concat):
    // powers admission rule 2. Bounded by |alphabet| + numMerges.
    val symbolSet = scala.collection.mutable.HashSet[String]()
    vocab.select(explode(col("syms")).as("s")).distinct()
      .collect().foreach(r => symbolSet += r.getString(0))
    val merges = Seq.newBuilder[(String, String)]
    var total = 0
    var exhausted = false
    var sincePin = 0
    while (total < numMerges && !exhausted) {
      val want = math.min(batchCap, numMerges - total)
      val rows = pairCounts(vocab)
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("p1"), col("p2"))
        .limit(want + 1)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (rows.isEmpty) exhausted = true
      else {
        val admitted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val leftS = scala.collection.mutable.HashSet[String]()
        val rightS = scala.collection.mutable.HashSet[String]()
        val catS = scala.collection.mutable.HashSet[String]()
        // stop bound = count of the first non-admitted row; defaults:
        // the witness row when the list was truncated at the cap, or 1
        // when the whole cnt>=2 table fit in the collect (anything
        // outside it cannot be merged at all)
        var stopCnt = if (rows.length > want) rows(want)._3 else 1L
        var i = 0
        var open = true
        while (open && i < math.min(want, rows.length)) {
          val (a, b, c) = rows(i)
          val cat = a + b
          val conflict = i > 0 && (leftS(b) || rightS(a) ||
            catS(a) || catS(b) || symbolSet(cat) || catS(cat))
          if (conflict) { stopCnt = c; open = false }
          else {
            admitted += ((a, b, c))
            leftS += a; rightS += b; catS += cat
            // self-pair, or a concat colliding with an existing symbol
            // on the very first row: admit, then close the batch
            if (a == b || symbolSet(cat)) {
              open = false
              if (i + 1 < rows.length) stopCnt = rows(i + 1)._3
            }
            i += 1
          }
        }
        val keptStrict = admitted.takeWhile(_._3 > stopCnt)
        val kept = if (keptStrict.isEmpty) admitted.take(1) else keptStrict
        val batch = kept.map(t => (t._1, t._2)).toList
        batch.foreach { case (a, b) => symbolSet += a + b }
        merges ++= batch
        total += batch.size
        val mergeUdf = udf((syms: Seq[String]) => {
          var s = syms
          batch.foreach { case (a, b) => s = applyMerge(s, a, b) }
          s
        })
        vocab = vocab.select(mergeUdf(col("syms")).as("syms"), col("c"))
        sincePin += 1
        if (sincePin >= pinEvery) {
          vocab = Materialize.pin(vocab); sincePin = 0
        }
      }
    }
    merges.result()
  }

  /** tokenize a corpus under trained merges: (id, tokens array<string>).
    * The merge loop runs once per DISTINCT word; the corpus side is an
    * explode + equi-join + ordered reassembly. Empty-string words (from
    * repeated separators) contribute no tokens; a document with no
    * words is absent. */
  def encodeTokens(df: DataFrame, id: String, text: String,
                   merges: Seq[(String, String)]): DataFrame =
    encodeTokensWith(df, id, text, merges,
      w => w.map(_.toString) :+ EndOfWord)

  /** [[encodeTokens]] with a pluggable initial alphabet — the shared
    * stamp-join + in-order reassembly used by both the char-level and
    * byte-level ([[ByteBpe]]) tokenizers. */
  private[graft] def encodeTokensWith(df: DataFrame, id: String, text: String,
                                      merges: Seq[(String, String)],
                                      toSyms: String => Seq[String]): DataFrame = {
    val (words, dict) = wordsAndDictWith(df, id, text, merges, toSyms)
    words.join(dict, Seq("w"))
      .groupBy(col(id)).agg(
        flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("toks")))),
          x => x.getField("toks"))).as("tokens"))
  }

  /** encoded-token count per document without materializing the per-doc
    * arrays (the cheap pre-pack statistic): stamps each word's dict
    * token COUNT instead of its tokens and sums. */
  def encodedTokenCount(df: DataFrame, id: String, text: String,
                        merges: Seq[(String, String)]): DataFrame =
    encodedTokenCountWith(df, id, text, merges,
      w => w.map(_.toString) :+ EndOfWord)

  /** [[encodedTokenCount]] with a pluggable initial alphabet. */
  private[graft] def encodedTokenCountWith(df: DataFrame, id: String,
                                           text: String,
                                           merges: Seq[(String, String)],
                                           toSyms: String => Seq[String]): DataFrame = {
    val (words, dict) = wordsAndDictWith(df, id, text, merges, toSyms)
    words.join(dict.select(col("w"), size(col("toks")).as("nt")), Seq("w"))
      .groupBy(col(id)).agg(sum(col("nt")).as("n_bpe_tokens"))
  }

  /** [[encodedTokenCountWith]] over a pre-broadcast rank table (the
    * standing-query form — see [[broadcastRanks]]). */
  private[graft] def encodedTokenCountB(df: DataFrame, id: String,
                                        text: String,
                                        bRanks: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]],
                                        toSyms: String => Seq[String]): DataFrame = {
    val (words, dict) = wordsAndDictB(df, id, text, bRanks, toSyms)
    words.join(dict.select(col("w"), size(col("toks")).as("nt")), Seq("w"))
      .groupBy(col(id)).agg(sum(col("nt")).as("n_bpe_tokens"))
  }

  private def wordsAndDict(df: DataFrame, id: String, text: String,
                           merges: Seq[(String, String)]): (DataFrame, DataFrame) =
    wordsAndDictWith(df, id, text, merges,
      w => w.map(_.toString) :+ EndOfWord)

  /** the relational encode skeleton with a pluggable initial alphabet:
    * explode words, greedy-encode each DISTINCT word once (UDF — the
    * per-word merge loop is inherently iterative, and it only ever
    * runs on the vocabulary table, never the corpus), stamp back. */
  private[graft] def wordsAndDictWith(df: DataFrame, id: String, text: String,
                                      merges: Seq[(String, String)],
                                      toSyms: String => Seq[String]
                                     ): (DataFrame, DataFrame) =
    wordsAndDictB(df, id, text, broadcastRanks(df, merges), toSyms)

  /** Broadcast the merge-rank table once. Standing queries
    * ([[graft.streaming.EnrichStream.tokenCountEnrich]]) call this at
    * wiring time and reuse the handle across micro-batches — a fresh
    * broadcast per batch would accumulate driver/executor blocks until
    * GC (broadcasts are not persistent RDDs, so the batch-release
    * sweep cannot reclaim them). */
  private[graft] def broadcastRanks(df: DataFrame, merges: Seq[(String, String)])
      : org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]] =
    df.sparkSession.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap)

  /** [[wordsAndDictWith]] over a pre-broadcast rank table. */
  private[graft] def wordsAndDictB(df: DataFrame, id: String, text: String,
                                   bRanks: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]],
                                   toSyms: String => Seq[String]
                                  ): (DataFrame, DataFrame) = {
    val encUdf = udf((w: String) =>
      if (w.isEmpty) Seq.empty[String] else encodeFrom(toSyms(w), bRanks.value))
    val words = df.select(col(id),
      posexplode(split(col(text), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val dict = words.select("w").distinct()
      .withColumn("toks", encUdf(col("w")))
    (words, dict)
  }
}
