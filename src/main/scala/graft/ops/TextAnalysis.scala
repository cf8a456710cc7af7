package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, stopword/quality scoring, n-gram heuristic language ID,
  * rolling-hash fingerprints. All pure Column expressions (codegen'd,
  * no UDFs) so they pipeline inside the scan stage at 100 TB — a document
  * never leaves the executor that read it.
  */
object TextAnalysis {

  /** whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword token estimate: word-pieces + digits + punctuation
    * as separate tokens (regex segmentation, not a trained BPE). */
  def tokenCountBpeIsh(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Strip HTML markup from crawled text — the first cleaning pass of a
    * web-corpus pipeline: script/style/comment blocks drop WHOLESALE
    * (their content is code, not prose), remaining tags become spaces,
    * the six ubiquitous entities decode (&amp; deliberately last, so
    * double-escaped text un-escapes one level, not two), whitespace
    * collapses and trims. A pure regexp_replace chain — scan-stage,
    * codegen'd, no UDF — and every pattern is RE2-safe (no
    * backreferences: script and style get separate patterns instead of
    * a <(script|style)>…</\1> backref), so q143's DuckDB oracle replays
    * the chain verbatim. NOT a parser: pathological nesting (a script
    * tag inside a comment) degrades to plain tag-stripping, identically
    * in both engines. */
  def stripHtml(text: Column): Column = {
    val blocks = Seq(
      "(?is)<script[^>]*>.*?</script>" -> " ",
      "(?is)<style[^>]*>.*?</style>" -> " ",
      "(?s)<!--.*?-->" -> " ",
      "<[^>]+>" -> " ",
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val stripped = blocks.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    trim(regexp_replace(stripped, "\\s+", " "))
  }

  /** [[stripHtml]]'s regexp chain as DuckDB SQL over expression `e` —
    * the q143 oracle builder (same patterns, 'g' flag, same order). */
  def stripHtmlSql(e: String): String = {
    val steps = Seq(
      "(?is)<script[^>]*>.*?</script>" -> " ",
      "(?is)<style[^>]*>.*?</style>" -> " ",
      "(?s)<!--.*?-->" -> " ",
      "<[^>]+>" -> " ",
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
    val inner = steps.foldLeft(e) { case (c, (pat, rep)) =>
      s"regexp_replace($c, '$pat', '$rep', 'g')"
    }
    s"trim(regexp_replace($inner, '\\s+', ' ', 'g'))"
  }

  /** Unicode/typography cleanup steps shared VERBATIM by
    * [[normalizeText]] and its oracle builder [[normalizeTextSql]] —
    * one constant, two engines, so the chains cannot drift. RE2-safe
    * (`\x{...}` code points, no backreferences). Order matters:
    * compose first (NFC), then strip invisibles, then map exotica. */
  private val normalizeSteps: Seq[(String, String)] = Seq(
    // C0 controls (except \t \n \r) + DEL + C1 controls: encoding debris
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}-\\x{009F}]" -> "",
    // zero-width space/joiners, BOM, soft hyphen: invisible, break tokenization
    "[\\x{200B}-\\x{200D}\\x{FEFF}\\x{00AD}]" -> "",
    // exotic horizontal spaces (NBSP, ogham, en/em/thin..., ideographic) -> space
    "[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]" -> " ",
    // horizontal ellipsis -> three dots (1:3, so not in the translate map)
    "\\x{2026}" -> "...")

  /** 1:1 typographic-punctuation folds for `translate`: curly/low-9
    * quotes -> ASCII quotes, en/em/figure/horizontal-bar/minus -> '-'. */
  private val punctFrom = "‘’‚“”„‒–—―−"
  private val punctTo = "'''\"\"\"-----"

  /** Canonicalize crawled text before any hashing/dedup/tokenize pass —
    * the standard first normalization step of a pretraining pipeline
    * (without it, `café` composed and decomposed hash as different
    * shingles and near-dup recall silently drops). NFC composition via
    * the codegen'd [[graft.expr.UnicodeNormalize]] (no UDF), then a
    * scan-stage regexp/translate chain: control chars and zero-width
    * marks drop, exotic spaces fold to ' ', curly quotes/dashes fold to
    * ASCII, space runs collapse (newlines survive — line-level ops
    * downstream need them). Every step replays verbatim in DuckDB via
    * [[normalizeTextSql]] (q153). */
  def normalizeText(text: Column): Column = {
    val composed = graft.expr.StringExpressions.unicodeNormalize(text)
    val cleaned = normalizeSteps.foldLeft(composed) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    }
    val punct = translate(cleaned, punctFrom, punctTo)
    trim(regexp_replace(regexp_replace(punct, "[ \\t]+", " "), " ?\\n ?", "\n"))
  }

  /** [[normalizeText]]'s chain as DuckDB SQL over expression `e` — the
    * q153 oracle builder (same constants, 'g' flag, same order; DuckDB's
    * `nfc_normalize` is the same UAX #15 canonical composition the JDK
    * implements). */
  def normalizeTextSql(e: String): String = {
    val inner = normalizeSteps.foldLeft(s"nfc_normalize($e)") { case (c, (p, r)) =>
      s"regexp_replace($c, '$p', '$r', 'g')"
    }
    val punct = s"translate($inner, '${punctFrom.replace("'", "''")}', '${punctTo.replace("'", "''")}')"
    s"trim(regexp_replace(regexp_replace($punct, '[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g'))"
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  def stopwordCount(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val stops = stopwords.toSet
    size(filter(tokens(text), w => stops.map(s => w === lit(s)).reduce(_ || _)))
  }

  /** quality score in [0,1]: blend of length band, stopword ratio and
    * alpha-character ratio (reference has no equivalent; standard
    * Gopher/C4-style heuristics). */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / n
    val alphaRatio = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val lengthOk = when(n.between(5, 10000), lit(1.0)).otherwise(lit(0.0))
    least(lit(1.0), stopRatio * 2.0) * 0.4 + alphaRatio * 0.3 + lengthOk * 0.3
  }

  /** n-gram-heuristic language ID: score text against per-language marker
    * word lists, pick argmax (ties broken by language code). The marker
    * lists are tiny embedded heuristics, not a trained model. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** zlib compression ratio (deflated/raw UTF-8 bytes, NULL for empty
    * strings) — the degenerate-text detector: looping/boilerplate text
    * compresses far below prose, random junk refuses to compress; both
    * tails get threshold-filtered (size thresholds from
    * [[quantileThresholds]] on a sample, not magic constants). Codegen
    * Catalyst expression ([[graft.expr.CompressionRatio]]) — stays in
    * the scan-stage quality chain, never a UDF. Not SQL-expressible in
    * the DuckDB oracle (no zlib surface there): covered by the ExprSpec
    * differential against `java.util.zip` directly. */
  def compressionRatio(text: Column): Column =
    graft.expr.StringExpressions.compressionRatio(text)

  def langScore(text: Column, markers: Seq[String]): Column = {
    val stops = markers.toSet
    size(filter(tokens(text), w => stops.map(s => w === lit(s)).reduce(_ || _)))
  }

  def predictLang(text: Column): Column = {
    // argmax over language scores; deterministic tie-break by code order
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (code, ms) =>
      struct(langScore(text, ms).as("score"), lit(code).as("code"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("code")).otherwise(lit("unk"))
  }

  /** code points of `text` as array<long> — [[charTrigramBuckets]]'s
    * input. Hoist this into a NAMED COLUMN before the trigram
    * transform: a lambda that embeds this subtree re-evaluates the
    * whole split per element access — O(n²) per document (the q172
    * offset-hoisting lesson; measured 236 s → 1.5 s on the q183 bench
    * at sf0.1). CollapseProject keeps the hoist: a non-cheap alias
    * referenced several times is not inlined. */
  def charCodePoints(text: Column): Column =
    transform(split(text, ""), c => ascii(c).cast("long"))

  /** hashed char-trigram bucket array over a HOISTED [[charCodePoints]]
    * array — the feature stream of the TRAINED language ID
    * ([[fitLangProfiles]]): trigram i hashes by the
    * [[portableWordHash]] fold of its three code points (identical
    * arithmetic to hashing the 3-char substring: acc=7, acc·31+cp mod
    * 2³¹−1), then the portable mixer and mod `buckets`. Bucket
    * COLLISIONS are part of the model, so the hash must match across
    * engines exactly — charPoly→mix, not xxhash64 (the
    * [[Mixture.dsirLogWeights]] posture). Arrays shorter than 3 yield
    * an empty result. */
  def charTrigramBuckets(cps: Column, buckets: Int): Column =
    // one codegen loop (r19) — identical long arithmetic to the former
    // interpreted per-trigram lambda (charpoly chain → portable mixer →
    // mod buckets), the <3-codepoint empty-array guard included
    graft.expr.TextHashExpressions.charTrigramBuckets(cps, buckets)

  /** (keep, bucket) char-trigram occurrence stream of `text`, one row
    * per trigram — the code-point array hoists into a real column so
    * the trigram lambda reads a materialized array. */
  private def charTrigramStream(df: DataFrame, keep: Column,
                                keepName: String, text: String,
                                buckets: Int): DataFrame =
    df.select(keep.as(keepName), charCodePoints(col(text)).as("__cps"))
      .select(col(keepName),
        explode(charTrigramBuckets(col("__cps"), buckets)).as("bucket"))

  /** TRAINED character-n-gram language ID, fit step (public methods:
    * Cavnar & Trenkle 1994's char-n-gram profiles in the
    * Naive-Bayes-over-hashed-features formulation langid.py
    * popularized) — the production replacement for [[predictLang]]'s
    * embedded marker-word heuristic, which only knows its 5 hardcoded
    * languages and misfires on a real multilingual crawl.
    *
    * Fit: over a LABELED slice (lang, text), count char-trigram
    * occurrences per (language, bucket) and smooth into the
    * multinomial log-profile
    *   logp(b|l) = ln((cnt_{l,b} + α) / (tot_l + α·B)), rounded 9 dp
    * (the libm last-ulp guard — q161's convention). ALL B buckets
    * emit per language (unseen buckets carry the pure smoothing
    * mass), so scoring needs no missing-key fallback.
    *
    * Scale shape: features explode in the scan stage; the counts are
    * one (lang, bucket) hash aggregate with map-side combine, at most
    * L·B rows (constants — never vocabulary-sized); totals are an
    * L-row aggregate. The returned profile is L·B rows — always
    * broadcastable. Null-lang rows drop (unlabeled). Uniform class
    * prior, deliberately: a crawl's language mix is not the labeled
    * slice's mix, and C&T's rank-profile original has no prior
    * either. Returns (lang, bucket, logp). */
  def fitLangProfiles(labeled: DataFrame, lang: String, text: String,
                      buckets: Int = 512, alpha: Double = 1.0): DataFrame = {
    require(buckets >= 1, "fitLangProfiles: buckets must be >= 1")
    require(alpha > 0, "fitLangProfiles: alpha must be > 0 (unsmoothed " +
      "zero buckets would send scores to -inf)")
    val feats = charTrigramStream(labeled.filter(col(lang).isNotNull),
      col(lang), "lang", text, buckets)
    val counts = feats.groupBy("lang", "bucket").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("lang").agg(sum(col("c")).as("tot"))
    totals.select(col("lang"), col("tot"),
        explode(sequence(lit(0L), lit((buckets - 1).toLong))).as("bucket"))
      .join(counts, Seq("lang", "bucket"), "left")
      .select(col("lang"), col("bucket"),
        round(log((coalesce(col("c"), lit(0L)) + alpha) /
          (col("tot") + alpha * buckets)), 9).as("logp"))
  }

  /** NB log-likelihood of every document under every
    * [[fitLangProfiles]] profile:
    *   score(d, l) = Σ_b n_{d,b} · logp(b|l),
    * computed in EXACT SCALED INTEGERS: logp is 9-dp rounded, so
    * logp·10⁹ is a true integer both engines recover identically from
    * the double (no .5 tie exists — the true value sits ON the
    * integer), n·logp9 and the sum are pure long arithmetic
    * (bound: |logp9| ≤ ln((tot+α·B)/α)·10⁹ — the unseen-bucket
    * worst case — e.g. ~2.8·10¹⁰ against a 10¹²-trigram fit, so a
    * 10⁶-trigram doc sums < 2.8·10¹⁶ ≪ 2⁶³; overflow needs a
    * single doc of ~3·10⁸ trigrams against such a fit), and the
    * final /10⁹ divides the SAME
    * integer by the same constant in both engines. A decimal(18,6)
    * term sum instead quantizes n·logp at 6 dp, where the true 9-dp
    * product lands on .5e-6 ties that the JVM (shortest-string
    * HALF_UP) and DuckDB (exact-binary) round apart — caught by the
    * q189 margin gate.
    *
    * `buckets` must match the fit. Scale shape: one (id, bucket) hash
    * aggregate collapses each doc to ≤B rows, the L·B profile
    * BROADCAST-joins onto it (fan-out L per row — L is small), and
    * one (id, lang) aggregate finishes; no window, no driver state.
    * Docs with no trigram (< 3 chars) emit nothing. Returns
    * (id, lang, score). */
  def scoreLangProfiles(docs: DataFrame, id: String, text: String,
                        profiles: DataFrame, buckets: Int = 512): DataFrame = {
    val db = charTrigramStream(docs, col(id), id, text, buckets)
      .groupBy(col(id), col("bucket")).agg(count(lit(1)).as("n"))
    val prof9 = profiles.select(col("lang"), col("bucket"),
      round(col("logp") * 1e9, 0).cast("long").as("__lp9"))
    db.join(broadcast(prof9), Seq("bucket"))
      .groupBy(col(id), col("lang"))
      .agg((sum(col("n") * col("__lp9")).cast("double") / lit(1e9))
        .as("score"))
  }

  /** argmax language per document over [[scoreLangProfiles]] (the
    * type-generic two-aggregate argmax — max score, then min(lang) at
    * that score; scores are identical exact-decimal sums in any
    * engine, so the tie-break is portable). Docs without a trigram
    * predict "unk". Returns (id, lang). */
  def predictLangTrained(docs: DataFrame, id: String, text: String,
                         profiles: DataFrame, buckets: Int = 512): DataFrame = {
    // scored feeds two consumers UNPINNED, deliberately (r19): every
    // duplicated branch terminates in an identical Exchange, so runtime
    // exchange reuse dedups the recompute; an explicit pin measured
    // FLAT-to-slower A/B (q189 ratio 1.13 over 3 interleaved pairs) and
    // hides the profile-broadcast shape PlanSpec pins.
    val scored = scoreLangProfiles(docs, id, text, profiles, buckets)
    val best = scored.groupBy(col(id)).agg(max(col("score")).as("__bs"))
    val pick = scored.join(best, Seq(id))
      .filter(col("score") === col("__bs"))
      .groupBy(col(id)).agg(min(col("lang")).as("lang"))
    docs.select(col(id)).join(pick, Seq(id), "left")
      .select(col(id), coalesce(col("lang"), lit("unk")).as("lang"))
  }

  /** [[predictLangTrained]] plus a CONFIDENCE margin — the standard
    * crawl-filter signal ("keep only confidently-identified docs"):
    * margin = best log-likelihood − second-best VALUE (strictly-lower
    * max, so two languages tying at the top give margin 0 with no
    * lang tie-break needed; a single-language profile set gives 0).
    * Scores are identical exact-decimal-derived doubles in any engine,
    * so the subtraction is portable untouched. Only docs with at least
    * one trigram appear (no score ⇒ no confidence to report).
    * Returns (id, lang, margin). */
  def langIdMargin(docs: DataFrame, id: String, text: String,
                   profiles: DataFrame, buckets: Int = 512): DataFrame = {
    // scored feeds three consumers UNPINNED, deliberately — see
    // [[predictLangTrained]]: runtime exchange reuse covers the
    // recompute, and the pin measured slower (r19 A/B).
    val scored = scoreLangProfiles(docs, id, text, profiles, buckets)
    val best = scored.groupBy(col(id)).agg(max(col("score")).as("__bs"))
    val withBest = scored.join(best, Seq(id))
    val second = withBest.filter(col("score") < col("__bs"))
      .groupBy(col(id)).agg(max(col("score")).as("__ss"))
    withBest.filter(col("score") === col("__bs"))
      .groupBy(col(id)).agg(min(col("lang")).as("lang"),
        first(col("__bs")).as("__bs"))
      .join(second, Seq(id), "left")
      .select(col(id), col("lang"),
        (col("__bs") - coalesce(col("__ss"), col("__bs"))).as("margin"))
  }

  /** fraction of tokens covered by the single most frequent word
    * n-gram — the Gopher-style repetition signal (high on looping /
    * boilerplate text). Scan-stage via the codegen'd
    * [[graft.expr.TopNgramCount]] kernel (build n-grams, sort, longest
    * equal-run — exact string equality): two interpreted-HOF
    * formulations measured seconds-per-thousand-rows because
    * ArrayTransform/ArrayAggregate are CodegenFallback and re-evaluate
    * captured expressions per element. 0.0 for docs shorter than n
    * tokens. */
  def topNgramFraction(text: Column, n: Int): Column = {
    val w = tokens(text)
    val best = graft.expr.VectorExpressions.topNgramCount(w, n)
    when(size(w) >= n,
      best.cast("double") * n / size(w)).otherwise(lit(0.0))
  }

  /** fraction of repeated (non-first-occurrence) tokens:
    * 1 − distinct/total. 0 on empty docs. */
  def duplicateWordFraction(text: Column): Column = {
    val w = tokens(text)
    when(size(w) > 0,
      lit(1.0) - size(array_distinct(w)).cast("double") / size(w))
      .otherwise(lit(0.0))
  }

  /** fraction of repeated non-empty lines — the duplicate-line Gopher
    * signal; 0 for single-line docs. */
  def duplicateLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(l) > 0)
    when(size(lines) > 0,
      lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines))
      .otherwise(lit(0.0))
  }

  /** Gopher-style quality rule set (Rae et al. 2021 §A1.1 heuristics —
    * public filter battery; the reference has no equivalent): one
    * boolean per rule plus the overall conjunction, as a struct. Every
    * rule is a Column expression over the token/line arrays — the
    * whole battery is scan-stage work with zero shuffles, the posture
    * for filtering a 100 TB crawl. Thresholds are the published ones;
    * override via the args.
    *
    * `mean_word_len` uses non-space-chars / word-count (exact for
    * single-space tokenization, and engine-portable — no per-word
    * fold). */
  def gopherFlags(text: Column,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                  minAlphaWordFrac: Double = 0.8,
                  minStopwords: Int = 2): Column = {
    val w = tokens(text)
    val nw = size(w).cast("double")
    val meanLen = length(regexp_replace(text, " ", "")).cast("double") /
      greatest(nw, lit(1.0))
    def occurrences(needle: String) =
      (length(text) - length(regexp_replace(text, java.util.regex.Pattern
        .quote(needle), ""))).cast("double") / needle.length
    val symbolRatio = (occurrences("#") + occurrences("...")) /
      greatest(nw, lit(1.0))
    val lines = split(text, "\n")
    val nl = size(lines).cast("double")
    val bulletFrac = size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("double") / greatest(nl, lit(1.0))
    val ellipsisFrac = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / greatest(nl, lit(1.0))
    val alphaWordFrac = size(filter(w, x => x.rlike("[A-Za-z]")))
      .cast("double") / greatest(nw, lit(1.0))
    val nStop = size(array_intersect(array_distinct(w),
      typedLit(defaultStopwords)))
    val fWords = nw >= minWords && nw <= maxWords
    val fMean = meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen
    val fSymbol = symbolRatio <= maxSymbolRatio
    val fBullet = bulletFrac <= maxBulletFrac
    val fEllipsis = ellipsisFrac <= maxEllipsisFrac
    val fAlpha = alphaWordFrac >= minAlphaWordFrac
    val fStop = nStop >= minStopwords
    struct(
      fWords.as("words_ok"), fMean.as("mean_word_len_ok"),
      fSymbol.as("symbol_ok"), fBullet.as("bullet_ok"),
      fEllipsis.as("ellipsis_ok"), fAlpha.as("alpha_ok"),
      fStop.as("stopwords_ok"),
      (fWords && fMean && fSymbol && fBullet && fEllipsis && fAlpha && fStop)
        .as("keep"))
  }

  /** fixed-size token chunking with overlap — the pretraining/RAG prep
    * op: chunk i covers tokens [i·(size−overlap), i·(size−overlap)+size).
    * Every document yields ≥ 1 chunk (short docs produce themselves);
    * the final chunk may be shorter. Pure codegen'd expressions over the
    * token array (scan-stage — pair with [[graft.api.Frame.explodeCol]]
    * to get one row per chunk). */
  def chunkTokens(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "chunkTokens: need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val w = tokens(text)
    val nChunks = greatest(
      ceil((size(w) - lit(overlap)).cast("double") / stride).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(w, i * stride + 1, lit(chunkSize))))
  }

  /** PII scrubbing for training corpora: replace emails, IPv4 addresses
    * and international-format phone numbers with typed placeholder
    * tokens. Pure codegen'd regexp_replace chain (scan-stage); the
    * patterns are deliberately conservative and RE2-compatible so the
    * behavior is replicable in other engines (q65's DuckDB oracle runs
    * the same expressions). Order: emails first (an address contains no
    * IP/phone substring once replaced). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\+\\d{7,15}"

  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, emailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, ipv4Pattern, "<IP>")
    regexp_replace(noIp, phonePattern, "<PHONE>")
  }

  /** count of PII tokens a redaction pass would remove — the audit
    * metric logged before dropping or scrubbing a document. */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(ipv4Pattern), lit(0))) +
      size(regexp_extract_all(text, lit(phonePattern), lit(0)))

  /** 64-bit rolling document fingerprint: order-sensitive hash chain over
    * words (acc ← xxhash64(acc, word)), as a single fold — deterministic,
    * partition-local, and overflow-free under ANSI mode (a raw polynomial
    * `acc * p + h` would overflow LongType). */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(1469598103934665603L),
      (acc, w) => xxhash64(acc, w))

  /** TF-IDF keyword extraction: the top-k terms per document by
    * tf·idf with smoothed idf = ln((N+1)/(df+1)) + 1 (the scikit-learn
    * formulation — public convention; the reference has no equivalent).
    *
    * Plan shape at corpus scale: one generator (explode) in the scan
    * stage, one hash-aggregate keyed (id, word) WITH map-side partial
    * combine (term counts shrink before the shuffle), a word-keyed
    * aggregate over those pairs for document frequency (vocabulary-sized
    * — orders of magnitude smaller than the corpus, AQE broadcasts it
    * back when it fits), the corpus size as a 1-row broadcast cross join
    * (the zScore pattern — no driver action), and one id-partitioned
    * window for the top-k. No all-pairs step anywhere; every shuffle key
    * is (id, word), word, or id.
    *
    * Engine-portable fp policy: idf is rounded to 9 dp BEFORE the tf
    * multiply and the product to 6 dp after it (ln may differ in the
    * last ulp across libm implementations — q77's established policy);
    * ties in the top-k window break on the word itself, so the output
    * is fully deterministic. Returns (id, word, tf, dfreq, tfidf, rk).
    */
  def tfIdfTopK(df: DataFrame, id: String, text: String, k: Int = 3): DataFrame = {
    require(k > 0, "tfIdfTopK: k must be positive")
    val tf = df
      .select(col(id), explode(filter(tokens(col(text)), w => length(w) > 0)).as("word"))
      .groupBy(col(id), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("dfreq"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val idf = round(
      log((col("n_docs") + 1).cast("double") / (col("dfreq") + 1)), 9) + 1.0
    val scored = tf.join(dfreq, "word").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * idf, 6))
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col(id), col("word"), col("tf"), col("dfreq"), col("tfidf"), col("rk"))
  }

  /** the feature battery for TRAINED quality scoring: the same
    * scan-stage signals the heuristic filters use, as a fixed-order
    * vector (stopword ratio, alpha ratio, mean word length, duplicate
    * word fraction, log1p token count). Pure Column expressions — the
    * extractor runs inside the parquet scan on both the labeled fit
    * sample and the full corpus. */
  def qualityFeatures(text: Column): Seq[Column] = {
    val n = greatest(tokenCount(text), lit(1)).cast("double")
    Seq(
      stopwordCount(text).cast("double") / n,
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double"),
      length(regexp_replace(text, " ", "")).cast("double") / n,
      duplicateWordFraction(text),
      log1p(tokenCount(text).cast("double")))
  }

  /** fasttext-style trained quality classifier: logistic regression
    * over [[qualityFeatures]], fit with Spark ML's distributed L-BFGS
    * on a LABELED sample (label 1.0 = keep). Returns (weights,
    * intercept) — a handful of doubles, NOT a model object, so scoring
    * ships as literals to any session. Fitting is the distributed
    * aggregation-per-iteration pattern (bounded driver state, like
    * KMeans); SCORING never touches the ML runtime — see
    * [[scoreQualityLr]]. */
  def fitQualityClassifier(df: DataFrame, text: String, label: String,
                           maxIter: Int = 50): (Array[Double], Double) = {
    import org.apache.spark.ml.classification.LogisticRegression
    val prepared = df.select(
      org.apache.spark.ml.functions.array_to_vector(
        array(qualityFeatures(col(text)): _*)).as("features"),
      col(label).cast("double").as("label"))
    val m = new LogisticRegression().setMaxIter(maxIter).setStandardization(true)
      .fit(prepared)
    (m.coefficients.toArray, m.intercept)
  }

  /** score a text column with a fitted (weights, intercept):
    * sigmoid(w·features + b) in [0,1] — a pure codegen'd Column chain
    * (the weights are literals), so corpus-scale scoring is scan-stage
    * work with zero ML-runtime dependency. */
  def scoreQualityLr(text: Column, weights: Array[Double],
                     intercept: Double): Column = {
    val fs = qualityFeatures(text)
    require(weights.length == fs.length,
      s"scoreQualityLr: ${fs.length} features, got ${weights.length} weights")
    val z = fs.zip(weights).map { case (f, w) => f * w }
      .reduce(_ + _) + lit(intercept)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Corpus-fit bigram language-model scoring — the KenLM-style
    * perplexity quality filter of CCNet/LLaMA-era pipelines (Wenzek et
    * al. 2019, arXiv:1911.00359 — public method; the reference has no
    * equivalent), self-fit on the corpus: estimate add-one-smoothed
    * bigram probabilities from the corpus itself, then score every
    * document by its mean token log-probability
    * avg over positional bigrams of ln((c(w1,w2)+1)/(c(w1)+V)).
    * Low avg_logp = improbable word sequences (gibberish, OCR noise,
    * wrong-language fragments); unusually high = degenerate repetition.
    * Fitting on a clean reference corpus instead is the same plan with
    * a different `df` feeding the counts — see `fitOn`.
    *
    * Plan shape at 100 TB: bigrams explode in the scan stage; c(w1,w2)
    * and c(w1) are hash aggregates with map-side partial combine
    * (bigram-vocabulary-sized, far smaller than the corpus); V is a
    * 1-row broadcast cross join (the zScore pattern); in the self-fit
    * case probabilities assemble on the vocab-sized bigram TYPE table
    * and ONE (w1,w2)-keyed equi-join touches the occurrence stream;
    * cross-fit assembles on the SCORE side's distinct-bigram table
    * (one extra corpus-scale hash aggregate, whose map-side partial
    * combine absorbs Zipf skew) with vocab-scale LEFT joins carrying
    * the open-vocab fallback. No window, no driver-side state.
    *
    * Engine-portable fp policy: per-bigram ln is rounded to 9 dp (libm
    * last-ulp guard — q95's policy) and the per-doc mean runs through
    * the exact decimal sum ([[graft.api.functions.davg]]), so the
    * result hash-matches across engines. Documents with < 2 tokens
    * have no bigrams and are absent. Returns
    * (id, n_bigrams, avg_logp). */
  def bigramLmScore(df: DataFrame, id: String, text: String,
                    fitOn: Option[DataFrame] = None): DataFrame = fitOn match {
    // cross-fit routes through the persistable-model path — the fit
    // table IS the model, so fit-then-score and fit-then-save-then-
    // load-then-score are the same plan by construction
    case Some(c) =>
      bigramLmScoreWith(df, id, text, fitBigramLm(c, text))
    case None => bigramLmScoreSelf(df, id, text)
  }

  private def bigramLmScoreSelf(df: DataFrame, id: String, text: String): DataFrame = {
    // Bigrams are keyed by 64-bit hashes (h12 = xxhash64(w1,w2),
    // h1 = xxhash64(w1)) — the count and score joins shuffle 8-byte
    // keys instead of word pairs, the term that dominates at corpus
    // scale; counts match the string formulation modulo ~n²/2⁶⁴
    // collisions (the q44 convention — q99's string-based DuckDB
    // oracle hash-matches through it). The compact per-doc hash-array
    // frame feeds BOTH the count branch and the score branch in the
    // self-fit case; localCheckpoint pins it once (the q45
    // multi-branch lesson).
    def bigramArrays(d: DataFrame) = {
      val w = tokens(col(text))
      d.select(col(id), w.as("w")).filter(size(col("w")) >= 2)
        .select(col(id), graft.expr.TextHashExpressions.bigramHashPairs(col("w")).as("bs"))
    }
    def expand(arrays: DataFrame) = arrays
      .select(col(id), explode_outer(col("bs")).as("b"))
      .select(col(id), col("b.h12").as("h12"), col("b.h1").as("h1"))
    val scoreArrays = Materialize.pin(bigramArrays(df))
    val corpusBigrams = expand(scoreArrays)
    val c12 = corpusBigrams.groupBy("h12")
      .agg(count(lit(1)).as("c12"), first(col("h1")).as("h1c"))
    val c1 = c12.groupBy(col("h1c").as("h1")).agg(sum(col("c12")).as("c1"))
    val vocab = df.select(explode(tokens(col(text))).as("wd"))
      .agg(count_distinct(col("wd")).as("v"))
    val lnp = round(log((col("c12") + 1).cast("double") /
      (col("c1") + col("v"))), 9)
    // self-fit: every scored bigram exists in c12 by construction,
    // so probabilities assemble on the vocab-sized TYPE table (c12
    // carries h1c) and ONE h12 equi-join touches the occurrence
    // stream — not a corpus-scale h1 join on Zipf-skewed word keys
    // (the knBigramLmScore shape).
    val types = c12.join(c1, c12("h1c") === c1("h1"))
      .crossJoin(broadcast(vocab))
      .select(col("h12"), lnp.as("lnp"))
    expand(scoreArrays).select(col(id), col("h12"))
      .join(types, Seq("h12"))
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_bigrams"),
        graft.api.functions.davg(col("lnp")).as("avg_logp"))
  }

  /** fit side of the add-one bigram LM as a persistable model TABLE
    * ([[graft.ops.ModelStore.saveModelTable]]; order-pin on load with
    * `h12`): one row per bigram type (h12, h1, c12) with the corpus
    * vocabulary size V denormalized onto every row, plus one sentinel
    * row (null hashes) that carries V even when the corpus has no
    * bigrams at all — so [[bigramLmScoreWith]] always recovers the
    * add-one fallback denominator. Vocabulary-sized: two hash
    * aggregates over one corpus scan plus a 1-row broadcast cross. */
  def fitBigramLm(corpus: DataFrame, text: String): DataFrame = {
    val w = tokens(col(text))
    val grams = graft.expr.TextHashExpressions.bigramHashPairs(col("w"))
    val occ = corpus.select(w.as("w")).filter(size(col("w")) >= 2)
      .select(explode(grams).as("b"))
      .select(col("b.h12").as("h12"), col("b.h1").as("h1"))
    val c12 = occ.groupBy("h12")
      .agg(count(lit(1)).as("c12"), first(col("h1")).as("h1"))
    val vocab = corpus.select(explode(tokens(col(text))).as("wd"))
      .agg(count_distinct(col("wd")).as("v"))
    c12.crossJoin(broadcast(vocab))
      .select(col("h12"), col("h1"), col("c12"), col("v"))
      .unionByName(vocab.select(lit(null).cast("long").as("h12"),
        lit(null).cast("long").as("h1"), lit(null).cast("long").as("c12"),
        col("v")))
  }

  /** score `df` against a FITTED add-one bigram LM ([[fitBigramLm]],
    * possibly round-tripped through ModelStore) — the score-many half
    * of the train-once/score-many contract, and the scorer
    * [[bigramLmScore]]'s cross-fit path delegates to (so the two are
    * equal by construction).
    *
    * Open vocabulary: a scored bigram ABSENT from the model (null
    * c12/c1 after the left joins) gets the full add-one fallback
    * (0+1)/(0+V). The fallback still assembles on a TYPE table: the
    * SCORE side's distinct bigrams (one h12-keyed hash aggregate with
    * map-side partial combine, which absorbs Zipf skew the way a join
    * cannot) left-join the model counts at vocab scale, and ONE h12
    * equi-join touches the occurrence stream. Joining counts onto the
    * occurrences directly would put every occurrence of "the" on one
    * reducer for the h1 join at corpus scale. Returns
    * (id, n_bigrams, avg_logp); documents with < 2 tokens are absent. */
  def bigramLmScoreWith(df: DataFrame, id: String, text: String,
                        model: DataFrame): DataFrame = {
    val w = tokens(col(text))
    val scoreArrays = Materialize.pin(
      df.select(col(id), w.as("w")).filter(size(col("w")) >= 2)
        .select(col(id), graft.expr.TextHashExpressions.bigramHashPairs(col("w")).as("bs")))
    val occ = scoreArrays
      .select(col(id), explode_outer(col("bs")).as("b"))
      .select(col(id), col("b.h12").as("h12"), col("b.h1").as("h1"))
    // the model is read three times (c12, c1, V) — pinned so an
    // INLINE fit plan (the [[bigramLmScore]] delegation) is computed
    // once, not re-aggregated per consumer; a ModelStore-loaded table
    // pins to a trivial scan
    val m = Materialize.pin(model)
    val seen = m.filter(col("h12").isNotNull)
    val c12 = seen.select(col("h12"), col("c12"))
    val c1 = seen.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
    val vocab = m.agg(max(col("v")).as("v"))
    val lnp = round(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v"))), 9)
    val stypes = occ.groupBy("h12").agg(first(col("h1")).as("h1s"))
    val types = stypes
      .join(c12, Seq("h12"), "left")
      .join(c1, stypes("h1s") === c1("h1"), "left")
      .crossJoin(broadcast(vocab))
      .select(stypes("h12"), lnp.as("lnp"))
    occ.select(col(id), col("h12"))
      .join(types, Seq("h12"))
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_bigrams"),
        graft.api.functions.davg(col("lnp")).as("avg_logp"))
  }

  /** Interpolated Kneser–Ney bigram scoring — the smoothing KenLM
    * actually ships (Kneser & Ney 1995; Chen & Goodman 1999's
    * interpolated formulation — public method), self-fit on the corpus:
    *   P(w2|w1) = (max(c(w1,w2) − D, 0) + D·N₁₊(w1,·)·P_cont(w2)) / c(w1)
    *   P_cont(w2) = N₁₊(·,w2) / N₁₊(·,·)
    * where N₁₊ counts DISTINCT bigram types (fanout of a left context,
    * fanin of a right word, total type count). Add-one
    * ([[bigramLmScore]]) over-penalizes frequent-word bigrams and
    * ignores context diversity; KN's continuation probability asks
    * "how many contexts does w2 follow?" — the signal that separates
    * fluent prose from keyword-stuffed spam with plausible unigrams.
    *
    * Self-fit by construction: every scored bigram has c(w1,w2) ≥ 1,
    * so P > 0 and the ln is total. Scoring held-out text against a
    * reference fit needs an <unk> convention (OOV words carry zero
    * continuation mass) — [[bigramLmScore]]'s add-one fallback is the
    * open-vocabulary path; this is the fluency scorer.
    *
    * Plan shape: [[bigramLmScore]]'s — scan-stage bigram explode on
    * 64-bit hashed keys (the shuffles carry 8-byte keys, the term that
    * dominates at corpus scale), three vocabulary-sized hash
    * aggregates (bigram counts; per-left totals + fanout; per-right
    * fanin), a 1-row type-total broadcast, probability assembly on the
    * vocab-sized TYPE table with ONE h12 equi-join back onto the
    * occurrence stream, and the exact-decimal per-doc mean. fp policy:
    * counts are exact
    * longs; the probability assembles in a FIXED association order the
    * oracle mirrors token-for-token (IEEE mul/div are correctly
    * rounded, so only the ln needs the 9-dp libm guard — q77 policy).
    * Documents with < 2 tokens have no bigrams and are absent.
    * Returns (id, n_bigrams, avg_logp). */
  def knBigramLmScore(df: DataFrame, id: String, text: String,
                      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      "knBigramLmScore: discount must be in (0,1)")
    val w = tokens(col(text))
    val arrays0 = df.select(col(id), w.as("w")).filter(size(col("w")) >= 2)
      .select(col(id), transform(sequence(lit(0), size(col("w")) - 2),
        i => struct(
          xxhash64(get(col("w"), i), get(col("w"), i + 1)).as("h12"),
          xxhash64(get(col("w"), i)).as("h1"),
          xxhash64(get(col("w"), i + 1)).as("h2"))).as("bs"))
    val arrays = Materialize.pin(arrays0)
    val expanded = arrays.select(col(id), explode(col("bs")).as("b"))
      .select(col(id), col("b.h12").as("h12"), col("b.h1").as("h1"),
        col("b.h2").as("h2"))
    // one aggregate carries the (h1, h2) of each bigram type along, so
    // fanout/fanin/type-total all derive from the TYPE table — nothing
    // rescans the corpus-sized occurrence stream
    val c12 = Materialize.pin(
      expanded.groupBy("h12").agg(count(lit(1)).as("c12"),
        first(col("h1")).as("h1c"), first(col("h2")).as("h2c")))
    val left = c12.groupBy(col("h1c").as("h1")).agg(
      sum(col("c12")).as("c1"), count(lit(1)).as("fanout"))
    val right = c12.groupBy(col("h2c").as("h2"))
      .agg(count(lit(1)).as("fanin"))
    val n11 = c12.agg(count(lit(1)).as("n11"))
    val p = (greatest(col("c12").cast("double") - discount, lit(0.0)) +
      lit(discount) * col("fanout") * col("fanin") / col("n11")) / col("c1")
    // Probabilities assemble on the bigram TYPE table, never the
    // occurrence stream: joining left/right/n11 onto `expanded` would
    // be three corpus-sized shuffles on Zipf-skewed keys (every
    // occurrence of "the" lands on one reducer for the h1 join). c12
    // already carries each type's h1c/h2c, so both joins here are
    // vocab×vocab; the ONE join that touches the corpus is the final
    // h12 equi-join — same per-occurrence values, one shuffle not
    // three, and AQE can skew-split an 8-byte-key equi-join.
    val types = c12
      .join(left, c12("h1c") === left("h1"))
      .join(right, c12("h2c") === right("h2"))
      .crossJoin(broadcast(n11))
      .select(col("h12"), round(log(p), 9).as("lnp"))
    expanded.select(col(id), col("h12"))
      .join(types, Seq("h12"))
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_bigrams"),
        graft.api.functions.davg(col("lnp")).as("avg_logp"))
  }

  /** fit side of [[knBigramLmScore]] as a persistable model TABLE
    * ([[graft.ops.ModelStore.saveModelTable]]; order-pin on load with
    * `h12`): one row per bigram type (h12, h1, h2, c12) — everything
    * interpolated KN needs (per-left totals + fanout, per-right fanin,
    * type total) derives from this table at score time, so the model
    * stays a single vocabulary-sized frame. One hash aggregate over
    * one corpus scan. */
  def fitKnBigramLm(corpus: DataFrame, text: String): DataFrame = {
    val w = tokens(col(text))
    val grams = transform(sequence(lit(0), size(col("w")) - 2),
      i => struct(
        xxhash64(get(col("w"), i), get(col("w"), i + 1)).as("h12"),
        xxhash64(get(col("w"), i)).as("h1"),
        xxhash64(get(col("w"), i + 1)).as("h2")))
    corpus.select(w.as("w")).filter(size(col("w")) >= 2)
      .select(explode(grams).as("b"))
      .select(col("b.h12").as("h12"), col("b.h1").as("h1"),
        col("b.h2").as("h2"))
      .groupBy("h12").agg(count(lit(1)).as("c12"),
        first(col("h1")).as("h1"), first(col("h2")).as("h2"))
  }

  /** score `df` against a FITTED interpolated-KN bigram LM
    * ([[fitKnBigramLm]], possibly round-tripped through ModelStore) —
    * the score-many half of the train-once/score-many contract for the
    * fluency scorer.
    *
    * KN is fit-closed-vocabulary, so scoring held-out text needs an
    * explicit out-of-vocabulary convention (KenLM reserves an <unk>
    * token at TRAINING time; a post-hoc scorer cannot). The convention
    * here, stated in the output:
    *  - bigram type SEEN in the model → the exact interpolated-KN
    *    probability (same association order as [[knBigramLmScore]]);
    *  - type unseen but BOTH words in the model's vocabulary (w1 has a
    *    left total, w2 has continuation mass) → the interpolated
    *    formula at c(w1,w2) = 0, i.e. D·N₁₊(w1,·)·P_cont(w2)/c(w1) —
    *    well-defined and exactly what KN interpolation is FOR;
    *  - w1 or w2 outside the vocabulary → NO probability mass exists;
    *    the bigram is EXCLUDED from the mean and counted in `n_oov`
    *    (the honest alternative to inventing an ad-hoc floor).
    * A document whose every bigram is OOV keeps n_bigrams = 0 and a
    * null avg_logp. Same TYPE-table assembly as [[knBigramLmScore]]:
    * score-side distinct bigrams left-join the model at vocab scale;
    * ONE h12 equi-join touches the occurrence stream. Returns
    * (id, n_bigrams, n_oov, avg_logp). */
  def knBigramLmScoreWith(df: DataFrame, id: String, text: String,
                          model: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      "knBigramLmScoreWith: discount must be in (0,1)")
    val w = tokens(col(text))
    val arrays = Materialize.pin(
      df.select(col(id), w.as("w")).filter(size(col("w")) >= 2)
        .select(col(id), transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(
            xxhash64(get(col("w"), i), get(col("w"), i + 1)).as("h12"),
            xxhash64(get(col("w"), i)).as("h1"),
            xxhash64(get(col("w"), i + 1)).as("h2"))).as("bs")))
    val expanded = arrays.select(col(id), explode(col("bs")).as("b"))
      .select(col(id), col("b.h12").as("h12"), col("b.h1").as("h1"),
        col("b.h2").as("h2"))
    // four reads of the model (c12, left, right, n11) — pinned so an
    // inline [[fitKnBigramLm]] plan aggregates the fit corpus once
    val m = Materialize.pin(model)
    val left = m.groupBy(col("h1")).agg(
      sum(col("c12")).as("c1"), count(lit(1)).as("fanout"))
    val right = m.groupBy(col("h2")).agg(count(lit(1)).as("fanin"))
    val n11 = m.agg(count(lit(1)).as("n11"))
    val stypes = expanded.groupBy("h12").agg(
      first(col("h1")).as("h1s"), first(col("h2")).as("h2s"))
    val p = (greatest(coalesce(col("c12"), lit(0L)).cast("double") - discount,
      lit(0.0)) +
      lit(discount) * col("fanout") * col("fanin") / col("n11")) / col("c1")
    val lnp = when(col("c1").isNotNull && col("fanin").isNotNull,
      round(log(p), 9))
    val types = stypes
      .join(m.select(col("h12"), col("c12")), Seq("h12"), "left")
      .join(left, stypes("h1s") === left("h1"), "left")
      .join(right, stypes("h2s") === right("h2"), "left")
      .crossJoin(broadcast(n11))
      .select(stypes("h12"), lnp.as("lnp"))
    expanded.select(col(id), col("h12"))
      .join(types, Seq("h12"))
      .groupBy(col(id)).agg(
        count(col("lnp")).as("n_bigrams"),
        (count(lit(1)) - count(col("lnp"))).as("n_oov"),
        graft.api.functions.davg(col("lnp")).as("avg_logp"))
  }

  /** PMI collocation mining (Church & Hanks 1990 — public method): the
    * top-k adjacent word pairs by pointwise mutual information
    *   pmi(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) )
    * with p(w1,w2) = c12/NB over positional bigrams and p(w) = c(w)/NT
    * over token occurrences, subject to c12 ≥ minCount (PMI is
    * notoriously noisy on rare pairs — the standard support floor).
    * Collocations surface boilerplate phrases, templated spans, and
    * multi-word entities — the phrase-level audit signal next to
    * [[graft.api.Frame.frequencies]].
    *
    * Counts aggregate on the word STRINGS (the output needs words, and
    * the aggregates are vocabulary-sized — far smaller than the
    * corpus — with map-side partial combine); NB sums the UNFILTERED
    * pair-type table so the support floor can't bias the denominator.
    * Selection is a bounded TakeOrderedAndProject over the filtered
    * pair vocabulary — never a corpus sort. fp policy: the probability
    * ratio assembles in a fixed association order the oracle mirrors;
    * the ln rounds to 9 dp; ties break (w1, w2) lexicographic.
    * Returns (w1, w2, c12, pmi), k rows best-first. */
  def pmiCollocations(df: DataFrame, text: String, minCount: Long,
                      k: Int): DataFrame = {
    require(minCount >= 1, "pmiCollocations: minCount must be >= 1")
    require(k >= 1, "pmiCollocations: k must be >= 1")
    val toks = Materialize.pin(df.select(tokens(col(text)).as("w")))
    val uni = toks.select(explode(col("w")).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("cw"))
    val nt = uni.agg(sum(col("cw")).as("nt"))
    val c12all = Materialize.pin(
      toks.filter(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(get(col("w"), i).as("w1"),
            get(col("w"), i + 1).as("w2")))).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("c12")))
    val nb = c12all.agg(sum(col("c12")).as("nb"))
    val pmi = round(log((col("c12").cast("double") / col("nb")) /
      ((col("cw1").cast("double") / col("nt")) *
        (col("cw2").cast("double") / col("nt")))), 9)
    c12all.filter(col("c12") >= minCount)
      .join(uni.select(col("wd").as("w1"), col("cw").as("cw1")), Seq("w1"))
      .join(uni.select(col("wd").as("w2"), col("cw").as("cw2")), Seq("w2"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c12"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-group quantile pruning (the per-domain quality filter of a
    * corpus-prep pipeline — keep each source's best (1−q) fraction by
    * `score`): one hash aggregate computes each group's q-quantile of
    * the score, the (group, threshold) table — one row per group —
    * broadcasts back, and rows below their group's threshold drop in
    * the scan stage. The zScore agg-broadcast pattern, never a global
    * sort or a per-group window over the corpus.
    *
    * `approx = true` swaps the exact sort-based percentile for the
    * Greenwald-Khanna sketch (`err ≤ 1/accuracy`) — the 100 TB path
    * when even the per-group exact percentile shuffle is too heavy;
    * thresholds then sit within the sketch error of the true quantile
    * (set sensitivity accordingly). Keeps score == threshold rows.
    *
    * `df` is consumed TWICE (the threshold aggregate and the keep
    * probe are separate plan branches): when the input is an
    * expensive derived chain — cleaning, deflate signals — pin it
    * first (`Materialize.pin(df)`), or the chain's scan stage runs
    * end-to-end once per branch (measured 1.8× on corpus-prep v6). A
    * raw-table scan plus cheap columns does NOT need the pin: two
    * pruned parquet scans beat materializing one. Why Spark can't
    * share it unaided: ReuseExchange deduplicates identical EXCHANGE
    * subtrees, and the keep-probe branch has no exchange — its scan
    * feeds the broadcast join directly — so there is nothing to
    * reuse (measured: the two-aggregate argmax ops, whose branches
    * all sit above one identical shuffle, already share it and a pin
    * there is a small LOSS — interleaved A/B ratio 1.08). */
  def keepTopQuantile(df: DataFrame, group: String, score: Column,
                      q: Double, approx: Boolean = false,
                      accuracy: Int = 10000): DataFrame = {
    require(q > 0.0 && q < 1.0, "keepTopQuantile: q must be in (0, 1)")
    val scored = df.withColumn("__ktq_score", score)
    val thr = scored.groupBy(col(group)).agg(
      (if (approx) percentile_approx(col("__ktq_score"), lit(q), lit(accuracy))
       else percentile(col("__ktq_score"), lit(q))).as("__ktq_thr"))
    scored.join(broadcast(thr), Seq(group))
      .filter(col("__ktq_score") >= col("__ktq_thr"))
      .drop("__ktq_score", "__ktq_thr")
  }

  /** Curriculum bucketing: assign every row a quantile bucket of
    * `score` WITHIN its group (the difficulty/quality tiers a staged
    * training run samples from). One hash aggregate computes each
    * group's quantile vector (exact percentile over the probs array),
    * the one-row-per-group threshold table broadcasts back, and the
    * bucket index is a scan-stage fold over the thresholds — never an
    * ntile window over the corpus (a per-group global sort).
    *
    * With probs = (p1 < p2 < ... < pm), bucket i ∈ [0, m]: the count
    * of thresholds at or below the row's score — rows at a threshold
    * go to the higher bucket, matching `keepTopQuantile`'s >= keep
    * rule. Returns df + `bucket`. */
  def bucketByQuantiles(df: DataFrame, group: String, score: Column,
                        probs: Seq[Double]): DataFrame =
    bucketByThresholds(df, group, score,
      quantileThresholds(df, group, score, probs))

  /** the threshold table [[bucketByQuantiles]] computes inline, as a
    * persistable model ([[graft.ops.ModelStore.saveModelTable]];
    * order-pin on load with `group`): one row per group with the exact
    * interpolated quantile vector of `score` at `probs` — the
    * train-once half of threshold bucketing (CCNet computes its
    * head/middle/tail cuts on the TRAINING distribution and applies
    * them to everything that arrives later). One hash aggregate.
    *
    * Cuts are rounded to 9 dp (the q77 fp-policy guard): interpolated
    * quantiles differ between engines in the last ulp of the INDEX
    * arithmetic (observed at sf1: Spark 56.524621 vs DuckDB
    * 56.52462100000001 for the same tercile), and a score that ties a
    * cut exactly would flip buckets across engines without the guard.
    * Returns (group, thresholds: array<double>). */
  def quantileThresholds(df: DataFrame, group: String, score: Column,
                         probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs == probs.sorted &&
      probs.forall(p => p > 0 && p < 1),
      "quantileThresholds: probs must be sorted, in (0, 1)")
    df.withColumn("__bq_score", score).groupBy(col(group)).agg(
      percentile(col("__bq_score"),
        array(probs.map(lit(_)): _*)).as("__bq_raw"))
      .select(col(group),
        transform(col("__bq_raw"), t => round(t, 9)).as("thresholds"))
  }

  /** stamp quantile buckets from a FITTED threshold table
    * ([[quantileThresholds]], possibly round-tripped through
    * ModelStore): the |groups|-row table broadcasts back and the
    * bucket index is a scan-stage fold over the thresholds — never an
    * ntile window. Rows whose group is absent from the table are
    * dropped (no thresholds → no bucket — the ccnet language rule).
    * Bucket i = count of thresholds at or below the row's score (rows
    * AT a threshold go to the higher bucket). Returns df + `bucket`. */
  def bucketByThresholds(df: DataFrame, group: String, score: Column,
                         thresholds: DataFrame): DataFrame = {
    val thr = thresholds.select(col(group), col("thresholds").as("__bq_thr"))
    df.withColumn("__bq_score", score)
      .join(broadcast(thr), Seq(group))
      .withColumn("bucket", aggregate(col("__bq_thr"), lit(0),
        (acc, t) => acc + when(col("__bq_score") >= t, 1).otherwise(0)))
      .drop("__bq_score", "__bq_thr")
  }

  /** CCNet-style perplexity filtering (Wenzek et al. 2020,
    * arXiv:1911.00359 — public method): score every document's bigram
    * language-model perplexity against a CLEAN reference corpus fit in
    * the SAME language, then split each language into head / middle /
    * tail buckets at the per-language perplexity quantiles — the
    * classic web-crawl quality gate (head ≈ reference-like prose, tail
    * ≈ gibberish / boilerplate / wrong-language fragments).
    *
    * ONE pass for every language — the LM tables carry the language
    * key; no per-language driver loop, no |langs| corpus scans:
    *  - fit side: bigram counts c(lang,w1,w2) (one hash aggregate,
    *    which also carries each type's left-context hash), per-context
    *    totals c(lang,w1) DERIVED from that type table, and the
    *    per-language vocabulary V(lang) — all vocabulary-sized;
    *  - score side: bigrams explode in the scan stage keyed by
    *    xxhash64 (8-byte shuffle keys — the q99 convention); ONE
    *    (lang,h12) hash aggregate builds the score-side TYPE table
    *    (map-side partial combine absorbs Zipf skew); add-one
    *    probabilities with the open-vocabulary fallback (unseen bigram
    *    → (0+1)/(0+V)) assemble THERE via vocab-scale LEFT joins, and
    *    ONE equi-join stamps lnp back onto the occurrence stream —
    *    never a per-occurrence join on skewed word keys;
    *  - ppl = round(exp(−avg lnp), 6) per doc through the exact
    *    decimal mean; bucket thresholds are the per-language exact
    *    interpolated (headQ, midQ) percentiles — a |langs|-row
    *    agg-broadcast join ([[bucketByQuantiles]]'s shape, and its
    *    at-threshold-goes-higher rule), never a corpus window.
    *
    * Languages absent from the fit corpus have no LM and are EXCLUDED
    * (CCNet trains one LM per covered language); fit on a slice that
    * covers every language you keep. fp policy: per-bigram ln rounds
    * to 9 dp (libm guard), ppl to 6 dp; thresholds interpolate over
    * the ROUNDED ppl so both engines compare identical doubles.
    * Documents with < 2 tokens are absent. Returns
    * (id, lang, n_bigrams, ppl, bucket ∈ head|middle|tail). */
  def ccnetPerplexityBuckets(df: DataFrame, id: String, text: String,
                             lang: String, fitOn: DataFrame,
                             headQ: Double = 1.0 / 3,
                             midQ: Double = 2.0 / 3): DataFrame = {
    require(headQ > 0 && headQ < midQ && midQ < 1,
      "ccnetPerplexityBuckets: need 0 < headQ < midQ < 1")
    // bucketByQuantiles reads its input twice (threshold aggregate +
    // row stamp); pin the scored frame so the whole LM pipeline runs
    // ONCE, not once per consumer — the q45 multi-branch lesson.
    val scoredP = Materialize.pin(ccnetPerplexity(df, id, text, lang, fitOn))
    bucketByQuantiles(scoredP, lang, col("ppl"), Seq(headQ, midQ))
      .withColumn("bucket", element_at(
        array(lit("head"), lit("middle"), lit("tail")), col("bucket") + 1))
  }

  /** the scoring stage of [[ccnetPerplexityBuckets]]: per-language
    * cross-fit add-one bigram-LM perplexity, one pass for all
    * languages. Returns (id, lang, n_bigrams, ppl). */
  def ccnetPerplexity(df: DataFrame, id: String, text: String,
                      lang: String, fitOn: DataFrame): DataFrame =
    // fit routes through the persistable per-language model table —
    // fit-then-score and fit-then-save-then-load-then-score are the
    // same plan by construction ([[fitCcnetLm]]/[[ccnetPerplexityWith]])
    ccnetPerplexityWith(df, id, text, lang, fitCcnetLm(fitOn, text, lang))

  /** the compact per-doc hash-array frame shared by the ccnet fit and
    * score sides (the q99 shape): one struct array per document, never
    * the exploded occurrence stream; explode stays downstream so it
    * runs in the scan stage of each consumer. Input must carry a `w`
    * token-array column; every other column rides along. */
  private def ccnetBigramArrays(d: DataFrame): DataFrame =
    d.filter(size(col("w")) >= 2)
      .select(d.columns.filter(_ != "w").map(col) :+
        graft.expr.TextHashExpressions.bigramHashPairs(col("w")).as("bs"): _*)

  private def ccnetExpand(arrays: DataFrame): DataFrame = arrays
    .withColumn("b", explode(col("bs"))).drop("bs")
    .withColumn("h12", col("b.h12")).withColumn("h1", col("b.h1"))
    .drop("b")

  /** fit side of [[ccnetPerplexity]] as a persistable model TABLE
    * ([[graft.ops.ModelStore.saveModelTable]]; order-pin on load with
    * `lang, h12`): one row per (language, bigram type) carrying
    * (h12, h1, c12) with the per-language vocabulary size V
    * denormalized onto every row; a language whose fit slice has
    * vocabulary but no bigrams keeps one sentinel row (null hashes) so
    * its V — and therefore its open-vocab fallback — survives the
    * round trip. Vocabulary-sized: two hash aggregates over one fit
    * scan plus |langs|-row broadcast joins. */
  def fitCcnetLm(fitOn: DataFrame, text: String, lang: String): DataFrame = {
    val w = tokens(col(text))
    val fitOcc = ccnetExpand(ccnetBigramArrays(
      fitOn.select(col(lang).as("__lg"), w.as("w"))))
    val c12 = fitOcc.groupBy("__lg", "h12")
      .agg(count(lit(1)).as("c12"), first(col("h1")).as("h1"))
    val vocabL = fitOn
      .select(col(lang).as("__lg"), explode(tokens(col(text))).as("wd"))
      .groupBy("__lg").agg(count_distinct(col("wd")).as("v"))
    val sentinels = vocabL
      .join(c12.select(col("__lg")).distinct(), Seq("__lg"), "left_anti")
      .select(col("__lg"), lit(null).cast("long").as("h12"),
        lit(null).cast("long").as("h1"), lit(null).cast("long").as("c12"),
        col("v"))
    c12.join(broadcast(vocabL), Seq("__lg"))
      .select(col("__lg"), col("h12"), col("h1"), col("c12"), col("v"))
      .unionByName(sentinels)
      .withColumnRenamed("__lg", lang)
  }

  /** score `df` against a FITTED per-language ccnet LM ([[fitCcnetLm]],
    * possibly round-tripped through ModelStore) — the score-many half
    * of the train-once/score-many contract, and what
    * [[ccnetPerplexity]] delegates to. Same open-vocabulary fallback
    * and TYPE-table assembly as [[bigramLmScoreWith]], per language;
    * languages absent from the model are EXCLUDED (CCNet trains one LM
    * per covered language). Returns (id, lang, n_bigrams, ppl);
    * documents with < 2 tokens are absent. */
  def ccnetPerplexityWith(df: DataFrame, id: String, text: String,
                          lang: String, model: DataFrame): DataFrame = {
    val w = tokens(col(text))
    // three reads of the model (c12, c1, per-lang V) — pinned so an
    // inline [[fitCcnetLm]] plan (the [[ccnetPerplexity]] delegation)
    // aggregates the fit corpus once, not three times per score
    val m = Materialize.pin(model)
    val seen = m.filter(col("h12").isNotNull)
    val c12 = seen.select(col(lang).as("__lg"), col("h12"), col("c12"))
    val c1 = seen.groupBy(col(lang).as("__lg"), col("h1").as("h1s"))
      .agg(sum(col("c12")).as("c1"))
    val vocabL = m.groupBy(col(lang).as("__lg"))
      .agg(max(col("v")).as("v"))
    val scoreOcc = ccnetExpand(Materialize.pin(ccnetBigramArrays(
      df.select(col(id), col(lang).as("__lg"), w.as("w")))))
    val stypes = scoreOcc.groupBy("__lg", "h12")
      .agg(first(col("h1")).as("h1s"))
    val lnp = round(log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c1"), lit(0L)) + col("v"))), 9)
    val types = stypes
      .join(c12, Seq("__lg", "h12"), "left")
      .join(c1, Seq("__lg", "h1s"), "left")
      .join(vocabL, Seq("__lg"))
      .select(col("__lg"), col("h12"), lnp.as("lnp"))
    scoreOcc.select(col(id), col("__lg"), col("h12"))
      .join(types, Seq("__lg", "h12"))
      .groupBy(col(id), col("__lg"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.api.functions.davg(col("lnp")).as("avg_logp"))
      .select(col(id), col("__lg").as(lang), col("n_bigrams"),
        round(exp(-col("avg_logp").cast("double")), 6).as("ppl"))
  }

  /** engine-PORTABLE word hash: 31-multiplier character polynomial over
    * Unicode code points mod the Mersenne prime 2³¹−1, finished with the
    * portable integer mixer ([[graft.api.Frame.portableMix]]). The same
    * arithmetic is expressible in ANSI SQL (queries.Sql.wordHash), so
    * operators built on it — [[fingerprintPortable]],
    * [[Dedup.simhashPortable]] — hash-match across engines; the xxhash64
    * variants remain the production fast path. Every intermediate stays
    * below 2³¹·31 + 2²¹ < 2³⁶ — no overflow under ANSI mode. */
  def portableWordHash(w: Column): Column = {
    val poly = aggregate(split(w, ""), lit(7L),
      (acc, c) => (acc * 31 + ascii(c)) % 2147483647L)
    graft.api.Frame.portableMix(poly)
  }

  /** engine-portable order-sensitive document fingerprint: the
    * [[fingerprint]] chain re-based on [[portableWordHash]] and the
    * mixer's multiply-add-mod arithmetic (every intermediate
    * < 2³¹·2654435761 < 2⁶³ — overflow-free). DuckDB-replicable. */
  def fingerprintPortable(text: Column): Column =
    aggregate(tokens(text), lit(7L),
      (acc, w) => (((acc * 2654435761L + portableWordHash(w)) % 2147483647L)
        * 2246822519L) % 2147483647L)

  /** BM25 ranked retrieval (Robertson & Walker Okapi weighting with
    * Lucene's non-negative idf = ln(1 + (N−df+0.5)/(df+0.5)) — public
    * formulas): score every document against a literal bag of query
    * terms and keep the top `k`,
    *   score(d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·|d|/avgdl)).
    * The corpus-wide statistics (N, avgdl, per-term df) come from the
    * same corpus being searched.
    *
    * Scale shape: query terms are a LITERAL array, so the term filter
    * runs inside the scan stage BEFORE the explode — only matching
    * term occurrences ever leave the scan (a |q|-term query emits at
    * most |q| rows per doc into the (id, term) hash aggregate, with
    * map-side combine). df is a ≤|q|-row aggregate over those pairs;
    * (N, avgdl) is a 1-row broadcast cross join (the zScore pattern);
    * both join back by broadcast. The final top-k rides the bounded
    * heap ([[graft.ops.Mixture.topKPerGroup]]) — never a corpus sort,
    * no window. Document length |d| counts ALL tokens (not just query
    * terms) and is carried from the same scan.
    *
    * Engine-portable fp policy: idf rounds to 9 dp (libm ln guard),
    * the per-(doc, term) score to 6 dp, and the per-doc sum runs
    * through the exact decimal register, so scores hash-match across
    * engines; top-k ties break (score desc, id asc). Documents
    * matching no query term are absent. Returns (rank, id, score,
    * n_terms). */
  def bm25TopK(df: DataFrame, id: String, text: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: queryTerms must be non-empty")
    require(k >= 1, "bm25TopK: k must be >= 1")
    val terms = queryTerms.distinct
    val ws = filter(tokens(col(text)), w => length(w) > 0)
    val base = df.select(col(id), ws.as("__ws"))
      .select(col(id), size(col("__ws")).cast("long").as("__dl"),
        filter(col("__ws"), w => w.isin(terms: _*)).as("__qs"))
    val tf = base
      .select(col(id), col("__dl"), explode(col("__qs")).as("term"))
      .groupBy(col(id), col("__dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      graft.api.functions.davg(col("__dl").cast("double")).as("avgdl"))
    val idf = round(log(lit(1.0) +
      (col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5)), 9)
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col(id), round(idf * (col("tf") * (k1 + 1.0)) /
        (col("tf") +
          (col("__dl") * b / col("avgdl") + (1.0 - b)) * k1), 6)
        .as("s"))
    val perDoc = scored.groupBy(col(id)).agg(
      count(lit(1)).as("n_terms"),
      graft.api.functions.dsumD(col("s")).as("score"))
    val top = Mixture.topKPerGroup(
      perDoc.withColumn("__g", lit(1)), "__g", col("score"), id, k)
    // stamp n_terms back on (k-row broadcast side)
    top.join(perDoc.select(col(id), col("n_terms")), Seq(id))
      .select(col("rank"), col(id), col("score"), col("n_terms"))
  }

  /** Class-based TF-IDF top terms per cluster (c-TF-IDF — Grootendorst
    * 2022, arXiv:2203.05794, the BERTopic labeling step; public
    * method): treat each cluster/source/topic as ONE pseudo-document
    * and score its terms by
    *   tf_{w,c} · ln(1 + A / f_w),
    * tf_{w,c} = occurrences of w in cluster c, f_w = occurrences of w
    * across the corpus, A = average tokens per cluster. The standard
    * "what is this cluster about" labeling pass after k-means/SemDeDup
    * cell assignment or per-source slicing.
    *
    * Scale shape: tokens explode in the scan stage; tf and f are hash
    * aggregates with map-side combine (cluster-vocab- and vocab-sized,
    * mergeable); A is a 1-row broadcast cross join; the per-cluster
    * top-k ranks a window partitioned by CLUSTER over the COLLAPSED
    * (cluster, term) frame — one cluster's vocabulary on one executor,
    * spillable, bounded by vocabulary not corpus rows (the string-id
    * terms rule out the long-keyed bounded heap; the capPerGroup
    * trade). ln rounds 9 dp (libm ulp guard), scores 6 dp, ties
    * (score desc, term asc). Returns (cluster, rank, term, score,
    * tf). */
  def cTfIdfTopTerms(df: DataFrame, cluster: String, text: String,
                     k: Int = 10): DataFrame = {
    require(k >= 1, "cTfIdfTopTerms: k must be >= 1")
    val toks = df.select(col(cluster).as("__c"),
      explode(filter(tokens(col(text)), w => length(w) > 0)).as("__w"))
    // the collapsed tf frame feeds three branches (f_w, A, the scored
    // join) — checkpoint it so the corpus tokenizes ONCE (the q44/q45
    // multi-branch lesson)
    val tf0 = toks.groupBy("__c", "__w").agg(count(lit(1)).as("tf"))
    val tf = Materialize.pin(tf0)
    val fw = tf.groupBy("__w").agg(sum(col("tf")).as("fw"))
    val a = tf.groupBy("__c").agg(sum(col("tf")).as("cn"))
      .agg(avg(col("cn")).as("bigA"))
    val scored = tf.join(fw, Seq("__w")).crossJoin(broadcast(a))
      .select(col("__c"), col("__w"), col("tf"),
        round(col("tf") * round(log(lit(1.0) + col("bigA") / col("fw")), 9), 6)
          .as("__s"))
    val w = Window.partitionBy(col("__c"))
      .orderBy(col("__s").desc, col("__w").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__c").as(cluster), col("rank"), col("__w").as("term"),
        col("__s").as("score"), col("tf"))
  }

  /** Sentence segmentation as a pure regexp Column (scan-stage, no
    * UDF): maximal runs of non-terminator characters plus their
    * trailing `.!?` run, trimmed, empties dropped. A deliberately
    * simple engine-portable rule (RE2-safe — no lookbehind), not a
    * linguistic tokenizer: "e.g." splits — the standard trade every
    * regexp sentence splitter makes. Returns array<string>. */
  def splitSentences(text: Column): Column =
    filter(transform(
      regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)),
      s => trim(s)), s => length(s) > 0)

  /** Unicode-script character profile — the multilingual-crawl triage
    * signal (language-ID (q42) names ONE language; a mixed-script or
    * mojibake document shows up here first). Counts characters per
    * class via regexp removal lengths (pure scan-stage, the q41
    * alpha-ratio idiom) over explicit CODE-POINT RANGES — not \\p{...}
    * script names, whose definitions differ between Java regex and
    * RE2, so an oracle could silently disagree. Returns a struct of
    * fractions (latin, digit, space, punct_ascii, cyrillic, cjk,
    * arabic, other) over the total character count; empty/null text →
    * null fractions. */
  def scriptProfile(text: Column): Column = {
    val n = length(text).cast("double")
    def frac(pattern: String) =
      round((n - length(regexp_replace(text, pattern, ""))) / n, 6)
    when(n > 0, struct(
      frac("[A-Za-z]").as("latin"),
      frac("[0-9]").as("digit"),
      frac("[ \\t\\n\\r]").as("space"),
      frac("[!-/:-@\\[-`{-~]").as("punct_ascii"),
      frac("[Ѐ-ӿ]").as("cyrillic"),
      frac("[一-鿿]").as("cjk"),
      frac("[؀-ۿ]").as("arabic"),
      round((length(regexp_replace(text,
        "[A-Za-z0-9 \\t\\n\\r!-/:-@\\[-`{-~Ѐ-ӿ一-鿿؀-ۿ]",
        ""))).cast("double") / n, 6).as("other")))
  }

  /** Flesch reading ease (public formula, Flesch 1948):
    *   206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * with the standard vowel-GROUP syllable heuristic (runs of
    * [aeiouy] in the lowercased text — spaces break runs, so no word
    * split is needed) and [[splitSentences]] for the sentence count
    * (min 1 — an unterminated doc is one sentence). Pure scan-stage
    * regexp counting, 6-dp rounded, engine-portable. Null/empty-token
    * docs → null. */
  def fleschReadingEase(text: Column): Column = {
    val words = size(filter(tokens(text), w => length(w) > 0)).cast("double")
    val sents = greatest(size(splitSentences(text)), lit(1)).cast("double")
    val syll = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
      .cast("double")
    when(words > 0, round(
      lit(206.835) - lit(1.015) * (words / sents) -
        lit(84.6) * (syll / words), 6))
  }

  /** Sentence-aligned chunking for retrieval pipelines (the RAG
    * complement of [[chunkTokens]], which cuts mid-sentence): each
    * sentence lands in chunk ⌊tokens-before-it / maxTokens⌋ — a
    * deterministic token-quota rule (a chunk holds whole sentences
    * and overflows only by its last sentence's tail, the trade every
    * sentence-aligned chunker makes). Pure per-document array
    * arithmetic in the scan stage: the per-sentence running token sum
    * is a prefix fold over the (short) sentence array, never a
    * corpus window; docs explode only into their own chunks. Returns
    * (id, chunk_ix, n_sent, n_tokens, chunk_text). */
  def chunkBySentences(df: DataFrame, id: String, text: String,
                       maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, "chunkBySentences: maxTokens must be >= 1")
    val ss = splitSentences(col(text))
    // tokens per sentence, then exclusive prefix sums (O(s²) array
    // arithmetic — s is sentences per doc, tiny)
    val tc = transform(ss, s => size(filter(split(s, " "), w => length(w) > 0)))
    val before = transform(sequence(lit(0), size(ss) - 1), i =>
      coalesce(aggregate(slice(tc, lit(1), i), lit(0), (a, x) => a + x), lit(0)))
    val chunkIx = transform(before, b => (b / maxTokens).cast("int"))
    val si = sequence(lit(0), size(ss) - 1)
    df.select(col(id), ss.as("__ss"), tc.as("__tc"), chunkIx.as("__cx"),
        si.as("__si"))
      .filter(size(col("__ss")) > 0)
      .select(col(id), explode(arrays_zip(
        col("__si"), col("__ss"), col("__tc"), col("__cx"))).as("__z"))
      .groupBy(col(id), col("__z.__cx").as("chunk_ix"))
      .agg(count(lit(1)).as("n_sent"),
        sum(col("__z.__tc")).as("n_tokens"),
        // collect_list order is partition-arbitrary; the sentence index
        // rides along and an array_sort restores document order
        array_join(transform(
          array_sort(collect_list(struct(col("__z.__si"), col("__z.__ss")))),
          x => x.getField("__ss")), " ").as("chunk_text"))
  }

  /** Per-document repeated-SENTENCE statistics — the sentence-granular
    * boilerplate signal ([[graft.ops.Dedup.duplicateSpanStats]] is
    * token-window-granular, [[graft.ops.Dedup.removeRepeatedLines]] is
    * line-granular): a sentence is "duplicated" when it occurs in at
    * least `minDocs` DISTINCT documents (cookie banners, legal
    * footers). Sentences hash in the scan stage (xxhash64 — the q44
    * convention); the duplicated vocabulary is one distinct + one
    * count aggregate on 8-byte keys; the flag join is a hash
    * equi-join. Returns (id, n_sent, n_dup_sent, dup_frac). */
  def sentenceDupStats(df: DataFrame, id: String, text: String,
                       minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "sentenceDupStats: minDocs must be >= 2")
    val arrays0 = df.select(col(id),
      transform(splitSentences(col(text)), s => xxhash64(s)).as("gs"))
      .filter(size(col("gs")) > 0)
    val arrays = Materialize.pin(arrays0)
    val g = arrays.select(col(id), explode(col("gs")).as("g"))
    val dup = g.select(col(id), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs).select(col("g"), lit(1).as("isdup"))
    g.join(dup, Seq("g"), "left")
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_sent"),
        sum(coalesce(col("isdup"), lit(0))).as("n_dup_sent"))
      .withColumn("dup_frac",
        round(col("n_dup_sent").cast("double") / col("n_sent"), 6))
  }
}
