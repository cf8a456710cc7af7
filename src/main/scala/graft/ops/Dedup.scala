package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication for training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All shuffle-conscious:
  *
  *  - exact dedup is one hash-aggregate on the dedup key;
  *  - candidate generation never goes quadratic — pairs only form for
  *    documents sharing a shingle (Jaccard) or an LSH band bucket
  *    (MinHash), which is the property that survives a 100× scale-up;
  *  - shingle/band joins are plain equi-joins, so AQE handles skew and
  *    Catalyst picks the join strategy.
  */
object Dedup {

  /** split a small-file scan so the shingle/window hash transforms
    * above it parallelize ([[graft.Tables.splitForCompute]] — identity
    * on any real multi-file layout and on non-file-backed frames).
    * Sits BELOW the array builders by construction: the heavy per-row
    * hashing is stacked above the exchange, any reduction comes later. */
  private def splitIn(df: DataFrame, id: String): DataFrame =
    graft.Tables.splitForCompute(df, col(id))

  /** word-trigram shingles, de-duplicated per document.
    * Emits (idCol, "s"): one row per distinct shingle string. */
  def shingles(df0: DataFrame, id: String, text: String): DataFrame = {
    val df = splitIn(df0, id)
    val w = split(col(text), " ")
    df.select(col(id), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col(id), explode(array_distinct(
        transform(sequence(lit(0), size(col("w")) - 3),
          i => concat_ws(" ", get(col("w"), i), get(col("w"), i + 1),
            get(col("w"), i + 2))))).as("s"))
  }

  /** per-doc array of distinct 64-bit trigram shingle hashes — the
    * join/sketch hot path, computed ONCE in the scan projection. Hashes
    * the three words directly (multi-arg xxhash64), skipping the
    * per-shingle string concat the display-oriented [[shingles]] builds.
    * Distinct-hash counts equal distinct-string counts modulo ~n²/2⁶⁵
    * collisions — the same accepted approximation as joining on hashes.
    * Emits (idCol, "hs": array<long>). */
  def shingleHashArrays(df0: DataFrame, id: String, text: String): DataFrame = {
    val df = splitIn(df0, id)
    val w = split(col(text), " ")
    df.select(col(id), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col(id),
        graft.expr.TextHashExpressions.ngramHashesDistinct(col("w"), 3)
          .as("hs"))
  }

  /** per-doc array of distinct 64-bit word n-gram hashes for arbitrary
    * n — [[shingleHashArrays]] generalized (n = 3 is the shingle case). */
  def ngramHashArrays(df0: DataFrame, id: String, text: String,
                      n: Int): DataFrame = {
    require(n >= 1, "ngramHashArrays: n must be >= 1")
    val df = splitIn(df0, id)
    val w = split(col(text), " ")
    df.select(col(id), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col(id),
        graft.expr.TextHashExpressions.ngramHashesDistinct(col("w"), n)
          .as("hs"))
  }

  /** Benchmark decontamination: per corpus document, the number of
    * distinct word n-grams it shares with ANY benchmark document —
    * the standard eval-set leakage check run before training. Long n
    * (8+) keeps incidental phrase overlap out; only real leakage (near
    * copies of benchmark items) scores. Plan shape: benchmark n-gram
    * hashes dedupe once (benchmark is small), the corpus side is a
    * scan + explode, and the join is a semi-style equi-join on 8-byte
    * hashes — linear in corpus size, never all-pairs. Returns
    * (id, n_shared) for flagged docs only. Pruning the corpus side
    * before that shuffle is left to Spark's runtime Bloom filter
    * (`spark.sql.optimizer.runtime.bloomFilter.*`), which the
    * optimizer can inject into selective joins over large scans. */
  def decontaminationReport(corpus: DataFrame, benchmark: DataFrame,
                            id: String, text: String,
                            n: Int = 8): DataFrame = {
    val bg = ngramHashArrays(benchmark, id, text, n)
      .select(explode_outer(col("hs")).as("g")).distinct()
    val cg = ngramHashArrays(corpus, id, text, n)
      .select(col(id), explode_outer(col("hs")).as("g"))
    cg.join(bg, Seq("g"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("n_shared"))
  }

  /** exploded (idCol, "s") shingle-hash rows.
    *
    * explode_OUTER, deliberately: the array is never empty (the
    * `size(w) >= 3` filter guarantees ≥ 1 shingle) so outer ≡ inner —
    * but exploding an ATTRIBUTE with inner explode triggers
    * InferFiltersFromGenerate, whose inferred `size(hs) > 0 /
    * isnotnull(hs)` predicates push below the projection by alias
    * substitution and re-evaluate the whole shingle transform twice
    * more per row (observed 4× wall-clock on q44). The outer variant is
    * exempt from that rule. */
  def shingleHashes(df: DataFrame, id: String, text: String): DataFrame =
    shingleHashArrays(df, id, text)
      .select(col(id), explode_outer(col("hs")).as("s"))

  /** exact dedup: keep the smallest id per identical key column. */
  def exact(df: DataFrame, id: String, key: String): DataFrame = {
    val keep = df.groupBy(col(key)).agg(min(col(id)).as(id))
    df.join(keep, Seq(id, key), "left_semi")
  }

  /** EXACT dedup keeping the BEST-QUALITY representative per identical
    * key — the canonical-keep analog of [[exact]] (which keeps min id)
    * and the exact-stage partner of [[dedupNearCanonical]]: per key,
    * keep the argmax of `quality`, ties broken by MINIMUM id; a group
    * whose every member has null quality falls back to min-id keep
    * (the same null-safe `<=>` convention as the near-dup wrapper, so
    * composing the two stages preserves the keep rule end-to-end).
    * One hash aggregate on the key + the cluster-sized achiever join;
    * the argmax is the two-aggregate form so id and quality keep
    * their exact types. */
  def exactCanonical(df: DataFrame, id: String, key: String,
                     quality: Column): DataFrame = {
    val scored = df.select(col(id), col(key), quality.as("__q"))
    val best = scored.groupBy(col(key)).agg(max(col("__q")).as("__bq"))
    val keep = scored.join(best, Seq(key))
      .filter(col("__q") <=> col("__bq"))
      .groupBy(col(key)).agg(min(col(id)).as(id))
    df.join(keep.select(col(id), col(key)), Seq(id, key), "left_semi")
  }

  /** Incremental exact dedup — the shape a STANDING ingestion pipeline
    * runs: dedup the new batch internally (min-id per key), then
    * anti-join against the already-ingested corpus's keys. The seen
    * side ships only its key column (at 100 TB the historical index is
    * a key-only parquet table, not the corpus); both the semi and the
    * anti join shuffle just keys. */
  def exactIncremental(newBatch: DataFrame, seen: DataFrame,
                       id: String, key: String): DataFrame =
    exact(newBatch, id, key)
      .join(seen.select(col(key)).distinct(), Seq(key), "left_anti")

  /** exact n-gram Jaccard similarity join: all pairs with J >= threshold.
    * Returns (d1, d2, jac). Candidates only for docs sharing >= 1 shingle.
    *
    * `dfCap`: drop shingles appearing in more than dfCap documents before
    * the self-join. High-DF shingles (common trigrams) contribute
    * quadratic posting-list pairs while carrying almost no similarity
    * signal — the standard skew guard for corpus scale. Capping changes
    * results (intersection/union lose the dropped shingles), so the
    * default stays exact; production corpora should set it.
    */
  def ngramJaccard(df: DataFrame, id: String, text: String,
                   threshold: Double, dfCap: Option[Int] = None): DataFrame = {
    // Both sides of the shingle self-join rebuild the interpreted
    // shingle transform (the projections differ, so the exchanges don't
    // reuse) — localCheckpoint of the compact array frame computes it
    // ONCE (measured 1.5× whole-query at sf0.1; same executor-local
    // trade as minhashLsh's note).
    def shingles() = {
      val a = shingleHashArrays(df, id, text)
      Materialize.pin(a)
    }
    // join on the 64-bit shingle hash, not the string: same counts modulo
    // hash collisions (~n²/2^65 — negligible), and the wide self-join
    // shuffles 8-byte keys instead of strings, which is the term that
    // dominates at corpus scale. Doc sizes ride the shingle rows and are
    // recovered as aggregate VALUES — max(na)/max(nb), constant within a
    // (d1, d2) group — so the pair groupBy keeps its slim 16-byte keys
    // and no separate sizes subplan exists. Two measured dead ends, for
    // the record: sizes in the GROUPING KEYS doubled the agg hash width
    // (2-4× slower); a separate scan-only sizes frame lost the accurate
    // post-aggregate statistics that let its joins broadcast (+45%).
    val withN = dfCap match {
      case None =>
        // explode_outer: see shingleHashes — keeps the shingle transform
        // single-evaluation; hs rides the Generate so size(hs) is free
        shingles()
          .select(col(id), col("hs"), explode_outer(col("hs")).as("s"))
          .select(col(id), size(col("hs")).as("n"), col("s"))
      case Some(cap) =>
        // capped semantics: n counts only RETAINED shingles, so it must
        // be recomputed after the DF filter
        val sh0 = shingles()
          .select(col(id), explode_outer(col("hs")).as("s"))
        val keep = sh0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("s")
        val kept = sh0.join(keep, Seq("s"), "left_semi")
        val sizes = kept.groupBy(col(id)).agg(count(lit(1)).as("n"))
        kept.join(sizes, Seq(id))
    }
    val a = withN.select(col(id).as("d1"), col("n").as("na"), col("s"))
    val b = withN.select(col(id).as("d2"), col("n").as("nb"), col("s"))
    a.join(b, Seq("s")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("i"), max("na").as("na"), max("nb").as("nb"))
      .withColumn("jac", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** shared candidate-pair builder for the CONTAINMENT family —
    * [[ngramJaccard]]'s exact plan shape (pinned compact arrays,
    * 8-byte gram self-join, sizes as aggregate values, optional
    * dfCap skew guard) with arbitrary n and the asymmetric score:
    *   containment = |A∩B| / min(|A|, |B|)
    * i.e. how much of the SMALLER document's distinct n-grams the
    * larger one covers. Returns (d1, d2, na, nb, cont ≥ threshold). */
  private def containmentPairs(df: DataFrame, id: String, text: String,
                               threshold: Double, n: Int,
                               dfCap: Option[Int]): DataFrame = {
    val arrays = Materialize.pin(ngramHashArrays(df, id, text, n))
    val withN = dfCap match {
      case None =>
        arrays.select(col(id), col("hs"), explode_outer(col("hs")).as("s"))
          .select(col(id), size(col("hs")).as("n"), col("s"))
      case Some(cap) =>
        val sh0 = arrays.select(col(id), explode_outer(col("hs")).as("s"))
        val keep = sh0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("s")
        val kept = sh0.join(keep, Seq("s"), "left_semi")
        val sizes = kept.groupBy(col(id)).agg(count(lit(1)).as("n"))
        kept.join(sizes, Seq(id))
    }
    val a = withN.select(col(id).as("d1"), col("n").as("na"), col("s"))
    val b = withN.select(col(id).as("d2"), col("n").as("nb"), col("s"))
    a.join(b, Seq("s")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("i"), max("na").as("na"), max("nb").as("nb"))
      .withColumn("cont",
        col("i").cast("double") / least(col("na"), col("nb")))
      .filter(col("cont") >= threshold)
  }

  /** Exact n-gram CONTAINMENT pairs (Broder 1997's resemblance vs
    * containment distinction — public method): symmetric Jaccard
    * dilutes wholesale inclusion — a 100-gram document quoted verbatim
    * inside a 10,000-gram page scores jac ≈ 0.01 and slips every
    * near-dup gate, while its containment is 1.0. This is the signal
    * that catches quote-mirrors, scraped-into-aggregator copies, and
    * doc-in-doc templating. Same corpus-scale shape as
    * [[ngramJaccard]] (set `dfCap` in production — common grams
    * contribute quadratic posting pairs). Documents with < n tokens
    * have no grams and never pair. Returns (d1, d2, cont). */
  def ngramContainment(df: DataFrame, id: String, text: String,
                       threshold: Double, n: Int = 3,
                       dfCap: Option[Int] = None): DataFrame =
    containmentPairs(df, id, text, threshold, n, dfCap)
      .select(col("d1"), col("d2"), col("cont"))

  /** Containment DEDUP: drop the smaller (fewer distinct n-grams)
    * document of every pair whose containment clears `threshold` —
    * the aggregator page survives, its embedded copies go. Ties on
    * size drop the LARGER id (keep whichever was crawled first — the
    * min-id convention of [[dedupNearMinhash]]). Single-pass drop
    * semantics: every flagged victim goes, even if its own container
    * was itself dropped by a bigger page (the conservative reading —
    * a reprieve cascade would need the component walk, and a doc
    * contained in a dropped doc is still duplicated content). The
    * victim table is pair-bounded and the removal is a left-anti
    * equi-join. */
  def dedupContained(df: DataFrame, id: String, text: String,
                     threshold: Double, n: Int = 3,
                     dfCap: Option[Int] = None): DataFrame = {
    val victims = containmentPairs(df, id, text, threshold, n, dfCap)
      .select(when(col("na") < col("nb"), col("d1"))
        .when(col("nb") < col("na"), col("d2"))
        .otherwise(greatest(col("d1"), col("d2"))).as(id))
      .distinct()
    df.join(victims, Seq(id), "left_anti")
  }

  /** Duplicate-span coverage (the per-document signal behind exact
    * substring dedup — Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499; public method, no
    * reference equivalent): for every document, the fraction of its
    * positional n-token windows whose content also occurs in at least
    * one OTHER document. High coverage = the document is largely
    * assembled from corpus-repeated spans (boilerplate, mirrors,
    * templated text) even when no whole-document near-dup fires.
    *
    * Windows keep their multiplicity (a doc that repeats a corpus-wide
    * span 10 times has 10 duplicated windows) but a span repeated only
    * WITHIN one document does not count as duplicated — "elsewhere"
    * means ≥ 2 distinct documents, the substring-dedup reading.
    *
    * Plan shape at corpus scale: windows hash in the scan stage
    * (multi-arg xxhash64 — counts match string n-grams modulo ~n²/2⁶⁵
    * collisions, the q44 convention); the duplicated-hash vocabulary
    * derives from one distinct + one hash aggregate on 8-byte keys; the
    * flag join is a hash equi-join on the same 8-byte key (AQE handles
    * hot spans); the per-doc rollup is one aggregate keyed by id. The
    * compact per-doc hash-array frame is localCheckpointed once and
    * feeds both the vocabulary and the join side (the q45 multi-branch
    * lesson). Documents with fewer than n tokens have no windows and
    * are absent from the output. Returns (id, n_windows, n_dup, dup_frac). */
  def duplicateSpanStats(df: DataFrame, id: String, text: String,
                         n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 1, "duplicateSpanStats: n must be >= 1")
    require(minDocs >= 2, "duplicateSpanStats: minDocs must be >= 2")
    val w = split(col(text), " ")
    // positional (NON-distinct) window hashes — multiplicity is signal
    val arrays0 = splitIn(df, id).select(col(id), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col(id),
        graft.expr.TextHashExpressions.ngramHashesAll(col("w"), n).as("gs"))
    val arrays = Materialize.pin(arrays0)
    val g = arrays.select(col(id), explode_outer(col("gs")).as("g"))
    val dup = g.select(col(id), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs).select(col("g"), lit(1).as("isdup"))
    g.join(dup, Seq("g"), "left")
      .groupBy(col(id)).agg(
        count(lit(1)).as("n_windows"),
        sum(coalesce(col("isdup"), lit(0))).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_windows"), 6))
  }

  /** Duplicate-span REMOVAL (the cut step of exact substring dedup —
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499; public method, no reference
    * equivalent): [[duplicateSpanStats]] measures how much of a
    * document is corpus-repeated; this operator actually CUTS the
    * repeated n-token windows and emits cleaned text — the pass a
    * 100 TB pretraining-prep job runs after scoring.
    *
    * Semantics (min-occurrence keep policy): a window CONTENT is
    * duplicated when it occurs in at least `minDocs` DISTINCT
    * documents (the [[duplicateSpanStats]] reading — intra-doc-only
    * repetition is repetition, not corpus boilerplate, and stays).
    * For each duplicated content exactly ONE occurrence survives —
    * the lexicographically minimum (doc id, position) — and every
    * other occurrence is cut: each of its n token positions drops,
    * including extra occurrences inside the canonical document
    * itself. Overlapping duplicated windows union their coverage, so
    * a long repeated span is removed wholesale outside its canonical
    * document (consecutive windows of the span each keep their own
    * canonical, which is the span's first corpus occurrence).
    * Surviving tokens reassemble in original order ([[removeRepeatedLines]]'s
    * stitcher); split/join on `" "` is lossless (empty tokens are
    * tokens), so an untouched document round-trips byte-identical.
    *
    * Scale shape: window hashes are computed in the scan stage
    * (multi-arg xxhash64, the q44/q98 convention — content equality
    * modulo ~n²/2⁶⁵ collisions) and the compact (id, pos, hash) frame
    * is localCheckpointed once, feeding the vocabulary aggregate and
    * the occurrence joins.
    * The duplicated vocabulary is a distinct + hash aggregate on
    * 8-byte keys; canonical picking is one min(struct) aggregate per
    * content; coverage explodes each REMOVED occurrence into its n
    * token positions (linear in removed volume, never corpus-wide).
    * Documents with nothing to cut NEVER shuffle their text: an
    * anti-join against the affected-id set passes them through
    * verbatim, so at corpus scale the token explode + reassembly pays
    * only for documents that actually contain removable spans.
    *
    * A document entirely assembled from non-canonical duplicated
    * spans ends up with zero tokens and vanishes from the output;
    * `keepEmpty` retains it as an empty string. Documents shorter
    * than n tokens have no windows and pass through untouched.
    * Returns (id, text) with the same column names as the input. */
  def removeDuplicateSpans(df: DataFrame, id: String, text: String,
                           n: Int = 5, minDocs: Int = 2,
                           keepEmpty: Boolean = false): DataFrame = {
    require(n >= 1, "removeDuplicateSpans: n must be >= 1")
    require(minDocs >= 2, "removeDuplicateSpans: minDocs must be >= 2")
    val w = split(col(text), " ")
    // positional window hashes: (id, pos, h), pos 0-based
    val wins0 = splitIn(df, id).select(col(id), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col(id), posexplode(
        graft.expr.TextHashExpressions.ngramHashesAll(col("w"), n)))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "h")
    val wins = Materialize.pin(wins0)
    val dup = wins.select(col(id), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val occ = wins.join(dup, Seq("h"), "left_semi")
    // canonical occurrence per duplicated content: min (doc, pos)
    val canon = occ.groupBy("h")
      .agg(min(struct(col(id), col("pos"))).as("c"))
      .select(col("h"), col("c").getField(id).as("__kd"),
        col("c").getField("pos").as("__kp"))
    val removed = occ.join(canon, Seq("h"))
      .filter(!(col(id) === col("__kd") && col("pos") === col("__kp")))
      .select(col(id), col("pos"))
    // token positions covered by any removed occurrence
    val dropPos = removed
      .select(col(id), explode(sequence(col("pos"), col("pos") + (n - 1))).as("t"))
      .distinct()
    val affected = dropPos.select(col(id)).distinct()
    // untouched docs pass through without ever exploding their text
    val untouched = df.select(col(id), col(text))
      .join(affected, Seq(id), "left_anti")
    val toks = df.select(col(id),
        posexplode(split(col(text), " ")).as(Seq("t", "tok")))
      .join(affected, Seq(id), "left_semi")
    val rebuilt = toks.join(dropPos, Seq(id, "t"), "left_anti")
      .groupBy(col(id)).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("t"), col("tok")))),
          x => x.getField("tok")), " ").as(text))
    val out = untouched.unionByName(rebuilt)
    if (!keepEmpty) out
    else df.select(col(id)).join(out, Seq(id), "left")
      .select(col(id), coalesce(col(text), lit("")).as(text))
  }

  /** Contaminated-span REMOVAL — the surgical form of benchmark
    * decontamination. [[decontaminationReport]] flags documents that
    * share n-grams with an eval set; the blunt response drops the whole
    * document, losing all its clean text. This operator instead CUTS
    * exactly the benchmark-overlapping n-token windows (plus `margin`
    * tokens of context on each side, the "remove a window around the
    * collision" practice from public eval-contamination writeups, e.g.
    * GPT-3 appendix C / Lee et al. 2022) and keeps the rest — the pass
    * that rescues a long clean document containing one quoted
    * benchmark item.
    *
    * Semantics: a corpus window is contaminated when its n-token hash
    * appears in ANY benchmark document's n-gram vocabulary. EVERY
    * contaminated occurrence is removed — unlike
    * [[removeDuplicateSpans]] there is no canonical survivor, because
    * the "canonical" copy lives in the eval set, not the corpus.
    * Coverage is the union of margin-extended windows (clamped to the
    * document start; past-the-end positions are vacuous), and
    * surviving tokens reassemble in original order. Untouched
    * documents round-trip byte-identical and never shuffle their text.
    * A fully-contaminated document vanishes unless `keepEmpty` retains
    * it as an empty string.
    *
    * Scale shape: the benchmark vocabulary is distinct 8-byte hashes of
    * a SMALL frame (eval sets are tiny by definition) and is broadcast,
    * so corpus windows are filtered in the scan stage — no corpus-wide
    * shuffle of gram hashes.
    * Everything downstream (coverage explode, token reassembly) pays
    * only for documents that actually contain contaminated spans. */
  def removeContaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                              id: String, text: String,
                              n: Int = 8, margin: Int = 0,
                              keepEmpty: Boolean = false): DataFrame = {
    require(n >= 1, "removeContaminatedSpans: n must be >= 1")
    require(margin >= 0, "removeContaminatedSpans: margin must be >= 0")
    val bg = ngramHashArrays(benchmark, id, text, n)
      .select(explode_outer(col("hs")).as("h")).distinct()
    val w = split(col(text), " ")
    // positional corpus windows (id, pos, h) — scan stage, hash
    // convention identical to ngramHashArrays so both sides agree
    val wins = corpus.select(col(id), w.as("w"))
      .filter(size(col("w")) >= n)
      .select(col(id), posexplode(
        graft.expr.TextHashExpressions.ngramHashesAll(col("w"), n)))
      .withColumnRenamed("col", "h")
    val hit = wins.join(broadcast(bg), Seq("h"), "left_semi")
    val dropPos = hit.select(col(id),
        explode(sequence(greatest(col("pos") - margin, lit(0)),
          col("pos") + (n - 1 + margin))).as("t"))
      .distinct()
    val affected = dropPos.select(col(id)).distinct()
    val untouched = corpus.select(col(id), col(text))
      .join(affected, Seq(id), "left_anti")
    val toks = corpus.select(col(id),
        posexplode(split(col(text), " ")).as(Seq("t", "tok")))
      .join(affected, Seq(id), "left_semi")
    val rebuilt = toks.join(dropPos, Seq(id, "t"), "left_anti")
      .groupBy(col(id)).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("t"), col("tok")))),
          x => x.getField("tok")), " ").as(text))
    val out = untouched.unionByName(rebuilt)
    if (!keepEmpty) out
    else corpus.select(col(id)).join(out, Seq(id), "left")
      .select(col(id), coalesce(col(text), lit("")).as(text))
  }

  /** Corpus snapshot diff — the incremental-pipeline primitive: given
    * yesterday's corpus and today's, classify every document id as
    * `added` (new id), `removed` (id gone), `changed` (id present in
    * both, content key differs), or `unchanged`. Content comparison is
    * by a caller-chosen key column (typically a content hash — pair
    * with `xxhash64(text)` or [[exact]]'s key discipline) so the full
    * text of unchanged documents never shuffles: the plan projects
    * (id, key) from both sides, one shuffle on id into a full outer
    * join, and emits (id, status, key_old, key_new). Downstream,
    * `added`/`changed` ids drive the incremental re-run of expensive
    * passes ([[exactIncremental]], [[minhashLshIncremental]],
    * [[simhashPairsIncremental]]) instead of reprocessing 100 TB. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   id: String, key: String,
                   includeUnchanged: Boolean = false): DataFrame = {
    val o = oldDf.select(col(id), col(key).as("key_old"))
    val nw = newDf.select(col(id), col(key).as("key_new"))
    val joined = o.join(nw, Seq(id), "full_outer")
      .select(col(id),
        when(col("key_old").isNull, lit("added"))
          .when(col("key_new").isNull, lit("removed"))
          .when(col("key_old") === col("key_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("key_old"), col("key_new"))
    if (includeUnchanged) joined
    else joined.filter(col("status") =!= "unchanged")
  }

  /** Apply a CDC change feed to a base snapshot — the lakehouse MERGE
    * primitive an incremental 100 TB corpus needs between crawls:
    * `changes` carries (id, op ∈ upsert|delete, seq, payload…) rows;
    * the LATEST change per id wins (max (seq, op) — ties at the same
    * seq resolve upsert-over-delete deterministically, 'u' > 'd');
    * winning upserts replace/insert their row, winning deletes drop it,
    * untouched base rows pass through.
    *
    * Scale shape: the change feed (≪ base, typically one crawl delta)
    * reduces to one winner per id via a mergeable max_by aggregate —
    * partials combine map-side, so a hot id never concentrates rows —
    * and the TOUCHED-ID SET (ids only, not payloads) broadcasts into a
    * left-anti probe: the base's payload column (the 100 TB of text)
    * never shuffles, never even leaves its scan stage. Output is
    * untouched-base ∪ winning-upserts by name.
    */
  def applySnapshotChanges(base: DataFrame, changes: DataFrame,
                           id: String, opCol: String = "op",
                           seqCol: String = "seq"): DataFrame = {
    val payload = base.columns.filterNot(_ == id).toSeq
    val winners = changes.groupBy(col(id))
      .agg(max_by(struct((opCol +: payload).map(col): _*),
        struct(col(seqCol), col(opCol))).as("w"))
      .select(col(id) +: (opCol +: payload).map(c => col(s"w.$c").as(c)): _*)
    val upserts = winners.filter(col(opCol) === "upsert").drop(opCol)
    val untouched = base.join(
      broadcast(winners.select(col(id))), Seq(id), "left_anti")
    untouched.unionByName(upserts.select(base.columns.map(col).toSeq: _*))
  }

  /** MinHash signatures: numPerms independent min-hashes over shingles,
    * via the codegen'd [[graft.expr.MinHashSignature]] expression — one
    * tight loop per document instead of a numPerms-element array
    * allocation per shingle row. Entirely scan-stage: the shingle-hash
    * array is built in the same projection (no explode → collect_list
    * shuffle — min-hashing is order-independent, so the per-doc array
    * never needs to leave its executor). Returns (id, sig: array<long>). */
  def minhashSignatures(df: DataFrame, id: String, text: String,
                        numPerms: Int): DataFrame =
    shingleHashArrays(df, id, text).select(col(id),
      graft.expr.VectorExpressions.minhashSig(col("hs"), numPerms).as("sig"))

  /** LSH parameter planner — the sizing call you make BEFORE a corpus
    * dedup run (public recipe: Leskovec-Rajaraman-Ullman MMDS §3.4's
    * banding S-curve; same objective as datasketch MinHashLSH's
    * optimal_param). For a target Jaccard threshold and a signature of
    * numPerms permutations, every factorization bands·rows = numPerms
    * is scored by the S-curve Pr[candidate | jac = s] = 1−(1−s^rows)^bands:
    *  - fp = ∫₀ᵗ Pr[candidate] ds  (below-threshold pairs that still
    *    reach the verify join — wasted exact-Jaccard work);
    *  - fn = ∫ₜ¹ (1 − Pr[candidate]) ds  (true near-dups the banding
    *    misses — [[minhashLsh]]'s verify step removes ALL false
    *    positives, so fp costs compute while fn costs recall).
    * Both integrals are midpoint Riemann sums over `steps` cells,
    * evaluated as per-row sequential folds (functions.aggregate over a
    * sequence — pure scan-stage arithmetic, ~divisor-count rows, no
    * shuffle, no UDF); cost = fpWeight·fp + fnWeight·fn, and `chosen`
    * flags the argmin. Returns (bands, rows_per_band, fp, fn, cost,
    * chosen) ordered by bands; sums round to 9 dp so the flag is
    * engine-portable.
    *
    * Equal weights minimize total area and will trade recall NEAR the
    * threshold for candidate volume (0.8/64 → 4×16, which passes only
    * ~11% of pairs at exactly s = 0.8). A dedup run that must not miss
    * near-dups weights fn higher (e.g. 0.1/0.9 → more bands), or keeps
    * [[minhashLsh]]'s conservative 32×2 default (miss p < 1e-14 at
    * s = 0.8) and pays the larger verify join. */
  def lshTune(spark: org.apache.spark.sql.SparkSession, threshold: Double,
              numPerms: Int, fpWeight: Double = 0.5,
              fnWeight: Double = 0.5, steps: Int = 400): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    import spark.implicits._
    val cand = (1 to numPerms).filter(numPerms % _ == 0)
      .map(b => (b, numPerms / b)).toDF("bands", "rows_per_band")
    val t = lit(threshold)
    def scurve(s: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, col("rows_per_band")), col("bands"))
    def riemann(term: Column => Column, width: Column): Column =
      round(aggregate(sequence(lit(1), lit(steps)), lit(0.0),
        (acc, i) => acc +
          term((i.cast("double") - 0.5) / steps * width) * width / steps), 9)
    val scored = cand
      .withColumn("fp", riemann(s => scurve(s), t))
      .withColumn("fn", riemann(s => lit(1.0) - scurve(t + s), lit(1.0) - t))
      .withColumn("cost", round(col("fp") * fpWeight + col("fn") * fnWeight, 9))
    scored.crossJoin(broadcast(scored.agg(min("cost").as("__mc"))))
      .withColumn("chosen", col("cost") === col("__mc")).drop("__mc")
      .orderBy("bands")
  }

  /** driver-side pick from [[lshTune]]: the (bands, rows) pair to pass
    * to [[minhashLsh]] (ties → fewest bands = cheapest banding pass).
    * Bounded collect: one row per divisor of numPerms. */
  def lshPickParams(spark: org.apache.spark.sql.SparkSession,
                    threshold: Double, numPerms: Int,
                    fpWeight: Double = 0.5, fnWeight: Double = 0.5,
                    steps: Int = 400): (Int, Int) = {
    val r = lshTune(spark, threshold, numPerms, fpWeight, fnWeight, steps)
      .filter(col("chosen")).orderBy("bands").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Conservative default band-bucket cap for [[minhashLsh]] /
    * [[minhashLshIncremental]]: bounds any one bucket's pairing work at
    * ~cap²/2 ≈ 8.4M candidate pairs. Organic band collisions (docs
    * that share one 2-row band signature WITHOUT being near-dups) form
    * buckets orders of magnitude smaller; a bucket past this cap is a
    * near-identical clique — boilerplate, mirrored pages — whose
    * pairing is quadratic in the clique and melts the bucket join at
    * crawl scale (one 1M-doc clique = 5·10¹¹ pairs × 32 bands). */
  val DefaultMaxBucket = 4096

  // WEAK set (r15): the registry must not decide session lifetime. A
  // strong set here pins every SparkSession a capped dedup ever ran on
  // for the life of the JVM — irrelevant to a one-session batch job,
  // a real leak in a long-lived multi-session server (each notebook
  // session's whole state retained forever). The listener itself is
  // registered ON the session's own listenerManager (session → listener
  // edge, not listener → registry), so once the session is otherwise
  // unreachable both it and the listener collect and the weak entry
  // vanishes; a re-created session simply re-registers. WeakHashMap is
  // not thread-safe → synchronizedSet.
  private val observedSessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[
        org.apache.spark.sql.SparkSession, java.lang.Boolean]()))
  private val obsId = new java.util.concurrent.atomic.AtomicLong()

  /** Cap-filter a (id, band, bucket) frame to buckets with ≤ cap
    * members, WITHOUT adding a Spark job: the dropped-bucket count
    * rides the plan as an observed metric (`Dataset.observe` — an
    * accumulator over the bucket-size rows, zero extra passes) and a
    * once-per-session QueryExecutionListener warn-logs it when the
    * query that finally executes the plan completes. An eager count
    * here would cost a banding pass per call (measured +0.66 s on q45
    * at sf0.1); silence would read as full recall — this is the
    * no-job way to have both. */
  private def cappedBuckets(banded0: DataFrame, cap: Int,
                            what: String): DataFrame = {
    val spark = banded0.sparkSession
    if (observedSessions.add(spark))
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft_lsh_dropped")) {
                val d = row.getAs[Long]("dropped_buckets")
                if (d > 0)
                  org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup").warn(
                    s"$name: dropping $d band buckets over the bucket " +
                      "cap (recall contract in minhashLsh scaladoc)")
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    val keep = banded0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bn"))
      // unique observation name per call — two capped ops composed in
      // one query must not collide (Spark rejects duplicate names)
      .observe(s"graft_lsh_dropped_${what}_cap${cap}_${obsId.incrementAndGet()}",
        sum(when(col("bn") > cap, 1L).otherwise(0L)).as("dropped_buckets"))
      .filter(col("bn") <= cap).select("band", "bucket")
    banded0.join(keep, Seq("band", "bucket"), "left_semi")
  }

  /** Band-bucket size DISTRIBUTION — the cap-sizing diagnostic the
    * [[minhashLsh]] scaladoc points at: how many band buckets exist at
    * each size, with the pair-work each size class would contribute
    * (n_buckets · size·(size−1)/2). Read it before a corpus run: the
    * tail row's `pair_work` IS the quadratic a mega-bucket would cost,
    * and the smallest size with negligible organic mass is the cap.
    * One banding pass + two vocabulary-scale aggregates — no joins, no
    * pairing. Returns (bucket_size, n_buckets, pair_work) ordered by
    * bucket_size. */
  def lshBucketStats(df: DataFrame, id: String, text: String,
                     numPerms: Int = 64, bands: Int = 32): DataFrame = {
    require(bands >= 1 && bands <= numPerms && numPerms % bands == 0,
      s"lshBucketStats: bands=$bands must divide numPerms=$numPerms")
    val rows = numPerms / bands
    val sig = shingleHashArrays(df, id, text).select(col(id),
      graft.expr.VectorExpressions.minhashSig(col("hs"), numPerms).as("sig"))
    sig.select(col(id),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .groupBy("band", "bucket").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
      .withColumn("pair_work", // integral div: stays exact past 2^53
        expr("n_buckets * (bucket_size * (bucket_size - 1) div 2)"))
      .orderBy("bucket_size")
  }

  /** Programmatic cap sizing — [[lshBucketStats]]'s scaladoc rule
    * ("the smallest size with negligible organic mass is the cap")
    * made executable, so pipelines can size `maxBucket` without a
    * human reading the histogram. Organic band collisions (docs that
    * share one band signature WITHOUT being near-dups) form a
    * decaying size distribution; near-identical cliques land as
    * outlier size classes far above it, separated by a gap. The
    * advisor walks the size classes ascending and returns a cap at
    * the FIRST point where (a) at least `organicFraction` of all band
    * buckets lie at or below this size — so everything above is
    * negligible-mass tail, not the organic body — and (b) the next
    * observed size class is ≥ `gapFactor`× larger — a distributional
    * gap, the clique-mode signature. The returned cap is
    * `min(2·size, nextSize − 1)`: 2× headroom over the last organic
    * class so organic growth between the diagnostic run and the
    * corpus run doesn't clip, while staying strictly below the clique
    * mode.
    *
    * Returns None when no qualifying gap exists — a unimodal
    * distribution has no clique evidence and no data-driven cap; keep
    * [[DefaultMaxBucket]] (pair-work insurance) or None as policy
    * dictates. Driver-side cost: one [[lshBucketStats]] pass plus a
    * bounded collect (one row per distinct bucket size). */
  def suggestBucketCap(df: DataFrame, id: String, text: String,
                       numPerms: Int = 64, bands: Int = 32,
                       gapFactor: Double = 4.0,
                       organicFraction: Double = 0.999): Option[Int] = {
    require(gapFactor > 1.0, s"suggestBucketCap: gapFactor=$gapFactor must be > 1")
    require(organicFraction > 0.0 && organicFraction <= 1.0,
      s"suggestBucketCap: organicFraction=$organicFraction must be in (0, 1]")
    val stats = lshBucketStats(df, id, text, numPerms, bands)
      .select("bucket_size", "n_buckets").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (stats.length < 2) return None
    val totalBuckets = stats.map(_._2).sum
    var cum = 0L
    var i = 0
    while (i < stats.length - 1) {
      cum += stats(i)._2
      val size = stats(i)._1
      val next = stats(i + 1)._1
      if (cum >= organicFraction * totalBuckets && next >= gapFactor * size) {
        val cap = math.min(math.min(2L * size, next - 1L), Int.MaxValue.toLong)
        return Some(cap.toInt)
      }
      i += 1
    }
    None
  }

  /** MinHash + LSH near-duplicate pairs: band the signature, bucket-join,
    * then verify candidates with exact Jaccard (no false positives; miss
    * probability (1-J^rows)^bands — with 32 bands × 2 rows, J=0.8 pairs
    * are missed with p < 1e-14). Returns (d1, d2, jac).
    *
    * `maxBucket`: skip band buckets holding more than maxBucket docs.
    * A mega-bucket means many documents share a band signature — in a
    * duplicate-heavy corpus that's a clique of near-identical docs, and
    * pairing it is quadratic in the clique size. Capping is the DEFAULT
    * ([[DefaultMaxBucket]]) because one planted clique otherwise turns
    * the bucket join quadratic at corpus scale; pass `None` to opt out
    * and restore exact banding recall. RECALL CONTRACT under a cap: a
    * pair is lost only if EVERY band bucket containing it is over-cap.
    * For a clique of near-identical docs all 32 buckets are the same
    * clique, so cliques larger than the cap report no pairs at all —
    * run [[exact]] dedup first (the standard pipeline order) so
    * identical-text cliques never reach the LSH stage, and size the
    * cap with [[lshTune]]/bucket stats if near-identical cliques above
    * 4096 are expected. When a cap is active, the dropped-bucket count
    * rides the plan as an observed metric and is warn-logged when the
    * executing query completes (zero extra jobs — see
    * [[cappedBuckets]]); silent truncation reads as full recall when
    * it isn't. */
  def minhashLsh(df: DataFrame, id: String, text: String,
                 threshold: Double, numPerms: Int = 64,
                 bands: Int = 32,
                 maxBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    require(bands >= 1 && bands <= numPerms && numPerms % bands == 0,
      s"minhashLsh: bands=$bands must divide numPerms=$numPerms " +
        "(bands > numPerms collapses every doc into one bucket per band; " +
        "a non-dividing bands silently drops the remainder permutations)")
    val rows = numPerms / bands
    // The shingle-hash arrays feed FOUR plan branches (signature scan +
    // both sides of each verify join); without materialization Spark
    // recomputes the interpreted shingle transform in every branch —
    // measured 1.4× whole-query cost at sf0.1. localCheckpoint pins the
    // COMPACT derived frame (id + hash array — KBs/doc vs the raw
    // text), which is the standard multi-consumer reuse move at corpus
    // scale; the trade is executor-local blocks (executor loss → job
    // retry).
    val arrays0 = shingleHashArrays(df, id, text)
    val arrays = Materialize.pin(arrays0)
    val sig = arrays.select(col(id),
      graft.expr.VectorExpressions.minhashSig(col("hs"), numPerms).as("sig"))
    val banded0 = sig.select(col(id),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val banded = maxBucket match {
      case Some(cap) =>
        // the capped path consumes the banded frame on THREE branches
        // (bucket-size aggregate + both join sides); pin the compact
        // (id, band, bucket) rows so the signature expression runs
        // once, not per branch
        cappedBuckets(Materialize.pin(banded0), cap, "minhashLsh")
      case None => banded0
    }
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("d1"), col(s"y.$id").as("d2")).distinct()
    // verify candidates with exact Jaccard: join each side's shingle-hash
    // ARRAY (the materialized frame above) and intersect per pair — no
    // re-explode, no per-shingle shuffle, no sizes aggregates. The
    // candidate set is small, so carrying two arrays per pair is cheap.
    cand
      .join(arrays.select(col(id).as("d1"), col("hs").as("hs1")), Seq("d1"))
      .join(arrays.select(col(id).as("d2"), col("hs").as("hs2")), Seq("d2"))
      .withColumn("i", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jac", col("i").cast("double") /
        (size(col("hs1")) + size(col("hs2")) - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** Incremental MinHash+LSH near-dup: the standing-ingestion shape —
    * candidate pairs form ONLY between the new batch and the seen
    * corpus (band-bucket equi-join of the two sides), never seen×seen
    * (already deduped) and never new×new (run [[minhashLsh]] on the
    * batch for that). The seen side ships (id, band, bucket) plus its
    * shingle-hash arrays for the exact verify — signatures can also be
    * persisted between ingests, making each increment's cost
    * O(batch + touched buckets), not O(corpus).
    *
    * `maxSeenBucket` skips seen-side mega-buckets (a hot bucket makes
    * every future ingest pay |newBucket|×|seenBucket| candidates —
    * same guard, default ([[DefaultMaxBucket]]), recall contract, and
    * `None` opt-out as [[minhashLsh]]'s maxBucket). Ids must be
    * disjoint across the two frames. Returns (d1 ∈ new, d2 ∈ seen,
    * jac ≥ threshold), exact-verified: no false positives, misses with
    * the banding probability (1-J^rows)^bands. */
  def minhashLshIncremental(newDf: DataFrame, seenDf: DataFrame,
                            id: String, text: String, threshold: Double,
                            numPerms: Int = 64, bands: Int = 32,
                            maxSeenBucket: Option[Int] = Some(DefaultMaxBucket)): DataFrame = {
    def prep(df: DataFrame) = {
      val a0 = shingleHashArrays(df, id, text)
      Materialize.pin(a0)
    }
    minhashLshIncrementalArrays(prep(newDf), prep(seenDf), id, threshold,
      numPerms, bands, maxSeenBucket)
  }

  /** [[minhashLshIncremental]] over PRECOMPUTED shingle-hash arrays
    * (id, hs) — the persisted-state ingest path: a standing deployment
    * stores the seen corpus's arrays as parquet between runs (the
    * [[graft.streaming.DedupStream]] state convention) and each ingest
    * reads them instead of re-cleaning and re-shingling the corpus,
    * making the increment O(batch + state scan). Pinning is the
    * CALLER's job here: each side is consumed twice (banding + the
    * exact-verify array join) — pin a computed new side; a seen side
    * read from parquet state is usually better left unpinned, since
    * two column-pruned scans of persisted state beat checkpointing a
    * token-scale array column back to local disk. Semantics, guards
    * and the recall contract are [[minhashLshIncremental]]'s. */
  def minhashLshIncrementalArrays(newArrays: DataFrame,
                                  seenArrays: DataFrame,
                                  id: String, threshold: Double,
                                  numPerms: Int = 64, bands: Int = 32,
                                  maxSeenBucket: Option[Int] =
                                    Some(DefaultMaxBucket)): DataFrame = {
    require(bands >= 1 && bands <= numPerms && numPerms % bands == 0,
      s"minhashLshIncremental: bands=$bands must divide numPerms=$numPerms " +
        "(bands > numPerms collapses every doc into one bucket per band; " +
        "a non-dividing bands silently drops the remainder permutations)")
    val rows = numPerms / bands
    // splitIn: the MinHash signature fold (numPerms passes over each
    // hash array) is the heavy per-row work; a seen side read straight
    // from few-file parquet state otherwise runs it as one task
    // (identity on pinned/new-side frames, which carry no input files,
    // and on any real multi-file state layout — r20 profile: the q231
    // seen-side banding job was 400 ms on a single task).
    def band(arrays: DataFrame) = splitIn(arrays, id)
      .select(col(id),
        graft.expr.VectorExpressions.minhashSig(col("hs"), numPerms).as("sig"))
      .select(col(id), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val nb = band(newArrays)
    val sb0 = band(seenArrays)
    val sb = maxSeenBucket match {
      case Some(cap) => cappedBuckets(sb0, cap, "minhashLshIncremental")
      case None => sb0
    }
    val cand = nb.as("x").join(sb.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col(s"x.$id").as("d1"), col(s"y.$id").as("d2")).distinct()
    cand
      .join(newArrays.select(col(id).as("d1"), col("hs").as("hs1")), Seq("d1"))
      .join(seenArrays.select(col(id).as("d2"), col("hs").as("hs2")), Seq("d2"))
      .withColumn("i", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("jac", col("i").cast("double") /
        (size(col("hs1")) + size(col("hs2")) - col("i")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** SimHash over word hashes: sign-sum each bit of wordHash(word),
    * reassemble. The word-hash array feeds the codegen'd
    * [[graft.expr.SimHashSignature]] kernel — one pass over the array
    * per document inside whole-stage codegen, instead of `bits`
    * interpreted `aggregate` folds each re-evaluating the word-hash
    * transform per element (the established HOF trap — same fix as
    * MinHashSignature / TopNgramCount). Entirely map-side; no shuffle. */
  private def simhashImpl(text: Column, bits: Int,
                          wordHash: Column => Column): Column = {
    val hs = transform(split(text, " "), wordHash)
    graft.expr.VectorExpressions.simhashSig(hs, bits)
  }

  /** Connected components over an undirected pair list (d1, d2): one
    * aggregate collects the pairs into a single group, then
    * [[graft.expr.ComponentLabels]] runs union-find inside that one task
    * (which holds the whole pair list) and labels each node with its
    * component's minimum id, then `inline`. No join, no pin, no driver
    * action, no round cap. Returns (node, component). */
  def connectedComponents(pairs: DataFrame): DataFrame =
    pairs.agg(collect_list(array(col("d1"), col("d2"))).as("__e"))
      .select(inline(graft.expr.GraphKernels.components(col("__e"))))

  /** Duplicate-cluster size report — the standard dedup audit table
    * (how many 2-clusters, 3-clusters, ...; mirror-heavy crawls show a
    * long tail of large clusters): [[connectedComponents]] over the
    * near-dup pairs, then the size histogram. Docs with no pair are
    * singletons, not clusters — they never enter the pair table and are
    * excluded by construction (their count is n_docs − Σ
    * size·n_clusters). Returns (size, n_clusters). */
  def dupClusterSizes(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy("component").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))

  /** near-duplicate dedup keep-list: MinHash-LSH pairs → connected
    * components → keep the minimum id per component (plus every doc in
    * no near-dup pair). The end-to-end corpus dedup a training-data
    * pipeline actually runs — which is exactly why it inherits
    * [[minhashLsh]]'s DEFAULT bucket cap ([[DefaultMaxBucket]]) rather
    * than bypassing it: the production entry point is the path that
    * must be quadratic-immune by default. CONSEQUENCE of the capped
    * recall contract at this level: a near-identical clique LARGER
    * than the cap occupies every one of its band buckets, so the
    * clique reports no pairs and ALL its members survive the dedup
    * (warn-logged via the observed dropped-bucket metric). For
    * identical-text cliques the mitigation is the standard pipeline
    * order — run [[exact]] dedup first, so such cliques never reach
    * the LSH stage; for near-identical boilerplate families above
    * 4096, size the cap with [[lshBucketStats]]/[[suggestBucketCap]]
    * or pass `maxBucket = None` to restore exact banding recall.
    *
    * `exactFirst = true` runs that standard order IN here: [[exact]]
    * dedup on the text first (min-id keep — the same rule), LSH over
    * the exact survivors. An identical-text clique of ANY size then
    * collapses to one doc before banding, so the over-cap suppression
    * can never trigger for identical text — only genuinely DISTINCT
    * near-identical families can exceed the cap. Keep-set equivalence:
    * identical docs carry identical shingle sets, hence identical
    * pairs, so for under-cap corpora the survivors equal the
    * one-stage run EXCEPT for sub-shingle docs (fewer than n words
    * never pair in the LSH stage, so exactFirst additionally dedups
    * identical short texts — a semantic strengthening, which is why
    * it is opt-in rather than the default). */
  def dedupNearMinhash(df: DataFrame, id: String, text: String,
                       threshold: Double, numPerms: Int = 64,
                       bands: Int = 32,
                       maxBucket: Option[Int] = Some(DefaultMaxBucket),
                       exactFirst: Boolean = false): DataFrame = {
    // pinned for the same reason as dedupNearCanonical's df0: the
    // exact pre-stage (text-keyed aggregate + semi join) feeds both
    // the banding input and the final anti join
    val base = if (exactFirst) Materialize.pin(exact(df, id, text)) else df
    val pairs = minhashLsh(base, id, text, threshold, numPerms, bands, maxBucket)
    val comps = connectedComponents(pairs)
    val drop = comps.filter(col("node") =!= col("component"))
      .select(col("node").as(id))
    base.join(drop, Seq(id), "left_anti")
  }

  /** near-duplicate dedup keeping the BEST-QUALITY representative per
    * cluster — [[dedupNearMinhash]] with the keep rule a production
    * corpus pipeline actually wants: min-id keeps whichever duplicate
    * happened to be crawled first; this keeps the one worth training
    * on (longest, highest quality score, least boilerplate — any
    * caller-supplied `quality` column). MinHash-LSH pairs → connected
    * components → per-component argmax(quality), ties broken by
    * MINIMUM id so the winner is unique and engine-replayable; every
    * doc in no near-dup pair survives untouched. Null quality carries
    * no argmax weight (SQL max skips it); a component that is ALL-null
    * falls back to min-id keep rather than vanishing.
    *
    * The argmax is the type-generic two-aggregate form (max the
    * quality per component, join back for the achievers, min(id)
    * among them) rather than a max_by struct, so id and quality keep
    * their exact types and the tie-break is explicit. Component tables
    * are cluster-sized (tiny vs the corpus); the final keep is one
    * left_anti join.
    *
    * Inherits [[minhashLsh]]'s DEFAULT bucket cap
    * ([[DefaultMaxBucket]]) — see [[dedupNearMinhash]] for the
    * wrapper-level recall contract: a near-identical clique larger
    * than the cap is suppressed entirely (all members survive,
    * warn-logged); run [[exact]] dedup first so identical-text cliques
    * never reach the LSH stage, size the cap with
    * [[lshBucketStats]]/[[suggestBucketCap]], or pass `None` to
    * restore exact banding recall.
    *
    * `exactFirst = true` runs the standard order in here via
    * [[exactCanonical]] — argmax-quality per IDENTICAL text first
    * (same keep rule, so the composition preserves canonical-keep
    * end-to-end: the identical-group argmax carries the group's
    * links into the LSH stage and can still win the component
    * argmax), then LSH over the survivors. Identical-text cliques of
    * any size collapse before banding — see [[dedupNearMinhash]] for
    * the equivalence statement and the sub-shingle caveat that makes
    * this opt-in. */
  def dedupNearCanonical(df: DataFrame, id: String, text: String,
                         quality: Column, threshold: Double,
                         numPerms: Int = 64, bands: Int = 32,
                         maxBucket: Option[Int] = Some(DefaultMaxBucket),
                         exactFirst: Boolean = false): DataFrame = {
    // the exact pre-stage is two aggregates + an achiever join with the
    // full TEXT riding the shuffle — and df0 feeds three consumers
    // (banding, the quality join, the final anti join): pin it, or the
    // pre-stage recomputes per consumer. Same-session 40×/200k+10k-
    // clique soak A/B: default 32.4 s vs exactFirst 41.2 s — the +27%
    // is the pre-stage price, paid once under this pin.
    val df0 = if (exactFirst) Materialize.pin(
      exactCanonical(df, id, text, quality)) else df
    val pairs = minhashLsh(df0, id, text, threshold, numPerms, bands, maxBucket)
    val comps = connectedComponents(pairs)
    val scored = comps.join(
      df0.select(col(id).as("node"), quality.as("__q")), Seq("node"))
    val best = scored.groupBy(col("component")).agg(max(col("__q")).as("__bq"))
    // null-SAFE achiever match: in a component whose every member has
    // NULL quality, max(__q) is null and a plain === would match
    // nothing — silently dropping the whole cluster instead of keeping
    // a representative. <=> makes the all-null component fall back to
    // min-id keep; mixed components still argmax over the non-null.
    val keepNodes = scored.join(best, Seq("component"))
      .filter(col("__q") <=> col("__bq"))
      .groupBy(col("component")).agg(min(col("node")).as("node"))
      .select(col("node"))
    val drop = comps.select(col("node"))
      .join(keepNodes, Seq("node"), "left_anti")
      .select(col("node").as(id))
    df0.join(drop, Seq(id), "left_anti")
  }

  /** 64-bit SimHash on xxhash64 word hashes — the production path. */
  def simhash(text: Column): Column = simhashImpl(text, 64, w => xxhash64(w))

  /** 31-bit engine-PORTABLE SimHash on
    * [[TextAnalysis.portableWordHash]] (31 bits because the portable
    * mixer's codomain is [0, 2³¹−1)) — DuckDB-replicable, so the near-dup
    * pair set is oracle-checkable. Production corpora use [[simhash]]. */
  def simhashPortable(text: Column): Column =
    graft.expr.VectorExpressions.simhashSig(
      graft.expr.VectorExpressions.portableWordHashes(split(text, " ")), 31)

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on `maxDist + 1` bit-chunks of the
    * 64-bit signature — if hamming(a,b) <= maxDist, the differing bits
    * touch at most maxDist chunks, so at least one of the maxDist+1
    * chunks is identical (pigeonhole) and the pair lands in a shared
    * bucket. FULL recall by construction, exact hamming verify after.
    * maxDist=3 → the classic 4×16-bit split; maxDist=10 → 11 chunks of
    * 5-6 bits (narrower chunks = more candidates — the recall/cost
    * trade-off is explicit in the parameter, never silent). */
  def simhashPairs(df: DataFrame, id: String, text: String,
                   maxDist: Int = 3): DataFrame =
    simhashPairsImpl(df, id, simhash(col(text)), maxDist, bits = 64)

  /** [[simhashPairs]] on the portable 31-bit simhash — same pigeonhole
    * blocking over 31 bits. */
  def simhashPairsPortable(df: DataFrame, id: String, text: String,
                           maxDist: Int = 3): DataFrame =
    simhashPairsImpl(df, id, simhashPortable(col(text)), maxDist, bits = 31)

  /** Corpus-slice overlap matrix: pairwise n-gram-vocabulary Jaccard
    * between GROUPS (sources/crawls/snapshots) — the corpus-analytics
    * view of dedup ("which crawls duplicate each other") that decides
    * which source pairs are worth a full document-level pass. A
    * group's vocabulary is its DISTINCT token n-grams; overlap is
    * |A∩B| / |A∪B| over those vocabularies.
    *
    * Scale shape: n-gram hashes (multi-arg xxhash64 — the q44/q98
    * content-equality convention, collisions ~n²/2⁶⁴) distinct per
    * (group, hash) in one aggregate; the intersection join's posting
    * list per hash is bounded by the NUMBER OF GROUPS (tens), never
    * by document count — so the "pair join" is |vocab|·S²-bounded
    * with tiny S, not quadratic in the corpus. Sizes and
    * intersections are hash aggregates with map-side combine.
    * Returns (g1, g2, n1, n2, n_common, jaccard) for g1 < g2. */
  def groupOverlapMatrix(df: DataFrame, group: String, text: String,
                         n: Int = 3): DataFrame = {
    require(n >= 1, "groupOverlapMatrix: n must be >= 1")
    val w = split(col(text), " ")
    val gh0 = df.select(col(group).as("__g"), w.as("w"))
      .filter(col("__g").isNotNull && size(col("w")) >= n)
      .select(col("__g"), explode(
        graft.expr.TextHashExpressions.ngramHashesAll(col("w"), n)).as("h"))
      .distinct()
    // the compact (group, hash) vocabulary feeds three branches
    // (sizes + both sides of the intersection join) — the q44/q45
    // multi-branch checkpoint lesson
    val gh = Materialize.pin(gh0)
    val sizes = gh.groupBy("__g").agg(count(lit(1)).as("nv"))
    val inter = gh.as("x").join(gh.as("y"),
        col("x.h") === col("y.h") && col("x.__g") < col("y.__g"))
      .groupBy(col("x.__g").as("g1"), col("y.__g").as("g2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("__g").as("g1"), col("nv").as("n1")), Seq("g1"))
      .join(sizes.select(col("__g").as("g2"), col("nv").as("n2")), Seq("g2"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")), 6).as("jaccard"))
  }

  /** Hamming near-dup pairs for ANY precomputed ≤63-bit signature
    * column (perceptual image hashes — [[Multimodal.aHash]] /
    * [[Multimodal.dHash]] — or an externally-computed fingerprint):
    * the same maxDist+1 bit-chunk pigeonhole blocking as
    * [[simhashPairs]], FULL recall by construction, exact hamming
    * verify. Returns (d1, d2, dist). */
  def hammingNearDupPairs(df: DataFrame, id: String, sig: Column,
                          maxDist: Int, bits: Int = 63): DataFrame =
    simhashPairsImpl(df, id, sig, maxDist, bits)

  /** (id, sh, chunk, ck): each document's simhash `sh` once per
    * pigeonhole chunk — `sh` split into maxDist+1 bit ranges whose
    * widths differ by at most one, so two signatures within hamming
    * maxDist agree on at least one (chunk, ck). */
  private def simhashChunked(df: DataFrame, id: String, sim: Column,
                             maxDist: Int, bits: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < bits, s"maxDist must be in [0, ${bits - 1}]")
    val numChunks = maxDist + 1
    val base = bits / numChunks; val rem = bits % numChunks
    val widths = Seq.tabulate(numChunks)(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    // both sides of the chunk join would otherwise re-scan the
    // corpus and recompute the signature (the exchanges don't unify —
    // the q44/q45 lesson); the materialized frame is (id, 8-byte sh),
    // KBs per million docs.
    // splitIn: the signature fold is the heavy per-row work — compute
    // it above the compute split so a single-file local scan uses
    // every core (identity on real layouts).
    val withSim0 = splitIn(df, id).select(col(id), sim.as("sh"))
    val withSim = Materialize.pin(withSim0)
    val chunkCols = offsets.zip(widths).map { case (off, w) =>
      shiftright(col("sh"), off).bitwiseAND((1L << w) - 1L)
    }
    withSim.select(col(id), col("sh"), posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ck")
  }

  private def simhashPairsImpl(df: DataFrame, id: String, sim: Column,
                               maxDist: Int, bits: Int): DataFrame = {
    val chunked = simhashChunked(df, id, sim, maxDist, bits)
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("d1"), col(s"y.$id").as("d2"),
        hamming(col("x.sh"), col("y.sh")).as("dist")).distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Incremental SimHash near-dup — the standing-ingestion shape that
    * completes the incremental family ([[exactIncremental]] /
    * [[minhashLshIncremental]]): candidate pairs form ONLY across the
    * new/seen boundary via the same pigeonhole chunk blocking (a pair
    * within hamming ≤ maxDist shares at least one of the maxDist+1
    * chunks), never seen×seen (already deduped) and never new×new (run
    * [[simhashPairs]] on the batch for that). Both sides' signatures
    * are 8-byte columns; seen-side signatures can be persisted between
    * ingests, making each increment O(batch + touched buckets). FULL
    * recall by construction (pigeonhole, not probabilistic banding);
    * ids must be disjoint across the frames. Returns (d1 ∈ new,
    * d2 ∈ seen, dist ≤ maxDist). */
  def simhashPairsIncremental(newDf: DataFrame, seenDf: DataFrame,
                              id: String, text: String, maxDist: Int = 3): DataFrame =
    simhashIncImpl(newDf, seenDf, id, simhash(col(text)), maxDist, bits = 64)

  /** [[simhashPairsIncremental]] on the portable 31-bit simhash —
    * DuckDB-replicable (the q46 convention), so the cross-boundary
    * pair set is oracle-checkable. */
  def simhashPairsIncrementalPortable(newDf: DataFrame, seenDf: DataFrame,
                                      id: String, text: String,
                                      maxDist: Int = 3): DataFrame =
    simhashIncImpl(newDf, seenDf, id, simhashPortable(col(text)), maxDist, bits = 31)

  private def simhashIncImpl(newDf: DataFrame, seenDf: DataFrame,
                             id: String, sim: Column, maxDist: Int,
                             bits: Int): DataFrame = {
    def chunked(df: DataFrame) = simhashChunked(df, id, sim, maxDist, bits)
    chunked(newDf).as("x").join(chunked(seenDf).as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck"))
      .select(col(s"x.$id").as("d1"), col(s"y.$id").as("d2"),
        hamming(col("x.sh"), col("y.sh")).as("dist")).distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Repeated-line removal (the Falcon/CCNet boilerplate filter —
    * public method; no reference equivalent): drop every line that
    * occurs, byte-identical, in at least `minDocs` DISTINCT documents
    * (navigation chrome, cookie banners, license footers), then stitch
    * each document back together in original line order.
    *
    * Scale shape: one explode to (id, pos, line), the repeated-line
    * vocabulary from a distinct + hash aggregate on 8-byte line hashes
    * (never the line text — the q44 convention; ~n²/2⁶⁴ collision odds),
    * an equi-join against that vocabulary, and one per-doc aggregate
    * that sorts each SURVIVING document's own lines in memory
    * (array_sort over a collect_list — bounded by document size, the
    * same per-doc bound every text op here carries). No window, no
    * driver collect.
    *
    * A document whose every line is boilerplate vanishes from the
    * output (nothing left to keep); `keepEmpty` retains it as an empty
    * string via a left join back to the id set. Lines are whatever
    * `sep` splits on — empty strings between consecutive separators are
    * lines too and dedup like any other. */
  def removeRepeatedLines(df: DataFrame, id: String, text: String,
                          minDocs: Int = 2, sep: String = "\n",
                          keepEmpty: Boolean = false): DataFrame = {
    require(minDocs >= 2, "removeRepeatedLines: minDocs must be >= 2")
    val lines = df.select(col(id), posexplode(split(col(text),
      java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val repeated = lines.select(col(id), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("lh")
    val kept = lines.join(repeated, Seq("lh"), "left_anti")
      .groupBy(col(id)).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as(text))
    if (!keepEmpty) kept
    else df.select(col(id)).join(kept, Seq(id), "left")
      .select(col(id), coalesce(col(text), lit("")).as(text))
  }

  /** [[removeRepeatedLines]] scoped per group — the CCNet/RefinedWeb
    * per-DOMAIN boilerplate rule: a line is boilerplate for documents
    * of group g when it occurs in at least `minDocs` distinct docs OF
    * GROUP g, and (when `minFrac` is set) in at least `minFrac` of the
    * group's documents. Both thresholds must hold — `minDocs` floors
    * tiny groups (2 of 2 docs sharing a line is not evidence at
    * minFrac 0.1), `minFrac` scales the rule to big domains the way a
    * fixed count cannot (a nav bar on 1% of a million-page site is
    * still boilerplate to a count rule; frac says keep it). The same
    * line appearing once per group across many groups is NOT removed
    * anywhere — cross-domain repetition is [[removeRepeatedLines]]'s
    * (deliberate) rule, not this one's.
    *
    * Scale shape: one explode over (group, id, line-hash), one
    * distinct + count aggregate keyed by (group, lh), a two-column
    * one-row-per-DISTINCT-group size table (per registrable domain on
    * a crawl that is tens of millions of rows — deliberately NOT
    * hint-broadcast; Catalyst's size estimate decides, so a
    * million-domain corpus plans a shuffle join instead of OOMing the
    * driver), and a left-anti back-join on (group, lh) — 8-byte
    * hashes ride every shuffle, never line text; group skew is
    * ordinary aggregate skew (AQE's problem, no quadratic anywhere).
    * The minFrac denominator is the group's DISTINCT document count
    * (the same basis as the `nd` numerator), so duplicate (id, group)
    * input rows cannot inflate the bar. Returns (id, group, text);
    * `keepEmpty` retains all-boilerplate docs as empty strings (the
    * restore join matches the group null-safely, so a NULL-group doc
    * gets its kept text back, never a spurious ''). NULL-group docs
    * keep every line: the back-join's equi keys never match null
    * (standard SQL semantics), i.e. ungrouped documents have no
    * boilerplate evidence — route them through
    * [[removeRepeatedLines]] if the corpus-global rule is wanted. */
  def removeRepeatedLinesPerGroup(df: DataFrame, id: String,
                                  group: String, text: String,
                                  minDocs: Int = 2,
                                  minFrac: Option[Double] = None,
                                  sep: String = "\n",
                                  keepEmpty: Boolean = false): DataFrame = {
    require(minDocs >= 2, "removeRepeatedLinesPerGroup: minDocs must be >= 2")
    minFrac.foreach(f => require(f > 0 && f <= 1,
      "removeRepeatedLinesPerGroup: minFrac must be in (0, 1]"))
    val lines = df.select(col(id), col(group), posexplode(split(col(text),
      java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))
    val counts = lines.select(col(group), col(id), col("lh")).distinct()
      .groupBy(col(group), col("lh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
    val repeated = minFrac match {
      case None => counts.select(col(group), col("lh"))
      case Some(f) =>
        // distinct-doc denominator (same basis as the nd numerator);
        // no broadcast hint — one row per distinct group can be tens
        // of millions on a per-domain crawl, so stats/AQE must be free
        // to plan a shuffle join there
        val sizes = df.groupBy(col(group)).agg(
          countDistinct(col(id)).as("__gn"))
        counts.join(sizes, Seq(group))
          .filter(col("nd") >= ceil(col("__gn") * f))
          .select(col(group), col("lh"))
    }
    val kept = lines.join(repeated, Seq(group, "lh"), "left_anti")
      .groupBy(col(id), col(group)).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as(text))
    if (!keepEmpty) kept
    else {
      // null-safe on the group: a NULL-group doc keeps every line (no
      // boilerplate evidence above), so its kept text must match back
      // here too — a plain equi key would blank it to ''
      val base = df.select(col(id), col(group))
      val k = kept.select(col(id).as("__kid"), col(group).as("__kg"),
        col(text).as("__kt"))
      base.join(k, base(id) === k("__kid") && base(group) <=> k("__kg"),
          "left")
        .select(base(id), base(group),
          coalesce(col("__kt"), lit("")).as(text))
    }
  }

  /** Exact edit-distance similarity join over a string key: every pair
    * of rows whose keys are within `maxDist` Levenshtein edits, as
    * (d1, d2, dist) with d1 < d2 by id. The distance itself is Spark's
    * codegen'd `levenshtein` kernel; candidate generation never goes
    * all-pairs:
    *
    *  - length filter — |len(a)−len(b)| <= maxDist is necessary for
    *    lev <= maxDist, and sits in the gram-join condition so no
    *    out-of-range pair ever materializes;
    *  - character q-gram blocking (the count-filter family of Gravano
    *    et al. 2001, "Approximate String Joins in a Database (Almost)
    *    for Free", VLDB — public method): one edit destroys at most q
    *    of a string's len−q+1 overlapping q-grams, so lev(a,b) <= d
    *    with max(len(a),len(b)) >= q·(d+1) forces at least one intact
    *    SHARED q-gram — every such pair is found by an equi-join on
    *    hashed distinct q-grams. (The stronger multiset count bound is
    *    deliberately NOT applied to these distinct-hash posting lists:
    *    repeated grams would over-prune — "aaaa" carries one distinct
    *    gram but three positional ones.)
    *  - short–short block — pairs where BOTH keys have len < q·(d+1)
    *    can evade the gram join ("ab" vs "cd" at d=2 share nothing), so
    *    short keys pair through their bounded DISTINCT values: at most
    *    Σ_{l<q(d+1)} |Σ|^l exist, in practice a handful; a LIMIT probe
    *    fails fast past `maxShortDistinct` (the pqInitCodebooks
    *    convention — never an unbounded driver collect). No short–long
    *    pair needs this block: the long side's count bound already
    *    guarantees a shared gram whenever the short side has any
    *    (len >= q), and keys with len < q can only match keys of
    *    len < q + maxDist <= q·(maxDist+1), i.e. other short keys.
    *
    * Hot q-grams are the skew term (every key pair sharing "er" meets
    * in one posting list). Exact mode keeps them — dropping grams loses
    * recall; `dfCap` opts into the capped regime for production corpora
    * (ngramJaccard's documented trade), changing results only by
    * dropping candidates that ONLY met in hot grams. For low-entropy
    * alphabets (hex ids, digit keys) RAISE q instead so the |Σ|^q gram
    * space outgrows the corpus and posting lists stay match-sized —
    * blocking is lossless for ANY q (the count bound holds per-q; only
    * the short cutoff grows as q·(maxDist+1)), whereas a dfCap tight
    * enough to tame 2-grams there would silently empty the join
    * (measured in the Soak harness — its hex-key battery runs q=4).
    *
    * Scale shape: posting lists carry (8-byte gram hash, id, len) —
    * key strings never ride the self-join; candidate ids come back to
    * the strings via two equi-joins for one codegen'd verify pass.
    * NULL keys match nothing (SQL null semantics throughout). Intended
    * for short keys (names, titles, URLs — the fuzzy-dedup use case):
    * levenshtein itself is O(len²) per surviving candidate pair. */
  def editDistancePairs(df: DataFrame, id: String, key: String,
                        maxDist: Int, q: Int = 2,
                        dfCap: Option[Int] = None,
                        maxShortDistinct: Int = 2048): DataFrame = {
    require(maxDist >= 1, "editDistancePairs: maxDist must be >= 1")
    require(q >= 1, "editDistancePairs: q must be >= 1")
    val base = df.select(col(id).as("__id"), col(key).as("__k"),
      length(col(key)).as("__len"))
    val shortLim = q * (maxDist + 1)
    // long-side candidates: distinct-gram hash equi-join. The __len >= q
    // guard keeps sequence() ascending (start <= stop) besides being the
    // no-grams cutoff.
    val grams0 = base.filter(col("__len") >= q)
      .select(col("__id"), col("__len"),
        explode(array_distinct(transform(
          sequence(lit(1), col("__len") - lit(q - 1)),
          i => xxhash64(col("__k").substr(i, lit(q)))))).as("g"))
    val grams = dfCap match {
      case None => grams0
      case Some(cap) =>
        val keep = grams0.groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("g")
        grams0.join(keep, Seq("g"), "left_semi")
    }
    val ga = grams.select(col("__id").as("d1"), col("__len").as("la"), col("g"))
    val gb = grams.select(col("__id").as("d2"), col("__len").as("lb"), col("g"))
    val gramCand = ga.join(gb,
        ga("g") === gb("g") && col("d1") < col("d2") &&
          abs(col("la") - col("lb")) <= maxDist)
      .select("d1", "d2").distinct()
    // short-short block via bounded distinct values
    val shortProbe = base.filter(col("__len") < shortLim)
      .select("__k").distinct().limit(maxShortDistinct + 1).collect()
    require(shortProbe.length <= maxShortDistinct,
      s"editDistancePairs: > $maxShortDistinct distinct keys shorter than " +
        s"q*(maxDist+1) = $shortLim — raise maxShortDistinct (or q)")
    val cand =
      if (shortProbe.isEmpty) gramCand
      else {
        val spark = df.sparkSession
        import spark.implicits._
        val vals = shortProbe.map(_.getString(0)).toIndexedSeq.toDF("__k")
        val va = vals.select(col("__k").as("ka"))
        val vb = vals.select(col("__k").as("kb"))
        // value-level prefilter: <= maxShortDistinct² broadcast pairs,
        // so the id expansion below is output-bounded
        val vPairs = broadcast(va).join(broadcast(vb),
            levenshtein(col("ka"), col("kb")) <= maxDist &&
              col("ka") <= col("kb"))
          .select("ka", "kb")
        val ia = base.select(col("__id").as("ia"), col("__k").as("ka"))
        val ib = base.select(col("__id").as("ib"), col("__k").as("kb"))
        // expansion yields each unordered id pair once per matching value
        // pair, in value order not id order — normalize and dedupe (the
        // ka == kb diagonal also lands here as both orientations)
        val shortCand = vPairs.join(ia, "ka").join(ib, "kb")
          .filter(col("ia") =!= col("ib"))
          .select(least(col("ia"), col("ib")).as("d1"),
            greatest(col("ia"), col("ib")).as("d2"))
        gramCand.unionByName(shortCand).distinct()
      }
    val ka = base.select(col("__id").as("d1"), col("__k").as("__ka"))
    val kb = base.select(col("__id").as("d2"), col("__k").as("__kb"))
    cand.join(ka, Seq("d1")).join(kb, Seq("d2"))
      .withColumn("dist", levenshtein(col("__ka"), col("__kb")))
      .filter(col("dist") <= maxDist)
      .select(col("d1"), col("d2"), col("dist"))
  }
}
