package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.api.Frame
import graft.ops.{TextAnalysis => TA}

/** Domain-mixture accounting and rebalancing — the corpus-management
  * pass a training-data pipeline runs after filtering/dedup: measure
  * each source's token share, derive per-source keep-rates toward a
  * TARGET mixture (the DoReMi/Pile-style domain-weight bookkeeping —
  * public convention; the reference has no equivalent), and subsample
  * reproducibly to realize it.
  *
  * Scale shape: the accounting is ONE hash aggregate keyed by the
  * group column (token counts combine map-side) plus a 1-row broadcast
  * total (the zScore pattern — no global window, no driver action);
  * rebalancing joins the (sources-sized — tiny) rate table back via
  * broadcast and filters on the portable mixer, so the subsample is a
  * scan-stage decision that any engine, any rerun, and any
  * partitioning reproduces bit-identically ([[Frame.sampleHash]]'s
  * property, with DATA-DRIVEN rates instead of
  * [[Frame.sampleHashStratified]]'s caller-supplied literals).
  */
object Mixture {

  /** per-group token accounting against a target mixture. Returns
    * (group, n_docs, tokens, share, target, rate):
    *  - share  = tokens_g / total_tokens (rounded 6 dp),
    *  - target = the requested fraction (groups absent from `targets`
    *    get 0.0 — they will be dropped entirely by [[rebalance]]),
    *  - rate   = min(1, target·total/tokens_g) (rounded 6 dp): the
    *    keep-probability that brings an over-represented group down to
    *    its target share. Under-represented groups cap at 1 (this pass
    *    never upsamples; renormalize targets or epoch the corpus if the
    *    deficit matters). */
  def tokenMixture(df: DataFrame, group: String, text: String,
                   targets: Map[String, Double]): DataFrame = {
    require(targets.values.forall(t => t >= 0.0 && t <= 1.0),
      "tokenMixture: target fractions must be in [0,1]")
    val counts = df.groupBy(col(group)).agg(
      count(lit(1)).as("n_docs"),
      sum(TA.tokenCount(col(text))).as("tokens"))
    val total = counts.agg(sum(col("tokens")).as("total_tokens"))
    val targetExpr = targets.foldLeft(lit(0.0)) { case (acc, (k, t)) =>
      when(col(group) === k, lit(t)).otherwise(acc)
    }
    counts.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("tokens").cast("double") / col("total_tokens"), 6))
      .withColumn("target", targetExpr)
      .withColumn("rate", round(least(lit(1.0),
        col("target") * col("total_tokens") / col("tokens")), 6))
      .select(col(group), col("n_docs"), col("tokens"), col("share"),
        col("target"), col("rate"))
  }

  /** Deterministic negative sampling for contrastive training: k
    * pseudo-random non-self partners per row, reproducible across
    * engines, reruns, and partitionings (no RNG state — the portable
    * mixer drives everything).
    *
    * Each row gets the 0-based ordinal of its id (parallel
    * zipWithIndex — one bounded count to the driver for the modulus,
    * never a global window); negative j of ordinal o sits at ordinal
    * (o + 1 + mix(o·k + j) mod (n−1)) mod n — the offset lives in
    * [1, n−1], so a row NEVER draws itself; collisions BETWEEN a
    * row's k draws are possible (sampling with replacement). The
    * partner resolves by an ordinal equi-join. Returns
    * (id, j, neg_<id>), k rows per input row. Requires n ≥ 2. */
  def negativeSamples(df: DataFrame, id: String, k: Int): DataFrame = {
    require(k >= 1, "negativeSamples: k must be >= 1")
    val idx = Frame(df.select(col(id)))
      .withIndex("ord", graft.api.Asc(col(id))).df
    val n = idx.count()
    require(n >= 2, s"negativeSamples: needs at least 2 rows, got $n")
    val pairs = idx
      .select(col(id), col("ord"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("nord", pmod(
        col("ord") + 1 + pmod(
          Frame.portableMix(col("ord") * k + col("j")), lit(n - 1)),
        lit(n)))
    pairs.join(idx.select(col("ord").as("nord"), col(id).as(s"neg_$id")),
        Seq("nord"))
      .select(col(id), col("j"), col(s"neg_$id"))
  }

  /** subsample `df` so each group's token share moves to (at most) its
    * target: keep a row iff portableMix(id) < rate_g · M. The rate
    * table comes from [[tokenMixture]] via broadcast join — no driver
    * collect, so the pass composes lazily into a bigger pipeline plan.
    * Deterministic and engine-portable; documents of dropped groups
    * (target 0) never pass the filter. */
  def rebalance(df: DataFrame, id: String, group: String, text: String,
                targets: Map[String, Double]): DataFrame = {
    val rates = tokenMixture(df, group, text, targets)
      .select(col(group), round(col("rate") * Frame.MixM).cast("long").as("mix_thresh"))
    df.join(broadcast(rates), Seq(group))
      .filter(Frame.portableMix(col(id)) < col("mix_thresh"))
      .drop("mix_thresh")
  }

  /** TEMPERATURE-scaled mixture accounting (the multilingual sampling
    * rule of XLM-R §3.1 / mT5 — public method: q_g ∝ p_g^α): targets
    * are DERIVED from the observed token shares instead of
    * caller-supplied — α < 1 flattens the mixture toward uniform
    * (upweights low-resource sources), α = 1 is a no-op, α > 1
    * sharpens toward the head. Returns
    * (group, n_docs, tokens, share, target, repeat, rate):
    *  - share  = tokens_g / total (6 dp, reporting only),
    *  - target = p_g^α / Σ_h p_h^α with p_g the UNROUNDED token ratio
    *    (6 dp; each power rounds to 9 dp first — pow is libm, the q77
    *    last-ulp policy — and the
    *    normalizer sums EXACTLY as DECIMAL(12,9), read back through
    *    VARCHAR, the q137 double-rounding guard),
    *  - repeat = target·total/tokens_g (6 dp) — the repetition factor
    *    an epoched realization needs (> 1 means the source must
    *    UPSAMPLE to reach its target),
    *  - rate   = min(1, repeat) — the keep-probability a
    *    pure-subsample realization ([[rebalance]]'s contract) can
    *    honor.
    * Plan shape: [[tokenMixture]]'s one group-keyed hash aggregate +
    * 1-row total broadcast, plus one extra sources-sized pass for the
    * normalizer — nothing corpus-sized beyond the first aggregate. */
  def temperatureMixture(df: DataFrame, group: String, text: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0.0, "temperatureMixture: alpha must be > 0")
    val counts = df.groupBy(col(group)).agg(
      count(lit(1)).as("n_docs"),
      sum(TA.tokenCount(col(text))).as("tokens"))
    val total = counts.agg(sum(col("tokens")).as("total_tokens"))
    val shared = counts.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("tokens").cast("double") / col("total_tokens"), 6))
      // the power is taken on the UNROUNDED ratio: a 6-dp-rounded share
      // sends any source under 5e-7 of the corpus to 0^α = 0, and the
      // epoched realization then silently DROPS it — the opposite of
      // α<1's low-resource upweighting. `share` is the 6-dp REPORT only.
      .withColumn("__pw", round(pow(
        col("tokens").cast("double") / col("total_tokens"), lit(alpha)), 9))
    val z = shared.agg(sum(col("__pw").cast("decimal(12,9)"))
      .cast("string").cast("double").as("__z"))
    shared.crossJoin(broadcast(z))
      .withColumn("target", round(col("__pw") / col("__z"), 6))
      .withColumn("repeat", when(col("tokens") === 0, lit(0.0)).otherwise(
        round(col("target") * col("total_tokens") / col("tokens"), 6)))
      .withColumn("rate", least(lit(1.0), col("repeat")))
      .select(col(group), col("n_docs"), col("tokens"), col("share"),
        col("target"), col("repeat"), col("rate"))
  }

  /** EPOCHED realization of [[temperatureMixture]] — the variant that
    * UPSAMPLES (where [[rebalance]] can only subsample, capping every
    * rate at 1 and silently under-filling low-resource targets):
    * each row of group g emits n_copies = ⌊repeat_g⌋ whole copies plus
    * one fractional copy iff portableMix(id) < (repeat_g − ⌊repeat_g⌋)
    * ·M, tagged epoch 0..n_copies−1 — in expectation every source's
    * emitted tokens land exactly on target·total, and α = 1 passes the
    * corpus through once (every repeat = 1). Deterministic and
    * engine-portable: repeat is a 6-dp decimal in both engines, so
    * ⌊·⌋ and the fractional threshold agree bit-for-bit.
    *
    * `maxRepeat` caps the blow-up a near-empty source would request
    * (its epochs truncate and the source under-fills — raise the cap
    * deliberately, it bounds output volume). The rates table
    * broadcasts; emission is a scan-stage sequence-explode — no
    * shuffle beyond the accounting aggregates, so the pass composes
    * into a larger pipeline plan. Output = input columns + `epoch`. */
  def temperatureRebalance(df: DataFrame, id: String, group: String,
                           text: String, alpha: Double,
                           maxRepeat: Int = 16): DataFrame = {
    require(maxRepeat >= 1, "temperatureRebalance: maxRepeat must be >= 1")
    val rates = temperatureMixture(df, group, text, alpha)
      .select(col(group),
        least(col("repeat"), lit(maxRepeat.toDouble)).as("__r"))
    val nFull = floor(col("__r")).cast("long")
    val thresh = round((col("__r") - floor(col("__r"))) * Frame.MixM)
      .cast("long")
    val nCopies = nFull +
      when(Frame.portableMix(col(id)) < thresh, 1L).otherwise(0L)
    val keep = df.columns.map(col)
    df.join(broadcast(rates), Seq(group))
      .withColumn("__nc", nCopies)
      .filter(col("__nc") >= 1)
      .select(keep :+ explode(sequence(lit(0L), col("__nc") - 1))
        .as("epoch"): _*)
  }

  /** UniMax mixture allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", arXiv:2304.09151 — public method): distribute a
    * total token BUDGET across sources as uniformly as possible,
    * subject to no source repeating more than `maxEpochs` times —
    * the budget-constrained alternative to [[temperatureMixture]]'s
    * α-heuristic (which can over-epoch tiny sources or under-use the
    * budget; UniMax makes the cap and the budget explicit).
    *
    * The paper's Algorithm 1, verbatim: visit sources from
    * LOWEST-resource to highest (cap = tokens·maxEpochs ascending,
    * ties on the group key); each takes
    * min(cap, remainingBudget / remainingSources) — a source that
    * can't absorb a uniform share caps out at maxEpochs and returns
    * the slack to everyone after it.
    *
    * Plan shape: ONE corpus-scale (group, token) hash aggregate — the
    * only pass that touches 100 TB — then the allocation runs on the
    * collected sources table (a bounded driver collect on the #groups
    * axis — the KMeans-centroids/Bpe-argmax trade; a corpus has
    * thousands of sources, not millions). fp policy: the loop is
    * IEEE double mul/div/min/sub in a FIXED order the q200 oracle
    * replays step-for-step in a recursive CTE, so `quota` matches
    * bit-for-bit unrounded; `epochs` = quota/tokens rounds to 6 dp
    * (the repeat-factor convention of [[temperatureMixture]]).
    * A budget larger than Σ caps leaves the surplus unallocated
    * (every source caps out). Returns
    * (group, n_docs, tokens, quota, epochs). */
  def uniMaxMixture(df: DataFrame, group: String, text: String,
                    budgetTokens: Long, maxEpochs: Double): DataFrame = {
    require(budgetTokens > 0, "uniMaxMixture: budgetTokens must be > 0")
    require(maxEpochs > 0.0, "uniMaxMixture: maxEpochs must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(group)).agg(
      count(lit(1)).as("n_docs"),
      sum(TA.tokenCount(col(text))).as("tokens"))
      .select(col(group).cast("string"), col("n_docs"), col("tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val asc = counts.sortBy { case (g, _, t) => (t.toDouble * maxEpochs, g) }
    var remaining = budgetTokens.toDouble
    var k = asc.length
    val out = asc.map { case (g, nd, t) =>
      val cap = t.toDouble * maxEpochs
      val quota = math.min(cap, remaining / k)
      remaining -= quota
      k -= 1
      val epochs =
        if (t == 0L) 0.0
        else BigDecimal(quota / t.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (g, nd, t, quota, epochs)
    }
    out.toSeq.toDF(group, "n_docs", "tokens", "quota", "epochs")
  }

  /** EPOCHED realization of [[uniMaxMixture]] — identical emission
    * contract to [[temperatureRebalance]] (whole copies ⌊epochs⌋ plus
    * a portable-hash fractional copy, tagged `epoch`), with the repeat
    * factor coming from the budget allocation instead of the α rule.
    * No cap parameter: UniMax's own maxEpochs already bounds the
    * blow-up. Output = input columns + `epoch`. */
  def uniMaxRebalance(df: DataFrame, id: String, group: String,
                      text: String, budgetTokens: Long,
                      maxEpochs: Double): DataFrame = {
    val rates = uniMaxMixture(df, group, text, budgetTokens, maxEpochs)
      .select(col(group), col("epochs").as("__r"))
    val nFull = floor(col("__r")).cast("long")
    val thresh = round((col("__r") - floor(col("__r"))) * Frame.MixM)
      .cast("long")
    val nCopies = nFull +
      when(Frame.portableMix(col(id)) < thresh, 1L).otherwise(0L)
    val keep = df.columns.map(col)
    df.join(broadcast(rates), Seq(group))
      .withColumn("__nc", nCopies)
      .filter(col("__nc") >= 1)
      .select(keep :+ explode(sequence(lit(0L), col("__nc") - 1))
        .as("epoch"): _*)
  }

  /** Leakage-safe GROUP-level holdout split: every row of a group
    * (domain, author, near-dup cluster id) lands entirely in 'train' or
    * entirely in 'eval'. A row-level split leaks near-duplicate content
    * across the boundary and silently inflates eval scores — the
    * classic contamination bug group holdout exists to prevent. The
    * group key (cast to string) hashes through the portable
    * charPoly→mix family, so assignment is engine-portable (DuckDB
    * oracle q158), rerun-stable, partitioning-independent, and pure
    * scan-stage — no shuffle, no group table, no driver state; a new
    * crawl's rows join the same side their group always had.
    * `testFrac` of groups land in 'eval' in expectation. */
  def groupHoldout(df: DataFrame, group: Column, testFrac: Double,
                   splitCol: String = "split"): DataFrame = {
    require(testFrac > 0.0 && testFrac < 1.0,
      "groupHoldout: testFrac must be in (0, 1)")
    val h = graft.ops.TextAnalysis.portableWordHash(group.cast("string"))
    df.withColumn(splitCol,
      when(h < math.round(testFrac * Frame.MixM), lit("eval"))
        .otherwise(lit("train")))
  }

  /** Exact per-group document cap (the per-domain cap of a corpus prep
    * pipeline: no single source contributes more than `n` docs): keep
    * each group's `n` rows with the smallest (portableMix(id), id) — a
    * deterministic pseudo-uniform pick, engine-portable, NOT a prefix
    * of ingestion order (a prefix would bias toward old crawls).
    *
    * The rank is a window partitioned by GROUP: its working set is one
    * domain's rows on one executor — the sort spills rather than OOMs,
    * and no group ever means "the whole corpus" (contrast the global
    * windows PlanSpec forbids). For a corpus where one domain is
    * itself shuffle-hostile, [[rebalance]] is the scan-stage
    * alternative: exact expected counts at a rate threshold, no
    * per-group sort at all — the standard exactness/shape trade. */
  def capPerGroup(df: DataFrame, id: String, group: String,
                  n: Int): DataFrame = {
    require(n >= 1, "capPerGroup: n must be >= 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(group))
      .orderBy(Frame.portableMix(col(id)), col(id))
    df.withColumn("__cap_rn", row_number().over(w))
      .filter(col("__cap_rn") <= n).drop("__cap_rn")
  }

  /** Exact per-group top-k WITHOUT the rank window: "the k best
    * documents of every domain" via the bounded-heap
    * [[graft.expr.TopKAgg]] aggregate. The window formulation
    * ([[capPerGroup]]'s shape) shuffles every row of every group and
    * sorts whole partitions before dropping any; here each map task
    * ships at most k (score, id) pairs per group and partials merge up
    * the aggregation tree — at corpus scale the shuffle carries
    * |groups|·k·#partitions rows instead of n, and nothing ever sorts
    * more than k entries. Same exactness: (score desc, id asc) is a
    * strict total order when ids are unique, so the result is
    * deterministic, partitioning-independent, and replayable as a
    * row_number window in SQL (q141's oracle does exactly that).
    *
    * Returns (group, rank, id, score), rank 1..k best-first. Rows with
    * a null score or id are skipped (SQL aggregate convention). */
  def topKPerGroup(df: DataFrame, group: String, score: Column,
                   id: String, k: Int): DataFrame = {
    require(k >= 1, "topKPerGroup: k must be >= 1")
    df.groupBy(col(group))
      .agg(graft.expr.TopK.topK(score, col(id), k).as("__tk"))
      .select(col(group), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col(group), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as(id), col("__e.score").as("score"))
  }

  /** Deterministic weighted sampling without replacement — the A-Res
    * exponential-key scheme (Efraimidis & Spirakis 2006, "Weighted
    * random sampling with a reservoir", IPL — public method) with the
    * portable mixer as the uniform source instead of RNG state: each
    * row draws u = (portableMix(id)+1)/M ∈ (0,1], ranks by
    * key = ln(u)/w (the monotone log of the paper's u^(1/w)), and the
    * n LARGEST keys are the sample — inclusion odds scale with weight,
    * and the same ids win on every engine, rerun, and partitioning.
    *
    * The key is rounded to 12 dp before ranking (ln differs in the
    * last ulp across libms — the q77 policy; key magnitudes are ≤ ~22
    * so the quantum is far below any honest gap) with ties broken by
    * id, making the order strict and the oracle replayable. Selection
    * rides [[topKPerGroup]]'s bounded heap over one global group —
    * a map-side n-entry heap per partition, never a corpus sort.
    *
    * Rows with null or non-positive weight carry no sampling mass and
    * are excluded. Returns (rank, id, skey), rank 1..n. */
  def weightedSample(df: DataFrame, id: String, weight: Column,
                     n: Int): DataFrame = {
    require(n >= 1, "weightedSample: n must be >= 1")
    val u = (Frame.portableMix(col(id)) + 1).cast("double") /
      lit(Frame.MixM.toDouble)
    val keyed = df.filter(weight > 0)
      .withColumn("__g", lit(1))
      .withColumn("__skey", round(log(u) / weight.cast("double"), 12))
    topKPerGroup(keyed, "__g", col("__skey"), id, n)
      .select(col("rank"), col(id), col("score").as("skey"))
  }

  /** STRATIFIED [[weightedSample]]: n independent A-Res draws per
    * group — the mixture-composition primitive ("sample n docs per
    * source, weighted by quality/tokens") where the global variant
    * lets a heavy group crowd out the rest. Same exp-key scheme,
    * same portable determinism; the heap aggregate carries
    * |groups|·n·#partitions rows instead of one group's. A group with
    * fewer than n positive-weight rows is taken whole. Returns
    * (group, rank, id, skey), rank 1..n per group. */
  def weightedSamplePerGroup(df: DataFrame, group: String, id: String,
                             weight: Column, n: Int): DataFrame = {
    require(n >= 1, "weightedSamplePerGroup: n must be >= 1")
    val u = (Frame.portableMix(col(id)) + 1).cast("double") /
      lit(Frame.MixM.toDouble)
    val keyed = df.filter(weight > 0)
      .withColumn("__skey", round(log(u) / weight.cast("double"), 12))
    topKPerGroup(keyed, group, col("__skey"), id, n)
      .select(col(group), col("rank"), col(id), col("score").as("skey"))
  }

  /** Hashed n-gram feature stream for [[dsirLogWeights]]: every
    * unigram and adjacent bigram of the whitespace tokens, bucketed by
    * the PORTABLE word hash mod `buckets` — one (id, bucket) row per
    * feature OCCURRENCE. Empty tokens drop (the q95 convention), so a
    * document with no tokens contributes no features. Bucketing is
    * charPoly → mix (not xxhash64) because the bucket COLLISIONS are
    * part of the model here — both engines must agree on them exactly,
    * not merely with high probability. */
  private def hashedNgramFeatures(d: DataFrame, id: String, text: String,
                                  buckets: Int): DataFrame = {
    val ws = filter(TA.tokens(col(text)), w => length(w) > 0)
    val uni = transform(col("__ws"),
      w => pmod(TA.portableWordHash(w), lit(buckets.toLong)))
    val bi = when(size(col("__ws")) >= 2,
      transform(sequence(lit(0), size(col("__ws")) - 2),
        i => pmod(TA.portableWordHash(concat(
          get(col("__ws"), i), lit(" "), get(col("__ws"), i + 1))),
          lit(buckets.toLong))))
      .otherwise(array().cast("array<bigint>"))
    d.select(col(id), ws.as("__ws"))
      .select(col(id), explode(concat(uni, bi)).as("bucket"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", NeurIPS — public
    * method): fit two bag-of-hashed-ngrams multinomials — p̂ on a small
    * TARGET corpus (the high-quality exemplar set) and q̂ on the RAW
    * corpus — and score each raw document by its log importance weight
    *   logw(x) = Σ_features [ ln p̂(bucket) − ln q̂(bucket) ],
    * summed over unigram+bigram occurrences hashed into `buckets`
    * buckets with add-α smoothing (p̂_b = (ct_b+α)/(Nt+αB)). High logw
    * = looks like the target distribution; resampling by logw shifts
    * the corpus mixture toward the target domain.
    *
    * Scale shape: features explode in the scan stage; the two bucket
    * histograms are hash aggregates with map-side combine, each at
    * most `buckets` rows (a constant — NOT vocabulary-sized; that is
    * the point of hashing), so the λ_b = ln p̂_b − ln q̂_b table always
    * broadcasts; totals are 1-row broadcast cross joins (the zScore
    * pattern); the per-doc sum is one id-keyed aggregate. No window,
    * no driver state, nothing proportional to the vocabulary.
    *
    * Engine-portable fp policy: each ln is rounded to 9 dp (libm
    * last-ulp guard) and the per-doc sum runs through the exact
    * decimal sum, so the scores hash-match across engines. Buckets
    * never seen in the target get the full smoothing mass (0+α);
    * buckets absent from BOTH corpora don't arise (features come from
    * the raw side). Raw documents with no tokens have no features and
    * are absent — give them no mass rather than an arbitrary score.
    * Returns (id, n_feats, logw). */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, id: String,
                     text: String, buckets: Int = 4096,
                     alpha: Double = 1.0): DataFrame = {
    require(buckets >= 1, "dsirLogWeights: buckets must be >= 1")
    require(alpha > 0, "dsirLogWeights: alpha must be > 0 (unsmoothed " +
      "target zeros would send logw to -inf)")
    val rawF = hashedNgramFeatures(raw, id, text, buckets)
    val tgtF = hashedNgramFeatures(target, id, text, buckets)
    val cr = rawF.groupBy("bucket").agg(count(lit(1)).as("cr"))
    val ct = tgtF.groupBy("bucket").agg(count(lit(1)).as("ct"))
    val nr = cr.agg(sum(col("cr")).as("nr"))
    val nt = ct.agg(sum(coalesce(col("ct"), lit(0L))).as("nt"))
    // Left join: raw-side buckets the target never emits keep ct = 0.
    // nt coalesces to 0 for the empty-target edge (all mass smoothing).
    val lam = cr.join(ct, Seq("bucket"), "left")
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
      .select(col("bucket"),
        (round(log((coalesce(col("ct"), lit(0L)) + alpha) /
          (coalesce(col("nt"), lit(0L)) + alpha * buckets)), 9) -
         round(log((col("cr") + alpha) /
          (col("nr") + alpha * buckets)), 9)).as("lam"))
    rawF.join(lam, Seq("bucket"))
      .groupBy(col(id)).agg(count(lit(1)).as("n_feats"),
        graft.api.functions.dsumD(col("lam")).as("logw"))
  }

  /** Exact per-group TOKEN-budget selection — mixtures are specified in
    * tokens, not documents (a 100-word doc and a 10k-word doc are not
    * interchangeable), so the final composition pass of a pretraining
    * pipeline takes documents per source in a deterministic priority
    * order until that source's token budget is filled. [[rebalance]]
    * hits a target SHARE in expectation via a keep-rate;
    * this hits an absolute budget exactly: a group's selection stops at
    * the first document whose preceding selected tokens reach `budget`
    * (greedy fill — the crossing document is still taken, so a group
    * with enough supply lands in [budget, budget + maxDocLen); short
    * groups are taken whole).
    *
    * Priority defaults to the portable mixer of `id` (an unbiased
    * pseudo-random draw); pass e.g. a quality score as `priority` to
    * take the best documents first. The order (priority asc, id asc)
    * must be a strict total order for determinism — ids are unique, so
    * it is.
    *
    * Scale shape — the [[graft.ops.Packing]] distributed prefix sum,
    * per group: only the NARROW (group, id, ntok, pri) frame shuffles
    * (text never moves); range-partition by (group, pri, id) so each
    * partition holds a contiguous slice of one-or-more groups'
    * priority order; per-(partition, group) subtotals collapse to at
    * most #partitions + #groups − 1 rows (contiguity — bounded driver
    * state), prefix-sum per group on the driver, broadcast back; the
    * running sum is a window over ONE (partition, group) cell, never a
    * whole group on one task (contrast a naive
    * `Window.partitionBy(group)` — one task per SOURCE dies at 100 TB
    * where a source is terabytes). The ranged frame is pinned through
    * [[Materialize.pinGate]] (under every strategy) because the
    * subtotal branch and the window branch must agree on partition
    * boundaries — the Packing correctness lesson, not a cost pin.
    *
    * Returns the SELECTION frame (group, id, n_tokens, tokens_before)
    * — join it back to the corpus by id for payloads (the packTexts
    * convention: selection is cheap, the payload join is the caller's
    * explicit scale decision). Rows with null id/priority/negative
    * token counts are dropped; groups without a budget entry are
    * dropped; a zero budget drops the group. */
  def tokenBudgetSelect(df: DataFrame, id: String, group: String,
                        nTokens: Column, budgets: Map[String, Long],
                        priority: Option[Column] = None): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetSelect: budgets must be non-empty")
    require(budgets.values.forall(_ >= 0L),
      "tokenBudgetSelect: budgets must be >= 0")
    val pri = priority.getOrElse(Frame.portableMix(col(id)).cast("double"))
    val narrow = df
      .filter(col(group).isin(budgets.keys.toSeq: _*))
      .select(col(group).cast("string").as("__grp"), col(id),
        nTokens.cast("long").as("__ntok"), pri.cast("double").as("__pri"))
      .filter(col(id).isNotNull && col("__pri").isNotNull &&
        col("__ntok").isNotNull && col("__ntok") >= 0)
    val budgetExpr = budgets.foldLeft(lit(0L)) { case (acc, (k, b)) =>
      when(col("__grp") === k, lit(b)).otherwise(acc)
    }
    Packing.runningOffset(narrow, groups = Seq("__grp"),
        order = Seq("__pri", id), start = 0L)
      .filter(col("__cb") < budgetExpr)
      .select(col("__grp").as(group), col(id),
        col("__ntok").as("n_tokens"), col("__cb").as("tokens_before"))
  }

  /** DSIR selection step: sample `n` raw documents WITHOUT replacement
    * from softmax(logw) via the Gumbel-max trick (Gumbel top-k ≡
    * sampling without replacement from the softmax — Vieira 2014,
    * public identity), with the portable mixer as the uniform source:
    * key = logw + g, g = −ln(−ln u), u = (portableMix(id)+1)/(M+1)
    * ∈ (0,1) strictly — the +1 denominator keeps u < 1 so g is finite.
    * Keys round to 9 dp, ties break by id, and selection rides the
    * bounded heap ([[weightedSample]]'s shape — no corpus sort), so
    * every engine, rerun, and partitioning picks the same documents.
    * Returns (rank, id, skey), rank 1..n. */
  def dsirSample(raw: DataFrame, target: DataFrame, id: String,
                 text: String, n: Int, buckets: Int = 4096,
                 alpha: Double = 1.0): DataFrame = {
    require(n >= 1, "dsirSample: n must be >= 1")
    val u = (Frame.portableMix(col(id)) + 1).cast("double") /
      lit(Frame.MixM.toDouble + 1.0)
    val keyed = dsirLogWeights(raw, target, id, text, buckets, alpha)
      .withColumn("__g", lit(1))
      .withColumn("__skey", round(col("logw") - log(-log(u)), 9))
    topKPerGroup(keyed, "__g", col("__skey"), id, n)
      .select(col("rank"), col(id), col("score").as("skey"))
  }

  /** Per-group token-distribution drift: smoothed KL(p_g ‖ q) of each
    * group's unigram distribution against the whole-corpus distribution
    * (public measure — the standard mixture diagnostic for "how far is
    * this source/shard/day from the corpus it feeds"; flags a crawl
    * snapshot whose language mix shifted before it pollutes training).
    * Add-α smoothing over the CORPUS vocabulary V:
    *   p_g(w) = (c_g(w)+α)/(n_g+αV),  q(w) = (c(w)+α)/(N+αV),
    *   KL = Σ_{w∈V} p_g(w)·(ln p_g(w) − ln q(w)).
    *
    * Scale shape — the absent-word decomposition: a group's sum over
    * the FULL corpus vocabulary would be #groups × V exploded rows; we
    * never build that. Words PRESENT in the group contribute through a
    * (group, word) aggregate sized by the group's own vocabulary; the
    * (V − V_g) ABSENT words all share the constant p₀ = α/(n_g+αV), so
    * their mass collapses to p₀·((V−V_g)·ln p₀ − Σ_absent ln q), and
    * Σ_absent ln q = S_q − Σ_present ln q where S_q (one corpus-level
    * scalar) is computed once. Everything is hash aggregates with
    * map-side combine: corpus counts (vocabulary-sized, mergeable),
    * per-group present-word counts, and 1-row totals that broadcast via
    * cross join (the zScore pattern). No window, no driver state.
    *
    * Engine-portable fp: every ln rounds to 9 dp (libm ulp guard, the
    * q161 convention), summed terms go through the exact decimal
    * register, the final KL rounds to 6 dp — and the ORACLE must
    * replay this exact decomposition, not the naive full-vocab sum
    * (differently-associated decimal sums differ below the rounding).
    * Empty tokens drop (q95 convention); a group that is the whole
    * corpus gets KL ≈ 0 (not exactly 0 — smoothing mass differs when
    * n_g = N only if other groups exist). Returns
    * (group, n_tokens, vocab_g, kl). */
  def tokenKlDivergence(df: DataFrame, group: String, text: String,
                        alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, "tokenKlDivergence: alpha must be > 0")
    val toks = df.select(col(group).as("__g"),
        explode(filter(TA.tokens(col(text)), w => length(w) > 0)).as("__w"))
    // ONE corpus scan: the (group, word) aggregate is the only consumer
    // of the token explode; corpus counts DERIVE from it (Σ over
    // groups), and the compact collapsed frame is localCheckpointed
    // because it feeds four plan branches (corpus counts → qtab/sq,
    // group totals, the present-word join) — the q44/q45 multi-branch
    // lesson
    val cg0 = toks.groupBy("__g", "__w").agg(count(lit(1)).as("cg"))
    val cg = Materialize.pin(cg0)
    val cw = cg.groupBy("__w").agg(sum(col("cg")).as("c"))
    val tot = cw.agg(sum(col("c")).as("bigN"), count(lit(1)).as("bigV"))
    // lnq9 per corpus word + the corpus-level scalar S_q = Σ_V lnq9
    val qtab = cw.crossJoin(broadcast(tot))
      .select(col("__w"), col("bigN"), col("bigV"),
        round(log((col("c") + alpha) / (col("bigN") + lit(alpha) * col("bigV"))), 9)
          .as("lnq9"))
    val sq = qtab.agg(graft.api.functions.dsumD(col("lnq9")).as("sq"))
    val ng = cg.groupBy("__g").agg(sum(col("cg")).as("ng"))
    val present = cg.join(qtab, Seq("__w"))
      .join(ng, Seq("__g"))
      .select(col("__g"), col("cg"), col("lnq9"),
        ((col("cg") + alpha) / (col("ng") + lit(alpha) * col("bigV"))).as("pg"))
      .select(col("__g"), col("lnq9"),
        round(col("pg") * (round(log(col("pg")), 9) - col("lnq9")), 9)
          .as("term"))
    val perGroup = present.groupBy("__g").agg(
      count(lit(1)).as("vg"),
      graft.api.functions.dsumD(col("term")).as("t1"),
      graft.api.functions.dsumD(col("lnq9")).as("sqp"))
    perGroup.join(ng, Seq("__g"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(sq))
      .select(col("__g").as(group), col("ng").as("n_tokens"),
        col("vg").as("vocab_g"),
        round(col("t1") +
          (lit(alpha) / (col("ng") + lit(alpha) * col("bigV"))) *
            ((col("bigV") - col("vg")) *
              round(log(lit(alpha) / (col("ng") + lit(alpha) * col("bigV"))), 9) -
             (col("sq") - col("sqp"))), 6).as("kl"))
  }
}
