package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (array<float>).
  *
  * The dot product is a sequential left-fold over zipped arrays — pure
  * codegen'd expressions, deterministic accumulation order (needed for
  * oracle parity and reproducible runs).
  *
  * Scale path: brute-force top-k broadcast-joins the (small) query set
  * against the corpus — linear in corpus size, no shuffle of the corpus.
  * The IVF variant prunes to the nProbe closest coarse cells so each query
  * row only scores a fraction of the corpus; centroids are tiny and
  * broadcast. At 1000 executors both stay embarrassingly parallel.
  */
object Similarity {

  /** dot(a, b) with double accumulation in element order — a codegen'd
    * Catalyst expression (graft.expr.DotProduct): same arithmetic, same
    * order, no per-pair array allocation or boxing. */
  def dot(a: Column, b: Column): Column =
    graft.expr.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-query exact top-(skipTop+k) over a (qid, nid, cos) stream via
    * the bounded-heap [[graft.expr.TopKAgg]] aggregate, exploded to
    * (qid, rank, nid, cos) with the first `skipTop` ranks dropped. A
    * rank window here would make every qid's partition CORPUS-sized
    * (each anchor scores the whole corpus) and sort it before dropping
    * anything; the heap ships at most skipTop+k (cos, nid) pairs per
    * qid per map task and merges them associatively — identical
    * (cos desc, nid asc) total order, identical output. Neighbor ids
    * ride the heap as longs (the corpus-id convention; q141's shape). */
  private def heapTopK(scored: DataFrame, k: Int, skipTop: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.expr.TopK.topK(col("cos"), col("nid"), skipTop + k)
        .as("__tk"))
      .select(col("qid"), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .filter(col("__pos") >= skipTop)
      .select(col("qid"), (col("__pos") - skipTop + 1).cast("int").as("rank"),
        col("__e.id").as("nid"), col("__e.score").as("cos"))

  /** Brute-force exact top-k cosine neighbors for each row of `queries`.
    * Returns (qid, rank, nid, cos). Queries side must be small (it is
    * broadcast); corpus streams once into the per-qid bounded heap —
    * no rank window, so no per-anchor corpus sort. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, id: String,
                     vec: String, k: Int): DataFrame =
    heapTopK(scoredPairs(queries, corpus, id, vec), k, skipTop = 0)

  /** Every (query, other corpus row) pair as (qid, nid, cos, nv), the
    * broadcast-query scoring of [[bruteForceTopK]] and [[mmrRerank]]. */
  private def scoredPairs(queries: DataFrame, corpus: DataFrame, id: String,
                          vec: String): DataFrame = {
    val q = queries.select(col(id).as("qid"), col(vec).as("qv"))
    val c = corpus.select(col(id).as("nid"), col(vec).as("nv"))
    c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"),
        col("nv"))
  }

  /** Hard-negative mining for contrastive training (the public
    * BM25/ANN-negatives recipe of e.g. DPR, Karpukhin et al. 2020, and
    * ANCE, Xiong et al. 2021): for each anchor, the top-k most-similar
    * corpus rows from a DIFFERENT group (group = source / near-dup
    * component / label — same-group hits are presumed positives), after
    * skipping the `skipTop` most similar cross-group rows (the
    * near-duplicate band that would poison the negatives with false
    * negatives). Returns (qid, rank, nid, cos), rank 1..k within the
    * kept band.
    *
    * Scale shape: anchors broadcast ([[bruteForceTopK]]'s posture — the
    * anchor set is a training batch, not the corpus); the corpus
    * streams once into a per-anchor bounded heap of skipTop+k entries
    * ([[heapTopK]] — never a per-anchor corpus sort); for corpus-scale
    * anchor sets, shortlist per anchor with [[ivfTopK]] first and
    * re-rank here. */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, id: String,
                    vec: String, group: String, k: Int,
                    skipTop: Int = 0): DataFrame = {
    require(k >= 1, "hardNegatives: k must be >= 1")
    require(skipTop >= 0, "hardNegatives: skipTop must be >= 0")
    val q = anchors.select(col(id).as("qid"), col(vec).as("qv"),
      col(group).as("qg"))
    val c = corpus.select(col(id).as("nid"), col(vec).as("nv"),
      col(group).as("ng"))
    val scored = c.join(broadcast(q),
        col("qid") =!= col("nid") && col("qg") =!= col("ng"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
    heapTopK(scored, k, skipTop)
  }

  /** All pairs with cosine >= threshold (near-duplicate detection).
    * Quadratic candidate space via a broadcast-nested-loop join — oracle
    * validator ONLY. The registered/scale path is
    * [[cosinePairsBlocked]] (exact) or [[cosineNearDupLsh]] (approx). */
  def cosineJoin(df: DataFrame, id: String, vec: String,
                 threshold: Double): DataFrame = {
    val a = df.select(col(id).as("d1"), col(vec).as("v1"))
    val b = df.select(col(id).as("d2"), col(vec).as("v2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** EXACT all-pairs cosine threshold join as a blocked equi-join.
    *
    * An exact threshold join at a moderate threshold is inherently
    * O(n²) comparisons — no blocking scheme can prune with guaranteed
    * recall when near-threshold pairs sit inside the bulk of the cosine
    * distribution. What CAN scale is the plan shape: instead of
    * broadcasting one whole side (BroadcastNestedLoopJoin — dies when
    * the table outgrows one executor), hash every row into one of
    * `blocks` groups and equi-join on the block-PAIR key, so the n²
    * work is spread over blocks·(blocks+1)/2 independent shuffle
    * partitions, each comparing two (n/blocks)-sized chunks. Replication
    * factor is ~blocks/2 rows per side — tune `blocks` ≈ √(2·cluster
    * cores) so one block pair ≈ one task.
    *
    * Every unordered pair is generated exactly once: a cross-block pair
    * appears only in the (min-block, max-block) bucket; a same-block
    * pair appears in both orders and the `d1 < d2` filter keeps one. */
  def cosinePairsBlocked(df: DataFrame, id: String, vec: String,
                         threshold: Double, blocks: Int = 0): DataFrame = {
    // auto-size so block-pair count ≈ cluster parallelism: B(B+1)/2 tasks
    val b =
      if (blocks > 0) blocks
      else math.max(8, math.ceil(math.sqrt(
        2.0 * df.sparkSession.sparkContext.defaultParallelism)).toInt)
    val blk = pmod(xxhash64(col(id)), lit(b)).cast("int")
    // norm is a pure per-row function: compute it once per row, not once
    // per pair (same double value either way — dot is order-preserving)
    val base = df.select(col(id), col(vec).cast("array<double>").as(vec),
      blk.as("b")).withColumn("nrm", norm(col(vec)))
    val left = base.select(col(id).as("d1"), col(vec).as("v1"),
      col("nrm").as("n1"),
      col("b").as("bi"), explode(sequence(col("b"), lit(b - 1))).as("bj"))
    val right = base.select(col(id).as("d2"), col(vec).as("v2"),
      col("nrm").as("n2"),
      explode(sequence(lit(0), col("b"))).as("bi"), col("b").as("bj"))
    left.join(right, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("d1") < col("d2"))
      .select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2"),
        (dot(col("v1"), col("v2")) / (col("n1") * col("n2"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Random-hyperplane LSH near-duplicate pairs: the APPROXIMATE scale
    * path for the high-threshold regime where near-dup detection is
    * actually run (t ≳ 0.8). Sign-sketch each vector against
    * `bands`·`rowsPerBand` seeded Gaussian hyperplanes, bucket-join on
    * per-band sketch words, verify candidates with exact cosine (no
    * false positives). Per-pair miss probability (1 - p^r)^b with
    * p = 1 - acos(cos)/π — at cos=0.9, r=8, b=16: < 1e-4. At low
    * thresholds p approaches the random-pair collision rate and LSH
    * stops pruning — use [[cosinePairsBlocked]] there.
    *
    * `dim`: the (uniform) embedding dimensionality. Pass it explicitly
    * to keep operator construction lazy (no Spark job); when omitted
    * (<= 0) it is probed from the first row — one tiny driver action —
    * and an empty frame short-circuits to an empty result. Vectors
    * shorter than `dim` zip_with-truncate against the hyperplanes. */
  def cosineNearDupLsh(df: DataFrame, id: String, vec: String,
                       threshold: Double, bands: Int = 16,
                       rowsPerBand: Int = 8, seed: Long = 42L,
                       dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else {
      val h = df.select(size(col(vec))).head(1)
      if (h.isEmpty)
        return df.limit(0).select(col(id).as("d1"), col(id).as("d2"),
          lit(0.0).as("cos"))
      h(0).getInt(0)
    }
    val rnd = new scala.util.Random(seed)
    val planes = Vector.fill(bands * rowsPerBand, d)(rnd.nextGaussian())
    // all band sketch words in ONE codegen pass (graft.expr.SignSketch) —
    // the per-band-bit aggregate(zip_with(...)) formulation was
    // bands·rowsPerBand interpreted folds per row (the HOF trap; same fix
    // as MinHashSignature / SimHashSignature)
    // posexplode_OUTER: the sketch array is never empty (bands >= 1), and
    // the _outer variant keeps InferFiltersFromGenerate from planting a
    // size()>0 filter that would re-evaluate the sketch per row (the
    // round-3 q44 lesson)
    val sk = df.select(col(id), col(vec),
        posexplode_outer(graft.expr.VectorExpressions.signSketch(
          col(vec), planes, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "w")
    val cand = sk.as("x").join(sk.as("y"),
        col("x.band") === col("y.band") && col("x.w") === col("y.w") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("d1"), col(s"y.$id").as("d2"),
        col(s"x.$vec").as("v1"), col(s"y.$vec").as("v2"))
      .dropDuplicates("d1", "d2")
    cand.select(col("d1"), col("d2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Assign every row to its nearest centroid by cosine (ties → smaller
    * cid). Centroids broadcast; the argmax is ONE hash aggregate with
    * map-side partial combine (max of a (cos, -cid) struct), NOT a
    * per-row sort window — at corpus scale the shuffle carries ~one row
    * per input row, never the corpus × k cross product. The vector rides
    * the aggregate (first() — constant within its id group) so callers
    * get (id, v, cell) without a join back to the corpus. */
  def assignCells(df: DataFrame, centroids: DataFrame, id: String,
                  vec: String): DataFrame = {
    val cent = centroids.select(col("cid"),
      col(vec).cast("array<double>").as("cv"))
    df.select(col(id), col(vec).cast("array<double>").as("v"))
      .join(broadcast(cent))
      .groupBy(col(id))
      .agg(first(col("v")).as("v"),
        max(struct(cosine(col("v"), col("cv")).as("cos"),
          (-col("cid")).as("negcid"))).as("best"))
      .select(col(id), col("v"), (-col("best.negcid")).as("cell"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540 — public method; the reference has no
    * equivalent): cluster the corpus into cells around `centroids`
    * (k-means centroids — [[graft.ops.KMeans.lloydProfile]] output — or
    * any deterministic coarse quantizer), then compare embeddings ONLY
    * within a cell. Cross-cell near-dups are the documented misses that
    * buy the pass its scale: pair work is Σ|cell|² instead of n², and
    * each cell's pairs form inside one shuffle partition group.
    *
    * `maxCell` skips cells larger than the cap (a mega-cell is a dense
    * semantic clump whose pairing is quadratic in clump size — same
    * guard and same trade as [[Dedup.minhashLsh]]'s maxBucket).
    * Returns (cell, d1, d2, cos) for within-cell pairs with
    * cos >= threshold. */
  def semanticDedupPairs(df: DataFrame, centroids: DataFrame, id: String,
                         vec: String, threshold: Double,
                         maxCell: Option[Int] = None): DataFrame = {
    val assigned0 = assignCells(df, centroids, id, vec)
    val assigned = maxCell match {
      case Some(cap) =>
        val keep = assigned0.groupBy("cell").agg(count(lit(1)).as("cn"))
          .filter(col("cn") <= cap).select("cell")
        assigned0.join(keep, Seq("cell"), "left_semi")
      case None => assigned0
    }
    val a = assigned.select(col("cell"), col(id).as("d1"), col("v").as("v1"))
    val b = assigned.select(col("cell"), col(id).as("d2"), col("v").as("v2"))
    a.join(b, Seq("cell")).filter(col("d1") < col("d2"))
      .select(col("cell"), col("d1"), col("d2"),
        cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup keep-list: drop every row that has a SAME-CELL neighbor
    * with cosine >= threshold and a smaller id (the deterministic
    * stand-in for the paper's keep-one-per-tight-group rule — the
    * minimum id of each duplicate group survives, chains drop with
    * their smaller-id neighbor). Returns the kept (id, cell) rows. */
  def semanticDedup(df: DataFrame, centroids: DataFrame, id: String,
                    vec: String, threshold: Double,
                    maxCell: Option[Int] = None): DataFrame = {
    val assigned = assignCells(df, centroids, id, vec)
    val drop = semanticDedupPairs(df, centroids, id, vec, threshold, maxCell)
      .select(col("d2").as(id)).distinct()
    assigned.join(drop, Seq(id), "left_anti").select(col(id), col("cell"))
  }

  /** Incremental SemDeDup — the standing-ingestion shape that completes
    * the incremental family ([[graft.ops.Dedup.exactIncremental]] /
    * minhashLshIncremental / simhashPairsIncremental, now for
    * embeddings): a new batch dedups against an already-deduped seen
    * corpus by comparing ONLY across the new/seen boundary — never
    * seen×seen (already deduped) and never new×new (run
    * [[semanticDedupPairs]] on the batch for that). Both sides
    * cell-assign around the broadcast centroids; the comparison is a
    * within-cell equi-join new⋈seen. Returns the new-batch rows that
    * survive: (id, cell) with no seen neighbor at cosine ≥ threshold.
    * `maxCell` skips mega-cells on the SEEN side (the minhash
    * maxSeenBucket trade — a new doc landing in a skipped cell keeps,
    * recall documented). */
  def semanticDedupIncremental(newBatch: DataFrame, seen: DataFrame,
                               centroids: DataFrame, id: String,
                               vec: String, threshold: Double,
                               maxCell: Option[Int] = None): DataFrame = {
    val n = assignCells(newBatch, centroids, id, vec)
    val s0 = assignCells(seen, centroids, id, vec)
      .select(col("cell"), col("v").as("sv"))
    val s = maxCell match {
      case Some(cap) =>
        val keep = s0.groupBy("cell").agg(count(lit(1)).as("cn"))
          .filter(col("cn") <= cap).select("cell")
        s0.join(keep, Seq("cell"), "left_semi")
      case None => s0
    }
    val dup = n.join(s, Seq("cell"))
      .filter(cosine(col("v"), col("sv")) >= threshold)
      .select(col(id)).distinct()
    n.join(dup, Seq(id), "left_anti").select(col(id), col("cell"))
  }

  /** Semantic decontamination (public method — the embedding-space
    * analog of n-gram decontamination à la Lee et al. 2022 §5 /
    * SemDeDup, Abbas et al. 2023, arXiv:2303.09540; the reference has
    * no equivalent): drop every corpus row whose embedding has cosine
    * >= `threshold` against ANY eval-set embedding — paraphrased eval
    * leakage that exact n-gram overlap ([[graft.ops.Dedup]]'s
    * decontaminate) cannot see.
    *
    * Scale shape: both sides assign to coarse cells around `centroids`
    * ([[assignCells]] — broadcast centroids, one hash aggregate, no
    * per-row sort window), and the corpus×eval comparison happens ONLY
    * within a cell. The eval side is small by nature (a benchmark
    * suite, not a corpus), so its assigned (cell, vector) rows
    * BROADCAST into the corpus scan — the corpus never shuffles for
    * the probe (as `Dedup.removeContaminatedSpans` broadcasts its
    * benchmark n-gram vocabulary). A contaminated doc whose nearest
    * eval twin landed in a different cell is the documented miss that
    * buys the linear scan (raise nProbe-style recall by densifying
    * centroids, not by widening the join). Returns the KEPT corpus
    * rows (id, cell) — [[semanticDedup]]'s output convention. */
  def semanticDecontaminate(corpus: DataFrame, eval: DataFrame,
                            centroids: DataFrame, id: String, vec: String,
                            threshold: Double): DataFrame = {
    val c = assignCells(corpus, centroids, id, vec)
    val e = assignCells(eval, centroids, id, vec)
      .select(col("cell"), col("v").as("ev"))
    val contaminated = c.join(broadcast(e), Seq("cell"))
      .filter(cosine(col("v"), col("ev")) >= threshold)
      .select(col(id)).distinct()
    c.join(contaminated, Seq(id), "left_anti").select(col(id), col("cell"))
  }

  /** IVF-style ANN: assign every corpus vector to its nearest of
    * `centroids` (broadcast), search only the `nProbe` cells closest to
    * each query. Approximate: recall < 1 when a true neighbor lives in an
    * unprobed cell. Returns (qid, rank, nid, cos). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              id: String, vec: String, k: Int, nProbe: Int): DataFrame = {
    val cent = centroids.select(col("cid"), col(vec).as("cv"))
    def assign(df: DataFrame, keyOut: String, n: Int): DataFrame = {
      val scored = df.join(broadcast(cent))
        .withColumn("cdist", cosine(col("v"), col("cv")))
      val w = Window.partitionBy(col("rid")).orderBy(col("cdist").desc, col("cid"))
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .select(col("rid"), col("v"), col("cid").as(keyOut))
    }
    val c = assign(corpus.select(col(id).as("rid"), col(vec).as("v")), "cell", 1)
      .select(col("rid").as("nid"), col("v").as("nv"), col("cell"))
    val q = assign(queries.select(col(id).as("rid"), col(vec).as("v")), "cell", nProbe)
      .select(col("rid").as("qid"), col("v").as("qv"), col("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosine(col("qv"), col("nv")).as("cos"))
      .groupBy("qid", "nid").agg(max("cos").as("cos"))
    // the probed candidate set is still a corpus FRACTION per anchor
    // (nProbe/nCells of it) — same bounded-heap selection as the
    // brute-force path, never a per-anchor sort of the probed rows
    heapTopK(scored, k, skipTop = 0)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998 — public method): greedily diversify a per-query
    * candidate shortlist by picking, k times,
    *   argmax_c  λ·rel(c) − (1−λ)·max_{s∈selected} cos(c, s)
    * (first pick: the plain relevance argmax — the max-sim term is 0
    * over an empty selection). The standard fix for near-duplicate
    * results crowding a RAG top-k that [[rrfFuse]] alone can't
    * prevent.
    *
    * Input: (qid, id, rel, vec) shortlists — ALREADY top-N per query
    * (the expensive retrieval happened upstream; N is tens, the
    * [[rrfFuse]] posture); NULL-qid rows are dropped. Scale shape: one
    * `groupBy(qid)` collects each query's candidates into one task, and
    * [[graft.expr.MmrSelect]] runs the k greedy rounds there, carrying
    * the running max-sim across rounds — O(k·N·dim) per query, with all
    * N candidates of a qid held in one task at once. One shuffle, no
    * join, no pin, however large k is.
    *
    * Determinism: cosines use the sequential-fold [[dot]] kernel's loop
    * and `Divide`'s zero-divisor rule (DIVIDE_BY_ZERO under ANSI, else
    * a NULL cosine); a candidate with a NULL score is never picked;
    * ties break (score desc, id asc) under the id type's own ordering,
    * so string ids work. Returns (qid, rank, id, score) with score
    * rounded 6 dp at output. */
  def mmrDiversify(candidates: DataFrame, qid: String, id: String,
                   rel: String, vec: String, k: Int,
                   lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "mmrDiversify: k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0,
      "mmrDiversify: lambda must be in [0, 1]")
    candidates.filter(col(qid).isNotNull)
      .groupBy(col(qid).as("__q"))
      .agg(collect_list(struct(col(id), col(rel).cast("double"),
        col(vec).cast("array<double>"))).as("__cands"))
      .select(col("__q"), inline(graft.expr.Mmr.select(col("__cands"), k, lambda)))
      .select(col("__q").as(qid), col("rank"), col("__c").as(id),
        round(col("__score"), 6).as("score"))
  }

  /** Retrieve-then-diversify in one aggregate: [[bruteForceTopK]]'s
    * top-`shortlist` cosine neighbors of each query row, re-ranked by
    * [[mmrDiversify]]'s k greedy MMR rounds. The bounded heap keeps each
    * retained neighbor's corpus vector as its payload
    * ([[graft.expr.TopKAgg]]), so [[graft.expr.MmrSelect]] reads the
    * shortlist straight from the heap in the same projection: no join
    * back to `corpus` for the vectors and no second group-by to collect
    * them. Same picks as `mmrDiversify` over the joined shortlist.
    * Neighbor ids are longs (the heap's id type). Returns
    * (qid, rank, nid, score), score rounded 6 dp. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, id: String,
                vec: String, shortlist: Int, k: Int,
                lambda: Double = 0.7): DataFrame = {
    require(shortlist >= 1, "mmrRerank: shortlist must be >= 1")
    require(k >= 1, "mmrRerank: k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0,
      "mmrRerank: lambda must be in [0, 1]")
    val cands = transform(col("__tk"),
      e => struct(e("id"), e("score"), e("payload")))
    scoredPairs(queries, corpus, id, vec).groupBy(col("qid"))
      .agg(graft.expr.TopK.topK(col("cos"), col("nid"), shortlist,
        col("nv").cast("array<double>")).as("__tk"))
      .select(col("qid"), inline(graft.expr.Mmr.select(cands, k, lambda)))
      .select(col("qid"), col("rank"), col("__c").as("nid"),
        round(col("__score"), 6).as("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009 —
    * public method): merge several ranked candidate lists (e.g. a BM25
    * lexical list and an ANN vector list — "hybrid search") into one
    * ranking by
    *   rrf(d) = Σ_lists 1/(rrfK + rank_d),
    * summing only over the lists where d appears. Rank-based fusion
    * needs no score calibration between heterogeneous retrievers; the
    * standard rrfK = 60 damps the head so deep-list agreement can beat
    * a single-list top hit.
    *
    * Each input must carry (`id`, `rank`) with rank ≥ 1. Scale shape:
    * the inputs are already top-k shortlists (tiny — the expensive
    * retrieval happened upstream), so this is a union + one id-keyed
    * hash aggregate + the bounded-heap top-k; nothing here touches the
    * corpus. Contributions are exact double divisions (no libm), the
    * per-doc sum runs through the exact decimal register rounded at
    * 6 dp, ties break (score desc, id asc) — fully engine-portable.
    * Returns (rank, id, score, n_lists). */
  def rrfFuse(rankings: Seq[DataFrame], id: String, k: Int = 10,
              rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(rrfK >= 0, "rrfFuse: rrfK must be >= 0")
    require(k >= 1, "rrfFuse: k must be >= 1")
    val contribs = rankings.map(r =>
      r.select(col(id),
        round(lit(1.0) / (lit(rrfK.toDouble) + col("rank")), 6).as("c")))
      .reduce(_ unionByName _)
    val fused = contribs.groupBy(col(id)).agg(
      count(lit(1)).as("n_lists"),
      graft.api.functions.dsumD(col("c")).as("score"))
    Mixture.topKPerGroup(
      fused.withColumn("__g", lit(1)), "__g", col("score"), id, k)
      .join(fused.select(col(id), col("n_lists")), Seq(id))
      .select(col("rank"), col(id), col("score"), col("n_lists"))
  }
}
