package graft.tools

import graft.Runtime
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Dedup-path soak at sf1-equivalent scale: the sf* fixtures stop at
  * 0.1 (5 000 documents), so this main replicates
  * the sf0.1 documents table `SPARK_GRAFT_SOAK_COPIES`× (default 10 →
  * 50 000 docs ≈ sf1) with a per-copy marker token prepended to the
  * text. The marker keeps copies NEAR-duplicates (3-gram Jaccard ≈ 0.9
  * across copies), which is the hostile shape for the dedup path:
  * every document sits in a `copies`-sized near-dup clique, so the
  * shingle posting lists and band buckets are `copies`× longer than
  * organic data — exactly the skew the dfCap / maxBucket guards exist
  * for. The soak proves the guards bound the quadratics at scale:
  * wall-times must stay in the tens of seconds and the JVM must not
  * OOM; results go to one JSON line (appended to SOAK_LOCAL.json).
  *
  * Run: SPARK_GRAFT_SOAK_COPIES=10 sbt "runMain graft.tools.Soak"
  *
  * Adjudication mode: a comma-separated `SPARK_GRAFT_SOAK_OPS` runs
  * only those ops, and `SPARK_GRAFT_SOAK_ITERS` > 1 switches from
  * single-shot timing (cliff/OOM bounding) to median-of-N with min/max
  * spread — the mode that separates a real per-op regression from
  * ambient host pressure. Every run goes through [[graft.Runtime.repeat]],
  * so every persisted / localCheckpointed block is released after each
  * run, followed by a GC; ops that internally share a checkpoint (the
  * PQ family) build their own inside the timed thunk.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = Runtime.sfDir
    val copies = sys.env.getOrElse("SPARK_GRAFT_SOAK_COPIES", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/soak")
    val spark = Runtime.session(Runtime.cpus)

    // ---- build the expanded table once per run ---------------------------
    // (SPARK_GRAFT_SOAK_REUSE=1 skips the rewrite when the scaled dir
    // exists — replication is deterministic, so adjudication re-runs
    // re-time ops without paying the write.)
    val docs = graft.Tables.documents(spark, sfDir)
    // reuse also validates the fixture SCHEMA: a pre-round-10 fixture
    // on disk lacks lang/source/n_chars and would reproduce the crash
    // the rewrite fixed
    val reuse = sys.env.get("SPARK_GRAFT_SOAK_REUSE").contains("1") &&
      new java.io.File(s"$out/documents.parquet").exists() && {
        val cols = graft.Tables.readParquet(spark, s"$out/documents.parquet").columns.toSet
        Set("doc_id", "text", "lang", "source", "n_chars").subsetOf(cols)
      }
    if (!reuse) {
      // lang/source/n_chars ride along: the group-keyed ops (cdc_apply,
      // dsir_weights, token_budget, token_kl) need them — the earlier
      // (doc_id, text)-only fixture made those registry entries crash
      // on first soak
      val expanded = (0 until copies).map { k =>
        docs.select(
          (col("doc_id") + lit(k.toLong * 10_000_000L)).as("doc_id"),
          (if (k == 0) col("text")
           else concat(lit(s"soakmark$k "), col("text"))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
      expanded.write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    }
    val big = graft.Tables.readParquet(spark, s"$out/documents.parquet")
    val nDocs = big.count()

    // Runs after every run's pin release. Broadcasts (tokenizer vocabs,
    // keep-sets) are cleaned by the ContextCleaner only after driver GC
    // notices they're unreachable; without a forced GC between ops their
    // torrent blocks accumulate across the run and a later op's peak
    // lands on a heap the earlier ops still pin (observed: each round-12
    // op green ALONE at 40 copies, the 4-op sequence OOM — classic
    // cross-op retention, not an op cost)
    def settle(): Unit = { System.gc(); Thread.sleep(500) }

    // ---- shared lazy state (built on first use by an op that needs it) ---
    val emb = graft.Tables.embeddings(spark, sfDir)
    lazy val bigEmb = (0 until copies).map { k =>
      emb.select((col("vec_id") + lit(k.toLong * 10_000_000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionAll _)
    lazy val centroids = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("cid"), col("embedding"))
    lazy val cbs = graft.ops.Embeddings.pqInitCodebooks(
      emb, "vec_id", "embedding", dim = 64, m = 8, every = 100)
    lazy val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    // the coded corpus is a localCheckpoint; release() between ops
    // unpersists it, so each PQ op builds its own INSIDE its thunk
    def mkCoded() = bigEmb.select(col("vec_id"), col("embedding"),
      graft.ops.Embeddings.pqEncode(col("embedding"), cbs).as("codes"))
      .localCheckpoint()
    lazy val bench = docs.filter(col("doc_id") % 20 === 7)
    // planted mega-bucket: 10k IDENTICAL docs to union with the organic
    // corpus. Uncapped this is a 10k-clique → 5·10⁷ pairs × 32 bands in
    // one bucket
    lazy val planted = spark.range(10_000).select(
      (col("id") + lit(900_000_000L)).as("doc_id"),
      lit("planted mega bucket boilerplate page body shared by " +
        "the whole mirror farm with identical words throughout").as("text"),
      lit("en").as("lang"), lit("planted").as("source"),
      lit(100L).cast(big.schema("n_chars").dataType).as("n_chars"))

    // ---- op registry (name → thunk returning the row count) --------------
    val ops: Seq[(String, () => Long)] = Seq(
      // exact dedup: one hash-agg + semi join — linear
      "exact" -> (() =>
        graft.ops.Dedup.exact(big, "doc_id", "text").count()),
      // q44b shape: dfCap scaled to pass organic shingles (DF ≈ copies)
      // while pruning stop-shingles whose posting lists went quadratic
      "ngram_jaccard" -> (() =>
        graft.ops.Dedup.ngramJaccard(big, "doc_id", "text", 0.2,
          dfCap = Some(5 * copies)).count()),
      // q45b shape: band-bucket cap slightly above the planted clique size
      "minhash_lsh" -> (() =>
        graft.ops.Dedup.minhashLsh(big, "doc_id", "text", 0.8,
          maxBucket = Some(2 * copies)).count()),
      // planted mega-bucket under the DEFAULT cap (r13 item 2): the
      // DefaultMaxBucket guard must drop the clique's buckets (warn
      // log) and finish flat at organic cost
      "minhash_megabucket" -> (() =>
        graft.ops.Dedup.minhashLsh(
          big.select("doc_id", "text").unionByName(planted.select("doc_id", "text")),
          "doc_id", "text", 0.8).count()),
      // r15: the megabucket guard THROUGH the end-to-end wrapper —
      // the r14 soak capped minhashLsh only; dedupNearCanonical now
      // inherits the default cap, so the planted 10k identical-text
      // clique must be suppressed (buckets dropped, warn-logged →
      // every member SURVIVES: the wrapper recall contract; exact
      // dedup first is the documented mitigation) while the organic
      // copies-cliques still dedup to their argmax-n_chars
      // representative. Runtime must stay flat at organic cost.
      "dedup_near_canonical" -> (() =>
        graft.ops.Dedup.dedupNearCanonical(big.unionByName(planted),
          "doc_id", "text", col("n_chars"), threshold = 0.8).count()),
      // r15: the documented mitigation for identical-text mega-cliques,
      // at scale — exactFirst collapses the planted 10k clique to ONE
      // doc BEFORE banding, so the cap never fires for it and the keep
      // count drops by ~9 999 vs the suppressed-whole lane above (the
      // lone survivor may still near-dup-match organic copies of its
      // family). Runtime must stay flat: the exact pre-stage is one
      // hash aggregate + achiever join.
      "dedup_near_canonical_exactfirst" -> (() =>
        graft.ops.Dedup.dedupNearCanonical(big.unionByName(planted),
          "doc_id", "text", col("n_chars"), threshold = 0.8,
          exactFirst = true).count()),
      // r15: one at-scale record of the RELIABLE materialization
      // strategy (DFS checkpoint per pin instead of executor-local
      // blocks — the executor-loss-tolerant 100-TB posture). Same op
      // + cap as the minhash_lsh row, so the SOAK_LOCAL pair is a
      // direct Local-vs-Reliable pin-overhead A/B.
      "minhash_reliable" -> (() => {
        val prev = graft.ops.Materialize.strategy
        graft.ops.Materialize.strategy =
          graft.ops.Materialize.Reliable(s"$out/reliable_ckpt")
        try graft.ops.Dedup.minhashLsh(big, "doc_id", "text", 0.8,
          maxBucket = Some(2 * copies)).count()
        finally graft.ops.Materialize.strategy = prev
      }),
      // simhash near-dup (pigeonhole blocking), same clique pressure
      "simhash" -> (() =>
        graft.ops.Dedup.simhashPairs(big, "doc_id", "text", 3).count()),
      // duplicate-span coverage: every copied window is corpus-repeated,
      // so the dup-vocabulary join carries ~copies× posting pressure
      "dup_spans" -> (() =>
        graft.ops.Dedup.duplicateSpanStats(big, "doc_id", "text").count()),
      // duplicate-span REMOVAL: ~(copies-1)/copies of all windows are
      // removable — near-worst-case coverage explode, and EVERY doc is
      // affected so the untouched-docs fast path cannot help: this
      // measures the full cut + reassembly path
      "dup_span_removal" -> (() =>
        graft.ops.Dedup.removeDuplicateSpans(big, "doc_id", "text").count()),
      // per-group repeated-line removal (r16): words as lines, a
      // synthetic high-cardinality host key (nDocs/10 distinct groups
      // of ~10 docs — the per-domain crawl shape, NOT 20 fat sources)
      // so the minFrac group-size join runs at real group cardinality
      // under the r16 stats-planned (never hint-broadcast) shape;
      // minDocs=3 AND minFrac=0.3 keep both thresholds live
      "repeated_lines_grp" -> (() =>
        graft.ops.Dedup.removeRepeatedLinesPerGroup(
          big.withColumn("host", pmod(col("doc_id"), lit(nDocs / 10))),
          "doc_id", "host", "text", minDocs = 3, minFrac = Some(0.3),
          sep = " ", keepEmpty = true).count()),
      // bigram-LM self-fit: count + score branches over copies× bigrams
      "bigram_lm" -> (() =>
        graft.ops.TextAnalysis.bigramLmScore(big, "doc_id", "text").count()),
      // SemDeDup: replicated embeddings are IDENTICAL across copies, so
      // every base vector becomes a copies-sized cos=1 clique inside one
      // cell — the hostile shape for within-cell pairing. Centroids come
      // from the base table (every 20th id), so cells hold ~20×copies
      // members; the quadratic is bounded per cell, never corpus-wide.
      "semantic_dedup" -> (() =>
        graft.ops.Similarity.semanticDedup(bigEmb, centroids, "vec_id",
          "embedding", threshold = 0.95).count()),
      // PQ encode the replicated embedding corpus (scan-stage argmin over
      // 8 subspaces x base/20 centroids — no shuffle, bounded by the scan)
      "pq_encode" -> (() =>
        bigEmb.select(col("vec_id"),
          graft.ops.Embeddings.pqEncode(col("embedding"), cbs).as("codes"))
          .count()),
      // ADC top-k over the coded corpus: the codes-only scan is one pass
      // per query batch (8 queries here)
      "pq_topk" -> (() =>
        graft.ops.Embeddings.pqTopK(queries, mkCoded(), "vec_id", "codes",
          cbs, k = 10).count()),
      // two-stage: ADC shortlist, then exact re-rank of ONLY the
      // 8 × k × rerank shortlist against full vectors — corpus-size-
      // independent beyond the scan, the bound under test
      "pq_rerank" -> (() =>
        graft.ops.Embeddings.pqTopKRerank(queries, mkCoded(), "vec_id",
          "codes", "embedding", cbs, k = 10, rerank = 4).count()),
      // incremental MinHash+LSH: odd-id half ingests against the even-id
      // seen corpus — every new doc hits a (copies/2)-sized seen clique
      // per band, the hostile shape maxSeenBucket bounds
      "minhash_incremental" -> (() =>
        graft.ops.Dedup.minhashLshIncremental(
          big.filter(col("doc_id") % 2 === 1),
          big.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", 0.8, maxSeenBucket = Some(2 * copies)).count()),
      // incremental EXACT dedup: odd-id half ingests against the even-id
      // seen texts. Replicated texts are unique per (copy, original), so
      // the re-ingest rate is ~0 and the anti join passes ~the whole batch
      "exact_incremental" -> (() =>
        graft.ops.Dedup.exactIncremental(
          big.filter(col("doc_id") % 2 === 1),
          big.filter(col("doc_id") % 2 === 0).select("text"),
          "doc_id", "text").count()),
      // incremental SimHash: same boundary split; the replicated copies
      // are hamming-0 cliques, so every chunk bucket carries the full
      // clique pressure (the pigeonhole analog of the LSH mega-bucket)
      "simhash_incremental" -> (() =>
        graft.ops.Dedup.simhashPairsIncremental(
          big.filter(col("doc_id") % 2 === 1),
          big.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", maxDist = 3).count()),
      // per-domain cap: the group-partitioned rank window over 20 synthetic
      // domains of 10k docs each — the per-group sort is the surface under test
      "domain_cap" -> (() =>
        graft.ops.Mixture.capPerGroup(
          big.withColumn("src", col("doc_id") % 20), "doc_id", "src", 1000)
          .count()),
      // bounded-heap top-k at the SAME n as the cap window above — the
      // direct A/B of shuffle-everything-then-rank vs k-entry partials
      "topk_per_group" -> (() =>
        graft.ops.Mixture.topKPerGroup(
          big.withColumn("src", col("doc_id") % 20), "src",
          length(col("text")).cast("double"), "doc_id", 1000).count()),
      // A-Res weighted sample: one global group, n-entry heap per partition
      "weighted_sample" -> (() =>
        graft.ops.Mixture.weightedSample(
          big, "doc_id", length(col("text")).cast("double"), 1000).count()),
      // edit-distance near-dup in its intended regime — DIVERSE short keys
      // (names/URLs/hashes): every base doc's 16-hex md5 stem + 2-digit
      // copy suffix puts each 40-key clique within 2 substitutions, while
      // q=4 grams over the 16^4 space keep posting lists clique-sized
      // (~copies docs per gram; a 2-gram key on this corpus would be
      // all-hot and dfCap would rightly empty it — measured, which is why
      // the soak uses the 4-gram regime the scaladoc prescribes for
      // low-entropy alphabets). Expected rows ≈ 5000 cliques × C(40,2).
      "edit_distance" -> (() =>
        graft.ops.Dedup.editDistancePairs(
          big.select(col("doc_id"),
            concat(
              substring(md5(expr("CAST(doc_id % 10000000 AS STRING)")), 1, 16),
              lpad(expr("CAST(doc_id DIV 10000000 AS STRING)"), 2, "0")).as("k")),
          "doc_id", "k", maxDist = 2, q = 4, dfCap = Some(5 * copies)).count()),
      // sequence packing: distributed prefix sum over 200k-row id order
      "packing" -> (() =>
        graft.ops.Packing.packDocuments(big, "doc_id", "text", 2048).count()),
      // BPE: the corpus-scale word-count pass + 20 local merge rounds,
      // then the relational encode (distinct-word dict + stamp join)
      "bpe" -> (() => {
        val merges = graft.ops.Bpe.fit(big, "text", numMerges = 20)
        graft.ops.Bpe.encodedTokenCount(big, "doc_id", "text", merges).count()
      }),
      // Misra-Gries heavy hitters over every token occurrence
      "heavy_hitters" -> (() =>
        big.select(explode(split(col("text"), " ")).as("w"))
          .agg(graft.expr.HeavyHitters.misraGries(col("w"), 64).as("hh"))
          .select(explode(col("hh"))).count()),
      // per-source quantile pruning (exact per-group percentile)
      "quantile_filter" -> (() =>
        graft.ops.TextAnalysis.keepTopQuantile(
          big.withColumn("ntok", size(split(col("text"), " ")))
            .withColumn("src", col("doc_id") % 20),
          "src", col("ntok").cast("double"), q = 0.5).count()),
      // decontamination: replicated copies make every benchmark gram
      // corpus-frequent, so the semi join shuffles all ~copies× corpus grams
      "decontam_exact" -> (() =>
        graft.ops.Dedup.decontaminationReport(
          big, bench, "doc_id", "text", n = 8).count()),
      // surgical decontamination: replication makes every benchmark gram
      // hit in EVERY copy, so ~all benchmark-family docs pay the cut +
      // reassembly path while the broadcast vocabulary filter keeps
      // non-benchmark docs on the untouched fast path
      "contam_span_removal" -> (() =>
        graft.ops.Dedup.removeContaminatedSpans(
          big, bench, "doc_id", "text", n = 8, margin = 2).count()),
      // Avro format path at corpus scale: committer-backed write of the
      // replicated docs corpus (one container file per partition, zstd),
      // then a splittable AvroKeyInputFormat scan back — measures the
      // Row↔GenericRecord conversion overhead per side, which the tiny
      // sf0.01 round-trip oracle (q144) cannot see
      "avro_write" -> (() => {
        graft.sources.Avro.writeAvro(big, s"$out/avro_docs"); nDocs
      }),
      "avro_read" -> (() =>
        graft.sources.Avro.readAvro(spark, s"$out/avro_docs").count()),
      // Unicode normalization chain over every copied doc — scan-stage
      // only; measures the UnicodeNormalize fast path + regexp chain
      // per-row cost at corpus scale (no shuffle at all)
      "normalize_text" -> (() =>
        big.select(graft.ops.TextAnalysis.normalizeText(col("text")).as("t"))
          .filter(length(col("t")) > 0).count()),
      // count-min over the full token stream: copies× update pressure on
      // the constant-size grids, one partial per map task, merge tree
      "count_min" -> (() => {
        val toks = big.select(explode(split(col("text"), " ")).as("w"))
        toks.agg(graft.api.functions.cmsSketch(col("w"), 3, 1024).as("sk"))
          .select(size(col("sk")).cast("long").as("n")).first().getLong(0)
      }),
      // CDC merge at corpus scale: 10% of docs carry a change; the
      // untouched 90% must pass through without their text shuffling
      "cdc_apply" -> (() => {
        val changes = big.filter(col("doc_id") % 10 === 3)
          .select(col("doc_id"),
            when(col("doc_id") % 20 === 3, lit("delete"))
              .otherwise(lit("upsert")).as("op"),
            lit(1L).as("seq"), col("text"), col("lang"), col("source"),
            col("n_chars"))
        graft.ops.Dedup.applySnapshotChanges(big, changes, "doc_id").count()
      }),
      // DSIR at corpus scale: the feature explode is scan-stage and both
      // histograms stay 4096-row bounded aggregates no matter the corpus
      "dsir_weights" -> (() =>
        graft.ops.Mixture.dsirLogWeights(big,
          big.filter(col("source").isin("src0", "src1")),
          "doc_id", "text").count()),
      // BM25: term filter inside the scan; only matching occurrences
      // (a few per doc) ever leave it
      "bm25" -> (() =>
        graft.ops.TextAnalysis.bm25TopK(big, "doc_id", "text",
          Seq("spark", "window", "merge", "scan"), k = 15).count()),
      // token-budget selection: the per-group distributed prefix sum on
      // the narrow frame — text never shuffles
      "token_budget" -> (() =>
        graft.ops.Mixture.tokenBudgetSelect(big, "doc_id", "source",
          graft.ops.TextAnalysis.tokenCount(col("text")),
          Map("src0" -> 1000000L, "src1" -> 500000L, "src2" -> 2000000L))
          .count()),
      // sharded-export manifest: one hash aggregate, order-independent
      // fingerprint merges map-side
      "shard_manifest" -> (() =>
        graft.ops.Shard.shardManifest(big, "doc_id", "text", 256)
          .count()),
      // semantic decontamination: replicated embeddings put every eval
      // vector in a copies-sized identical clique, so the broadcast
      // eval probe hits maximally — every corpus row pays a within-cell
      // cosine against its eval twins
      "semantic_decontam" -> (() =>
        graft.ops.Similarity.semanticDecontaminate(
          bigEmb.filter(col("vec_id") % 37 =!= 3),
          bigEmb.filter(col("vec_id") % 37 === 3),
          centroids, "vec_id", "embedding", threshold = 0.95).count()),
      // token-KL drift: corpus vocabulary grows ~copies× (suffixed
      // tokens), pressuring the per-group present-word aggregate and
      // the corpus-scalar branch — the decomposition under test
      "token_kl" -> (() =>
        graft.ops.Mixture.tokenKlDivergence(big, "source", "text").count()),
      // PageRank over a key-offset trade graph replicated by the docs
      // fixture: nodes/edges scale linearly with copies; one collect
      // aggregate, then 3 iterations inside one task
      "pagerank" -> (() =>
        graft.ops.Graph.pageRank(
          big.select((col("doc_id") % 50000).as("s"),
            (col("doc_id") % 37777 + 1000000).as("t")),
          "s", "t", iterations = 3).count()),
      // span corruption: scan-stage only — the per-chunk offs array +
      // two zip_with rebuilds per doc at copies× volume. The length
      // filter FORCES the projection: a bare count() would let the
      // optimizer prune the derived columns and time an empty scan
      "span_corruption" -> (() =>
        graft.ops.Masking.spanCorruption(big, "doc_id", "text")
          .filter(length(col("input")) + length(col("target")) > 0).count()),
      // sentence chunking: regexp split + O(s²) prefix fold + per-doc
      // explode/regroup
      "sentence_chunks" -> (() =>
        graft.ops.TextAnalysis.chunkBySentences(big, "doc_id", "text", 60)
          .count()),
      // perceptual hash + hamming pairing on the replicated embedding
      // grids: copies-sized hamming-0 cliques in every chunk bucket —
      // the pigeonhole analog of the LSH mega-bucket pressure
      "phash_pairs" -> (() =>
        graft.ops.Dedup.hammingNearDupPairs(
          bigEmb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("px")),
          "vec_id", graft.ops.Multimodal.aHash(col("px")), maxDist = 3)
          .count()),
      // round-11: trained language ID — fit on the labeled fifth, score
      // everything; the L×512 profile must stay broadcast at any scale.
      // The filter FORCES the prediction: a bare count() join-eliminates
      // the unique-keyed left join and times an empty scan (the
      // span_corruption count()-pruning artifact)
      "langid_trained" -> (() => {
        val prof = graft.ops.TextAnalysis.fitLangProfiles(
          big.filter(col("doc_id") % 5 === 0), "lang", "text", buckets = 512)
        graft.ops.TextAnalysis.predictLangTrained(
            big, "doc_id", "text", prof, buckets = 512)
          .filter(col("lang") =!= "__never").count()
      }),
      // round-11: unigram-LM fit (seed + 1 Viterbi-EM round; the
      // distinct-word table grows with the per-copy soakmark words) +
      // relational encode of the whole corpus
      "unigram_encode" -> (() => {
        val vocab = graft.ops.Unigram.fit(big, "text", vocabSize = 300,
          maxPieceLen = 4, emRounds = 1)
        graft.ops.Unigram.encodeTokens(big, "doc_id", "text", vocab)
          .filter(size(col("tokens")) > 0).count()
      }),
      // round-12: CCNet perplexity buckets — per-lang LM tables stay
      // vocab-sized (plus the per-copy soakmark words); the one
      // corpus join and the tercile agg-broadcast carry copies× rows
      "ccnet_ppl" -> (() =>
        graft.ops.TextAnalysis.ccnetPerplexityBuckets(
          big, "doc_id", "text", "lang",
          big.filter(col("source").isin("src0", "src1", "src2", "src3")))
          .count()),
      // round-12: WordPiece fit (20 vocab-sized merge rounds over the
      // replicated distinct-word table) + greedy encode of the corpus
      "wordpiece_encode" -> (() => {
        val vocab = graft.ops.WordPiece.fit(big, "text", numMerges = 20)
        // filter on the count so the per-word greedy encode can't be
        // column-pruned under a bare count() (the langid/span lesson)
        graft.ops.WordPiece.encodedTokenCount(big, "doc_id", "text", vocab)
          .filter(col("n_wp_tokens") > 0).count()
      }),
      // round-13: byte-level BPE fit (vocab-bounded merge rounds on
      // the GPT-2 byte alphabet) + relational encode + the decode
      // inverse of the whole corpus — the count filter keeps the
      // round trip from being column-pruned
      "bytebpe_roundtrip" -> (() => {
        val merges = graft.ops.ByteBpe.fit(big, "text", numMerges = 20)
        graft.ops.ByteBpe.decodeTokens(
            graft.ops.ByteBpe.encodeTokens(big, "doc_id", "text", merges),
            "doc_id")
          .filter(length(col("recon_text")) > 0).count()
      }),
      // round-13: held-out KN scoring against a fitted model table —
      // fit on 1/5 of the corpus, score everything (OOV fallback
      // exercised by the soakmark words unique to unseen copies)
      "kn_heldout" -> (() => {
        val model = graft.ops.TextAnalysis.fitKnBigramLm(
          big.filter(col("doc_id") % 5 === 0), "text")
        graft.ops.TextAnalysis.knBigramLmScoreWith(
            big, "doc_id", "text", model)
          .filter(col("n_bigrams") >= 0).count()
      }),
      // round-12: containment pairs under the q44b dfCap regime —
      // replication makes every copy-clique a cont=1.0 block
      // (copies·(copies−1)/2 pairs per original doc), the planted
      // worst case for the pair aggregate
      "ngram_containment" -> (() =>
        graft.ops.Dedup.ngramContainment(big, "doc_id", "text", 0.8,
          dfCap = Some(5 * copies)).count()),
      // round-12: 3-D Hilbert layout — pure scan-stage bit arithmetic.
      // The distance column is forced through an AGGREGATE
      // (count(when(h>=0))), NEVER a filter: a Filter above the staged
      // walk gets pushed through all ~40 projection stages, and each
      // alias substitution multiplies the predicate's references to
      // the previous stage — exponential expression growth that OOMs
      // the OPTIMIZER before a single row moves (observed at 40
      // copies: driver heap exhausted in PushPredicateThroughNonJoin/
      // trimAliases). An Aggregate is not pushed through Project, so
      // the walk stays a linear chain. Same hazard documented on
      // hilbertValueND itself.
      "hilbert_3d" -> (() =>
        graft.ops.ZOrder.hilbertValueND(big.select(
            (col("doc_id") % 4096).as("a"),
            (col("doc_id") % 2893 * 7).as("b"),
            (col("n_chars") % 1024).as("c")),
          Seq(graft.ops.ZOrder.zCell(col("a"), 0, 4096, 6),
            graft.ops.ZOrder.zCell(col("b"), 0, 20251, 6),
            graft.ops.ZOrder.zCell(col("c"), 0, 1024, 6)), 6, "h")
          .agg(count(when(col("h") >= 0, 1)).as("n"))
          .head().getLong(0))
    )

    val only = sys.env.get("SPARK_GRAFT_SOAK_OPS")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).toSet)
    val iters = sys.env.getOrElse("SPARK_GRAFT_SOAK_ITERS", "1").toInt
    val selected = ops.filter { case (n, _) => only.forall(_(n)) }

    // per-op: single-shot by default, median-of-N + spread in
    // adjudication mode, where each run's wall, GC time and steal
    // jiffies tell heap pressure and host steal from a real op cost
    val results = selected.map { case (name, f) =>
      val runs = Runtime.repeat(spark, warmups = 0, iters, after = settle())(f()).toTry.get
      if (iters > 1)
        println(s"SOAK_ITERS $name " + runs.map(r =>
          f"[${r.sec}%.2f,${r.gcSec}%.2f,${r.steal}%d]").mkString(","))
      val (med, lo, hi) = Runtime.medianMinMax(runs.map(_.sec))
      (name, runs.head.value, med, lo, hi)
    }

    val rt = java.lang.Runtime.getRuntime
    val heapUsedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    val spread =
      if (iters > 1)
        results.map { case (n, _, _, lo, hi) => f""""$n":[$lo%.2f,$hi%.2f]""" }
          .mkString(""","iters":""" + iters + ""","spread":{""", ",", "}")
      else ""
    // Provenance labels, so an experiment line in SOAK_LOCAL.json is
    // never mistaken for a regression of the default record with the
    // same params. `head` is the commit the binary was built from;
    // `variant` names the experiment lane (default "default";
    // adjudication runs set SPARK_GRAFT_SOAK_VARIANT).
    val head = sys.env.get("SPARK_GRAFT_HEAD").orElse(
      try Some(scala.sys.process.Process(
        Seq("git", "rev-parse", "--short", "HEAD")).!!.trim)
      catch { case _: Throwable => None }).getOrElse("unknown")
    val variant = sys.env.getOrElse("SPARK_GRAFT_SOAK_VARIANT", "default")
    val json =
      s"""{"soak":"dedup","head":"$head","variant":"$variant",""" +
        s""""copies":$copies,"docs":$nDocs,""" +
        results.map { case (n, rows, med, _, _) =>
          f""""$n":{"rows":$rows,"sec":$med%.2f}""" }.mkString(",") +
        spread + s""","heap_used_mb":$heapUsedMb}"""
    Runtime.appendSoakRecord(json)
    spark.stop()
  }
}
