package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.ops.{Dedup, Materialize, Similarity}

/** Streaming bridge for the incremental dedup family: a standing
  * ingestion keeps the SEEN corpus as a state TABLE in storage, and
  * each micro-batch
  *
  *  1. drops intra-batch (near-)dups — the larger id of every pair (the
  *     [[Similarity.semanticDedup]] keep rule);
  *  2. drops batch docs with a (near-)dup in the seen state, via the
  *     incremental operators ([[Dedup.minhashLshIncremental]] /
  *     [[Dedup.simhashPairsIncremental]] /
  *     [[Similarity.semanticDedupIncremental]] / seen-key anti-join —
  *     new×seen candidates only, so an ingest costs
  *     O(batch + touched buckets), never O(corpus));
  *  3. writes ALL processed batch rows to the state table — later dup
  *     decisions must see every smaller-id doc, kept or dropped, which
  *     is what makes the stream's keep set EQUAL to the one-shot batch
  *     dedup ("drop the larger-id member of every near-dup pair");
  *  4. writes the batch's survivors to the output path.
  *
  * With unique ids and id-ordered batches the survivors equal the
  * batch run exactly (pair discovery is deterministic: a pair (a < b)
  * surfaces in b's micro-batch, intra if they co-arrive, cross
  * otherwise — asserted multi-batch vs batch in StreamingSpec). With
  * out-of-order batches the recipe still dedups, but the keep rule
  * degrades to arrival order (first arrival wins its pairs).
  *
  * IDEMPOTENT under foreachBatch's at-least-once contract: every write
  * lands in a batchId-keyed subdirectory (`batch-<id>/`) with OVERWRITE
  * semantics, so a micro-batch retry or a restart after a partial write
  * REPLACES its own partial output instead of appending a duplicate —
  * and the state read EXCLUDES the current batch's own subdir, so a
  * retry never sees its first attempt's half-written state as "seen"
  * (which would self-dedup the whole batch away). Readers assemble the
  * table from the subdirs via [[readTable]].
  *
  * foreachBatch rather than mapGroupsWithState, deliberately: dedup
  * state is a corpus-sized table with RELATIONAL access patterns
  * (band-bucket / cell equi-joins against the whole history), not
  * per-key scalar state. Parquet state + incremental joins is the
  * shape that scales; swap the dirs for any table format — a real
  * deployment uses a transactional table (the batch-subdir overwrite
  * here is exactly the poor-man's form of its idempotent commit). At
  * cluster scale, partition/Z-order the state dir by band bucket or
  * cell so each ingest's joins prune to touched files.
  */
object DedupStream {

  private def fs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** read a batch-subdir table written by the recipes below (output or
    * state): every `batch-N/` part, one DataFrame. None if nothing has
    * committed yet. `excludeBatch` drops one batch's subdir — the
    * retry-safety read of the CURRENT batch's own prior attempt. */
  def readTable(spark: SparkSession, dir: String, schema: StructType,
                excludeBatch: Long = -1L): Option[DataFrame] = {
    val (p, hfs) = fs(spark, dir)
    if (!hfs.exists(p)) return None
    val parts = hfs.listStatus(p).map(_.getPath)
      .filter(q => q.getName.startsWith("batch-") &&
        q.getName != s"batch-$excludeBatch")
    if (parts.isEmpty) None
    else Some(spark.read.schema(schema).parquet(parts.map(_.toString).toSeq: _*))
  }

  /** idempotent per-batch write: `dir/batch-<id>/`, overwritten on retry. */
  private def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/batch-$batchId")

  /** numeric key of a state subdir: `batch-7` → 7, `batch-7-compact`
    * (a compaction product covering batches ≤ 7) → 7. */
  private def dirKey(name: String): Long =
    name.stripPrefix("batch-").stripSuffix("-compact").toLong

  /** Compact a batch-subdir state (or output) table: rewrite every
    * committed `batch-N/` into ONE `batch-K-compact/` dir (K = the
    * largest compacted id) with a bounded file count, then delete the
    * originals. Months of micro-batches otherwise accumulate millions
    * of small parquet files that every ingest's state read must list
    * and open.
    *
    * IDEMPOTENCE CONTRACT preserved: the HIGHEST-numbered batch subdir
    * is never compacted — it is the only batch the streaming engine
    * could still retry (anything below it is checkpoint-committed), so
    * its rows must stay excludable via [[readTable]]'s `excludeBatch`;
    * folding them into a compact blob would make a retry see its own
    * half-written first attempt as "seen" and self-dedup the batch
    * away. `upToBatch` tightens the bound when the caller knows the
    * last committed id. Safe to run between [[start]] drains (the
    * AvailableNow posture); do not run concurrently with an active
    * micro-batch of the same stateDir.
    *
    * Crash-safe: the compacted table is fully written to a dot-temp
    * dir, renamed into place, and only then are sources deleted. A
    * crash between rename and deletes leaves rows present in both the
    * compact dir and a not-yet-deleted source — the NEXT compaction
    * (or any call) heals this by deleting raw dirs whose key is ≤ an
    * existing compact dir's key instead of re-reading them (the
    * incremental joins themselves are duplicate-tolerant: candidate
    * pairs are distinct()ed / semi-joined).
    *
    * `targetFileBytes` sizes the rewrite: output files ≈ input bytes /
    * targetFileBytes, min 1 (default 128 MiB — the parquet row-group
    * sweet spot). Returns the number of subdirs compacted (0 = no-op). */
  def compactState(spark: SparkSession, stateDir: String, schema: StructType,
                   upToBatch: Long = Long.MaxValue,
                   targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val (p, hfs) = fs(spark, stateDir)
    if (!hfs.exists(p)) return 0
    val listing = hfs.listStatus(p).map(_.getPath)
    // heal ALL orphaned dot-temp dirs, not just the current k's: a
    // crash during a previous tmp write leaves `.compact-<j>-tmp` for
    // whatever j that run targeted — hidden from readTable (no
    // `batch-` prefix) but accumulating on the state filesystem
    // forever if only a matching-k sweep ran. Runs before the no-op
    // early returns so even a nothing-to-fold call heals.
    listing.filter(q => q.getName.startsWith(".compact-") &&
        q.getName.endsWith("-tmp"))
      .foreach(q => hfs.delete(q, true))
    val all = listing.filter(_.getName.startsWith("batch-"))
    if (all.isEmpty) return 0
    // heal a crashed previous compaction: the NEWEST compact dir
    // contains every batch at or below its key, so any other dir —
    // raw batch OR an older compact blob the crash left undeleted —
    // with key ≤ that is redundant (undeleted older compacts would
    // otherwise duplicate their rows into every future compaction)
    val compactKeys = all.filter(_.getName.endsWith("-compact"))
      .map(q => dirKey(q.getName))
    val healed = if (compactKeys.isEmpty) all else {
      val ck = compactKeys.max
      val (redundant, live) = all.partition(q =>
        dirKey(q.getName) <= ck && q.getName != s"batch-$ck-compact")
      redundant.foreach(q => hfs.delete(q, true))
      live
    }
    val maxKey = healed.map(q => dirKey(q.getName)).max
    val sources = healed.filter(q =>
      dirKey(q.getName) < maxKey && dirKey(q.getName) <= upToBatch)
    if (sources.length <= 1) return 0
    val k = sources.map(q => dirKey(q.getName)).max
    val tmp = new org.apache.hadoop.fs.Path(stateDir, s".compact-$k-tmp")
    val bytes = sources.map(q => hfs.getContentSummary(q).getLength).sum
    val nFiles = math.max(1L, bytes / targetFileBytes).toInt
    spark.read.schema(schema).parquet(sources.map(_.toString).toSeq: _*)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val target = new org.apache.hadoop.fs.Path(stateDir, s"batch-$k-compact")
    if (!hfs.rename(tmp, target))
      throw new java.io.IOException(
        s"compactState: rename $tmp -> $target failed")
    sources.foreach(q => hfs.delete(q, true))
    sources.length
  }

  /** shared recipe skeleton: pin the projected batch, drop intra-batch
    * pair losers and cross-vs-state losers, write survivors + state
    * idempotently. `intraDrop`/`crossDrop` return id-column frames. */
  private def runBatch(batch: DataFrame, batchId: Long, id: String,
                       cols: Seq[String], stateDir: String, outDir: String)
                      (intraDrop: DataFrame => DataFrame)
                      (crossDrop: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    // withBatchRelease: the batch pin (and any operator-internal pins)
    // are released once both writes land — a standing query would
    // otherwise accumulate checkpoint blocks until driver GC. The
    // release sweeps EXACTLY this invocation's pins via Materialize's
    // thread-local pin registry, so concurrent recipes (other standing
    // queries' foreachBatch threads, or the driver pinning a model
    // table mid-batch) are never swept.
    Materialize.withBatchRelease {
      val b = Materialize.pin(batch.select(cols.map(col): _*))
      val intra = intraDrop(b)
      val cross = readTable(spark, stateDir, b.schema, excludeBatch = batchId) match {
        case Some(seen) => crossDrop(b, seen)
        case None => b.limit(0).select(col(id))
      }
      val kept = b.join(intra.union(cross).distinct(), Seq(id), "left_anti")
      writeBatch(kept, outDir, batchId)
      writeBatch(b, stateDir, batchId)
    }
  }

  /** one micro-batch of the MinHash+LSH recipe (exposed so tests and
    * existing foreachBatch wirings can call it directly).
    *
    * `maxBucket` is EXPLICIT here (not silently inherited): it feeds
    * both the intra-batch [[Dedup.minhashLsh]] cap and the cross-batch
    * [[Dedup.minhashLshIncremental]] seen-side cap. Under the default
    * ([[Dedup.DefaultMaxBucket]]) a near-identical clique larger than
    * the cap — within one batch, or accreting in the seen state across
    * batches — reports no pairs and every member SURVIVES (warn-logged
    * via the observed metric). This recipe does not run an exact-dedup
    * pre-stage itself; a production wiring that expects identical-text
    * mega-cliques should compose [[exactBatch]] (on a content-hash
    * key) upstream — the standard pipeline order the
    * [[Dedup.minhashLsh]] contract prescribes — or pass
    * `maxBucket = None` to restore exact banding recall at quadratic
    * risk. */
  def minhashBatch(batch: DataFrame, batchId: Long, id: String, text: String,
                   stateDir: String, outDir: String, threshold: Double,
                   numPerms: Int = 64, bands: Int = 32,
                   maxBucket: Option[Int] = Some(Dedup.DefaultMaxBucket)): Unit =
    runBatch(batch, batchId, id, Seq(id, text), stateDir, outDir)(b =>
      Dedup.minhashLsh(b, id, text, threshold, numPerms, bands, maxBucket)
        .select(col("d2").as(id)))((b, seen) =>
      Dedup.minhashLshIncremental(b, seen, id, text, threshold,
        numPerms, bands, maxBucket).select(col("d1").as(id)))

  /** one micro-batch of the SimHash recipe: pigeonhole-blocked Hamming
    * pairs intra-batch, [[Dedup.simhashPairsIncremental]] against the
    * seen state — the same keep rule (smaller id / earlier arrival
    * wins) over the Hamming-ball notion of "near-dup". */
  def simhashBatch(batch: DataFrame, batchId: Long, id: String, text: String,
                   stateDir: String, outDir: String,
                   maxDist: Int = 3): Unit =
    runBatch(batch, batchId, id, Seq(id, text), stateDir, outDir)(b =>
      Dedup.simhashPairs(b, id, text, maxDist)
        .select(col("d2").as(id)))((b, seen) =>
      Dedup.simhashPairsIncremental(b, seen, id, text, maxDist)
        .select(col("d1").as(id)))

  /** one micro-batch of EXACT dedup on a key column (content hash,
    * fingerprint, canonical URL): min-id per key intra-batch
    * ([[Dedup.exact]]), anti-join against seen KEYS cross-batch —
    * the state table here is the (id, key) history and only the key
    * column ever ships into the cross join. */
  def exactBatch(batch: DataFrame, batchId: Long, id: String, key: String,
                 stateDir: String, outDir: String): Unit =
    runBatch(batch, batchId, id, Seq(id, key), stateDir, outDir)(b =>
      b.join(Dedup.exact(b, id, key), Seq(id, key), "left_anti")
        .select(col(id)))((b, seen) =>
      b.join(seen.select(col(key)).distinct(), Seq(key), "left_semi")
        .select(col(id)))

  /** one micro-batch of the SemDeDup recipe over an embedding stream;
    * `centroids` is the static (cid, vec) cell table (the q97/q180
    * convention). */
  def semanticBatch(batch: DataFrame, batchId: Long, id: String, vec: String,
                    centroids: DataFrame, stateDir: String, outDir: String,
                    threshold: Double,
                    maxCell: Option[Int] = None): Unit = {
    val spark = batch.sparkSession
    Materialize.withBatchRelease {
      val b = Materialize.pin(batch.select(col(id), col(vec)))
      val intraKept = Similarity.semanticDedup(b, centroids, id, vec,
        threshold, maxCell).select(col(id))
      val kept0 = b.join(intraKept, Seq(id), "left_semi")
      val kept = readTable(spark, stateDir, b.schema, excludeBatch = batchId) match {
        case Some(seen) =>
          kept0.join(
            Similarity.semanticDedupIncremental(b, seen, centroids, id, vec,
              threshold, maxCell).select(col(id)),
            Seq(id), "left_semi")
        case None => kept0
      }
      writeBatch(kept, outDir, batchId)
      writeBatch(b, stateDir, batchId)
    }
  }

  /** wire a per-batch function into a streaming query (AvailableNow —
    * drain-and-stop; swap the trigger for a continuous ingest).
    *
    * Opt-in auto-compaction: `compactEvery = N` runs [[compactState]]
    * over each `(dir, schema)` in `compactDirs` (typically the recipe's
    * stateDir; the outDir can ride along too) after every Nth
    * micro-batch's writes have landed — same thread, INSIDE the
    * foreachBatch body, so the streaming engine commits the batch only
    * after compaction returns and no concurrent micro-batch of the
    * same stateDir can overlap it (the [[compactState]] precondition).
    * AvailableNow-safe and retry-safe by [[compactState]]'s own
    * contract: the highest-numbered batch dir — the only one a retry
    * can rewrite — is never folded, and a crash mid-compaction heals
    * on the next trigger. A compaction failure fails the batch (and
    * the retry re-runs both), which is the correct posture: a state
    * dir that cannot be listed/rewritten is a storage problem the
    * stream must surface, not swallow. Default 0 = never compact
    * (existing behavior). */
  def start(stream: DataFrame, checkpointDir: String,
            compactEvery: Int = 0,
            compactDirs: Seq[(String, StructType)] = Nil)
           (batchFn: (DataFrame, Long) => Unit): StreamingQuery = {
    require(compactEvery >= 0,
      s"DedupStream.start: compactEvery=$compactEvery must be >= 0")
    require(compactEvery == 0 || compactDirs.nonEmpty,
      "DedupStream.start: compactEvery > 0 needs at least one " +
        "(dir, schema) in compactDirs")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        batchFn(df, bid)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          compactDirs.foreach { case (dir, schema) =>
            compactState(df.sparkSession, dir, schema)
          }
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
