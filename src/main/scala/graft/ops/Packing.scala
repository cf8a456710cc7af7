package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing for LLM training-data preparation: lay every
  * document's tokens end-to-end in a deterministic global order (by a
  * unique sortable id) and cut the concatenated stream into fixed-size
  * packs of `maxLen` tokens — the standard "concat-and-chunk" batching
  * used to build training examples (no reference equivalent; public
  * method, e.g. GPT-style pretraining data loaders).
  *
  * The global running token offset is a distributed prefix sum, NOT a
  * single-partition window (PlanSpec forbids those — an
  * all-rows-on-one-executor sort dies at corpus scale):
  *
  *   1. project the NARROW (id, n_tokens) frame — the shuffled rows are
  *      ~16 bytes regardless of document size; text never moves;
  *   2. range-partition by id and sort within partitions — global order
  *      with each partition holding a contiguous id range;
  *   3. per-partition token subtotals via one tiny groupBy on
  *      spark_partition_id() (map-side combine → one row per partition),
  *      prefix-summed on the DRIVER (bounded: #partitions rows — the
  *      KMeans/DecisionTree bounded-driver-aggregate pattern) and
  *      broadcast-joined back;
  *   4. within-partition running sums via a window PARTITIONED by the
  *      physical partition id — group size = one data partition, never
  *      the corpus.
  *
  * The ranged frame is pinned once because the subtotal branch and the
  * window branch must see the SAME partition boundaries —
  * RangePartitioner re-samples per execution, so an unmaterialized plan
  * could give the two branches different pids and join mismatched
  * (pid, offset) rows (the q45 multi-branch lesson). Unlike the other
  * ops' pins (pure recompute cost), this one is a correctness gate, so
  * it goes through [[Materialize.pinGate]] and exists under every
  * strategy, `Off` included. Results do not depend on where the
  * boundaries fall, only on both branches agreeing.
  *
  * Output: one row per (document, pack) overlap —
  * (id, pack_id, tok_start, tok_end): the doc-relative token slice
  * [tok_start, tok_end) that lands in `pack_id`. A document longer than
  * `maxLen` spans several packs; a short document shares its pack with
  * its neighbors. Zero-token documents contribute nothing and are
  * absent. Offsets are exact up to 2^53 total corpus tokens (floor on
  * double) — ~9 PB of text before that bound bites.
  */
object Packing {

  /** `startOffset` seeds the global token offset — the pack-APPEND
    * mode an incremental ingest needs: pass the previous run's total
    * token count (= its final `cb + ntok`, i.e. the end offset of its
    * last, possibly partial, pack) and the new documents continue the
    * token stream exactly where the prior pack left off, first filling
    * the prior run's tail pack before opening new ones. The default 0
    * is a fresh corpus. */
  def packConcat(df: DataFrame, id: String, nTokens: Column,
                 maxLen: Long, startOffset: Long = 0L): DataFrame = {
    require(maxLen >= 1, "packConcat: maxLen must be >= 1")
    require(startOffset >= 0, "packConcat: startOffset must be >= 0")
    val L = lit(maxLen)
    val cum = runningOffset(
      df.select(col(id), nTokens.cast("long").as("__ntok"))
        .filter(col("__ntok") > 0),
      groups = Nil, order = Seq(id), start = startOffset)
    cum.select(col(id), col("__ntok"), col("__cb"),
        explode(sequence(floor(col("__cb") / L),
          floor((col("__cb") + col("__ntok") - 1) / L))).as("pack_id"))
      .select(col(id), col("pack_id"),
        (greatest(col("pack_id") * L, col("__cb")) - col("__cb"))
          .as("tok_start"),
        (least((col("pack_id") + 1) * L, col("__cb") + col("__ntok")) -
          col("__cb")).as("tok_end"))
  }

  /** The distributed prefix sum behind [[packConcat]] and
    * Mixture.tokenBudgetSelect: adds `__cb` to each row of `narrow`,
    * the sum of its `__ntok` (long) column over every row before it in
    * `order`, within its `groups` cell, plus `start`. `narrow` should
    * carry only keys and counts: it is range-partitioned by
    * (`groups`, `order`) and pinned, its per-(partition, group)
    * subtotals (≤ #partitions + #groups − 1 cells, by contiguity) are
    * prefix-summed on the driver and broadcast back, and the running
    * sum is a window over one (partition, group) cell. `order` must be
    * a strict total order within a group. */
  private[ops] def runningOffset(narrow: DataFrame, groups: Seq[String],
                                 order: Seq[String],
                                 start: Long): DataFrame = {
    val key = (groups ++ order).map(col)
    val ranged = Materialize.pinGate(narrow
      .repartitionByRange(key: _*)
      .sortWithinPartitions(key: _*)
      .withColumn("__pid", spark_partition_id()))
    val cell = "__pid" +: groups
    val subs = ranged.groupBy(cell.map(col): _*)
      .agg(sum(col("__ntok"))).collect()
    val offsets = subs.groupBy(r => groups.indices.map(i => r.get(i + 1)))
      .values.toSeq.flatMap { cells =>
        var acc = start
        cells.sortBy(_.getInt(0)).map { r =>
          val off = acc; acc += r.getLong(cell.length)
          Row.fromSeq(r.toSeq.init :+ off)
        }
      }
    val schema = StructType(cell.map(ranged.schema(_)) :+
      StructField("__off", LongType))
    val offsetsDf = narrow.sparkSession.createDataFrame(
      java.util.Arrays.asList(offsets: _*), schema)
    val w = Window.partitionBy(cell.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offsetsDf), cell)
      .withColumn("__cb",
        sum(col("__ntok")).over(w) - col("__ntok") + col("__off"))
      .drop("__pid", "__off")
  }

  /** packConcat over whitespace-token counts of a text column. */
  def packDocuments(df: DataFrame, id: String, text: String,
                    maxLen: Long, startOffset: Long = 0L): DataFrame =
    packConcat(df, id, size(split(col(text), " ")), maxLen, startOffset)

  /** Pack compaction — the consumer of the tombstone interval map
    * (Pipeline q226): rewrite packs whose live-token fraction fell
    * below `minLiveFrac`, mask the rest. Deletions (snapshot diff,
    * right-to-be-forgotten, contamination lists) invalidate intervals
    * inside immutable packs; a training loader can mask a FEW dead
    * tokens per pack cheaply, but a pack that is mostly dead wastes
    * loader throughput and should be rebuilt. This is the standard
    * mark-then-compact strategy of log-structured stores (public
    * technique — e.g. LSM segment compaction), applied to token packs.
    *
    * Inputs: `packMap` = the prior pack interval map
    * (id, pack_id, tok_start, tok_end) — one row per (document, pack)
    * overlap, offsets doc-relative, as [[packConcat]] emits;
    * `tombstones` = the invalidated subset, matched by (id, pack_id)
    * key (a doc-level deletion tombstones every row of the doc, as
    * Pipeline q226 produces). `startOffset` = the prior corpus's total
    * token count (the pack manifest's end offset).
    *
    * Per pack: live fraction = live tokens / total tokens. Packs at or
    * above `minLiveFrac` KEEP their ids and rows; their dead rows stay,
    * flagged `live = false` — the loader's mask column. Packs below it
    * are retired: their dead rows vanish and their LIVE intervals are
    * rewritten into fresh packs via [[packConcat]] over the narrow
    * (fragment, n_tokens) frame — text never shuffles; a fragment that
    * outgrows a pack splits exactly like a long document would. The
    * rewrite stream is seeded at the next pack BOUNDARY at or after
    * `startOffset` (not `startOffset` itself): compaction must open
    * fresh packs, never append into the prior run's kept tail pack,
    * so rewritten pack ids can never collide with kept ones.
    *
    * Output: (id, pack_id, tok_start, tok_end, live, status) with
    * status ∈ {'kept', 'rewritten'}; offsets stay doc-relative, so
    * rewritten ∪ kept-live intervals tile each surviving document's
    * token range exactly (PackingSpec proves the tiling).
    *
    * Scale shape: the per-pack stats are one narrow hash aggregate on
    * pack_id joined back (stats-planned — the per-pack frame is
    * corpus/maxLen rows, too big to assume broadcast at 100 TB); the
    * fragment rewrite rides packConcat's distributed prefix sum. The
    * fragment order key is struct(id, pack_id) — range-partitionable
    * and totally ordered, no fragile integer encoding of the pair. */
  def compactPacks(packMap: DataFrame, tombstones: DataFrame, id: String,
                   maxLen: Long, minLiveFrac: Double,
                   startOffset: Long): DataFrame = {
    require(minLiveFrac >= 0.0 && minLiveFrac <= 1.0,
      "compactPacks: minLiveFrac must be in [0, 1]")
    require(startOffset >= 0, "compactPacks: startOffset must be >= 0")
    val freshStart = ((startOffset + maxLen - 1) / maxLen) * maxLen
    val dead = tombstones
      .select(col(id), col("pack_id"), lit(true).as("__dead")).distinct()
    // one pass marks liveness; pinned because three branches consume it
    // (pack stats, kept rows, fragment rows) and its upstream is the
    // full pack map join
    val marked = Materialize.pin(
      packMap.join(dead, Seq(id, "pack_id"), "left")
        .withColumn("live", col("__dead").isNull)
        .drop("__dead")
        .withColumn("__len", col("tok_end") - col("tok_start")))
    val stats = marked.groupBy("pack_id").agg(
      sum(col("__len")).as("__tot"),
      sum(when(col("live"), col("__len")).otherwise(lit(0L))).as("__live"))
      .withColumn("__keep", col("__live") >= lit(minLiveFrac) * col("__tot"))
      .select(col("pack_id"), col("__keep"))
    // pinned: three consumers (kept rows, fragment projection feeding
    // packConcat, and the fragment join-back) would otherwise re-run
    // the stats aggregate + join per branch
    val flagged = Materialize.pin(marked.join(stats, Seq("pack_id")))
    val kept = flagged.filter(col("__keep"))
      .select(col(id), col("pack_id"), col("tok_start"), col("tok_end"),
        col("live"), lit("kept").as("status"))
    val frags = flagged.filter(!col("__keep") && col("live"))
      .select(struct(col(id), col("pack_id")).as("__fkey"),
        col(id).as("__id"), col("tok_start").as("__base"),
        col("__len").as("__ntok"))
    val packed = packConcat(frags, "__fkey", col("__ntok"),
      maxLen, freshStart)
    val rewritten = packed
      .join(frags.select(col("__fkey"), col("__id"), col("__base")),
        Seq("__fkey"))
      .select(col("__id").as(id), col("pack_id"),
        (col("__base") + col("tok_start")).as("tok_start"),
        (col("__base") + col("tok_end")).as("tok_end"),
        lit(true).as("live"), lit("rewritten").as("status"))
    kept.unionByName(rewritten)
  }

  /** Materialized training examples: the actual token content of every
    * pack. The (id, pack) interval map from [[packConcat]] equi-joins
    * back to the corpus, each document contributes the token slice
    * that landed in the pack, and one aggregate per pack reassembles
    * fragments in document order (in-memory sort bounded by docs-per-
    * pack ≤ maxLen). Every pack holds exactly `maxLen` tokens except
    * the final one. Returns (pack_id, n_toks, pack_text). */
  def packTexts(df: DataFrame, id: String, text: String,
                maxLen: Long): DataFrame = {
    val packs = packDocuments(df, id, text, maxLen)
    packs.join(df.select(col(id), split(col(text), " ").as("__w")), Seq(id))
      .select(col("pack_id"), col(id),
        slice(col("__w"), (col("tok_start") + 1).cast("int"),
          (col("tok_end") - col("tok_start")).cast("int")).as("frag"))
      .groupBy("pack_id").agg(
        array_join(flatten(transform(
          array_sort(collect_list(struct(col(id), col("frag")))),
          x => x.getField("frag"))), " ").as("pack_text"))
      .select(col("pack_id"),
        size(split(col("pack_text"), " ")).as("n_toks"), col("pack_text"))
  }
}
