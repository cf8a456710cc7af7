package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.{Materialize, TextAnalysis}

/** Streaming ENRICHMENT with persisted models — the score-many half of
  * the train-once/score-many contract ([[graft.ops.ModelStore]]): a
  * standing ingestion stamps model outputs (trained language ID,
  * quality scores, perplexity) onto every arriving document.
  *
  * The scoring operators are multi-aggregate relational plans
  * (per-doc bucket counts → profile join → likelihood sum → argmax),
  * which Structured Streaming cannot run as a continuous query
  * (chained aggregations are unsupported); foreachBatch gives each
  * micro-batch BATCH semantics, where the full operator library
  * applies unchanged — the [[DedupStream]] posture, minus the state
  * table (enrichment is stateless given the model).
  *
  * IDEMPOTENT under foreachBatch's at-least-once contract the same way
  * [[DedupStream]] is: each batch's output lands in a batchId-keyed
  * subdirectory with OVERWRITE semantics, so a retry replaces its own
  * partial output. Read results back with [[DedupStream.readTable]].
  *
  * The model frame (language-ID profiles here) is vocabulary-sized and
  * STATIC for the life of the query — load it once from ModelStore
  * before wiring the stream; every micro-batch's scoring join
  * broadcasts it. Model refresh = stop, reload, restart (a model that
  * changes mid-stream makes enrichment non-reproducible).
  *
  * Output dirs accumulate one `batch-N/` subdir per micro-batch —
  * months of micro-batches are millions of small files. Fold them
  * periodically with [[DedupStream.compactState]] (it works on ANY
  * batch-subdir table and preserves the retry contract: the newest
  * batch subdir is never folded).
  */
object EnrichStream {

  /** one micro-batch of a generic enrichment: apply `f` (any batch
    * transform over the projected batch) and write the result
    * idempotently to `outDir/batch-<id>/`.
    *
    * In a standing query each micro-batch's pins (localCheckpoint,
    * inside `f` or inside the operators it calls) would otherwise
    * accumulate blocks until driver GC lets the ContextCleaner reclaim
    * them (the Soak.release lesson). [[Materialize.withBatchRelease]]
    * registers each pin the batch body makes (thread-locally) and
    * releases exactly those after the write lands — so concurrent
    * standing queries on the same context (this module's recipes,
    * [[DedupStream]]'s), and any pins the driver makes mid-batch,
    * can never be released by someone else's batch. */
  def enrichBatch(batch: DataFrame, batchId: Long, outDir: String)
                 (f: DataFrame => DataFrame): Unit =
    Materialize.withBatchRelease {
      f(batch).write.mode("overwrite").parquet(s"$outDir/batch-$batchId")
    }

  /** one micro-batch of the trained-language-ID recipe: stamp
    * (lang) from the persisted profile table onto every batch doc —
    * the batch pins once because [[TextAnalysis.predictLangTrained]]
    * reads it in both the scoring branch and the id spine. */
  def langIdBatch(batch: DataFrame, batchId: Long, id: String,
                  text: String, profiles: DataFrame, buckets: Int,
                  outDir: String): Unit =
    enrichBatch(batch, batchId, outDir) { raw =>
      val b = Materialize.pin(raw)
      b.join(
        TextAnalysis.predictLangTrained(b, id, text, profiles, buckets),
        Seq(id))
    }

  /** wire the language-ID recipe into a standing query
    * ([[DedupStream.start]]'s AvailableNow drain contract). */
  def langIdEnrich(stream: DataFrame, id: String, text: String,
                   profiles: DataFrame, buckets: Int,
                   checkpointDir: String, outDir: String): StreamingQuery =
    DedupStream.start(stream, checkpointDir) { (b, bid) =>
      langIdBatch(b, bid, id, text, profiles, buckets, outDir)
    }

  /** one micro-batch of the add-one bigram-LM fluency recipe: stamp
    * (n_bigrams, avg_logp) from a persisted LM model table
    * ([[TextAnalysis.fitBigramLm]] via ModelStore) onto every batch
    * doc. LEFT join: a doc with < 2 tokens has no bigrams and keeps
    * null scores rather than vanishing from the enriched output (a
    * stream row must never be silently dropped by an enrichment). */
  def lmScoreBatch(batch: DataFrame, batchId: Long, id: String,
                   text: String, model: DataFrame,
                   outDir: String): Unit =
    enrichBatch(batch, batchId, outDir) { raw =>
      val b = Materialize.pin(raw)
      b.join(TextAnalysis.bigramLmScoreWith(b, id, text, model),
        Seq(id), "left")
    }

  /** wire the bigram-LM fluency recipe into a standing query. */
  def lmScoreEnrich(stream: DataFrame, id: String, text: String,
                    model: DataFrame, checkpointDir: String,
                    outDir: String): StreamingQuery =
    DedupStream.start(stream, checkpointDir) { (b, bid) =>
      lmScoreBatch(b, bid, id, text, model, outDir)
    }

  /** one micro-batch of the CCNet perplexity recipe: stamp
    * (n_bigrams, ppl) from a persisted per-language LM
    * ([[TextAnalysis.fitCcnetLm]] via ModelStore), and — when a
    * fit-time threshold table ([[TextAnalysis.quantileThresholds]]
    * over the TRAINING ppl distribution at the head/middle terciles)
    * is supplied — the head|middle|tail `bucket` label. CCNet's cuts
    * are training-distribution constants, which is exactly why the
    * streaming form wants them persisted: per-batch quantiles would
    * re-derive thresholds from whatever happened to arrive in the
    * micro-batch. LEFT join keeps short and uncovered-language docs
    * (null scores) in the enriched output. */
  def ccnetScoreBatch(batch: DataFrame, batchId: Long, id: String,
                      text: String, lang: String, model: DataFrame,
                      thresholds: Option[DataFrame],
                      outDir: String): Unit =
    enrichBatch(batch, batchId, outDir) { raw =>
      val b = Materialize.pin(raw)
      // pinned: consumed by both the bucket stamp and the final join —
      // unpinned, the scoring subtree would inline into each (the q211
      // lesson)
      val scored = Materialize.pin(
        TextAnalysis.ccnetPerplexityWith(b, id, text, lang, model))
      // the bucket LEFT-joins back onto scored: a language covered by
      // the model but absent from the threshold table (e.g. one whose
      // fit slice had vocabulary but no 2-token docs — the sentinel
      // case) keeps its REAL ppl with a null bucket, rather than
      // having all its stamps nulled by bucketByThresholds' drop rule
      val stamped = thresholds match {
        case Some(t) =>
          scored.join(
            TextAnalysis.bucketByThresholds(scored, lang, col("ppl"), t)
              .select(col(id), element_at(
                array(lit("head"), lit("middle"), lit("tail")),
                col("bucket") + 1).as("bucket")),
            Seq(id), "left")
        case None => scored
      }
      b.join(stamped.drop(lang), Seq(id), "left")
    }

  /** wire the CCNet perplexity recipe into a standing query. */
  def ccnetScoreEnrich(stream: DataFrame, id: String, text: String,
                       lang: String, model: DataFrame,
                       thresholds: Option[DataFrame],
                       checkpointDir: String, outDir: String): StreamingQuery =
    DedupStream.start(stream, checkpointDir) { (b, bid) =>
      ccnetScoreBatch(b, bid, id, text, lang, model, thresholds, outDir)
    }

  /** one micro-batch of the tokenizer-stamp recipe: count each doc's
    * byte-level BPE tokens under TRAINED merges (ModelStore-loaded —
    * the tokenizer is fit once, the stream counts forever; re-fitting
    * per batch would change token identities mid-corpus). The dict
    * encode runs once per distinct word of the batch, never per doc.
    * LEFT join: a doc with no words keeps a null count. */
  def tokenCountBatch(batch: DataFrame, batchId: Long, id: String,
                      text: String, merges: Seq[(String, String)],
                      outDir: String): Unit = {
    // one-off (non-standing) form: the broadcast lives for this batch
    // only, so creating it here is fine — standing queries go through
    // tokenCountEnrich, which broadcasts ONCE at wiring time
    val bRanks = graft.ops.Bpe.broadcastRanks(batch, merges)
    try tokenCountBatchB(batch, batchId, id, text, bRanks, outDir)
    finally bRanks.destroy()
  }

  private def tokenCountBatchB(
      batch: DataFrame, batchId: Long, id: String, text: String,
      bRanks: org.apache.spark.broadcast.Broadcast[Map[(String, String), Int]],
      outDir: String): Unit =
    enrichBatch(batch, batchId, outDir) { raw =>
      val b = Materialize.pin(raw)
      b.join(graft.ops.ByteBpe.encodedTokenCountB(b, id, text, bRanks),
        Seq(id), "left")
    }

  /** wire the tokenizer-stamp recipe into a standing query. The
    * merge-rank table broadcasts ONCE here and every micro-batch
    * reuses the handle — a per-batch broadcast is driver/executor
    * memory that nothing releases until GC (broadcasts are not
    * persistent RDDs; the batch-release sweep cannot reclaim them). */
  def tokenCountEnrich(stream: DataFrame, id: String, text: String,
                       merges: Seq[(String, String)], checkpointDir: String,
                       outDir: String): StreamingQuery = {
    val bRanks = graft.ops.Bpe.broadcastRanks(stream, merges)
    DedupStream.start(stream, checkpointDir) { (b, bid) =>
      tokenCountBatchB(b, bid, id, text, bRanks, outDir)
    }
  }
}
