package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet persistence for the fitted artifacts of the text stack —
  * BPE merge tables ([[Bpe.fit]]), unigram-LM vocabularies
  * ([[Unigram.fit]]) and language-ID profiles
  * ([[TextAnalysis.fitLangProfiles]]). A production pipeline trains a
  * tokenizer or language-ID model ONCE and scores corpora for months;
  * these round-trips are what turn the in-memory fit results into that
  * train-once/score-many artifact (the reference's analog is its
  * persistent-backend `toPersistent`,
  * `dataframe-persistent/src/DataFrame/IO/Persistent.hs:17-39`).
  *
  * Every load is bit-exact: strings and doubles round-trip parquet
  * untouched, and the SEMANTIC order of a BPE merge table (merges
  * apply in training order!) is pinned by an explicit `rank` column —
  * never by file or row order, which parquet does not guarantee across
  * writers/partitions. Loads sort deterministically, so
  * load-then-encode ≡ fit-then-encode bit-for-bit (ModelStoreSpec).
  *
  * Writes default to fail-if-exists (the [[graft.sources]] guarded
  * convention — a model artifact silently replaced is a training
  * incident); pass overwrite = true to replace deliberately. Artifacts
  * are vocabulary-sized (KBs to MBs), so each writes as one file via
  * coalesce(1) — one atomic rename, trivially broadcastable on read.
  */
object ModelStore {

  private def mode(overwrite: Boolean) =
    if (overwrite) "overwrite" else "errorifexists"

  /** persist BPE merges in MERGE ORDER: (rank, left, right). */
  def saveBpeMerges(spark: SparkSession, merges: Seq[(String, String)],
                    dir: String, overwrite: Boolean = false): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode(mode(overwrite)).parquet(dir)
  }

  /** load BPE merges in merge order — [[Bpe.encodeTokens]]-ready. */
  def loadBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] =
    graft.Tables.readParquet(spark, dir)
      .orderBy("rank")
      .select("left", "right")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** persist a unigram-LM vocabulary: (piece, logp). */
  def saveUnigramVocab(spark: SparkSession, vocab: Seq[(String, Double)],
                       dir: String, overwrite: Boolean = false): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "logp")
      .coalesce(1).write.mode(mode(overwrite)).parquet(dir)
  }

  /** load a unigram-LM vocabulary, sorted by piece ([[Unigram.fit]]'s
    * return convention) — [[Unigram.encodeTokens]]-ready. */
  def loadUnigramVocab(spark: SparkSession, dir: String): Seq[(String, Double)] =
    graft.Tables.readParquet(spark, dir)
      .orderBy("piece")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** persist a WordPiece vocabulary in VOCAB ORDER (alphabet then
    * merge order — [[WordPiece.fit]]'s return convention; order is
    * semantic for the model card even though greedy longest-match
    * inference is order-insensitive): (rank, piece). */
  def saveWordPieceVocab(spark: SparkSession, vocab: Seq[String],
                         dir: String, overwrite: Boolean = false): Unit = {
    import spark.implicits._
    vocab.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("rank", "piece")
      .coalesce(1).write.mode(mode(overwrite)).parquet(dir)
  }

  /** load a WordPiece vocabulary in vocab order —
    * [[WordPiece.encodeTokens]]-ready. */
  def loadWordPieceVocab(spark: SparkSession, dir: String): Seq[String] =
    graft.Tables.readParquet(spark, dir)
      .orderBy("rank")
      .select("piece")
      .collect().map(_.getString(0)).toSeq

  /** persist language-ID profiles (lang, bucket, logp) — the L·B-row
    * model table [[TextAnalysis.scoreLangProfiles]] broadcasts. */
  def saveLangProfiles(profiles: DataFrame, dir: String,
                       overwrite: Boolean = false): Unit =
    profiles.select(col("lang"), col("bucket"), col("logp"))
      .coalesce(1).write.mode(mode(overwrite)).parquet(dir)

  /** load language-ID profiles — score/predict/margin-ready. */
  def loadLangProfiles(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.readParquet(spark, dir)

  /** persist any vocabulary-sized model TABLE — IVF centroid tables,
    * [[KMeans.lloydProfile]] outputs, fitted threshold tables — under
    * the same guarded single-file convention. Row order is pinned at
    * LOAD time by explicit sort columns (parquet guarantees none). */
  def saveModelTable(table: DataFrame, dir: String,
                     overwrite: Boolean = false): Unit =
    table.coalesce(1).write.mode(mode(overwrite)).parquet(dir)

  /** load a model table sorted by `orderCols` — deterministic row
    * order for downstream collects/broadcasts. */
  def loadModelTable(spark: SparkSession, dir: String,
                     orderCols: String*): DataFrame = {
    val t = graft.Tables.readParquet(spark, dir)
    if (orderCols.isEmpty) t else t.orderBy(orderCols.map(col): _*)
  }

  /** persist PQ codebooks ([[Embeddings.pqTrainCodebooks]]'s
    * subspace × code × dim array) as fully order-pinned rows
    * (subspace, code, pos, v). */
  def savePqCodebooks(spark: SparkSession,
                      codebooks: Array[Array[Array[Double]]],
                      dir: String, overwrite: Boolean = false): Unit = {
    import spark.implicits._
    val rows = for {
      (sub, s) <- codebooks.zipWithIndex.toSeq
      (code, j) <- sub.zipWithIndex.toSeq
      (v, p) <- code.zipWithIndex.toSeq
    } yield (s, j, p, v)
    rows.toDF("subspace", "code", "pos", "v")
      .coalesce(1).write.mode(mode(overwrite)).parquet(dir)
  }

  /** load PQ codebooks — [[Embeddings.pqEncode]]-ready; bit-exact
    * (doubles round-trip parquet untouched). */
  def loadPqCodebooks(spark: SparkSession,
                      dir: String): Array[Array[Array[Double]]] =
    graft.Tables.readParquet(spark, dir)
      .orderBy("subspace", "code", "pos")
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, subRows) =>
        subRows.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
          .map { case (_, codeRows) =>
            codeRows.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray
          }.toArray
      }.toArray
}
