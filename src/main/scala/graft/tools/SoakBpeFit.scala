package graft.tools

import graft.Runtime
import org.apache.spark.sql.functions._

/** Tokenizer-fit soak at crawl-vocabulary scale (VERDICT r13 item 1):
  * a 100-merge BPE fit over a >2²⁰-distinct-word vocabulary, run twice
  * through [[graft.ops.Bpe.fitDistributed]] — sequential job shape
  * (batchCap=1, pinEvery=1: the pre-r14 two-jobs-per-merge loop) vs
  * batched exact rounds (batchCap=64, pinEvery=4) — asserting the
  * merge lists are IDENTICAL and reporting the Spark-job and
  * wall-clock ratio. The job count is the scale-limiting quantity: at
  * 100 TB each vocabulary-table job is a full cluster round trip, and
  * a 30k-merge fit at 2 jobs/merge is 60k of them.
  *
  * The vocabulary is synthetic and DETERMINISTIC: word i is the
  * base-62 spelling of i (offset so every word is 4+ symbols), with a
  * Zipf-ish count 1 + 10⁷/(i+1) — a large alphabet and a heavy head,
  * the crawl shape. No corpus is scanned: fit-from-word-counts is
  * exactly the production entry point after the one corpus pass.
  *
  * A second lane runs the same fit through WordPiece: sequential
  * (cap 1) vs the batched maximal-independent-set VARIANT (cap 64) —
  * job/wall economics plus a two-run determinism pin; merge-list
  * identity is deliberately NOT asserted (see WordPiece.fitDistributed
  * scaladoc for why exact batching is impossible under the likelihood
  * score).
  *
  * Run: sbt "runMain graft.tools.SoakBpeFit"
  * Env: SPARK_GRAFT_FIT_WORDS (default 1,300,000),
  *      SPARK_GRAFT_FIT_MERGES (default 100).
  * Emits one JSON line and appends it to SOAK_LOCAL.json.
  */
object SoakBpeFit {

  def main(args: Array[String]): Unit = {
    val nWords = sys.env.getOrElse("SPARK_GRAFT_FIT_WORDS", "1300000").toLong
    val nMerges = sys.env.getOrElse("SPARK_GRAFT_FIT_MERGES", "100").toInt
    val spark = Runtime.session(Runtime.cpus)

    val alphabet =
      "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    val wordUdf = udf((id: Long) => {
      var x = id + 62L * 62L * 62L * 62L // ≥ 5 base-62 digits → 4+ chars
      val sb = new StringBuilder
      while (x > 0) { sb.append(alphabet((x % 62).toInt)); x /= 62 }
      sb.toString
    })
    val wc = spark.range(nWords)
      .select(wordUdf(col("id")).as("w"),
        (lit(1L) + (lit(10_000_000L) / (col("id") + lit(1L)))
          .cast("long")).as("c"))
      .localCheckpoint()
    val distinct = wc.count()
    require(distinct == nWords, s"vocab not distinct: $distinct != $nWords")

    // (result, Spark jobs, wall seconds) of one fit. withBatchRelease
    // drops exactly this fit's pins afterwards — NOT the shared wc
    // checkpoint every fit reads (sweeping the whole persistent-RDD map
    // here killed the second fit with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    def fit[A](body: => A): (A, Int, Double) = {
      val ((r, dt), jobs) = Runtime.JobLog.during(spark) {
        val t0 = System.nanoTime()
        val r = graft.ops.Materialize.withBatchRelease(body)
        (r, (System.nanoTime() - t0) / 1e9)
      }
      (r, jobs.size, dt)
    }
    def run(cap: Int, pinEvery: Int) =
      fit(graft.ops.Bpe.fitDistributed(wc, nMerges, batchCap = cap, pinEvery = pinEvery))

    // batched first so the sequential run cannot inherit a warm cache
    // advantage it then "loses"; both run against the same pinned wc
    val (mBat, jBat, tBat) = run(cap = 64, pinEvery = 4)
    val (mSeq, jSeq, tSeq) = run(cap = 1, pinEvery = 1)
    require(mSeq == mBat,
      "batched fit diverged from sequential — exactness contract broken")
    require(mSeq.size == nMerges, s"fit exhausted early: ${mSeq.size}")

    // WordPiece lane: the batched SCALE VARIANT (symbol-disjoint
    // prefixes under the likelihood score — deterministic, but NOT the
    // sequential pick order; WordPiece.fitDistributed scaladoc). The
    // soak measures the job economics and pins determinism across
    // runs; merge-list identity is deliberately not asserted.
    def runWp(cap: Int) =
      fit(graft.ops.WordPiece.fitDistributed(wc, nMerges, batchCap = cap))
    val (wB, wjB, wtB) = runWp(cap = 64)
    val (wB2, _, _) = runWp(cap = 64)
    require(wB == wB2, "batched WordPiece fit is not deterministic")
    val (_, wjS, wtS) = runWp(cap = 1)

    val json =
      s"""{"soak":"bpe_fit","words":$distinct,"merges":$nMerges,""" +
        s""""seq_jobs":$jSeq,"batched_jobs":$jBat,""" +
        f""""job_ratio":${jSeq.toDouble / jBat}%.1f,""" +
        f""""seq_sec":$tSeq%.1f,"batched_sec":$tBat%.1f,""" +
        s""""identical_merges":true,""" +
        s""""wp_seq_jobs":$wjS,"wp_batched_jobs":$wjB,""" +
        f""""wp_job_ratio":${wjS.toDouble / wjB}%.1f,""" +
        f""""wp_seq_sec":$wtS%.1f,"wp_batched_sec":$wtB%.1f,""" +
        s""""wp_batched_tokens":${wB.size},"wp_deterministic":true}"""
    Runtime.appendSoakRecord(json)
    spark.stop()
  }
}
