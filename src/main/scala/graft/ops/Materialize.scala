package graft.ops

import org.apache.spark.sql.DataFrame

/** Process-wide materialization strategy for the engine's iterative
  * and multi-consumer operators (pageRank, mmrDiversify,
  * connectedComponents, BPE rounds, the incremental dedup family,
  * packing prefix sums, ...). Each of those pins an intermediate frame
  * once per round so (a) lineage stays round-deep-1 instead of
  * re-deriving exponentially, and (b) frames consumed by several
  * downstream branches compute once.
  *
  * HOW a frame pins is a deployment decision, not a per-operator one,
  * so it lives here as one shared knob:
  *
  *  - [[Local]] (default) — `localCheckpoint()`: executor-local
  *    blocks, no DFS write. Fast, and right for local[...] runs and
  *    short batch jobs — but NOT executor-loss tolerant: losing an
  *    executor on a real cluster loses its blocks and fails the job
  *    (lineage was truncated, so there is nothing to recompute from).
  *  - [[Reliable]] — `checkpoint()` into a DFS directory: each pin is
  *    a write+read of the frame, but a 1000-executor, hours-long run
  *    survives individual executor loss. Set this once at job start
  *    for 100 TB-scale runs.
  *  - [[Off]] — no pinning: pure lineage. Only sensible for tiny
  *    inputs or plans the caller pins themselves; iterative lineage
  *    grows per round.
  *
  * Operators keep their `materialize: Boolean` parameter — it answers
  * "pin here at all?" (some callers compose the op into a larger plan
  * they pin once); the strategy answers "pin HOW". The knob is a
  * process-wide `@volatile var` deliberately: it is set once during
  * job bootstrap (like `SparkContext.setCheckpointDir` itself), not
  * flipped mid-query.
  */
object Materialize {

  sealed trait Strategy {
    private[graft] def pinFrame(df: DataFrame): DataFrame
  }

  /** Executor-local checkpoint — fast, not executor-loss tolerant.
    * Deliberately EAGER: an r19 experiment with `eager = false` (pin
    * materializes inside the first consuming job, p fewer scheduled
    * jobs) measured consistently SLOWER on the iterative ops (q170
    * A/B ratio 1.22 across 3 interleaved pairs) — the un-materialized
    * checkpoint RDD drags the pinned plan's AQE stage execution into
    * every consumer's critical path, losing more than the saved
    * job-submission round-trips. */
  case object Local extends Strategy {
    private[graft] def pinFrame(df: DataFrame): DataFrame =
      df.localCheckpoint()
  }

  /** Reliable checkpoint into `dir` (any Hadoop-visible path; on a
    * cluster use a DFS path all executors reach). Sets the context's
    * checkpoint dir on first use if the caller hasn't already. */
  final case class Reliable(dir: String) extends Strategy {
    private[graft] def pinFrame(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint()
    }
  }

  /** No pinning — lineage grows with iterations; caller's problem. */
  case object Off extends Strategy {
    private[graft] def pinFrame(df: DataFrame): DataFrame = df
  }

  @volatile var strategy: Strategy = Local

  /** Per-thread pin registry: when a [[withBatchRelease]] scope is
    * active on this thread, every pin made inside it registers the
    * persistent RDDs it created so the scope can release EXACTLY its
    * own pins. Tracking per invocation (not diffing the context-global
    * persistent-RDD map) means a pin created concurrently by any OTHER
    * thread — e.g. the driver pinning a new model table while a
    * micro-batch is in flight — is never swept; a localCheckpoint
    * whose blocks drop mid-use is unrecoverable (lineage truncated),
    * so sweeping a foreign pin is a job-killing bug, not a leak. */
  private val batchPins =
    new ThreadLocal[java.util.ArrayList[org.apache.spark.rdd.RDD[_]]]()

  /** The persistent RDDs backing a pinned frame: localCheckpoint
    * returns a Dataset over a LogicalRDD whose RDD holds the blocks.
    * Reliable checkpoints live on DFS (storage level NONE here) and
    * register nothing. */
  private def pinnedRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        l.rdd
    }

  /** Pin `df` per the current strategy. The eager checkpoint job is
    * labelled with the first graft call site outside this object so
    * per-job profiles ([[graft.tools.Profile]]) attribute pin cost to
    * the operator that requested it instead of an anonymous job. */
  private[graft] def pin(df: DataFrame): DataFrame = strategy match {
    case Off => df
    case s =>
      val sc = df.sparkSession.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      val site = Thread.currentThread.getStackTrace
        .find(e => e.getClassName.startsWith("graft.") &&
          !e.getClassName.startsWith("graft.ops.Materialize"))
        .map(e => s"${e.getClassName.stripPrefix("graft.")}.${e.getMethodName}:${e.getLineNumber}")
        .getOrElse("?")
      sc.setJobDescription(s"pin @ $site")
      val pinned =
        try s.pinFrame(df)
        finally sc.setJobDescription(prev)
      val reg = batchPins.get()
      if (reg != null && (pinned ne df)) pinnedRdds(pinned).foreach(reg.add)
      pinned
  }

  /** Pin `df` per the current strategy iff `enabled` (the operators'
    * `materialize` flag). */
  private[graft] def pin(df: DataFrame, enabled: Boolean): DataFrame =
    if (enabled) pin(df) else df

  /** Pin for a LINEAGE GATE that must exist even under [[Off]]
    * (ZOrder.hilbertGate's pushdown barrier: an un-pinned gate is not
    * a gate). Off gets a LAZY local checkpoint — truncates the logical
    * plan at LogicalRDD without materializing until the first action —
    * and, unlike a direct `localCheckpoint(false)` at the call site,
    * the gate's blocks REGISTER with any active [[withBatchRelease]]
    * scope exactly like a normal pin: a standing query whose batch
    * body routes through a gate would otherwise leak one block set per
    * micro-batch (the release sweeps only registered pins). */
  private[graft] def pinGate(df: DataFrame): DataFrame = strategy match {
    case Off =>
      val pinned = df.localCheckpoint(false)
      val reg = batchPins.get()
      if (reg != null) pinnedRdds(pinned).foreach(reg.add)
      pinned
    case _ => pin(df)
  }

  /** Run `body` and release exactly the pins IT created (standing pins
    * made by other threads, and broadcast model tables — which are not
    * persistent RDDs — are untouched). Registration is thread-local in
    * [[pin]], so concurrent foreachBatch bodies of distinct standing
    * queries are safe without serializing them. `spark` is unused but
    * kept so call sites read as "scoped to this session's batch". */
  private[graft] def withBatchRelease[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val _ = spark
    val reg = new java.util.ArrayList[org.apache.spark.rdd.RDD[_]]()
    val outer = batchPins.get()
    batchPins.set(reg)
    try body
    finally {
      if (outer != null) batchPins.set(outer) else batchPins.remove()
      reg.forEach(rdd => rdd.unpersist(blocking = false))
    }
  }
}
