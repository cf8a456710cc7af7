package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.graftbridge.InternalBridge

/** Adaptive query-stage preparation rule: a global sort whose input AQE
  * would read as ONE partition anyway sorts in that one task, with no
  * range exchange.
  *
  * Under AQE a global `orderBy` costs two jobs besides the sort itself:
  * the `RangePartitioner` sampling job (which re-runs everything since
  * the last shuffle) and the range-shuffle map job. When the sort's
  * input is a few coalesced kilobytes, both buy nothing. The rule
  * replaces `SortExec(global) <- ShuffleExchangeExec(RangePartitioning,
  * ENSURE_REQUIREMENTS)` with `SortExec(global) <- CoalesceExec(1)` when
  * every leaf below the exchange is a materialized query stage — a
  * broadcast stage, or a shuffle stage the planner added
  * (`ENSURE_REQUIREMENTS`) — and [[InternalBridge.coalescesToOne]]
  * finds that those shuffle stages have one partition each or coalesce
  * into a single partition under the session's own
  * `spark.sql.adaptive.coalescePartitions.*` and advisory-size
  * settings. It never fires with coalescing off, over `repartition` /
  * `repartitionByRange` stages, over scans (no stage has run yet), or
  * over a user's `repartitionByRange` exchange. One task sorting the
  * whole input is correct whatever the input size; the size test only
  * keeps the rule from trading parallelism for jobs.
  *
  * AQE runs the rule each time it re-plans after a stage completes, so
  * it sees the runtime sizes of the stages below the sort. */
case class SmallFinalSort(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case s @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child,
          ENSURE_REQUIREMENTS, _), _) if readsAsOnePartition(child) =>
        s.withNewChildren(Seq(CoalesceExec(1, child)))
    }

  private def readsAsOnePartition(child: SparkPlan): Boolean = {
    val leaves = child.collectLeaves()
    val shuffles = leaves.collect { case s: ShuffleQueryStageExec => s }
    shuffles.nonEmpty && leaves.forall {
      case s: ShuffleQueryStageExec =>
        s.isMaterialized && s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS
      case b: BroadcastQueryStageExec => b.isMaterialized
      case _ => false
    } && InternalBridge.coalescesToOne(shuffles, session)
  }
}
