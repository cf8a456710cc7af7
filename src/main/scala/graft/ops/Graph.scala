package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Graph signals over edge tables (public methods — PageRank: Brin &
  * Page 1998; the reference has no graph surface). The motivating
  * 100 TB use is the web-crawl curation loop: a link/domain graph's
  * centrality is a standard quality prior (seed-list expansion,
  * crawl-frontier ordering), joined back to documents by
  * [[Urls]]-canonicalized domain.
  *
  * Scale shape: [[pageRank]] is one aggregate that collects the edge
  * list into a single group, [[graft.expr.PageRankIterate]] running
  * every iteration inside that one task (which holds the whole edge
  * list), then `inline`: no join, no pin, no driver action.
  *
  * Determinism/portability: per-node terms r/outdeg are double ops
  * (identical across engines) quantised to DECIMAL(38,18), half-up in
  * both engines; every sum is exact and associative, so neither
  * partitioning nor row order can change a result, and a DuckDB oracle
  * replays every iteration bit-identically (q170).
  */
object Graph {

  /** PageRank with uniform teleport and dangling-mass redistribution:
    *   r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)/outdeg(u) + D/N ),
    * D = Σ_{outdeg(u)=0} r(u). Edges with a NULL endpoint are dropped
    * and the rest dedupe (simple graph — multi-edges would silently
    * double-count); self-loops count as ordinary edges; N is the count
    * of distinct endpoints; ids keep their input type. Fixed
    * `iterations` (the production posture for a bounded-latency batch
    * pass; at d = 0.85 the error contracts by d each step).
    *
    * Returns (node, pr) with pr rounded 12 dp; Σ pr ≈ 1. */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iterations: Int = 4, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0,
      "pageRank: damping must be in (0, 1)")
    edges.filter(col(src).isNotNull && col(dst).isNotNull)
      .agg(collect_list(array(col(src), col(dst))).as("__e"))
      .select(inline(graft.expr.GraphKernels.pageRank(col("__e"), iterations, damping)))
      .select(col("node"), round(col("r"), 12).as("pr"))
  }

  /** in/out degree per node of the deduped simple graph — the cheap
    * companion diagnostic (hub/spam detection before the iterative
    * pass). Returns (node, out_deg, in_deg), absent side 0. */
  def degrees(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()
    val od = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val id = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    od.join(id, Seq("node"), "full")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
