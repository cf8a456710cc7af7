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
  * Scale shape: one PageRank iteration is ONE equi-join of the rank
  * table with the (pre-deduped, pre-partitioned) edge table plus one
  * destination-keyed hash aggregate with map-side combine — the
  * textbook Spark shape; nothing is quadratic and no window appears.
  * The rank table is nodes-sized (≪ edges); the dangling mass is a
  * 1-row aggregate broadcast back (the zScore pattern). Each
  * iteration pins via [[Materialize]], so the plan stays
  * iteration-deep-1 instead of exponentially re-deriving the lineage
  * (set `Materialize.strategy = Materialize.Reliable(dir)` once at
  * job start for an executor-loss-tolerant cluster run — the shared
  * knob covers every iterative op).
  *
  * Determinism/portability: per-edge contributions r/outdeg are
  * per-row double ops (identical across engines); every SUM runs
  * through an exact DECIMAL(38,18) register (terms quantize at 18 dp
  * — half-up in both engines for the positive values here; the sum
  * itself is exact and associative, so partitioning cannot reorder a
  * result), and the final double comes out correctly rounded on both
  * sides. A DuckDB oracle can therefore replay every iteration
  * bit-identically (q170).
  */
object Graph {

  /** exact associative sum for rank mass: 18-dp quantized terms,
    * decimal register, correctly-rounded double out. 20 integer
    * digits of headroom — total PageRank mass is 1, so this never
    * overflows. */
  private def dsum18(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(38,18)")).cast("double")

  /** dedupe + null-drop to the simple graph BOTH entry points rank —
    * one definition, shared (ids keep their input type: a domain-string
    * graph ranks as well as a numeric one; an id cast here would
    * silently null out non-numeric keys and return an empty result). */
  private def simpleEdges(edges: DataFrame, src: String,
                          dst: String): DataFrame =
    edges.select(col(src).as("src"), col(dst).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).distinct()

  /** PageRank with uniform teleport and dangling-mass redistribution:
    *   r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)/outdeg(u) + D/N ),
    * D = Σ_{outdeg(u)=0} r(u). Edges dedupe first (simple graph —
    * multi-edges would silently double-count); self-loops count as
    * ordinary edges; N is the count of distinct endpoints. Fixed
    * `iterations` (the production posture for a bounded-latency batch
    * pass — convergence-threshold looping adds a per-iteration driver
    * round-trip for little benefit at d = 0.85, where the error
    * contracts by d each step).
    *
    * Returns (node, pr) with pr rounded 12 dp; Σ pr ≈ 1. */
  def pageRank(edges: DataFrame, src: String, dst: String,
               iterations: Int = 4, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0,
      "pageRank: damping must be in (0, 1)")
    val e0 = simpleEdges(edges, src, dst)
    val e = Materialize.pin(e0)
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodes = Materialize.pin(nodes0)
    // bounded driver scalar (node count — the agg-to-scalar convention)
    val n = nodes.count()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    // LOOP-INVARIANT HOIST (r19): out-degrees and the dangling-node
    // set never change — pin both once instead of re-deriving them
    // from e every iteration (the old loop ran e ⋈ ranks ⋈ outdeg plus
    // a nodes-vs-outdeg anti-join per round).
    val odP = Materialize.pin(outdeg.withColumnRenamed("src", "node"))
    val dangNodes = Materialize.pin(nodes.join(odP, Seq("node"), "left_anti"))
    val nD = lit(n.toDouble)
    var ranks = nodes.select(col("node"), (lit(1.0) / nD).as("r"))
    for (_ <- 1 to iterations) {
      val dang = ranks
        .join(dangNodes, Seq("node"), "left_semi")
        .agg(coalesce(dsum18(col("r")), lit(0.0)).as("dm"))
      // quantize each node's contribution r/od to the exact
      // decimal(38,18) register ONCE PER NODE before fanning out over
      // its edges (r19): the double→decimal conversion is the
      // expensive half of the exact sum, and doing it per EDGE paid it
      // |E|/|V| times over. Same quantized terms into the same exact
      // associative sum — bit-identical ranks; the per-iteration edge
      // join now ships an 8+16-byte (src, term) table.
      val ranksT = ranks.join(odP, Seq("node"))
        .select(col("node").as("src"),
          (col("r") / col("od")).cast("decimal(38,18)").as("__t"))
      val contrib = e
        .join(ranksT, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("__t")).cast("double").as("c"))
      val next = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          ((lit(1.0) - lit(damping)) / nD +
            lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") / nD))
            .as("r"))
      ranks = Materialize.pin(next)
    }
    ranks.select(col("node"), round(col("r"), 12).as("pr"))
  }

  /** in/out degree per node of the deduped simple graph — the cheap
    * companion diagnostic (hub/spam detection before the iterative
    * pass). Returns (node, out_deg, in_deg), absent side 0. */
  def degrees(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = simpleEdges(edges, src, dst)
    val od = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val id = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    od.join(id, Seq("node"), "full")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
