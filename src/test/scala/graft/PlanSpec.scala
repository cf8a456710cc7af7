package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** Plan-shape invariants for every registry query — the 100 TB posture
  * checks that sf0.001 row counts can't see:
  *  - no Window with an empty partitionSpec (a global window forces the
  *    whole table through ONE task; scalar aggregates must go
  *    aggregate-then-broadcast-crossJoin instead);
  *  - broadcast hints survive to the optimized plan where we placed them.
  */
class PlanSpec extends SparkSpec {
  test("no registry query plans a global (empty-partition) Window") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfSmoke).queryExecution.optimizedPlan
      val bad = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(bad.isEmpty,
        s"$name plans a global Window (single-partition exchange at scale)")
    }
  }

  test("q48/q61/q62 plan shuffle equi-joins, not nested loops or cartesians") {
    for (q <- Seq("q48_embedding_neardup", "q61_asof_join", "q62_range_join")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$q must stay an equi-join at scale")
    }
  }

  test("q147 grouping sets plan one Expand feeding one aggregation, not a union of re-scans") {
    val qe = SparkEntry.queries("q147_grouping_sets")(spark, sfSmoke)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("Expand"),
      "grouping sets must plan via Expand (row replication per set)")
    // one fact scan — a union-of-aggregates shape would scan orders once
    // per grouping set
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders"))
    assert(scans == 1, s"expected one orders scan, got $scans")
  }

  test("filters and projections push down to the parquet scan") {
    // q03: filter must reach the scan as PushedFilters, and the scan
    // must read only the referenced columns (ReadSchema pruning)
    val plan = SparkEntry.queries("q03_filter")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "no pushed filters in q03 scan")
    assert(plan.contains("GreaterThanOrEqual(l_quantity") ||
      plan.contains("EqualTo(l_returnflag"), s"filter not pushed: $plan")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_extendedprice"),
      "scan reads columns the query never touches")
  }

  test("q12 broadcasts its dimension tables") {
    val plan = SparkEntry.queries("q12_join_star")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "star-schema dims should broadcast, not shuffle")
  }

  test("q108: hot-order keyset broadcasts up the chain; top-100 is " +
    "TakeOrderedAndProject, never a global sort") {
    val plan = SparkEntry.queries("q108_tpch_q18")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the HAVING keyset and the joined order rows must broadcast")
    assert(plan.contains("TakeOrderedAndProject"),
      "LIMIT 100 over a sort must plan as TakeOrderedAndProject")
    assert(!plan.contains("SortMergeJoin"),
      "no join in Q18 should shuffle both sides")
  }

  test("macro queries: dims broadcast, date filters reach the fact scans") {
    for (q <- Seq("q73_tpch_q3", "q74_tpch_q5")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: dimension joins must broadcast")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q: no nested loops")
    }
    val p3 = SparkEntry.queries("q73_tpch_q3")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    // both date predicates push into their parquet scans
    assert(p3.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate") ||
      p3.contains("GreaterThan(l_shipdate"), "l_shipdate filter not pushed")
    assert(p3.contains("LessThan(o_orderdate"), "o_orderdate filter not pushed")
  }

  test("round-9 macros: Q4 semi join stays hash, Q6 predicates reach " +
    "the scan, Q17/Q22 thresholds broadcast, nothing nested-loops") {
    for (q <- Seq("q121_tpch_q4", "q123_tpch_q13", "q124_tpch_q17")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q: no nested loops")
    }
    // Q4: the EXISTS is a SEMI hash join (equi key + lateness residual)
    val p4 = SparkEntry.queries("q121_tpch_q4")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p4.contains("LeftSemi"), "Q4 EXISTS must plan as a semi join")
    // Q6: the predicates reach the parquet scan (the toString truncates
    // PushedFilters, so assert on the scan node's DataFilters) and the
    // plan has no join at all
    val p6 = SparkEntry.queries("q122_tpch_q6")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    val scan6 = p6.linesIterator.find(_.contains("FileScan")).get
    assert(scan6.contains("GreaterThanOrEqual(l_shipda"),
      s"Q6 predicates not pushed to the scan: $scan6")
    assert(!p6.contains("Join"), "Q6 is scan+agg only")
    // Q17: the part filter broadcasts and the correlated per-part AVG
    // is a window over the filtered fact — exactly ONE lineitem scan
    // (the groupBy-join-back form recomputed the scan+join twice)
    val p17 = SparkEntry.queries("q124_tpch_q17")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p17.contains("BroadcastHashJoin"),
      "Q17 part filter must broadcast")
    assert(p17.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      "Q17 must scan lineitem exactly once")
    // Q22: the 1-row balance threshold broadcasts; inactivity is an
    // ANTI hash join, and the orders side scan is date-pruned
    val p22 = SparkEntry.queries("q125_tpch_q22")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p22.contains("LeftAnti"), "Q22 NOT EXISTS must plan anti join")
    assert(p22.contains("GreaterThanOrEqual(o_orderdate"),
      "Q22 orders date filter not pushed")
  }

  test("q139 bloom join: codegen might_contain probe below the join") {
    val plan = SparkEntry.queries("q139_bloom_join")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "bloom probe must be the codegen BloomFilterMightContain")
    assert(!plan.contains("UDF"), "bloom probe must not be a UDF")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), "no nested loops")
  }

  test("q217 incremental bloom dedup: every bloom probe is a codegen " +
    "scan-stage filter — no shuffle beneath any probe, no UDF") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // AQE off for this plan: the shuffle-beneath-probe check must walk
    // the POST-EnsureRequirements physical plan (sparkPlan predates it,
    // so no ShuffleExchangeLike exists anywhere and the per-probe
    // assertion would be vacuous), and with AQE on the executedPlan is
    // an opaque AdaptiveSparkPlanExec wrapper collect() can't descend
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try SparkEntry.queries("q217_dedup_incr_bloom")(spark, sfSmoke)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(plan.exists { case e: ShuffleExchangeLike => true; case _ => false },
      "sanity: the post-EnsureRequirements plan must contain the " +
        "confirm join's shuffles somewhere, or the probe check is vacuous")
    val probes = plan.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    // definite-new split + candidate split on the batch side, seen-index
    // prune on the history side
    assert(probes.size >= 3,
      s"expected the three bloom probe filters, found ${probes.size}")
    probes.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        "a bloom probe sits above a shuffle — the pre-filter must run " +
          "in the scan stage, before any exchange:\n" + f.toString)
    }
    val s = plan.toString
    assert(!s.contains("UDF"), "bloom probe must not be a UDF")
    assert(s.contains("LeftAnti"), "confirm join must stay an anti join")
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"), "no nested loops")
  }

  test("removeRepeatedLinesPerGroup minFrac: the group-size join is " +
    "NOT hint-forced to broadcast (per-domain size tables are tens of " +
    "millions of rows at crawl scale — stats must decide)") {
    import spark.implicits._
    val df = Seq((1L, "A", "nav\nalpha"), (2L, "A", "nav\nbeta"),
      (3L, "B", "x\ny")).toDF("id", "host", "txt")
    // With the auto-broadcast threshold disabled, ONLY a hint can
    // produce a BroadcastExchange — so any broadcast in this plan is a
    // forced one, exactly the 100-TB failure mode under test.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try graft.ops.Dedup.removeRepeatedLinesPerGroup(df, "id", "host",
          "txt", minDocs = 2, minFrac = Some(0.5), keepEmpty = true)
        .queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(!plan.contains("BroadcastExchange"),
      "minFrac path forces a broadcast — the group-size table is " +
        "unbounded at crawl scale:\n" + plan)
  }

  test("q137 TPC-H Q1: one scan, pushed date filter, partial agg, no join") {
    val plan = SparkEntry.queries("q137_tpch_q1")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LessThanOrEqual(l_shipdate"),
      "Q1 shipdate cutoff not pushed to the scan")
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      "Q1 must be a single fact scan")
    assert(!plan.contains("Join"), "Q1 has no joins")
    assert(plan.contains("HashAggregate"),
      "Q1 must plan hash aggregation (map-side partials)")
  }

  test("battery-completing macros (Q2/Q8/Q9/Q11/Q12/Q16/Q20): hash joins " +
    "only, anti/semi shapes survive, filters reach the scans") {
    // Planned with AQE OFF: the single-fact-scan pins below rely on
    // ReuseExchange, which AQE only applies at execution time (the
    // unexecuted adaptive plan prints both branches). Without AQE the
    // reuse is visible at planning time as a ReusedExchange node.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try batteryAssertions()
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def batteryAssertions(): Unit = {
    // q133's 1-row global-total threshold is a broadcast nested loop BY
    // DESIGN (the agg-broadcast crossJoin idiom); every other macro must
    // plan pure hash joins.
    for (q <- Seq("q130_tpch_q2", "q131_tpch_q8", "q132_tpch_q9",
        "q134_tpch_q12", "q135_tpch_q16", "q136_tpch_q20")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), s"$q: no nested loops")
      assert(plan.contains("BroadcastHashJoin"), s"$q: dims must broadcast")
    }
    // Q2: the correlated per-part MIN joins back as a broadcast over the
    // (partkey, mincost) pair — equality on identically-computed doubles
    val p2 = SparkEntry.queries("q130_tpch_q2")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p2.contains("TakeOrderedAndProject"),
      "Q2 LIMIT 100 must plan TakeOrderedAndProject, not a global sort")
    // Q8: the customer region restriction is a SEMI join (no customer
    // payload columns ride up the join tree)
    val p8 = SparkEntry.queries("q131_tpch_q8")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p8.contains("LeftSemi"), "Q8 customer filter must stay semi")
    // Q12: the ship-year window prunes the lineitem scan
    val p12 = SparkEntry.queries("q134_tpch_q12")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p12.contains("GreaterThanOrEqual(l_shipdate"),
      "Q12 lineitem date filter not pushed")
    // Q16: negative-balance suppliers leave via a broadcast ANTI join
    val p16 = SparkEntry.queries("q135_tpch_q16")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p16.contains("LeftAnti"), "Q16 exclusion must plan anti join")
    // Q20: qualifying suppliers enter via a SEMI join; the pair → total
    // cascade never rescans the fact table (exactly one lineitem scan)
    val p20 = SparkEntry.queries("q136_tpch_q20")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p20.contains("LeftSemi"), "Q20 must keep the semi-join chain")
    assert(p20.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      "Q20 must scan lineitem exactly once")
    // Q11: the global total re-aggregates the per-part aggregate's own
    // exchange (ReuseExchange), so the fact scans once; the 1-row
    // threshold then broadcasts (that nested loop is the designed
    // agg-broadcast idiom, excluded from the loop above)
    val p11 = SparkEntry.queries("q133_tpch_q11")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p11.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      "Q11 must scan lineitem exactly once (ReusedExchange)")
    // Q15: the MAX branch re-aggregates rev's reused exchange — the
    // explicit isNotNull on the grouping key keeps both branches
    // canonically identical (see the q127 comment in Macro.scala)
    val p15 = SparkEntry.queries("q127_tpch_q15")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p15.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      "Q15 must scan lineitem exactly once (ReusedExchange)")
    // Q21: ps feeds both the per-order rollup and the late-supplier
    // filter; the source-level isNotNull(l_suppkey) keeps the two
    // subtrees canonical so ps's aggregate exchange is reused — one
    // fact scan (see the q109 comment in Macro.scala)
    val p21 = SparkEntry.queries("q109_tpch_q21")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(p21.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem")) == 1,
      "Q21 must scan lineitem exactly once (ReusedExchange)")
  }

  test("q72 normalize plans the codegen kernel, not interpreted HOFs") {
    val plan = SparkEntry.queries("q72_embed_normalize")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_vec_div"), "VectorDivide kernel missing")
    assert(!plan.contains("transform(") && !plan.contains("aggregate("),
      "interpreted higher-order functions on the normalize hot path")
  }

  test("q118 encodes through the codegen PqEncode kernel, not the " +
    "interpreted struct-array argmin") {
    val plan = SparkEntry.queries("q118_pq_encode")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_pq_encode"), "PqEncode kernel missing")
    assert(!plan.contains("array_min"),
      "interpreted struct-argmin back on the encode hot path")
  }

  test("partitioned write → filtered read prunes to one partition directory") {
    import org.apache.spark.sql.functions._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_part"
    graft.api.Frame(Tables.events(spark, sfSmoke)
        .select(col("event_id"), col("event_type"), col("value")))
      .writeParquet(out, partitionBy = Seq("event_type"))
    val pruned = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
    // the filter must become a planning-time PartitionFilter on the scan
    // (inputFiles reflects the pre-pruning analyzed plan, so check the
    // physical scan instead)
    val plan = pruned.queryExecution.executedPlan
    val pf = plan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("purchase"), s"filter not a partition filter: $pf")
    assert(pruned.count() > 0)
    // resolve the scan's partition listing under its partition filters:
    // only the one directory may survive
    val scan = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val files = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("event_type=purchase")),
      s"scan lists files outside the filtered partition: $files")
  }

  test("co-bucketed tables join with no shuffle exchange") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sfSmoke)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val li = Tables.lineitem(spark, sfSmoke)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    graft.api.Frame(orders).writeBucketedTable(
      "graft_bkt_orders", 8, Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
    graft.api.Frame(li).writeBucketedTable(
      "graft_bkt_lineitem", 8, Seq("o_orderkey"), sortCols = Seq("o_orderkey"))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the assertion is about bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = graft.api.Frame.fromTable(spark, "graft_bkt_orders")
        .innerJoin(graft.api.Frame.fromTable(spark, "graft_bkt_lineitem"),
          Seq("o_orderkey"))
      val plan = j.df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join should be shuffle-free:\n$plan")
      assert(j.df.count() == li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
    }
  }

  test("SQL users reach graft_dot via SparkSessionExtensions") {
    // spark.sql.extensions is static conf — set in the session builders
    // (SparkSpec here; Verify/Bench for the driver surface)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
    val sig = spark.sql(
      "SELECT graft_minhash_sig(array(1L, 2L, 3L), 16) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 16)
    val s128 = spark.sql(
      "SELECT graft_dsum128(unscaled, 6) FROM VALUES (1500000L), (2250000L) AS t(unscaled)")
      .head().getDouble(0)
    assert(s128 == 3.75)
  }

  test("Frame.zScore / imputeWithMean / frequencies avoid global windows") {
    import org.apache.spark.sql.functions._
    val li = graft.api.Frame(Tables.lineitem(spark, sfSmoke))
    val plans = Seq(
      li.zScore("l_quantity", "z").df,
      li.imputeWithMean("l_quantity").df,
      li.frequencies("l_returnflag"))
    plans.foreach { df =>
      val bad = df.queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      assert(bad.isEmpty)
    }
    // semantics: z-score of a constant-shifted copy is identical
    val z = li.zScore("l_quantity", "z").df.agg(
      round(avg("z"), 6).as("m"), round(stddev_samp("z"), 6).as("s")).head()
    assert(math.abs(z.getDouble(0)) < 1e-6 && math.abs(z.getDouble(1) - 1.0) < 1e-6)
  }

  test("q97/q98/q99 plan shapes: broadcast-only nested loops, equi-join pair scans") {
    // q97: the centroid scoring is a cross join — it must BROADCAST the
    // (tiny) centroid side, never cartesian-shuffle the corpus; the
    // within-cell pair scan must stay an equi-join on cell. (String
    // checks: AQE's AdaptiveSparkPlanExec hides children from collect.)
    val p97 = SparkEntry.queries("q97_semantic_dedup")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!p97.contains("CartesianProduct"),
      "q97 must not plan a cartesian shuffle")
    val bnlj97 = p97.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj97.nonEmpty && bnlj97.forall(_.contains("BuildRight")),
      s"q97's only nested loop must broadcast the centroid side:\n${bnlj97.mkString("\n")}")
    // q98 is a pure equi-join pipeline — no nested loop anywhere
    val p98 = SparkEntry.queries("q98_dup_spans")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!p98.contains("BroadcastNestedLoopJoin") &&
      !p98.contains("CartesianProduct"), "q98 must stay equi-join only")
    // q99: equi-joins except the 1-row broadcast V cross join
    val p99 = SparkEntry.queries("q99_bigram_lm")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!p99.contains("CartesianProduct"),
      "q99 must not plan a cartesian shuffle")
    val bnlj99 = p99.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj99.forall(_.contains("BuildRight")),
      s"q99's vocabulary cross join must broadcast the 1-row side:\n${bnlj99.mkString("\n")}")
  }

  test("vector moments aggregate is ONE pass: no generator, no join, two agg stages") {
    import org.apache.spark.sql.functions._
    val agg = Tables.embeddings(spark, sfSmoke)
      .agg(graft.expr.MomentsAggregate.vectorMoments(col("embedding"), 64))
    val physical = agg.queryExecution.executedPlan.toString
    assert(!physical.contains("Generate"),
      "covariance must not explode the vectors into n*d rows")
    assert(!physical.contains("Join"),
      "covariance must not self-join element rows")
    // partial + final — the map-side register IS the shuffle payload
    assert("ObjectHashAggregate|SortAggregate".r
      .findAllIn(physical).size >= 2, physical.take(400))
  }

  test("edit-distance join: gram candidates via hash equi-join, never all-pairs") {
    import org.apache.spark.sql.functions._
    val names = Tables.part(spark, sfSmoke)
      .groupBy(col("p_name").as("name")).agg(min("p_partkey").as("nid"))
    val plan = graft.ops.Dedup.editDistancePairs(names, "nid", "name", 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"edit-distance blocking degraded to all-pairs:\n${plan.take(600)}")
    // the gram join must be an equi-join ON THE GRAM HASH with the
    // length filter riding its condition (no out-of-range pair forms)
    val gramJoin = plan.linesIterator.find(l =>
      l.contains("Join [g#") || (l.contains("Join") && l.contains("[g#")))
    assert(gramJoin.exists(l => l.contains("abs(") && l.contains("<= 2")),
      s"gram join missing or lost its length-filter condition: $gramJoin")
  }

  test("top-k per group: mergeable bounded aggregate, no rank window") {
    import org.apache.spark.sql.functions._
    val plan = graft.ops.Mixture.topKPerGroup(
        Tables.documents(spark, sfSmoke), "source",
        col("n_chars").cast("double"), "doc_id", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "top-k must not fall back to a rank window")
    // partial + final: the k-entry heap IS the shuffle payload
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      plan.take(400))
  }

  test("q170 PageRank: every iteration is equi-join + hash aggregate — " +
    "no cartesian beyond the 1-row dangling broadcast, no window") {
    val plan = SparkEntry.queries("q170_pagerank")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "rank joins must stay equi")
    assert(!plan.contains("Window"), "no rank windows in PageRank")
    // the dangling-mass scalar rides a broadcast nested loop (1-row side)
    // — any OTHER BNLJ would be a scale bug, so count them: exactly one
    // per surviving iteration stage is the crossJoin(broadcast(dang))
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"unexpected non-scalar nested loops: $bnlj")
  }

  test("q171 perceptual hashes plan the codegen kernels, not HOF folds") {
    val plan = SparkEntry.queries("q171_phash")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_ahash") && plan.contains("graft_dhash"),
      "aHash/dHash must be the codegen kernels")
    assert(!plan.contains("aggregate(") && !plan.contains("transform("),
      "no interpreted HOF fallback in the hash projection")
  }

  test("q172 span corruption: pure scan-stage projection — no join, " +
    "no window, no generator") {
    val plan = SparkEntry.queries("q172_span_corruption")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "span corruption must not join")
    assert(!plan.contains("Window") && !plan.contains("Generate"),
      "span corruption is a per-row projection")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, got $scans")
  }

  test("q176 sentence chunking: docs explode only into their own " +
    "chunks — grouped aggregate, no corpus window") {
    val plan = SparkEntry.queries("q176_sentence_chunks")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "chunk assembly must not use a window")
    assert(plan.contains("Generate"), "per-doc explode expected")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, got $scans")
  }

  test("q166 semantic decontamination: eval side broadcasts; corpus " +
    "never shuffles for the probe") {
    val plan = SparkEntry.queries("q166_semantic_decontam")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "eval probe must broadcast")
    assert(!plan.contains("CartesianProduct"), "no cartesian in the probe")
  }

  test("q183 trained language ID: profile broadcasts onto the doc-bucket " +
    "aggregate; no window, no cartesian") {
    val plan = SparkEntry.queries("q183_langid_trained")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the L x B profile must broadcast onto the (doc, bucket) counts")
    assert(!plan.contains("Window"), "argmax is aggregates, not a window")
    assert(!plan.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("q187 Hilbert layout: one lineitem scan through staged " +
    "projections — no join, no window, no generator") {
    val plan = SparkEntry.queries("q187_hilbert")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "the walk is per-row arithmetic")
    assert(!plan.contains("Window") && !plan.contains("Generate"),
      "staged projections + one hash aggregate only")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one lineitem scan, got $scans")
  }

  test("q185 unigram encode: per-distinct-word dict stamps by equi-join;" +
    " no cartesian, no corpus window") {
    val plan = SparkEntry.queries("q185_unigram_encode")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the dict stamp must stay an equi-join")
    assert(!plan.contains("Window"), "reassembly is a grouped aggregate")
  }

  test("q47/q188 neighbor top-k: bounded-heap aggregate — no rank window " +
    "whose per-anchor partition is the corpus") {
    for (q <- Seq("q47_ann_topk", "q188_hard_negatives")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q ranks with a window")
      // partial + final: the (skipTop+k)-entry heap IS the shuffle payload
      assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
        s"$q heap must aggregate partial+final:\n${plan.take(400)}")
    }
  }

  test("q190 stratified weighted sample: per-source bounded heap, " +
    "no rank window") {
    val plan = SparkEntry.queries("q190_weighted_sample_group")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "A-Res selection must ride the heap")
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      plan.take(400))
  }

  test("q191/q192 temperature mixture: accounting joins are 1-row " +
    "broadcasts; the epoch realization is a scan-stage explode — " +
    "no window, no cartesian") {
    for (q <- Seq("q191_temperature_mixture", "q192_temperature_epochs")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
        s"$q must stay aggregate + broadcast")
      // the only nested loops allowed are the 1-row total/normalizer
      // sides (3: the shared counts×total subtree materializes twice —
      // once under the z normalizer, once under the output — plus ×z)
      val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnlj <= 3, s"$q unexpected non-scalar nested loops: $bnlj")
    }
  }

  test("q193 canonical dedup: component argmax via aggregates — " +
    "no window, no cartesian") {
    val plan = SparkEntry.queries("q193_canonical_dedup")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "argmax is max + achiever-join + min")
    assert(!plan.contains("CartesianProduct"), "pair/keep joins stay equi")
  }

  /** joins with an occurrence-SCALE input: a child whose subtree holds
    * a Generate (the bigram explode) not capped by any Aggregate — an
    * aggregate collapses the stream to type/vocab scale, so joins over
    * aggregated counts don't count. */
  private def occurrenceStreamJoins(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan}
    def raw(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: Generate => true
      case other => other.children.exists(raw)
    }
    plan.collect { case j: Join if j.children.exists(raw) => j }.size
  }

  test("q194 KN bigram LM: probabilities assemble on the TYPE table — " +
    "exactly ONE join touches the occurrence stream") {
    // pre-fix this counted 4: three Zipf-skewed corpus-scale shuffles
    // (h12, h1, h2) plus the scalar cross — now the fanout/fanin/n11
    // joins ride the vocab-sized type table and only the final h12
    // equi-join sees the exploded bigram stream
    val qe = SparkEntry.queries("q194_kn_bigram_lm")(spark, sfSmoke)
      .queryExecution
    val n = occurrenceStreamJoins(qe.optimizedPlan)
    assert(n == 1, s"expected 1 occurrence-stream join, got $n")
    assert(!qe.executedPlan.toString.contains("Window"))
  }

  test("q99 bigram LM (self-fit): the c12/c1 stamp never equi-joins the " +
    "occurrence stream — one type-table join only") {
    val qe = SparkEntry.queries("q99_bigram_lm")(spark, sfSmoke)
      .queryExecution
    val n = occurrenceStreamJoins(qe.optimizedPlan)
    assert(n == 1, s"expected 1 occurrence-stream join, got $n")
  }

  test("q196 CCNet ppl buckets: lnp assembles on the score-side TYPE " +
    "table — one occurrence-stream join, no window, no cartesian") {
    // plan-shape check on the UNPINNED scoring stage (the pin hides
    // the stamp join behind a LogicalRDD in the full query)
    val d = graft.Tables.documents(spark, sfSmoke)
    val fit = d.filter(org.apache.spark.sql.functions.col("source")
      .isin("src0", "src1"))
    val sc = graft.ops.TextAnalysis.ccnetPerplexity(
      d, "doc_id", "text", "lang", fit, materialize = false)
    val n = occurrenceStreamJoins(sc.queryExecution.optimizedPlan)
    assert(n == 1, s"expected 1 occurrence-stream join, got $n")
    val qe = SparkEntry.queries("q196_ccnet_ppl_buckets")(spark, sfSmoke)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Window"),
      "tercile thresholds must agg-broadcast, not window")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q195 PMI collocations: selection is a bounded top-k, never a " +
    "corpus sort; counts are hash aggregates") {
    val plan = SparkEntry.queries("q195_pmi_collocations")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "LIMIT k must plan as TakeOrderedAndProject")
    assert(!plan.contains("Window"), "no rank window over the pair table")
  }

  test("q186 pipeline v4 (final stage): no window, no cartesian — the " +
    "composed operators keep their individually-pinned shapes") {
    val plan = SparkEntry.queries("q186_pipeline_v4")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "no rank window in the MMR assembly")
    assert(!plan.contains("CartesianProduct"), "joins stay equi/broadcast")
  }

  test("q197/q198 WordPiece encode: per-distinct-word stamp by equi-join " +
    "— no cartesian, no corpus window (the q185 unigram convention)") {
    for (q <- Seq("q197_wordpiece_encode", "q198_wordpiece_encode1")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q dict stamp must stay an equi-join")
      assert(!plan.contains("Window"),
        s"$q reassembly is a grouped aggregate, not a window")
    }
  }

  test("q199 3-D Hilbert: one lineitem scan through staged projections " +
    "— no join, no window, no generator (the q187 convention in N-D)") {
    val plan = SparkEntry.queries("q199_hilbert_3d")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "the Skilling walk is per-row arithmetic")
    assert(!plan.contains("Window") && !plan.contains("Generate"),
      "staged projections + one hash aggregate only")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one lineitem scan, got $scans")
  }

  test("q200/q201 UniMax mixture: one corpus aggregate + a sources-sized " +
    "quota stamp — no window, no cartesian") {
    for (q <- Seq("q200_unimax_mixture", "q201_unimax_epochs")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
        s"$q must stay aggregate + equi/broadcast stamp")
    }
  }

  test("q202/q203 containment pairs: gram candidates via hash equi-join, " +
    "never all-pairs; the keep anti-join stays equi") {
    for (q <- Seq("q202_ngram_containment", "q203_dedup_contained")) {
      val plan = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q containment scan degraded to all-pairs:\n${plan.take(600)}")
      assert(!plan.contains("Window"), s"$q needs no window anywhere")
    }
  }

  test("q205 LSH planner: scan-stage Riemann folds — the only join is " +
    "the 1-row min-cost broadcast; q206 corpus report: ONE scan, " +
    "no join, no window") {
    val p205 = SparkEntry.queries("q205_lsh_tune")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!p205.contains("Window") && !p205.contains("CartesianProduct"))
    val bnlj = p205.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("BuildRight")),
      s"q205's only nested loop must broadcast the 1-row min side:\n$bnlj")
    val q206 = SparkEntry.queries("q206_corpus_report")(spark, sfSmoke)
    val p206 = q206.queryExecution.executedPlan.toString
    assert(!p206.contains("Join"), "the report is one grouped aggregate")
    assert(!p206.contains("Window"))
    val scans = p206.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, got $scans")
    // the dup-rate distinct is keyed by xxhash64(text): no shuffle in the
    // report may carry the corpus text payload (VERDICT r12 item 2)
    assert(p206.contains("xxhash64"), "text distinct must be hash-keyed")
    val shuffledText = q206.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.filter(a => a.name == "text" &&
          a.dataType == org.apache.spark.sql.types.StringType)
    }.flatten
    assert(shuffledText.isEmpty,
      s"corpus text must never shuffle in the report: $shuffledText")
  }

  test("q204 dup-cluster sizes: component iterations and the histogram " +
    "are equi-joins + hash aggregates — no cartesian, no window") {
    val plan = SparkEntry.queries("q204_dup_cluster_sizes")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "label propagation must stay an equi-join on node id")
    assert(!plan.contains("Window"), "the size histogram is two aggregates")
  }

  test("q207/q208 byte-BPE: the corpus side is ONE dict-stamp " +
    "occurrence join — the merge loop never touches documents; no " +
    "cartesian, no window") {
    for (q <- Seq("q207_bytebpe_encode1", "q208_bytebpe_roundtrip",
        "q213_tokenizer_fertility")) {
      val qe = SparkEntry.queries(q)(spark, sfSmoke).queryExecution
      val n = occurrenceStreamJoins(qe.optimizedPlan)
      assert(n == 1, s"$q: expected 1 occurrence-stream join, got $n")
      val p = qe.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("Window"), q)
    }
  }

  test("q209 held-out KN: probabilities assemble on the score-side " +
    "TYPE table — exactly ONE join touches the occurrence stream") {
    val qe = SparkEntry.queries("q209_kn_lm_heldout")(spark, sfSmoke)
      .queryExecution
    val n = occurrenceStreamJoins(qe.optimizedPlan)
    assert(n == 1, s"expected 1 occurrence-stream join, got $n")
    assert(!qe.executedPlan.toString.contains("Window"))
    // every input of the final scoring plan is a PINNED frame (model
    // and score arrays localCheckpoint during construction), so the
    // executed plan must contain ZERO live parquet scans. A FileScan
    // here means some model consumer joined the UNPINNED fit plan and
    // re-aggregates the fit corpus per consumer — the r14 ADVICE
    // regression (knBigramLmScoreWith's c12 read), which the
    // occurrence-stream counter alone cannot see (the fit aggregate
    // caps the Generate).
    val scans = qe.executedPlan.toString.linesIterator
      .count(_.contains("FileScan parquet"))
    assert(scans == 0,
      s"$scans live parquet scans — a model read bypassed the pin")
  }

  test("q210 threshold apply: the cuts broadcast back — no window, " +
    "no cartesian, broadcast stamp join") {
    val p = SparkEntry.queries("q210_threshold_apply")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "bucket must be a scan-stage fold")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"),
      "the |groups|-row threshold table must broadcast")
  }

  test("q212 quality classifier: scoring is PURE scan-stage — the " +
    "trained weights are literals; no join, no window, one scan") {
    val qe = SparkEntry.queries("q212_quality_logreg")(spark, sfSmoke)
      .queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      "score pass reads the corpus exactly once")
  }

  test("q211 pipeline v5: the survivor set is pinned, so the final " +
    "plan carries ONE occurrence-stream join (the BPE dict stamp) — " +
    "no window, no cartesian") {
    // regression shape: without the kept pin, Spark inlines the scoring
    // subtree into both consumers and the ccnet stamp join appears SIX
    // times (measured) — six corpus-scale scoring passes instead of one
    val qe = SparkEntry.queries("q211_pipeline_v5")(spark, sfSmoke)
      .queryExecution
    val n = occurrenceStreamJoins(qe.optimizedPlan)
    assert(n == 1, s"expected 1 occurrence-stream join, got $n")
    val p = qe.executedPlan.toString
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("keepTopQuantile: unpinned input scans its source once per plan " +
    "branch; the caller pin (the v3/v6 convention) collapses both " +
    "branches onto one materialization") {
    import org.apache.spark.sql.functions._
    val TA = graft.ops.TextAnalysis
    // an expensive-ish derived chain off the parquet scan — the shape
    // corpus-prep v6 feeds in (q223 itself can't be probed for this:
    // packConcat's own downstream pin truncates the final plan either
    // way, so the double scan hides inside the pin's materialization)
    def chain = Tables.documents(spark, sfSmoke)
      .select(col("doc_id"), col("source"),
        TA.normalizeText(TA.stripHtml(col("text"))).as("ct"))
      .withColumn("nt", TA.tokenCount(col("ct")).cast("double"))
    def docScans(p: String): Int = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    // unpinned: the threshold aggregate and the keep probe are separate
    // branches — the documents scan (and the whole clean chain) appears
    // TWICE. This pins the rationale for the caller-side pin; if Spark
    // ever learns to share the subtree, this side flips and the
    // convention can be retired.
    val unpinned = TA.keepTopQuantile(chain, "source", col("nt"), q = 0.25)
      .queryExecution.executedPlan.toString
    assert(docScans(unpinned) == 2,
      s"expected the unpinned double scan, got ${docScans(unpinned)}")
    // pinned: both branches read the materialized frame — zero file
    // scans in the final plan, and the one-row-per-group threshold
    // still broadcasts back
    val pinned = TA.keepTopQuantile(graft.ops.Materialize.pin(chain),
        "source", col("nt"), q = 0.25)
      .queryExecution.executedPlan.toString
    assert(docScans(pinned) == 0,
      s"pinned plan still re-scans parquet:\n$pinned")
    assert(pinned.contains("Scan ExistingRDD"), "expected the pinned scan")
    assert(pinned.contains("BroadcastExchange"),
      "threshold table must broadcast back")
  }

  test("q160 pipeline v3 / q225 pipeline v7: the REGISTRY queries' " +
    "final plans carry no duplicated documents FileScan (the r17 " +
    "caller-pin convention, asserted at the actual call sites)") {
    // the synthetic keepTopQuantile test above proves the convention;
    // this guards the shipping callers — a dropped pin would re-surface
    // the documents scan once per consumer branch in these plans
    def docScans(p: String): Int = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    for (q <- Seq("q160_pipeline_v3", "q225_pipeline_v7")) {
      val p = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.executedPlan.toString
      assert(docScans(p) <= 1,
        s"$q final plan re-scans documents parquet (${docScans(p)}×) — " +
          s"a caller pin was dropped:\n$p")
    }
  }

  test("q231 v8 state ingest: the survivors stage reads persisted " +
    "state and pinned delta frames ONLY — no documents parquet") {
    // the v8 contract: per-ingest work is O(delta + state scan). The
    // delta side is pinned (diff/gated/newArrays execute at plan
    // construction — the only place a documents scan is legitimate:
    // the NEW crawl must be read), so the survivors frame's remaining
    // lazy plan may only carry ExistingRDD scans of those pins plus
    // FileScans of the v8 state tables (shingles for the LSH seen
    // side). A documents FileScan here means corpus-scale recompute
    // crept back into the seen side of the ingest path. (The registry
    // row's own final plan truncates at packConcat's internal pin, so
    // this asserts one stage up, at the package-visible helper.)
    val (survivors, _) =
      graft.queries.Pipeline.v8IngestSurvivors(spark, sfSmoke)
    val p = survivors.queryExecution.executedPlan.toString
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 0,
      s"v8 survivors plan scans documents parquet ($docScans×):\n$p")
    assert(p.contains("graft_v8_state_"),
      s"expected the persisted state tables in the survivors plan:\n$p")
  }
}
