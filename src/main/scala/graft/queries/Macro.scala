package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.api.{functions => gf}
import Sql.dsum

/** TPC-H-shaped macro queries — the multi-join/agg patterns a warehouse
  * actually runs, exercising Catalyst's join ordering, broadcast
  * selection, and partial aggregation end-to-end (the per-operator
  * registry covers each piece; these cover the composition).
  *
  * Scale posture: the fact-fact join (orders ⋈ lineitem) shuffles on
  * the order key; every dimension (customer at these SFs, supplier,
  * nation, region) rides a broadcast — no dimension ever shuffles the
  * fact table twice. Revenue sums go through the decimal-exact dsum
  * (order-independent), so plans are free to re-order/parallelize
  * without moving the hash.
  */
object Macro {

  val registry: Seq[(String, Q)] = Seq(

    // --- Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    // top-10 open orders by revenue. Filters sit on three different
    // tables and must all push into the scans (date pruning on both
    // fact scans).
    "q73_tpch_q3" -> Q(
      (s, d) => {
        val cut = lit("1995-03-15").cast("timestamp")
        val cust = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") < cut)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > cut)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
          .agg(gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
          o_orderpriority,
          ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10"""), bench = true),

    // --- Q5 shape: 6-table star (region → nation → supplier/customer →
    // orders → lineitem), revenue by nation. The c_nationkey =
    // s_nationkey conjunct makes customer a second equi-key join, not a
    // filter — the classic join-graph query.
    "q74_tpch_q5" -> Q(
      (s, d) => {
        val nat = Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val sup = Tables.supplier(s, d)
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_nationkey", "n_name")
        val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
            gf.countAll.as("n"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
          ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
          COUNT(*) AS n
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""), bench = true),

    // --- Q18 shape: large-volume customers — a HAVING subquery over the
    // fact table drives everything. The hot-order keyset (sum_qty > 300,
    // ~0.1% of orders) is computed by ONE fact-table aggregate and then
    // BROADCASTS up the join chain: orders joins it without a shuffle,
    // and the tiny result broadcasts again into the customer scan. The
    // sum is reused from the keyset aggregate instead of re-joining
    // lineitem (equivalent to the textbook formulation, one fact pass
    // fewer). l_quantity is integral, so the double sum is exact and
    // order-independent. Deterministic top-100 via the orderkey
    // tie-break (TakeOrderedAndProject, never a global sort).
    "q108_tpch_q18" -> Q(
      (s, d) => {
        val hot = Tables.lineitem(s, d)
          .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 300)
        val ordHot = Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
          .join(broadcast(hot), col("o_orderkey") === col("l_orderkey"))
        Tables.customer(s, d).select("c_custkey", "c_name")
          .join(broadcast(ordHot), col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderdate"),
            col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
          CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice,
          sum_qty
        FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(l_quantity) > 300) h
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""), bench = true),

    // --- Q21 shape: the lone late supplier in multi-supplier orders.
    // The textbook formulation is a 4-way self-join with correlated
    // EXISTS / NOT EXISTS over the fact table (three lineitem reads);
    // the Spark-first re-expression is ONE fact pass and ONE aggregate:
    // a supplier's late lines count iff its order has ≥ 2 suppliers and
    // exactly 1 late one (which must be this supplier), and both
    // conditions are plain min/max facts of the order — ≥ 2 suppliers
    // ⟺ min(suppkey) ≠ max(suppkey); exactly one late supplier ⟺
    // min and max over late-line suppkeys agree (non-null), and that
    // value IS the waiting supplier, owning every late line in the
    // order. So a single groupBy(l_orderkey) with five simple
    // min/max/sum aggregates replaces the textbook's correlated
    // rescans; map-side partials collapse the ~7 lines/order before
    // the shuffle, and no per-(order,supplier) intermediate exists at
    // all. (Earlier shapes — a (order,supplier) aggregate rolled up
    // via join-back or window — carried ~20 M-group hash state and a
    // fact-scale sort at 24 M-row soak scale, with 5× iteration
    // variance from the memory pressure; this form's QBench A/B is
    // both faster and tight. Join-back also double-scanned the fact:
    // column pruning gives the rollup branch a narrower aggregate, so
    // the exchanges differ canonically and ReuseExchange can't help.)
    // The oracle runs the TEXTBOOK EXISTS/NOT-EXISTS form — the
    // hash-match proves the re-expression. (testdata has no
    // l_commitdate/l_receiptdate; lateness is l_shipdate >
    // o_orderdate + 60 days.)
    //
    // Measured trade (QBench A/B, sf0.1, 5 iters): a two-pass variant
    // that re-reads the fact table for the late lines is 1.40 s vs
    // 1.45-1.6 s here, overlapping spreads — locally `orders`
    // broadcasts, so its second fact read is nearly free. At cluster
    // scale orders does NOT broadcast and the second pass becomes a
    // second fact-scale join; the single-pass shape is kept because
    // that is the plan that survives the scale-up.
    //
    // Soak-variance adjudication (round 9, closed): the 14-37 s band
    // across identical 24 M-row soak runs is HOST CPU STEAL, not the
    // plan and not heap. Evidence, in order ruled out: (a) plan — this
    // single-aggregate form reaches 2.3-3.8 s steady-state at 24 M rows
    // (QBench min across four fresh sessions), vs 10.5 s+ medians for
    // the per-(order,supplier)+rollup shape it replaced; (b) GC —
    // QBench per-iteration collector time stays < 0.2 s inside 9-22 s
    // outlier iterations (sec_gc_steal pairs); (c) environment — a
    // /proc/stat trace alongside QBench shows steal bursts of 200-390
    // jiffies/s with guest user collapsing to ~100, in exact sync with
    // the slow iterations: the hypervisor throttles the VM in multi-
    // second windows. Identical back-to-back QBench sessions landed
    // medians of 3.1 s and 15.4 s around one such window. Nothing the
    // query can do; per-iteration steal now prints in QBench so future
    // rounds can discard stolen samples instead of re-adjudicating.
    "q109_tpch_q21" -> Q(
      (s, d) => {
        // NULL suppkeys never satisfy the oracle's EXISTS `<>` or the
        // supplier join, and min/max skip nulls while the line count
        // would not — filter them at the source so all five aggregates
        // see the same row set.
        val lo = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .filter(col("l_suppkey").isNotNull)
          .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
              .as("late"))
        val lateKey = when(col("late"), col("l_suppkey"))
        lo.groupBy("l_orderkey").agg(
            min(col("l_suppkey")).as("supp_mn"),
            max(col("l_suppkey")).as("supp_mx"),
            min(lateKey).as("late_mn"),
            max(lateKey).as("late_mx"),
            sum(col("late").cast("long")).as("n_late_lines"))
          .filter(col("supp_mn") =!= col("supp_mx") &&
            col("late_mn").isNotNull && col("late_mn") === col("late_mx"))
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("late_mn") === col("s_suppkey"))
          .groupBy("s_name", "s_suppkey")
          .agg(sum(col("n_late_lines")).as("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey"))
          .limit(20)
      },
      Some("""SELECT s_name, s_suppkey, COUNT(*) AS numwait
        FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name, s_suppkey
        ORDER BY numwait DESC, s_suppkey LIMIT 20"""), bench = true),

    // --- Q10 shape: returned-item revenue top-20. The Spark-first plan
    // aggregates EARLY and joins attributes LATE: revenue per custkey
    // from the fact join alone, top-20 via TakeOrderedAndProject (with
    // a custkey tie-break so the cut is deterministic), and only those
    // 20 rows join customer/nation for display attributes — the
    // attribute tables never enter the aggregate, and at scale the
    // 20-row side broadcasts. The textbook groups by all display
    // columns; custkey determines them, so the results are identical.
    "q114_tpch_q10" -> Q(
      (s, d) => {
        val lo = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
            .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
        val rev = lo.groupBy("o_custkey")
          .agg(gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_custkey")).limit(20)
        broadcast(rev)
          .join(Tables.customer(s, d)
            .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
            col("c_acctbal"), col("n_name"))
          .orderBy(col("revenue").desc, col("c_custkey"))
      },
      Some(s"""SELECT c_custkey, c_name,
          ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
          c_acctbal, n_name
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20"""), bench = true),

    // --- Q7 shape: volume shipping between two nations. Both nation
    // dims broadcast; the disjunctive nation-pair predicate sits on the
    // joined pair (it can't push below the join), the year extraction
    // is scan-stage, and the revenue rollup is one hash aggregate over
    // (supp_nation, cust_nation, year).
    "q115_tpch_q7" -> Q(
      (s, d) => {
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount")
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, d)
            .select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("sk"))
          .join(broadcast(n2), col("c_nationkey") === col("ck"))
          .filter((col("supp_nation") === "NATION_18" &&
              col("cust_nation") === "NATION_19") ||
            (col("supp_nation") === "NATION_19" &&
              col("cust_nation") === "NATION_18"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS INTEGER) AS l_year,
          ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
            OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""), bench = true),

    // --- Q14 shape: promoted-part revenue share over one ship window.
    // lineitem date-pruned at the scan, part rides a broadcast, ONE
    // aggregate row carries both decimal-exact sums; the share derives
    // per-row from exact values (no reorderable fp).
    "q116_tpch_q14" -> Q(
      (s, d) => {
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
          .select("l_partkey", "l_extendedprice", "l_discount")
          .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(
            gf.dsumD(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
              .as("promo_rev"),
            gf.dsumD(rev).as("total_rev"))
          .select(col("promo_rev"), col("total_rev"),
            round(col("promo_rev") * 100.0 / col("total_rev"), 9)
              .as("promo_pct"))
      },
      Some(s"""SELECT
          ${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS promo_rev,
          ${dsum("l_extendedprice * (1 - l_discount)")} AS total_rev,
          round(${dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} * 100.0
            / ${dsum("l_extendedprice * (1 - l_discount)")}, 9) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'"""), bench = true),

    // --- Q19 shape: disjunctive bracket revenue — the classic
    // partial-pushdown predicate: each OR arm constrains BOTH join
    // sides (brand/size on part, quantity on lineitem), so the full
    // predicate can only apply on the joined pair; part broadcasts and
    // the single aggregate row is decimal-exact.
    "q117_tpch_q19" -> Q(
      (s, d) => {
        val bracket =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 35)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 50))
        Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
          .join(broadcast(Tables.part(s, d)
            .select("p_partkey", "p_brand", "p_size")),
            col("l_partkey") === col("p_partkey"))
          .filter(bracket)
          .agg(gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
            gf.countAll.as("n_lines"))
      },
      Some(s"""SELECT
          ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
          COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 20)
          OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
            AND l_quantity BETWEEN 10 AND 35)
          OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
            AND l_quantity BETWEEN 20 AND 50)"""), bench = true),

    // --- distributed decision-stump fit, oracle-checked ------------------
    // One depth-1 CART fit (exact-percentile candidates, gini, the
    // deterministic tie-breaks documented in ops.DecisionTree) whose
    // ENTIRE fit — candidate quantiles, per-threshold label histograms,
    // weighted-gini argmax, majority leaf labels — is replayed by the
    // DuckDB oracle in SQL. quantile_cont ≡ Spark percentile (q25) and
    // every gini term is the same two-double arithmetic, so the fitted
    // (threshold, counts, predictions) must hash-match exactly.
    "q75_tree_stump" -> Q(
      (s, d) => {
        val src = Tables.customer(s, d)
          .withColumn("lab",
            when(col("c_acctbal") <= 3000.0, "lo").otherwise("hi"))
        val tree = graft.ops.DecisionTree.fitClassifier(
          src, Seq("c_acctbal"), "lab",
          maxDepth = 1, minSamplesSplit = 2,
          percentiles = 10 to 90 by 10)
        tree.toDF(s).orderBy("node_id")
      },
      Some("""WITH src AS (
          SELECT c_acctbal AS v,
                 CASE WHEN c_acctbal <= 3000.0 THEN 'lo' ELSE 'hi' END AS lab
          FROM customer WHERE c_acctbal IS NOT NULL),
        tot AS (SELECT COUNT(*) AS n FROM src),
        rootlab AS (
          SELECT lab, COUNT(*) AS cnt FROM src GROUP BY lab),
        parent AS (
          SELECT 1.0 - SUM((cnt::DOUBLE / n::DOUBLE) * (cnt::DOUBLE / n::DOUBLE)) AS g
          FROM rootlab, tot),
        cand AS (
          SELECT DISTINCT unnest(quantile_cont(v,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS thr FROM src),
        histo AS (
          SELECT c.thr, s.lab,
            SUM(CASE WHEN s.v <= c.thr THEN 1 ELSE 0 END) AS lcnt,
            SUM(CASE WHEN s.v > c.thr THEN 1 ELSE 0 END) AS rcnt
          FROM cand c CROSS JOIN src s GROUP BY c.thr, s.lab),
        sides AS (
          SELECT thr, SUM(lcnt) AS ln, SUM(rcnt) AS rn FROM histo GROUP BY thr),
        ginis AS (
          SELECT h.thr,
            1.0 - SUM((h.lcnt::DOUBLE / sd.ln::DOUBLE) * (h.lcnt::DOUBLE / sd.ln::DOUBLE)) AS gl,
            1.0 - SUM((h.rcnt::DOUBLE / sd.rn::DOUBLE) * (h.rcnt::DOUBLE / sd.rn::DOUBLE)) AS gr
          FROM histo h JOIN sides sd ON h.thr = sd.thr
          GROUP BY h.thr),
        best AS (
          SELECT sd.thr, sd.ln, sd.rn,
            p.g - (sd.ln::DOUBLE * g.gl + sd.rn::DOUBLE * g.gr) / t.n::DOUBLE AS gain
          FROM sides sd JOIN ginis g ON sd.thr = g.thr, parent p, tot t
          WHERE sd.ln >= 1 AND sd.rn >= 1
          ORDER BY gain DESC, sd.thr ASC LIMIT 1),
        predl AS (
          SELECT lab FROM histo h JOIN best b ON h.thr = b.thr
          ORDER BY h.lcnt DESC, h.lab DESC LIMIT 1),
        predr AS (
          SELECT lab FROM histo h JOIN best b ON h.thr = b.thr
          ORDER BY h.rcnt DESC, h.lab DESC LIMIT 1),
        predroot AS (
          SELECT lab FROM rootlab ORDER BY cnt DESC, lab DESC LIMIT 1)
        SELECT * FROM (
          SELECT 1::BIGINT AS node_id, 0 AS depth, t.n AS n,
            (SELECT lab FROM predroot) AS prediction,
            'c_acctbal' AS feature, b.thr AS threshold
          FROM tot t, best b
          UNION ALL
          SELECT 2::BIGINT, 1, b.ln::BIGINT, (SELECT lab FROM predl),
            NULL, NULL::DOUBLE FROM best b
          UNION ALL
          SELECT 3::BIGINT, 1, b.rn::BIGINT, (SELECT lab FROM predr),
            NULL, NULL::DOUBLE FROM best b)
        ORDER BY node_id""")),

    // --- feature-synthesis atom round, fully distributed -----------------
    // Every (feature, percentile-threshold) atom scored by F1 against a
    // binary target in one melt + one grouped aggregate (the beam
    // search's first round as pure relational algebra —
    // ops.FeatureSynthesis.atomScores). The oracle replays thresholds
    // (quantile_cont ≡ percentile), tp/fp/fn counts, and the F1
    // arithmetic.
    "q78_synth_atoms" -> Q(
      (s, d) => graft.ops.FeatureSynthesis.atomScores(
        Tables.customer(s, d),
        col("c_acctbal") <= 3000.0,
        Seq("c_acctbal", "c_custkey")),
      Some("""WITH src AS (
          SELECT c_acctbal::DOUBLE AS c_acctbal, c_custkey::DOUBLE AS c_custkey,
                 (c_acctbal <= 3000.0) AS t FROM customer),
        thr AS (
          SELECT 'c_acctbal' AS feature, unnest(quantile_cont(c_acctbal,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS thr FROM src
          UNION
          SELECT 'c_custkey', unnest(quantile_cont(c_custkey,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) FROM src),
        melted AS (
          SELECT 'c_acctbal' AS feature, c_acctbal AS v, t FROM src
          UNION ALL
          SELECT 'c_custkey', c_custkey, t FROM src),
        counts AS (
          SELECT m.feature, h.thr,
            SUM(CASE WHEN m.v <= h.thr AND m.t THEN 1 ELSE 0 END)::BIGINT AS tp,
            SUM(CASE WHEN m.v <= h.thr AND NOT m.t THEN 1 ELSE 0 END)::BIGINT AS fp,
            SUM(CASE WHEN m.v > h.thr AND m.t THEN 1 ELSE 0 END)::BIGINT AS fn
          FROM melted m JOIN thr h ON m.feature = h.feature
          GROUP BY m.feature, h.thr),
        scored AS (
          SELECT feature, thr, tp, fp, fn,
            CASE WHEN tp + fp = 0 THEN 0.0
                 ELSE tp::DOUBLE / (tp + fp) END AS p,
            CASE WHEN tp + fn = 0 THEN 0.0
                 ELSE tp::DOUBLE / (tp + fn) END AS r
          FROM counts)
        SELECT feature, thr, tp, fp, fn,
          round(CASE WHEN p + r = 0.0 THEN 0.0
                     ELSE 2.0 * p * r / (p + r) END, 9) AS f1
        FROM scored ORDER BY f1 DESC, feature, thr""")),

    // --- compound-TAO repair, oracle-checked golden ----------------------
    // The planted asymmetric XOR from the unit suite: no axis-aligned
    // depth-1 threshold strictly improves the 50/90 start, so the
    // accepted split MUST be a two-literal compound. The search is
    // deterministic end-to-end (exact percentile thresholds, strict
    // care-point improvement, (errs, op, feature, threshold) tie-break
    // ⇒ `and` carves the 25-row TT quadrant into a pure "0" leaf), so
    // the per-prediction confusion aggregate is a hand-computable
    // golden, replayed as a VALUES oracle (the q56 pattern; the fit
    // itself is SQL-replayed in q75 — here the VALUE is that the
    // compound family engaged at all).
    "q93_tao_compound" -> Q(
      (s, _) => {
        import graft.ops.DecisionTree
        import graft.ops.DecisionTree.{Node, Tree}
        val rows = for (xi <- 1 to 10; yi <- 1 to 9) yield {
          val (x, y) = (xi / 10.0, yi / 10.0)
          org.apache.spark.sql.Row(x, y, if ((x <= 0.5) ^ (y <= 0.5)) "1" else "0")
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("y",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("lab",
            org.apache.spark.sql.types.StringType)))
        val df = s.createDataFrame(
          s.sparkContext.parallelize(rows, 4), schema)
        val start = Tree(Map(
          1L -> Node(1L, 0, 90, "0", 0, 0.5, 2L, 3L),
          2L -> Node(2L, 1, 45, "0", -1, 0.0, 0L, 0L),
          3L -> Node(3L, 1, 45, "1", -1, 0.0, 0L, 0L)), Seq("x", "y"))
        val fixed = DecisionTree.taoRefineCompound(df, start, "lab")
        df.withColumn("pred", fixed.predictColumn)
          .groupBy("pred").agg(
            count(lit(1)).as("n"),
            sum(when(col("pred") === col("lab"), 1L).otherwise(0L)).as("correct"))
          .orderBy("pred")
      },
      Some("""SELECT * FROM (VALUES
          ('0', CAST(25 AS BIGINT), CAST(25 AS BIGINT)),
          ('1', CAST(65 AS BIGINT), CAST(45 AS BIGINT)))
          t(pred, n, correct) ORDER BY pred""")),

    // --- Q4 shape: order-priority checking — EXISTS over the fact
    // table as a LEFT SEMI join (equi on orderkey + the non-equi
    // lateness residual l_shipdate > o_orderdate evaluated inside the
    // join), never a fact-fact aggregate-then-join. The date window
    // prunes the orders scan. (The fixture lineitem has no
    // commit/receipt dates; shipped-after-order-date is the lateness
    // predicate on the available columns.)
    "q121_tpch_q4" -> Q(
      (s, d) => {
        val lo = lit("1996-01-01").cast("timestamp")
        val hi = lit("1996-04-01").cast("timestamp")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        ord.join(li, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(gf.countAll.as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""), bench = true),

    // --- Q6 shape: forecasting revenue change — the pure scan-and-
    // aggregate query: every predicate (date year, discount band,
    // quantity cap) must push into the parquet scan and the whole plan
    // is one partial+final aggregate, no join, no shuffle beyond the
    // 1-row exchange. Decimal-exact product sum.
    "q122_tpch_q6" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(gf.dsumD(col("l_extendedprice") * col("l_discount"))
          .as("revenue")),
      Some(s"""SELECT ${dsum("l_extendedprice * l_discount")} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""), bench = true),

    // --- Q13 shape: customer order-count distribution — LEFT join with
    // a predicate ON THE JOIN (not a WHERE: customers with no matching
    // orders must survive with count 0), then a double aggregate
    // (orders per customer → customers per count). The second aggregate
    // runs on one row per customer — a shrinking cascade, never a
    // re-scan. (The fixture has no o_comment; the excluded-orders
    // predicate is priority <> 1-URGENT.)
    "q123_tpch_q13" -> Q(
      (s, d) => {
        val ord = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey")
        Tables.customer(s, d).select("c_custkey")
          .join(ord, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count").agg(gf.countAll.as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        SELECT c_count, COUNT(*) AS custdist FROM co
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""), bench = true),

    // --- Q17 shape: small-quantity-order revenue — the correlated
    // per-part average as an AGG-BROADCAST (one hash aggregate over the
    // brand-filtered fact rows, threshold table broadcast back), never
    // a per-row correlated rescan. avg(l_quantity) divides an exact
    // integral sum by an exact count, so the threshold is bit-identical
    // across engines; the final sum is decimal-exact before the one
    // fp division, rounded (the multiply-divide parity rule).
    "q124_tpch_q17" -> Q(
      (s, d) => {
        val brandParts = Tables.part(s, d)
          .filter(col("p_brand") === "Brand#1").select("p_partkey")
        val li = Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        // correlated per-part AVG as a window — the groupBy-and-join-
        // back form recomputes the li subplan (scan + broadcast join)
        // twice; no exchange is shared between the two branches, so
        // ReuseExchange cannot save it. avg is exact here (integral
        // quantities sum exactly in double), so the window result is
        // bit-identical to the joined aggregate.
        li.withColumn("qty_thr",
            avg(col("l_quantity")).over(org.apache.spark.sql.expressions
              .Window.partitionBy(col("l_partkey"))) * 0.2)
          .filter(col("l_quantity") < col("qty_thr"))
          .agg(round(gf.dsumD(col("l_extendedprice")) / 7.0, 2)
            .as("avg_yearly"))
      },
      Some(s"""WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#1'),
        thr AS (SELECT l_partkey, avg(l_quantity) * 0.2 AS qty_thr
          FROM li GROUP BY l_partkey)
        SELECT round(${dsum("l_extendedprice")} / 7.0, 2) AS avg_yearly
        FROM li JOIN thr USING (l_partkey)
        WHERE l_quantity < qty_thr"""), bench = true),

    // --- Q22 shape: global sales opportunity — rich-but-inactive
    // customers: the positive-balance average is ONE 1-row aggregate
    // broadcast into the scan (decimal-exact sum / exact count — the
    // threshold cannot drift an ulp between engines), inactivity is a
    // LEFT ANTI join against the date-pruned orders scan (every fixture
    // customer has SOME order, so "no orders at all" is vacuous —
    // "no orders since 2000" is the non-empty analog and prunes the
    // anti-join build side), and the output groups by nation (the
    // fixture's country-code analog; it has no c_phone).
    "q125_tpch_q22" -> Q(
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select("c_custkey", "c_nationkey", "c_acctbal")
        val thr = cust.filter(col("c_acctbal") > 0.0)
          .agg(gf.davg(col("c_acctbal")).as("bal_thr"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey")
        cust.join(broadcast(thr))
          .filter(col("c_acctbal") > col("bal_thr"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(gf.countAll.as("numcust"),
            round(gf.dsumD(col("c_acctbal")), 2).as("totacctbal"))
          .orderBy("c_nationkey")
      },
      Some(s"""WITH thr AS (SELECT ${Sql.davg("c_acctbal")} AS bal_thr
          FROM customer WHERE c_acctbal > 0.0)
        SELECT c_nationkey, COUNT(*) AS numcust,
          round(${dsum("c_acctbal")}, 2) AS totacctbal
        FROM customer CROSS JOIN thr
        WHERE c_acctbal > bal_thr
          AND NOT EXISTS (SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey ORDER BY c_nationkey"""), bench = true),

    // --- Q15 shape: top revenue supplier — the classic view + MAX
    // subquery. ONE fact aggregate builds the per-supplier quarterly
    // revenue, its 1-row MAX broadcasts back over the aggregate's own
    // (tiny) output — the fact table is scanned once, and the equality
    // join against the max cannot drift because both sides come from
    // the SAME decimal-exact sums (one double per supplier, compared
    // to the max of those exact doubles). Supplier display attributes
    // broadcast onto the winner rows.
    "q127_tpch_q15" -> Q(
      (s, d) => {
        // The explicit isNotNull matters: the supplier join infers
        // isnotnull(l_suppkey) and pushes it into ONLY the join
        // branch's scan, making the two rev subtrees canonically
        // different — ReuseExchange then re-scans the fact for the MAX
        // branch. Stating the (vacuously true) filter up front keeps
        // both branches identical: one lineitem scan, exchange reused.
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
            col("l_suppkey").isNotNull)
          .groupBy("l_suppkey")
          .agg(gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"))
        val mx = rev.agg(max(col("total_revenue")).as("mx"))
        rev.join(broadcast(mx))
          .filter(col("total_revenue") === col("mx"))
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("total_revenue"), 2).as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some(s"""WITH rev AS (SELECT l_suppkey,
            ${dsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey),
        mx AS (SELECT MAX(total_revenue) AS mx FROM rev)
        SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
        FROM rev CROSS JOIN mx
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = mx
        ORDER BY s_suppkey"""), bench = true),

    // --- Q2 shape: min-cost supplier per part. The fixture has no
    // partsupp, so the part-supplier cost relation is DERIVED from
    // lineitem (min observed unit price per (part, supplier) pair) —
    // one fact aggregate, after which everything is small: the
    // region-filtered supplier dim broadcasts into the pair table, the
    // per-part minimum (the correlated-MIN-subquery shape) is a window
    // over the joined pair table, and part attributes broadcast on
    // top. Unit cost is a per-row double division (identical across
    // engines), MIN is exact, and the window-min equality compares the
    // same doubles — no fp drift possible.
    "q130_tpch_q2" -> Q(
      (s, d) => {
        val eu = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        val parts = Tables.part(s, d)
          .filter(col("p_type") === "STANDARD" && col("p_size") <= 25)
          .select("p_partkey")
        val ps = Tables.lineitem(s, d)
          .groupBy("l_partkey", "l_suppkey")
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        val cand = ps
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        // correlated per-part MIN as a window over cand — NOT a
        // groupBy-and-join-back, which recomputes the cand subplan
        // (incl. the fact aggregate) twice: 39 s → 11 s at the 40× soak
        cand.withColumn("min_cost",
            min(col("unit_cost")).over(org.apache.spark.sql.expressions
              .Window.partitionBy(col("l_partkey"))))
          .filter(col("unit_cost") === col("min_cost"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("l_partkey").as("p_partkey"), col("unit_cost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH ps AS (SELECT l_partkey, l_suppkey,
            MIN(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        cand AS (SELECT ps.*, s_name, s_acctbal, n_name
          FROM ps
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          JOIN part ON l_partkey = p_partkey
          WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size <= 25),
        mc AS (SELECT l_partkey AS mc_partkey, MIN(unit_cost) AS min_cost
          FROM cand GROUP BY 1)
        SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
        FROM cand JOIN mc ON l_partkey = mc_partkey AND unit_cost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""), bench = true),

    // --- Q8 shape: national market share — the deepest join graph in
    // the battery (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈
    // region on the demand side, supplier ⋈ nation on the supply side).
    // Part/supplier/nation/region broadcast; orders⋈customer stays a
    // shuffle pair (customer is NOT broadcast — at corpus scale it is a
    // fact-sized table, and AQE may still elect broadcast at small SF).
    // The share is a quotient of two decimal-exact sums over the same
    // groups — order-independent, no rounding needed.
    "q131_tpch_q8" -> Q(
      (s, d) => {
        val amer = Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "AMERICA")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey")),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey")
        val supN = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("sn_key"))
          .select("s_suppkey", "supp_nation")
        val econ = Tables.part(s, d)
          .filter(col("p_type") === "ECONOMY").select("p_partkey")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate").between(
            lit("1995-01-01").cast("timestamp"),
            lit("1996-12-31").cast("timestamp")))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
          .join(broadcast(econ), col("l_partkey") === col("p_partkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(amer, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .withColumn("vol",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg((gf.dsumD(when(col("supp_nation") === "NATION_6", col("vol"))
              .otherwise(0.0)) / gf.dsumD(col("vol"))).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          (${dsum("CASE WHEN n2.n_name = 'NATION_6' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
            / ${dsum("l_extendedprice * (1 - l_discount)")}) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
            AND TIMESTAMP '1996-12-31'
        GROUP BY 1 ORDER BY 1"""), bench = true),

    // --- Q9 shape: product-type profit by nation and year. The fixture
    // has no ps_supplycost, so cost is the retail-derived proxy
    // 0.6 · p_retailprice · l_quantity (comes from the broadcast part
    // dim, preserving Q9's defining trait: the profit expression mixes
    // columns of THREE tables). Part-name suffix filter prunes the
    // part broadcast; lineitem ⋈ orders is the one fact-fact shuffle;
    // supplier→nation broadcasts. Decimal-exact sum, rounded at output.
    //
    // r11 adjudication of the r10 bench drift (0.55-0.73 → 0.91 s):
    // fresh-session QBench A/B, 8 iters each, quiet host (steal ≤ 1,
    // GC ≤ 0.02 s throughout) — r9-final commit 0.76 s [0.73, 1.15],
    // HEAD 0.91 s [0.80, 1.34]. The ~1.2× residual is REAL and
    // attributed: round 10's sf1 portability fix moved `amount` from
    // double arithmetic to exact DECIMAL products (2-dp factor casts,
    // decimal(28,2) sum) to kill the .xx5 double→decimal tie splits
    // the sf1 gate caught — decimal multiply is the documented price
    // of a hash-stable answer at every SF. No plan change; shuffles
    // and broadcasts identical.
    "q132_tpch_q9" -> Q(
      (s, d) => {
        val bolts = Tables.part(s, d)
          .filter(col("p_name").endsWith("bolt"))
          .select("p_partkey", "p_retailprice")
        val supN = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("nation"))),
            col("s_nationkey") === col("sn_key"))
          .select("s_suppkey", "nation")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount")
          .join(broadcast(bolts), col("l_partkey") === col("p_partkey"))
          .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          // amount in EXACT decimal: 2-dp factor casts are boundary-free
          // (unlike casting the double PRODUCT, where JVM shortest-string
          // vs DuckDB exact-binary rounding can split a 6-dp tie), and
          // decimal arithmetic is exact in both engines. The final 2-dp
          // round also happens in decimal — round(double, 2) diverges the
          // same way at .xx5 sums (the 0.01 sf1 hit on this query).
          // Oracle side must use DuckDB round(decimal, 2) — its decimal
          // →decimal CAST truncates toward zero, probed directly.
          .withColumn("amount",
            col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")) -
              col("p_retailprice").cast("decimal(12,2)") *
                col("l_quantity").cast("decimal(12,2)") * lit(0.6).cast("decimal(2,1)"))
          .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
          .agg(sum(col("amount")).cast("decimal(28,2)").cast("double")
            .as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""SELECT n_name AS nation,
          CAST(year(o_orderdate) AS INTEGER) AS o_year,
          CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))
              - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(2,1))), 2)
            AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%bolt'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC"""), bench = true),

    // --- Q11 shape: important part values — per-part revenue from one
    // nation group's suppliers, kept only when it exceeds a fraction of
    // the GLOBAL total (the correlated scalar subquery). The supplier
    // keyset semi-joins into the fact scan (broadcast), value and total
    // come from the SAME decimal-exact pass shape (per-part aggregate +
    // 1-row aggregate broadcast back), so the HAVING comparison cannot
    // drift an ulp between engines.
        // r13 band: fresh-session QBench, quiet host — 0.99 s [0.90, 1.55]
    // (7 iters, sf0.1). Brackets the r12 driver-run outlier (x1.84 on a
    // ~0.5 s shared-session base) — session noise, not a plan change.
    "q133_tpch_q11" -> Q(
      (s, d) => {
        val eu = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")
        val li = Tables.lineitem(s, d)
          .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
          .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"),
            "left_semi")
          .withColumn("rev",
            col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        val value = li.groupBy("l_partkey")
          .agg(gf.dsumD(col("rev")).as("value"))
        // The global total re-aggregates VALUE's own output, not li:
        // aggregating li directly would be a second full fact pass
        // (different aggregate → no shared exchange), while here both
        // branches sit on value's exchange and ReuseExchange scans the
        // fact once. The oracle mirrors the same two-level sum, so the
        // threshold is the identical double in both engines.
        val thr = value.agg((gf.dsumD(col("value")) * lit(0.001)).as("thr"))
        value.join(broadcast(thr))
          .filter(col("value") > col("thr"))
          .select(col("l_partkey"), round(col("value"), 2).as("value"))
          .orderBy(col("value").desc, col("l_partkey"))
      },
      Some(s"""WITH li AS (SELECT l_partkey,
            l_extendedprice * (1 - l_discount) AS rev
          FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE')),
        v AS (SELECT l_partkey, ${dsum("rev")} AS value
          FROM li GROUP BY l_partkey),
        t AS (SELECT ${dsum("value")} * 0.001 AS thr FROM v)
        SELECT l_partkey, round(value, 2) AS value
        FROM v CROSS JOIN t WHERE value > thr
        ORDER BY value DESC, l_partkey"""), bench = true),

    // --- Q12 shape: late-shipment priority split. The fixture has no
    // l_shipmode/commitdate, so the mode analog is l_returnflag and
    // lateness is shipped-after-order-date (the q121 convention). The
    // defining plan trait survives: a fact-fact equi join (lineitem ⋈
    // orders on orderkey — both sides shuffle) feeding conditional
    // CASE aggregates, with the ship-year window pruning the lineitem
    // scan.
        // r13 band: fresh-session QBench, quiet host — 0.75 s [0.67, 1.00]
    // (7 iters, sf0.1). Brackets the r12 driver-run outlier (x1.81).
    "q134_tpch_q12" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .select("l_orderkey", "l_shipdate", "l_returnflag")
        val ord = Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        li.join(ord, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"))
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
              .otherwise(1L)).as("low_line_count"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
          ${Sql.isum("CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END")}
            AS high_line_count,
          ${Sql.isum("CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END")}
            AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > o_orderdate
        GROUP BY l_returnflag ORDER BY l_returnflag"""), bench = true),

    // --- Q16 shape: supplier count by part attribute. The part-supplier
    // relation is again lineitem-derived (DISTINCT pair projection — one
    // fact shuffle that then shrinks to ≤ |part|·|supplier|); the
    // excluded-supplier set (negative balance, the fixture's complaint
    // analog) is a broadcast ANTI join; part attributes broadcast in and
    // COUNT(DISTINCT) runs on the already-distinct pair table.
    //
    // r10 spread adjudication (the r9 verdict's one unadjudicated bench
    // band — shared-session spread [0.82, 8.07]): three fresh-session
    // QBench runs × 8 iters, per-iteration wall/GC/steal attribution.
    // Quiet iterations (steal ≤ 31 jiffies) run 1.02-1.11 s; walls track
    // steal monotonically (≥ 1000 jiffies → 3.4-3.8 s) with GC ≤ 0.11 s
    // everywhere — the host-steal fingerprint, not heap or plan. Quiet
    // band ≈ [1.0, 1.4] s, in family with the other distinct-heavy
    // macros; no plan change warranted.
    "q135_tpch_q16" -> Q(
      (s, d) => {
        val bad = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0.0).select("s_suppkey")
        val parts = Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
          .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
          COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
            WHERE s_acctbal < 0.0)
          AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""), bench = true),

    // --- Q20 shape: dominant suppliers of a part family. Without
    // ps_availqty the "excess stock" test becomes share-of-part-volume:
    // a supplier qualifies when its 1996 shipped quantity of some
    // 'small %' part exceeds 30% of that part's total — the same nested
    // aggregate-threshold + semi-join-chain plan as spec Q20. The pair
    // aggregate shrinks the fact scan once; the per-part total is a
    // window sum over that pair table (NOT a groupBy-and-join-back,
    // which would recompute the subplan and scan the fact twice);
    // qualifying suppliers semi-join into the region-filtered dim.
    "q136_tpch_q20" -> Q(
      (s, d) => {
        val smallParts = Tables.part(s, d)
          .filter(col("p_name").startsWith("small ")).select("p_partkey")
        val pair = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .select("l_partkey", "l_suppkey", "l_quantity")
          .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum(col("l_quantity")).as("pair_qty"))
        val dom = pair
          .withColumn("qty_thr",
            sum(col("pair_qty")).over(org.apache.spark.sql.expressions.Window
              .partitionBy(col("l_partkey"))) * lit(0.3))
          .filter(col("pair_qty") > col("qty_thr"))
          .select("l_suppkey").distinct()
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
            col("s_nationkey") === col("n_nationkey"))
          .join(dom, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_name", "n_name")
          .orderBy("s_name")
      },
      Some("""WITH pair AS (SELECT l_partkey, l_suppkey,
            CAST(SUM(l_quantity) AS BIGINT) AS pair_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small %'
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY l_partkey, l_suppkey),
        tot AS (SELECT l_partkey AS t_partkey,
            CAST(SUM(pair_qty) AS BIGINT) * 0.3 AS qty_thr
          FROM pair GROUP BY 1),
        dom AS (SELECT DISTINCT l_suppkey
          FROM pair JOIN tot ON l_partkey = t_partkey
          WHERE pair_qty > qty_thr)
        SELECT s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (SELECT l_suppkey FROM dom)
        ORDER BY s_name"""), bench = true),

    // --- Q1 proper: the pricing-summary report — the canonical
    // scan-heavy single-pass aggregate (q01 is the reference's own
    // 2-measure flavor; this is the full 8-measure spec shape). One
    // fact scan, map-side partial agg over a 6-group key, no joins.
    // All four sums are decimal-exact (Int128 accumulate, the fp-parity
    // policy in Q.scala); the averages are quotients of those exact
    // sums by the exact count, so both engines divide identical
    // doubles. Cutoff = fixture max shipdate minus 90 days, mirroring
    // the spec's DATE '1998-12-01' - 90.
    "q137_tpch_q1" -> Q(
      (s, d) => {
        // disc_price/charge in EXACT decimal: the triple double product
        // has 6 true decimal digits, exactly at dsumD's decimal(18,6)
        // per-row rounding edge, where the JVM (shortest-string) and
        // DuckDB (exact-binary) double→decimal casts split ties (2 rows
        // at sf1 — caught by the sf1 gate). 2-dp factor casts are
        // boundary-free and decimal×decimal is exact in both engines.
        val pD = col("l_extendedprice").cast("decimal(12,2)")
        val one = lit(1).cast("decimal(3,2)")
        val discPrice = pD * (one - col("l_discount").cast("decimal(3,2)"))
        val charge = discPrice * (one + col("l_tax").cast("decimal(3,2)"))
        // compute split (r19): eight exact-decimal aggregates ride the
        // scan stage; on the single-file local layout that was one task.
        graft.Tables.splitForCompute(Tables.lineitem(s, d),
            col("l_orderkey"), col("l_linenumber"))
        .filter(col("l_shipdate") <= lit("2001-08-06").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          gf.dsumD(col("l_quantity")).as("sum_qty"),
          gf.dsumD(col("l_extendedprice")).as("sum_base_price"),
          gf.dsumD(discPrice).as("sum_disc_price"),
          gf.dsumD(charge).as("sum_charge"),
          (gf.dsumD(col("l_quantity")) / gf.countAll).as("avg_qty"),
          (gf.dsumD(col("l_extendedprice")) / gf.countAll).as("avg_price"),
          (gf.dsumD(col("l_discount")) / gf.countAll).as("avg_disc"),
          gf.countAll.as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
          ${dsum("l_quantity")} AS sum_qty,
          ${dsum("l_extendedprice")} AS sum_base_price,
          ${dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))")} AS sum_disc_price,
          ${dsum("CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))")}
            AS sum_charge,
          ${dsum("l_quantity")} / COUNT(*) AS avg_qty,
          ${dsum("l_extendedprice")} / COUNT(*) AS avg_price,
          ${dsum("l_discount")} / COUNT(*) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-08-06'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""), bench = true),

    // --- Bloom-pruned fact-fact join (Skew.bloomPrunedJoin, the
    // explicit runtime-filter handle): revenue of line items belonging
    // to the top ~1% most expensive orders. Neither side broadcasts at
    // corpus scale; the selective side builds a lazy Bloom filter
    // (scalar-subquery stage, nothing collected) that prunes the fact
    // scan BEFORE the shuffle, and the inner join discards the ~fpp
    // false positives — so the oracle is the PLAIN join: hash-matching
    // it proves the pruning is invisible in the result.
    "q139_bloom_join" -> Q(
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("rev"))
        val small = Tables.orders(s, d)
          .filter(col("o_totalprice") > 450000.0)
          .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        graft.ops.Skew.bloomPrunedJoin(big, small, "okey",
            expectedItems = 1L << 16, fpp = 0.01)
          .groupBy("o_orderpriority")
          .agg(gf.dsumD(col("rev")).as("revenue"),
            gf.countAll.as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority,
          ${dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
          COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 450000.0
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""), bench = true)
  )
}
