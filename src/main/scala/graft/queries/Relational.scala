package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.api.{Frame, Asc, Desc, Stats, functions => gf}
import Sql.{dsum, davg, isum}

/** Relational operator coverage (SURVEY.md §2.2) over the TPC-H-ish
  * tables, each with a DuckDB oracle. Every query ends in a deterministic
  * ORDER BY so row order matches the oracle byte-for-byte.
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  val registry: Seq[(String, Q)] = Seq(

    // --- groupBy + the full aggregate family (TPC-H Q1 shape) -----------
    "q01_groupby_agg" -> Q(
      (s, d) => Frame(li(s, d))
        .filterWhere(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .aggregate(
          "sum_qty" -> gf.dsumD(col("l_quantity")),
          "sum_base_price" -> gf.dsumD(col("l_extendedprice")),
          "sum_disc_price" -> gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          "avg_qty" -> gf.davg(col("l_quantity")),
          "avg_price" -> gf.davg(col("l_extendedprice")),
          "avg_disc" -> gf.davg(col("l_discount")),
          "min_qty" -> min("l_quantity"),
          "max_qty" -> max("l_quantity"),
          "count_order" -> gf.countAll)
        .sortBy(Asc(col("l_returnflag")), Asc(col("l_linestatus"))).df,
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${dsum("l_quantity")} AS sum_qty,
        ${dsum("l_extendedprice")} AS sum_base_price,
        ${dsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        ${davg("l_quantity")} AS avg_qty,
        ${davg("l_extendedprice")} AS avg_price,
        ${davg("l_discount")} AS avg_disc,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""), bench = true),

    // --- projection -------------------------------------------------------
    // Order-sensitive compare + (l_orderkey, l_linenumber) is NOT unique
    // in the synthetic data: the sort must be total over the OUTPUT
    // columns (rows still tied then are identical, so their order can't
    // matter). Caught by the sf1 gate — at ≤ sf0.1 the single-split scan
    // masked it because both engines broke ties in file order.
    "q02_select" -> Q(
      (s, d) => Frame(li(s, d))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .sortBy(Asc(col("l_orderkey")), Asc(col("l_linenumber")),
          Asc(col("l_extendedprice"))).df,
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_extendedprice""")),

    // --- filter (predicate pushdown reaches the scan) ---------------------
    "q03_filter" -> Q(
      (s, d) => Frame(li(s, d))
        .filterWhere(col("l_quantity") >= 30 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .sortBy(Asc(col("l_orderkey")), Asc(col("l_linenumber")),
          Asc(col("l_quantity"))).df,
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_quantity >= 30 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    // --- derive (expression DSL: arithmetic) ------------------------------
    // revenue/charge are bit-identical across engines (pure double
    // products, no decimal casts), so sorting on them is portable —
    // the q02 total-output-order convention.
    "q04_derive" -> Q(
      (s, d) => Frame(li(s, d))
        .derive("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .derive("charge", col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
        .select("l_orderkey", "l_linenumber", "revenue", "charge")
        .sortBy(Asc(col("l_orderkey")), Asc(col("l_linenumber")),
          Asc(col("revenue")), Asc(col("charge"))).df,
      Some("""SELECT l_orderkey, l_linenumber,
        l_extendedprice * (1.0 - l_discount) AS revenue,
        l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, revenue, charge"""), bench = true),

    // --- conditional: ifThenElse ------------------------------------------
    "q05_ifelse" -> Q(
      (s, d) => Frame(li(s, d))
        .derive("size_cat", gf.ifThenElse(col("l_quantity") > 25, lit("big"), lit("small")))
        .groupBy("size_cat", "l_returnflag")
        .aggregate("n" -> gf.countAll, "total_qty" -> gf.dsumD(col("l_quantity")))
        .sortBy(Asc(col("size_cat")), Asc(col("l_returnflag"))).df,
      Some(s"""SELECT CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_cat,
        l_returnflag, COUNT(*) AS n, ${dsum("l_quantity")} AS total_qty
        FROM lineitem GROUP BY 1, 2 ORDER BY size_cat, l_returnflag""")),

    // --- recode (lookup-map translate) ------------------------------------
    "q06_recode" -> Q(
      (s, d) => Frame(li(s, d))
        .derive("flag_name", gf.recodeWithDefault(col("l_returnflag"),
          Map("A" -> "accepted", "R" -> "returned", "N" -> "none"), lit("other")))
        .groupBy("flag_name").aggregate("n" -> gf.countAll)
        .sortBy(Asc(col("flag_name"))).df,
      Some("""SELECT CASE l_returnflag WHEN 'A' THEN 'accepted'
          WHEN 'R' THEN 'returned' WHEN 'N' THEN 'none' ELSE 'other' END AS flag_name,
        COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY flag_name""")),

    // --- null handling: nullif / coalesce / filterJust --------------------
    "q07_nulls" -> Q(
      (s, d) => {
        val f = Frame(ord(s, d))
          .derive("status_opt", when(col("o_orderstatus") === "O", lit(null).cast("string"))
            .otherwise(col("o_orderstatus")))
        f.groupBy("o_orderpriority").aggregate(
          "n_total" -> gf.countAll,
          "n_present" -> count(col("status_opt")),
          "n_null" -> count(when(col("status_opt").isNull, 1)))
          .sortBy(Asc(col("o_orderpriority"))).df
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_total,
        COUNT(NULLIF(o_orderstatus, 'O')) AS n_present,
        COUNT(CASE WHEN NULLIF(o_orderstatus, 'O') IS NULL THEN 1 END) AS n_null
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // --- string functions ---------------------------------------------------
    "q08_strings" -> Q(
      (s, d) => Frame(cust(s, d))
        .derive("seg_lower", lower(col("c_mktsegment")))
        .derive("name_num", regexp_extract(col("c_name"), "[0-9]+", 0))
        .derive("name_len", length(col("c_name")))
        .derive("tagged", concat(col("c_name"), lit("-"), col("c_mktsegment")))
        .derive("name_sub", substring(col("c_name"), 10, 9))
        .select("c_custkey", "seg_lower", "name_num", "name_len", "tagged", "name_sub")
        .sortBy(Asc(col("c_custkey"))).df,
      Some("""SELECT c_custkey, lower(c_mktsegment) AS seg_lower,
        regexp_extract(c_name, '[0-9]+') AS name_num,
        CAST(length(c_name) AS INTEGER) AS name_len,
        c_name || '-' || c_mktsegment AS tagged,
        substr(c_name, 10, 9) AS name_sub
        FROM customer ORDER BY c_custkey""")),

    // --- date functions -----------------------------------------------------
    "q09_dates" -> Q(
      (s, d) => Frame(li(s, d))
        .derive("ship_year", year(col("l_shipdate")))
        .derive("ship_month", month(col("l_shipdate")))
        .groupBy("ship_year", "ship_month")
        .aggregate(
          "n" -> gf.countAll,
          "revenue" -> gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          "max_days_since_epoch_start" -> max(datediff(col("l_shipdate"), lit("1995-01-01").cast("date"))))
        .sortBy(Asc(col("ship_year")), Asc(col("ship_month"))).df,
      Some(s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        CAST(month(l_shipdate) AS INTEGER) AS ship_month, COUNT(*) AS n,
        ${dsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
        CAST(MAX(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))) AS INTEGER)
          AS max_days_since_epoch_start
        FROM lineitem GROUP BY 1, 2 ORDER BY ship_year, ship_month""")),

    // --- sort + limit (top-k → TakeOrderedAndProject) ----------------------
    "q10_sort_limit" -> Q(
      (s, d) => Frame(li(s, d))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .takeRows(100, Desc(col("l_extendedprice")), Asc(col("l_orderkey")), Asc(col("l_linenumber"))).df,
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""")),

    // --- distinct -----------------------------------------------------------
    "q11_distinct" -> Q(
      (s, d) => Frame(li(s, d)).select("l_returnflag", "l_linestatus")
        .distinct.sortBy(Asc(col("l_returnflag")), Asc(col("l_linestatus"))).df,
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        ORDER BY l_returnflag, l_linestatus""")),

    // --- multi-way join over the star schema (dims broadcast) --------------
    "q12_join_star" -> Q(
      (s, d) => {
        val o = ord(s, d); val c = cust(s, d)
        val n = broadcast(Tables.nation(s, d)); val r = broadcast(Tables.region(s, d))
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(gf.countAll.as("n_orders"),
            gf.dsumD(col("o_totalprice")).as("total_value"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name, COUNT(*) AS n_orders,
        ${dsum("o_totalprice")} AS total_value
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""), bench = true),

    // --- left join with null-producing side --------------------------------
    "q13_join_left" -> Q(
      (s, d) => {
        val c = Frame(cust(s, d))
        val o = Frame(ord(s, d).withColumnRenamed("o_custkey", "c_custkey"))
        c.leftJoin(o, Seq("c_custkey"))
          .groupBy("c_custkey")
          .aggregate(
            "n_orders" -> count(col("o_orderkey")),
            "total_value" -> coalesce(gf.dsumD(col("o_totalprice")), lit(0.0)))
          .sortBy(Asc(col("c_custkey"))).df
      },
      Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        COALESCE(${dsum("o_totalprice")}, 0.0) AS total_value
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // --- semi join (EXISTS) -------------------------------------------------
    "q14_join_semi" -> Q(
      (s, d) => {
        val c = Frame(cust(s, d))
        val big = Frame(ord(s, d).filter(col("o_totalprice") > 400000)
          .withColumnRenamed("o_custkey", "c_custkey"))
        c.semiJoin(big, Seq("c_custkey"))
          .select("c_custkey", "c_name").sortBy(Asc(col("c_custkey"))).df
      },
      Some("""SELECT c_custkey, c_name FROM customer WHERE EXISTS
        (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey""")),

    // --- anti join (NOT EXISTS): parts never shipped in 1995 H1 -------------
    "q15_join_anti" -> Q(
      (s, d) => {
        val p = Frame(Tables.part(s, d))
        val used = Frame(li(s, d)
          .filter(col("l_shipdate") < lit("1995-07-01").cast("timestamp"))
          .withColumnRenamed("l_partkey", "p_partkey"))
        p.antiJoin(used, Seq("p_partkey"))
          .select("p_partkey", "p_name").sortBy(Asc(col("p_partkey"))).df
      },
      Some("""SELECT p_partkey, p_name FROM part WHERE NOT EXISTS
        (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
           AND l_shipdate < TIMESTAMP '1995-07-01')
        ORDER BY p_partkey""")),

    // --- full outer join with coalesced key ---------------------------------
    "q16_join_full" -> Q(
      (s, d) => {
        val c = cust(s, d)
        val l = Frame(c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_acctbal").as("bal_building")))
        val r = Frame(c.filter(col("c_acctbal") > 4000)
          .select(col("c_custkey"), col("c_acctbal").as("bal_high")))
        l.fullOuterJoin(r, Seq("c_custkey"))
          .sortBy(Asc(col("c_custkey"))).df
      },
      Some("""SELECT COALESCE(l.c_custkey, r.c_custkey) AS c_custkey,
        l.bal_building, r.bal_high
        FROM (SELECT c_custkey, c_acctbal AS bal_building FROM customer
              WHERE c_mktsegment = 'BUILDING') l
        FULL JOIN (SELECT c_custkey, c_acctbal AS bal_high FROM customer
              WHERE c_acctbal > 4000) r ON l.c_custkey = r.c_custkey
        ORDER BY c_custkey""")),

    // --- right join (mirror of q13; graduates the unit-only path) -----------
    "q87_join_right" -> Q(
      (s, d) => {
        val o = Frame(ord(s, d).withColumnRenamed("o_custkey", "c_custkey"))
        val c = Frame(cust(s, d))
        o.rightJoin(c, Seq("c_custkey"))
          .groupBy("c_custkey")
          .aggregate(
            "n_orders" -> count(col("o_orderkey")),
            "total_value" -> coalesce(gf.dsumD(col("o_totalprice")), lit(0.0)))
          .sortBy(Asc(col("c_custkey"))).df
      },
      Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        COALESCE(${dsum("o_totalprice")}, 0.0) AS total_value
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // --- valueCounts / barsTopN: ordered grouped counts under a limit
    // (TakeOrderedAndProject; ties broken by value text in both engines)
    "q88_bars_topn" -> Q(
      (s, d) => Frame(cust(s, d)).barsTopN("c_mktsegment", 3),
      Some("""SELECT c_mktsegment, COUNT(*) AS count FROM customer
        GROUP BY c_mktsegment ORDER BY count DESC, c_mktsegment LIMIT 3""")),

    // --- grouped collect (Functions.hs:306 collect): list aggregation,
    // sorted inside each group (order-independent value) and joined to a
    // string for the hash gate — the driver's compare can't hash arrays
    "q89_collect_list" -> Q(
      (s, d) => Frame(Tables.nation(s, d))
        .groupBy("n_regionkey")
        .aggregate("names" ->
          concat_ws(",", sort_array(gf.collect(col("n_name")))))
        .sortBy(Asc(col("n_regionkey"))).df,
      Some("""SELECT n_regionkey,
        array_to_string(list_sort(list(n_name)), ',') AS names
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // --- union by name (the reference's <> merge) ---------------------------
    "q17_union" -> Q(
      (s, d) => {
        val o = ord(s, d)
        val a = Frame(o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
        val b = Frame(o.filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_totalprice"))) // missing col → null-pad
        a.unionByName(b)
          .derive("o_orderstatus", coalesce(col("o_orderstatus"), lit("P?")))
          .groupBy("o_orderstatus")
          .aggregate("n" -> gf.countAll, "total" -> gf.dsumD(col("o_totalprice")))
          .sortBy(Asc(col("o_orderstatus"))).df
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n, ${dsum("o_totalprice")} AS total
        FROM (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
              UNION ALL
              SELECT o_orderkey, o_totalprice, 'P?' AS o_orderstatus FROM orders WHERE o_orderstatus = 'P')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // --- intersect / except --------------------------------------------------
    "q18_intersect" -> Q(
      (s, d) => Frame(ord(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .intersect(Frame(ord(s, d).filter(col("o_orderstatus") === "P").select(col("o_custkey"))))
        .sortBy(Asc(col("o_custkey"))).df,
      Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        ORDER BY o_custkey""")),

    "q19_except" -> Q(
      (s, d) => Frame(ord(s, d).filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k")))
        .except(Frame(ord(s, d).filter(col("o_orderstatus") === "P").select(col("o_custkey").as("k"))))
        .sortBy(Asc(col("k"))).df,
      Some("""SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
        ORDER BY k""")),

    // --- window functions: rank / lag / lead / running sum ------------------
    "q20_window" -> Q(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord(s, d)
          .withColumn("rnk", row_number().over(w))
          .withColumn("prev_price", lag("o_totalprice", 1).over(w))
          .withColumn("next_price", lead("o_totalprice", 1).over(w))
          .withColumn("run_total",
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double"))
          .filter(col("rnk") <= 3)
          .select("o_custkey", "rnk", "o_orderkey", "o_totalprice",
            "prev_price", "next_price", "run_total")
          .orderBy("o_custkey", "rnk")
      },
      Some("""SELECT o_custkey, rnk, o_orderkey, o_totalprice, prev_price, next_price, run_total
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER w AS rnk,
          lag(o_totalprice, 1) OVER w AS prev_price,
          lead(o_totalprice, 1) OVER w AS next_price,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
            (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
        WHERE rnk <= 3 ORDER BY o_custkey, rnk"""), bench = true),

    // --- zScore: whole-frame aggregate broadcast back to rows ---------------
    // Scalar stats as a 1-row aggregate crossJoin'd back (broadcast) — the
    // same exact-decimal moments, but no global Window (which would shuffle
    // the whole table into ONE task at 100 TB).
    "q21_zscore" -> Q(
      (s, d) => {
        val o = ord(s, d)
        // The square must be computed IN decimal — casting the DOUBLE
        // product to decimal(30,4) hits 4-dp rounding boundaries where
        // the JVM (shortest-decimal-string) and DuckDB (exact-binary)
        // double→decimal casts disagree by 1e-4 (≈10 rows at sf1 —
        // caught by the sf1 gate, invisible below). Casting the 2-dp
        // price first is boundary-free (2-dp values sit ~5e-3 from any
        // tie, ≫ double ulp), and decimal×decimal is exact in both
        // engines, so __s2 is bit-identical at every scale.
        val pD = col("o_totalprice").cast("decimal(18,2)")
        val stats = o.agg(
          sum(pD).cast("double").as("__s1"),
          sum(pD * pD).cast("double").as("__s2"),
          count(lit(1)).as("__n"))
        val s1 = col("__s1"); val s2 = col("__s2"); val n = col("__n")
        val mean = s1 / n
        val sd = sqrt((s2 - s1 * s1 / n) / (n - lit(1)))
        // NO final round: with exact moments, (x − mean)/sd is pure
        // IEEE double arithmetic (sqrt is correctly rounded by both
        // engines) — bit-identical unrounded. A round(·, 10) here
        // would itself diverge at quantum boundaries (JVM rounds the
        // shortest decimal string, DuckDB the exact binary — the 10
        // 1e-10 flips the sf1 gate caught).
        o.crossJoin(broadcast(stats))
          .withColumn("z", (col("o_totalprice") - mean) / sd)
          .select("o_orderkey", "o_totalprice", "z")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice,
        (o_totalprice - CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER () AS VARCHAR) AS DOUBLE) / COUNT(*) OVER ())
        / sqrt((CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) OVER () AS VARCHAR) AS DOUBLE)
             - CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER () AS VARCHAR) AS DOUBLE)
               * CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER () AS VARCHAR) AS DOUBLE) / (COUNT(*) OVER ()))
           / (COUNT(*) OVER () - 1)) AS z
        FROM orders ORDER BY o_orderkey"""), bench = true),

    // --- explicit GROUPING SETS (general form; cube/rollup are sugar) --------
    // One aggregation pass: Catalyst Expand replicates each input row
    // once per set, the hash-aggregate runs once — no union-of-aggs
    // re-scan. GROUPING() pins which output rows are subtotals so the
    // hash check can't confuse a subtotal with a real null group.
    // r11 adjudication of the r10 ×1.3 drift: QBench A/B, quiet host —
    // r9 commit 0.76 s [0.67, 0.94] vs HEAD 0.47 s [0.37, 0.75]: HEAD
    // FASTER in isolation; the drift was shared-session noise.
        // r13 band: fresh-session QBench, quiet host — 0.50 s [0.45, 0.83]
    // (7 iters, sf0.1). The r12 drift value (0.29 -> 0.47 s, x1.64)
    // is INSIDE the band — adjudicated session noise (matches the r11
    // "faster in isolation" finding; no code touched it since).
    "q147_grouping_sets" -> Q(
      (s, d) => Frame(ord(s, d)).groupBy("o_orderstatus", "o_orderpriority")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq.empty),
          "n" -> gf.countAll,
          "total" -> gf.dsumD(col("o_totalprice")),
          "g_status" -> grouping(col("o_orderstatus")).cast("int"),
          "g_prio" -> grouping(col("o_orderpriority")).cast("int"))
        .derive("status", coalesce(col("o_orderstatus"), lit("ALL")))
        .derive("prio", coalesce(col("o_orderpriority"), lit("ALL")))
        .select("status", "prio", "g_status", "g_prio", "n", "total")
        .sortBy(Asc(col("g_status")), Asc(col("g_prio")),
          Asc(col("status")), Asc(col("prio"))).df,
      Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS prio,
        CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        COUNT(*) AS n, ${dsum("o_totalprice")} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderstatus), ())
        ORDER BY g_status, g_prio, status, prio"""), bench = true),

    // --- CUBE grouping sets ---------------------------------------------------
    "q22_cube" -> Q(
      (s, d) => Frame(li(s, d)).groupBy("l_returnflag", "l_linestatus")
        .cube("n" -> gf.countAll, "total_qty" -> gf.dsumD(col("l_quantity")))
        .derive("rflag", coalesce(col("l_returnflag"), lit("ALL")))
        .derive("lstatus", coalesce(col("l_linestatus"), lit("ALL")))
        .select("rflag", "lstatus", "n", "total_qty")
        .sortBy(Asc(col("rflag")), Asc(col("lstatus"))).df,
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        COALESCE(l_linestatus, 'ALL') AS lstatus,
        COUNT(*) AS n, ${dsum("l_quantity")} AS total_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY rflag, lstatus""")),

    // --- ROLLUP ----------------------------------------------------------------
    "q23_rollup" -> Q(
      (s, d) => Frame(li(s, d))
        .derive("ship_year", year(col("l_shipdate")))
        .groupBy("ship_year", "l_returnflag")
        .rollup("n" -> gf.countAll, "revenue" -> gf.dsumD(col("l_extendedprice")))
        .derive("yr", coalesce(col("ship_year"), lit(-1)))
        .derive("rflag", coalesce(col("l_returnflag"), lit("ALL")))
        .select("yr", "rflag", "n", "revenue")
        .sortBy(Asc(col("yr")), Asc(col("rflag"))).df,
      Some(s"""SELECT COALESCE(CAST(year(l_shipdate) AS INTEGER), -1) AS yr,
        COALESCE(l_returnflag, 'ALL') AS rflag,
        COUNT(*) AS n, ${dsum("l_extendedprice")} AS revenue
        FROM lineitem GROUP BY ROLLUP(CAST(year(l_shipdate) AS INTEGER), l_returnflag)
        ORDER BY yr, rflag""")),

    // --- variance / stddev / correlation via exact moments ---------------------
    "q24_stats_moments" -> Q(
      (s, d) => {
        // 128-bit exact sums (same per-row decimal rounding, primitive
        // codegen buffer — see graft.expr.Int128SumMicros); scale 4 keeps
        // the y² terms inside 18 digits, matching the oracle's cast
        def dsumc(c: Column, t: String = "decimal(18,6)") = {
          val scale = t.split(",")(1).stripSuffix(")").trim.toInt
          graft.expr.AggregateExpressions.dsumScaled(c, scale)
        }
        val x = col("l_quantity"); val y = col("l_extendedprice")
        val n = count(lit(1)).cast("double")
        val sx = dsumc(x); val sxx = dsumc(x * x)
        val sy = dsumc(y); val syy = dsumc(y * y, "decimal(18,4)")
        val sxy = dsumc(x * y)
        // round: the compare is exact and engines may fuse a*b-c (FMA)
        // differently, shifting the last ulp of a multiply-subtract chain
        // compute split (r19): five exact-decimal moment sums ride the
        // scan stage; one task on the single-file local layout otherwise
        graft.Tables.splitForCompute(li(s, d),
            col("l_orderkey"), col("l_linenumber"))
          .groupBy("l_returnflag").agg(
          round((sxx - sx * sx / n) / (n - 1), 8).as("var_qty"),
          round(sqrt((sxx - sx * sx / n) / (n - 1)), 10).as("stddev_qty"),
          round((sxy - sx * sy / n) /
            sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 12).as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some({
        val sx = "CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
        val sxx = "CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
        val sy = "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
        val syy = "CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"
        val sxy = "CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
        val n = "CAST(COUNT(*) AS DOUBLE)"
        s"""SELECT l_returnflag,
          round((($sxx - $sx * $sx / $n) / ($n - 1)), 8) AS var_qty,
          round(sqrt(($sxx - $sx * $sx / $n) / ($n - 1)), 10) AS stddev_qty,
          round((($sxy - $sx * $sy / $n) /
            sqrt(($sxx - $sx * $sx / $n) * ($syy - $sy * $sy / $n))), 12) AS corr_qty_price
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
      }), bench = true),

    // --- exact median / percentile ----------------------------------------------
    "q25_percentiles" -> Q(
      (s, d) => li(s, d).groupBy("l_returnflag").agg(
        gf.median(col("l_quantity")).as("median_qty"),
        gf.percentile(col("l_quantity"), 25).as("p25_qty"),
        gf.percentile(col("l_quantity"), 90).as("p90_qty"),
        (gf.percentile(col("l_quantity"), 75) - gf.percentile(col("l_quantity"), 25)).as("iqr_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        median(l_quantity) AS median_qty,
        quantile_cont(l_quantity, 0.25) AS p25_qty,
        quantile_cont(l_quantity, 0.90) AS p90_qty,
        quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqr_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --- mode with deterministic tie-break (most-frequent, then smallest) -------
    "q26_mode" -> Q(
      (s, d) => {
        val counts = li(s, d).groupBy("l_returnflag", "l_quantity")
          .agg(gf.countAll.as("cnt"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("cnt").desc, col("l_quantity").asc)
        counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("cnt"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM
        (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
          row_number() OVER (PARTITION BY l_returnflag
            ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
         FROM lineitem GROUP BY l_returnflag, l_quantity)
        WHERE rn = 1 ORDER BY l_returnflag""")),

    // --- frequencies / value counts with percentage ------------------------------
    "q27_frequencies" -> Q(
      (s, d) => Frame(ord(s, d)).frequencies("o_orderpriority")
        .orderBy(col("count").desc, col("o_orderpriority")),
      Some("""SELECT o_orderpriority, COUNT(*) AS count,
        COUNT(*) * 100.0 / SUM(COUNT(*)) OVER () AS percentage
        FROM orders GROUP BY o_orderpriority
        ORDER BY count DESC, o_orderpriority""")),

    // --- whole-frame summary in one aggregate pass --------------------------------
    "q28_summary" -> Q(
      (s, d) => li(s, d).agg(
        gf.countAll.as("n_rows"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
        gf.davg(col("l_quantity")).as("mean_qty"),
        gf.median(col("l_quantity")).as("median_qty"),
        min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"),
        gf.davg(col("l_extendedprice")).as("mean_price"),
        countDistinct(col("l_partkey")).as("n_parts"),
        gf.dsumD(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_revenue")),
      Some(s"""SELECT COUNT(*) AS n_rows,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        ${davg("l_quantity")} AS mean_qty, median(l_quantity) AS median_qty,
        MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        ${davg("l_extendedprice")} AS mean_price,
        COUNT(DISTINCT l_partkey) AS n_parts,
        ${dsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
        FROM lineitem""")),

    // --- describe: per-column null counts (single pass) ----------------------------
    "q29_describe_nulls" -> Q(
      (s, d) => ord(s, d).agg(
        gf.countAll.as("n_rows"),
        count(col("o_orderkey")).as("nn_orderkey"),
        count(col("o_custkey")).as("nn_custkey"),
        count(col("o_orderstatus")).as("nn_status"),
        count(col("o_totalprice")).as("nn_totalprice"),
        count(col("o_orderdate")).as("nn_orderdate"),
        count(col("o_orderpriority")).as("nn_priority")),
      Some("""SELECT COUNT(*) AS n_rows, COUNT(o_orderkey) AS nn_orderkey,
        COUNT(o_custkey) AS nn_custkey, COUNT(o_orderstatus) AS nn_status,
        COUNT(o_totalprice) AS nn_totalprice, COUNT(o_orderdate) AS nn_orderdate,
        COUNT(o_orderpriority) AS nn_priority FROM orders""")),

    // --- approximate distinct (scale-path aggregate; exact oracle via threshold) ---
    "q30_approx_distinct" -> Q(
      (s, d) => li(s, d).agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts")),
      Some("""SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
        COUNT(DISTINCT l_partkey) AS exact_parts FROM lineitem""")),

    // --- math function battery (per-row, deterministic doubles) --------------------
    "q31_math" -> Q(
      (s, d) => Frame(li(s, d))
        .filterWhere(col("l_linenumber") === 1 && col("l_orderkey") < 1000)
        .derive("q_sqrt", sqrt(col("l_quantity")))
        // ln/exp differ by 1 ulp between JVM and C libm — round for parity
        .derive("q_ln", round(log(col("l_quantity")), 10))
        .derive("q_exp_disc", round(exp(col("l_discount")), 10))
        .derive("q_abs", abs(col("l_quantity") - lit(25.0)))
        .derive("q_pow", graft.api.functions.pow(col("l_quantity"), lit(2.0)))
        .derive("q_floor", floor(col("l_extendedprice") / 1000.0))
        .derive("q_ceil", ceil(col("l_extendedprice") / 1000.0))
        .derive("q_round", round(col("l_extendedprice") / 7.0, 2))
        .derive("q_relu", gf.relu(col("l_quantity") - lit(25.0)))
        .derive("q_signum", signum(col("l_quantity") - lit(25.0)))
        .derive("q_mod", col("l_quantity") % 7)
        .derive("q_min2", gf.minBinary(col("l_quantity"), lit(10.0)))
        .derive("q_max2", gf.maxBinary(col("l_quantity"), lit(40.0)))
        .select("l_orderkey", "q_sqrt", "q_ln", "q_exp_disc", "q_abs", "q_pow",
          "q_floor", "q_ceil", "q_round", "q_relu", "q_signum", "q_mod", "q_min2", "q_max2")
        // total order over the output space (q02 convention): q_sqrt is
        // injective in l_quantity, q_exp_disc in l_discount, and
        // (q_round, q_floor, q_ceil) are the only price-derived outputs
        // — rows still tied agree on every column
        .sortBy(Asc(col("l_orderkey")), Asc(col("q_sqrt")),
          Asc(col("q_exp_disc")), Asc(col("q_round")),
          Asc(col("q_floor")), Asc(col("q_ceil"))).df,
      Some("""SELECT l_orderkey, sqrt(l_quantity) AS q_sqrt, round(ln(l_quantity), 10) AS q_ln,
        round(exp(l_discount), 10) AS q_exp_disc, abs(l_quantity - 25.0) AS q_abs,
        pow(l_quantity, 2.0) AS q_pow,
        CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS q_floor,
        CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS q_ceil,
        round(l_extendedprice / 7.0, 2) AS q_round,
        greatest(0.0, l_quantity - 25.0) AS q_relu,
        CASE WHEN l_quantity - 25.0 > 0 THEN 1.0 WHEN l_quantity - 25.0 < 0 THEN -1.0 ELSE 0.0 END AS q_signum,
        l_quantity % 7 AS q_mod,
        least(l_quantity, 10.0) AS q_min2, greatest(l_quantity, 40.0) AS q_max2
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 1000
        ORDER BY l_orderkey, q_sqrt, q_exp_disc, q_round, q_floor, q_ceil""")),

    // --- trig / transcendental battery (Expression.hs:147-211 Floating) -----
    // JVM and libm differ in the last ulp on transcendentals — round(10)
    "q39_trig" -> Q(
      (s, d) => {
        val x = col("l_discount") // in [0, 0.1] — safe domain for inverses
        Frame(li(s, d))
          .filterWhere(col("l_linenumber") === 1 && col("l_orderkey") < 1000)
          .deriveMany(
            "t_sin" -> round(sin(x), 10), "t_cos" -> round(cos(x), 10),
            "t_tan" -> round(tan(x), 10), "t_asin" -> round(asin(x), 10),
            "t_acos" -> round(acos(x), 10), "t_atan" -> round(atan(x), 10),
            "t_sinh" -> round(sinh(x), 10), "t_cosh" -> round(cosh(x), 10),
            "t_tanh" -> round(tanh(x), 10),
            "t_logb" -> round(log(2.0, col("l_quantity")), 10),
            "t_atan2" -> round(atan2(x, lit(1.0)), 10))
          .select("l_orderkey", "t_sin", "t_cos", "t_tan", "t_asin", "t_acos",
            "t_atan", "t_sinh", "t_cosh", "t_tanh", "t_logb", "t_atan2")
          // t_sin is injective in the 2-dp discount domain, t_logb in
          // quantity — together with l_orderkey the output order is
          // total (q02 convention, caught by the sf1 gate)
          .sortBy(Asc(col("l_orderkey")), Asc(col("t_sin")),
            Asc(col("t_logb"))).df
      },
      Some("""SELECT l_orderkey,
        round(sin(l_discount), 10) AS t_sin, round(cos(l_discount), 10) AS t_cos,
        round(tan(l_discount), 10) AS t_tan, round(asin(l_discount), 10) AS t_asin,
        round(acos(l_discount), 10) AS t_acos, round(atan(l_discount), 10) AS t_atan,
        round((exp(l_discount) - exp(-l_discount)) / 2, 10) AS t_sinh,
        round((exp(l_discount) + exp(-l_discount)) / 2, 10) AS t_cosh,
        round((exp(l_discount) - exp(-l_discount)) / (exp(l_discount) + exp(-l_discount)), 10) AS t_tanh,
        round(ln(l_quantity) / ln(2.0), 10) AS t_logb,
        round(atan2(l_discount, 1.0), 10) AS t_atan2
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 1000
        ORDER BY l_orderkey, t_sin, t_logb""")),

    // --- positional range under explicit order (zipWithIndex path) ----------
    // The range's sort must be total over the projected columns or the
    // SELECTED WINDOW itself is ambiguous (ties straddling position
    // 100/200 admit different row multisets — the sf1 lesson); with
    // l_quantity as the third key, boundary ties are identical rows.
    "q37_range" -> Q(
      (s, d) => Frame(li(s, d))
        .range(100, 200, Asc(col("l_orderkey")), Asc(col("l_linenumber")),
          Asc(col("l_quantity")))
        .select("l_orderkey", "l_linenumber", "l_quantity").df
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_quantity
        LIMIT 100 OFFSET 100""")),

    // --- hconcat ||| positional zip (both sides ordered) --------------------
    "q38_hconcat" -> Q(
      (s, d) => {
        val c = cust(s, d)
        val byKey = Frame(c.select(col("c_custkey"), col("c_name")))
        val byBal = Frame(c.select(col("c_acctbal").as("bal"),
          col("c_custkey").as("bal_key")))
        byKey.hconcat(byBal, Seq(Asc(col("c_custkey"))),
            Seq(Desc(col("bal")), Asc(col("bal_key"))))
          .sortBy(Asc(col("c_custkey"))).df
      },
      Some("""SELECT a.c_custkey, a.c_name, b.bal, b.bal_key FROM
        (SELECT c_custkey, c_name,
          row_number() OVER (ORDER BY c_custkey) AS rn FROM customer) a
        JOIN
        (SELECT c_acctbal AS bal, c_custkey AS bal_key,
          row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer) b USING (rn)
        ORDER BY a.c_custkey""")),

    // --- lift / lift2: user scalar UDFs (Functions.hs:63-105) ---------------
    "q35_udf_scalar" -> Q(
      (s, d) => {
        val rev = graft.api.Udf.lift((x: String) => x.reverse)
        val lens = graft.api.Udf.lift2((a: String, b: String) => a.length + b.length)
        Frame(cust(s, d))
          .derive("rev_name", rev(col("c_name")))
          .derive("len2", lens(col("c_name"), col("c_mktsegment")))
          .select("c_custkey", "rev_name", "len2")
          .sortBy(Asc(col("c_custkey"))).df
      },
      Some("""SELECT c_custkey, reverse(c_name) AS rev_name,
        CAST(length(c_name) + length(c_mktsegment) AS INTEGER) AS len2
        FROM customer ORDER BY c_custkey""")),

    // --- reduce: user fold aggregate (Functions.hs:237-240) -----------------
    // integer fold (order-independent) so the distributed merge is exact
    "q36_udf_reduce" -> Q(
      (s, d) => {
        import s.implicits._
        val sumSq = graft.api.Udf.reduce[Double, Long](
          0L, (acc, x) => { val q = math.round(x); acc + q * q }, _ + _)(
          col("l_quantity"))
        li(s, d).groupBy("l_returnflag")
          .agg(sumSq.as("sum_qty_sq"), gf.countAll.as("n"))
          .orderBy("l_returnflag")
      },
      Some(s"""SELECT l_returnflag,
        ${isum("CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)")} AS sum_qty_sq,
        COUNT(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --- wider window battery: rank flavors, distribution, nth/first --------
    // Everything q20 doesn't cover: rank vs dense_rank under real ties
    // (o_orderpriority has few distinct values), ntile, percent_rank /
    // cume_dist (ratios of exact integers — deterministic doubles in
    // both engines), nth_value / first_value over the default running
    // frame. All windows are key-partitioned; at scale this is one
    // shuffle on o_custkey and a per-partition sort — never a global
    // window.
    // Two windows: wTies orders by the low-cardinality priority alone,
    // so rank/dense_rank/percent_rank/cume_dist face REAL peer groups
    // (these are functions of the order-key values only — deterministic
    // under ties); wFull adds the unique key for the value functions
    // (ntile/first/nth), which need a total order to be deterministic.
    "q71_window_battery" -> Q(
      (s, d) => {
        val wTies = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderpriority"))
        val wFull = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderpriority"), col("o_orderkey"))
        ord(s, d)
          .filter(col("o_custkey") % 5 === 0)
          .withColumn("rnk", rank().over(wTies))
          .withColumn("drnk", dense_rank().over(wTies))
          .withColumn("prank", percent_rank().over(wTies))
          .withColumn("cdist", cume_dist().over(wTies))
          .withColumn("tile", ntile(4).over(wFull))
          .withColumn("first_key", first("o_orderkey").over(wFull))
          .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(wFull))
          .select("o_custkey", "o_orderkey", "o_orderpriority", "rnk",
            "drnk", "prank", "cdist", "tile", "first_key", "second_key")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderpriority,
        rank() OVER wt AS rnk,
        dense_rank() OVER wt AS drnk,
        percent_rank() OVER wt AS prank,
        cume_dist() OVER wt AS cdist,
        ntile(4) OVER wf AS tile,
        first_value(o_orderkey) OVER wf AS first_key,
        nth_value(o_orderkey, 2) OVER wf AS second_key
        FROM orders WHERE o_custkey % 5 = 0
        WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderpriority),
               wf AS (PARTITION BY o_custkey
                      ORDER BY o_orderpriority, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // --- equi-width histogram (data side of the reference's plotting) ----
    // Bin index, exact bin edges, and count per non-empty bin — same
    // floor((v-min)/width) arithmetic in both engines (width carries the
    // +1e-300 guard against min==max).
    "q76_histogram" -> Q(
      (s, d) => graft.api.Frame(Tables.orders(s, d))
        .histogram("o_totalprice", bins = 12)
        .withColumn("lo", round(col("lo"), 6))
        .withColumn("hi", round(col("hi"), 6)),
      Some("""WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
          FROM orders),
        binned AS (
          SELECT least(floor((o_totalprice - mn) / ((mx - mn) / 12 + 1e-300)),
            11)::BIGINT AS bin, mn, mx
          FROM orders, b WHERE o_totalprice IS NOT NULL)
        SELECT bin,
          round(any_value(mn) + bin * ((any_value(mx) - any_value(mn)) / 12), 6) AS lo,
          round(any_value(mn) + (bin + 1) * ((any_value(mx) - any_value(mn)) / 12), 6) AS hi,
          COUNT(*) AS n
        FROM binned GROUP BY bin ORDER BY bin""")),

    // --- binned mutual information, engine-portable formulation ----------
    // Joint/marginal histograms from one scan; each log term rounded to
    // 10 dp then summed decimal-exact (order-independent) — the fp
    // policy that lets DuckDB replay a sum of logs bit-for-bit.
    "q77_mutual_info" -> Q(
      (s, d) => graft.api.Stats.mutualInformationBinnedDF(
        Tables.lineitem(s, d), "l_quantity", "l_extendedprice", bins = 10),
      Some("""WITH src AS (SELECT l_quantity AS va, l_extendedprice AS vb
          FROM lineitem),
        b AS (SELECT min(va) AS amin, max(va) AS amax,
                     min(vb) AS bmin, max(vb) AS bmax FROM src),
        binned AS (
          SELECT least(floor((va - amin) / ((amax - amin) / 10 + 1e-300)), 9)::BIGINT AS bx,
                 least(floor((vb - bmin) / ((bmax - bmin) / 10 + 1e-300)), 9)::BIGINT AS by
          FROM src, b),
        joint AS (SELECT bx, by, COUNT(*) AS cnt FROM binned GROUP BY bx, by),
        tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM joint),
        px AS (SELECT bx, CAST(SUM(cnt) AS DOUBLE) AS cx FROM joint GROUP BY bx),
        py AS (SELECT by, CAST(SUM(cnt) AS DOUBLE) AS cy FROM joint GROUP BY by)
        SELECT CAST(SUM(CAST(round(
            (cnt::DOUBLE / total) * ln((cnt::DOUBLE * total) / (cx * cy)),
            10) AS DECIMAL(18,10))) AS DOUBLE) AS mi
        FROM joint JOIN px USING (bx) JOIN py USING (by), tot""")),

    // --- box-plot stats per group (data side of plotBoxPlots) ------------
    // Five-number summary + Tukey whiskers + outlier count; whiskers
    // rounded to 6 dp before counting (multiply-add chain fp policy) so
    // the outlier threshold is engine-portable.
    "q80_boxplot" -> Q(
      (s, d) => graft.api.Stats.boxPlotStats(
        li(s, d), "l_extendedprice", "l_returnflag", whiskerScale = 6)
        .orderBy("l_returnflag"),
      Some("""WITH q AS (
          SELECT l_returnflag,
            min(l_extendedprice) AS v_min,
            quantile_cont(l_extendedprice, 0.25) AS q1,
            median(l_extendedprice) AS v_median,
            quantile_cont(l_extendedprice, 0.75) AS q3,
            max(l_extendedprice) AS v_max,
            COUNT(l_extendedprice) AS n
          FROM lineitem GROUP BY l_returnflag),
        w AS (
          SELECT *, q3 - q1 AS iqr,
            round(q1 - 1.5 * (q3 - q1), 6) AS lo_whisker,
            round(q3 + 1.5 * (q3 - q1), 6) AS hi_whisker
          FROM q),
        o AS (
          SELECT l.l_returnflag,
            SUM(CASE WHEN l.l_extendedprice < w.lo_whisker
                       OR l.l_extendedprice > w.hi_whisker
                     THEN 1 ELSE 0 END)::BIGINT AS n_outliers
          FROM lineitem l JOIN w ON l.l_returnflag = w.l_returnflag
          GROUP BY l.l_returnflag)
        SELECT w.l_returnflag, v_min, q1, v_median, q3, v_max, iqr,
          lo_whisker, hi_whisker, n, n_outliers
        FROM w JOIN o ON w.l_returnflag = o.l_returnflag
        ORDER BY w.l_returnflag""")),

    // --- pairwise correlation matrix (data side of plotCorrelationMatrix)
    // One aggregation pass for every pair's decimal-exact moments, the
    // q24-proven corr formula per pair, round(12).
    "q81_corr_matrix" -> Q(
      (s, d) => graft.api.Stats.correlationMatrix(
        li(s, d), Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_a", "col_b"),
      Some({
        def s1(c: String) = s"CAST(CAST(SUM(CAST($c AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
        def s2(a: String, b: String) =
          s"CAST(CAST(SUM(CAST($a * $b AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"
        val n = "CAST(COUNT(*) AS DOUBLE)"
        def corr(a: String, b: String) =
          s"""round((${s2(a, b)} - ${s1(a)} * ${s1(b)} / $n) /
            sqrt((${s2(a, a)} - ${s1(a)} * ${s1(a)} / $n)
               * (${s2(b, b)} - ${s1(b)} * ${s1(b)} / $n)), 12)"""
        val pairs = Seq(
          ("l_quantity", "l_extendedprice"),
          ("l_quantity", "l_discount"),
          ("l_extendedprice", "l_discount"))
        val selects = pairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b, ${corr(a, b)} AS corr
             FROM lineitem""" }
        selects.mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY col_a, col_b")
      })),

    // --- 2-D density grid (data side of plotHeatmap) ---------------------
    "q82_heatmap" -> Q(
      (s, d) => graft.api.Stats.heatmapBins(
        li(s, d), "l_quantity", "l_discount", bins = 8),
      Some("""WITH src AS (SELECT l_quantity AS va, l_discount AS vb
          FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
        b AS (SELECT min(va) AS amin, max(va) AS amax,
                     min(vb) AS bmin, max(vb) AS bmax FROM src)
        SELECT least(floor((va - amin) / ((amax - amin) / 8 + 1e-300)), 7)::BIGINT AS bx,
               least(floor((vb - bmin) / ((bmax - bmin) / 8 + 1e-300)), 7)::BIGINT AS by,
               COUNT(*) AS n
        FROM src, b GROUP BY bx, by ORDER BY bx, by""")),

    // --- melt / unpivot (wide → long, inverse of q52's pivot) ------------
    "q83_melt" -> Q(
      (s, d) => graft.api.Frame(li(s, d).filter(col("l_orderkey") < 300))
        .melt(Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        // value joins the sort: (l_orderkey, l_linenumber) is not unique,
        // so without it duplicate keys interleave their values in
        // engine-dependent order (sf1 lesson, q02 convention)
        .df.orderBy("l_orderkey", "l_linenumber", "variable", "value"),
      Some("""SELECT * FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
                 l_quantity AS value FROM lineitem WHERE l_orderkey < 300
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          FROM lineitem WHERE l_orderkey < 300
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          FROM lineitem WHERE l_orderkey < 300)
        ORDER BY l_orderkey, l_linenumber, variable, value"""))
  )
}
