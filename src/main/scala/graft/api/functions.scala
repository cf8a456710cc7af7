package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Expression DSL — the reference's `DataFrame.Functions` surface
  * (reference: src/DataFrame/Functions.hs, src/DataFrame/Operators.hs)
  * re-expressed as thin combinators over `org.apache.spark.sql.Column`
  * so every call stays inside Catalyst codegen. No Scala UDFs here.
  */
object functions {

  def col(name: String): Column = F.col(name)
  def lit(v: Any): Column = F.lit(v)

  // ---- conditional (Functions.hs:57-58, If node) ------------------------
  def ifThenElse(cond: Column, t: Column, f: Column): Column =
    F.when(cond, t).otherwise(f)

  /** recode: lookup-map translate; misses become null
    * (Functions.hs:268-279). The fallthrough null literal takes the
    * mapping's VALUE type — an untyped (string-cast) null would coerce
    * the whole when-chain to string, so `recode(Map(1 -> 2))` must stay
    * integral. */
  def recode(c: Column, mapping: Map[Any, Any]): Column = {
    val nullLit =
      if (mapping.isEmpty) F.lit(null).cast("string")
      else F.lit(null).cast(
        org.apache.spark.sql.catalyst.expressions.Literal(mapping.head._2).dataType)
    mapping.foldLeft(nullLit) { case (acc, (k, v)) =>
      F.when(c === F.lit(k), F.lit(v)).otherwise(acc)
    }
  }

  /** recodeWithDefault (Functions.hs:281-287). */
  def recodeWithDefault(c: Column, mapping: Map[Any, Any], default: Column): Column =
    mapping.foldLeft(default) { case (acc, (k, v)) =>
      F.when(c === F.lit(k), F.lit(v)).otherwise(acc)
    }

  /** recodeWithCondition: chained (predicate, value) cases
    * (Functions.hs:289-298). */
  def recodeWithCondition(cases: Seq[(Column, Column)], default: Column): Column =
    cases.foldRight(default) { case ((p, v), acc) => F.when(p, v).otherwise(acc) }

  // ---- null handling (Functions.hs:242-266) -----------------------------
  // Spark nulls propagate through expressions natively, so most of the
  // reference's Maybe plumbing dissolves; these keep the names.
  def fromMaybe(c: Column, default: Any): Column = F.coalesce(c, F.lit(default))
  def isJust(c: Column): Column = c.isNotNull
  def isNothing(c: Column): Column = c.isNull

  // ---- math (Expression.hs:62-211, Functions.hs:107-235) ----------------
  def toDouble(c: Column): Column = c.cast("double")
  def relu(c: Column): Column = F.greatest(F.lit(0.0), c)
  def pow(b: Column, e: Column): Column = F.pow(b, e)
  def divInt(a: Column, b: Column): Column = (a.cast("long") / b.cast("long")).cast("long")
  def mod(a: Column, b: Column): Column = a % b
  def minBinary(a: Column, b: Column): Column = F.least(a, b)
  def maxBinary(a: Column, b: Column): Column = F.greatest(a, b)

  // ---- string (Functions.hs:300-321) -------------------------------------
  def splitOn(c: Column, sep: String): Column = F.split(c, java.util.regex.Pattern.quote(sep))
  /** first regex match or null (Functions.hs:309-313; Java dialect). */
  def matchFirst(c: Column, pattern: String): Column =
    F.when(c.rlike(pattern), F.regexp_extract(c, pattern, 0))
  def matchAll(c: Column, pattern: String): Column =
    F.regexp_extract_all(c, F.lit(pattern), F.lit(0))
  def firstOrNothing(arr: Column): Column =
    F.when(F.size(arr) > 0, F.element_at(arr, 1))
  def lastOrNothing(arr: Column): Column =
    F.when(F.size(arr) > 0, F.element_at(arr, -1))

  // ---- generators / unnest ------------------------------------------------
  // The reference's list workflows (Functions.hs:300-307: splitOn + list
  // heads) unnest via these; used internally by the dedup operators
  // (ops/Dedup.scala) and exposed here as the public DSL surface.
  /** one output row per array element (rows with empty/null arrays drop). */
  def explode(c: Column): Column = F.explode(c)
  /** like [[explode]] but keeps empty/null arrays as a single null row. */
  def explodeOuter(c: Column): Column = F.explode_outer(c)
  /** explode with the element's 0-based position — select as
    * `posexplode(c).as(Seq("pos", "value"))`. */
  def posexplode(c: Column): Column = F.posexplode(c)

  // ---- mergeable distinct sketches (net-new: 100 TB posture) --------------
  // approx_count_distinct (q30) answers one query; at corpus scale the
  // operational shape is different: build a compact HLL sketch per
  // partition/day/source ONCE, persist it as bytes, and answer any
  // later union-of-slices distinct-count by merging sketches — no
  // rescan of the 100 TB. Spark's DataSketches-backed trio
  // (hll_sketch_agg / hll_union_agg / hll_sketch_estimate) is exactly
  // that; estimates are deterministic for a given input multiset, and
  // union-then-estimate equals whole-data-estimate (spec-pinned).
  /** aggregate a column into an HLL sketch (binary, persistable);
    * lgK = log2 of the sketch size (12 → ~2.5 KB, ~1.6% rel. error). */
  def hllSketch(c: Column, lgK: Int = 12): Column =
    F.hll_sketch_agg(c, F.lit(lgK))
  /** merge previously-built sketches (binary column) into one. */
  def hllUnion(c: Column): Column = F.hll_union_agg(c)
  /** distinct-count estimate from a sketch. */
  def hllEstimate(c: Column): Column = F.hll_sketch_estimate(c)

  // Count-min sketch: the frequency complement to the HLL trio — a
  // constant-size depth×width counter grid, point-queryable for ANY
  // key with one-sided error (estimate ≥ truth), mergeable across
  // slices with zip_with(+) and persistable as a plain array<long>
  // column. Portable hash family (charPoly → mix) so a DuckDB oracle
  // replays the grid and the estimates exactly (q156).
  /** aggregate a string column into a count-min sketch
    * (array<long> of depth·width counters, row-major). */
  def cmsSketch(c: Column, depth: Int = 3, width: Int = 1024): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expr.CountMinAgg(
      ColumnBridge.expression(c), depth, width).toAggregateExpression())
  }
  /** merge slice sketches (same depth/width) element-wise. */
  def cmsMerge(a: Column, b: Column): Column = F.zip_with(a, b, _ + _)
  /** frequency estimate of `key` from a sketch column: min over rows of
    * the key's counter. Pure Column arithmetic (portable mixer), so it
    * runs in the scan stage and replays in SQL. */
  def cmsEstimate(sketch: Column, key: Column, depth: Int = 3,
                  width: Int = 1024): Column = {
    val h = graft.ops.TextAnalysis.portableWordHash(key)
    val ests = (0 until depth).map { r =>
      val bucket = F.pmod(graft.api.Frame.portableMix(
        h + F.lit(r.toLong * graft.expr.CountMin.P1)), F.lit(width.toLong))
      F.element_at(sketch, (F.lit(r * width) + bucket + 1).cast("int"))
    }
    F.least(ests: _*)
  }

  // ---- semi-structured (net-new: JSON payload columns) --------------------
  // Event logs and crawl metadata carry JSON-string payload columns;
  // parse them at the scan stage with an explicit schema — never a UDF —
  // so extraction pipelines into whole-stage codegen's surrounding
  // operators and only the requested fields materialize.
  /** schema-on-read: parse a JSON string column with a DDL schema
    * ("k BIGINT, tags ARRAY<STRING>") → struct column. Malformed
    * payloads yield null (permissive), missing keys yield null fields. */
  def parseJson(c: Column, ddl: String): Column =
    F.from_json(c, ddl, Map.empty[String, String])
  /** single-path extraction without a schema: JSONPath → string or null
    * (missing path / malformed payload). Cast at the call site. */
  def jsonGet(c: Column, path: String): Column = F.get_json_object(c, path)
  /** multi-field extraction with ONE parse per row: top-level field
    * names → one string column each (null for missing keys / malformed
    * payloads — same permissive policy as [[parseJson]]). This is the
    * flat-schema fast path: `from_json` is CodegenFallback and each
    * extra [[jsonGet]] re-parses the payload, while `json_tuple`
    * streams the document once for all requested fields. Measured on
    * the q146 shape (1 M events, 2 fields, sf0.1, one-off fresh-session
    * A/B, 7 iters): from_json+get_json_object 0.69 s median,
    * get_json_object×2 0.59 s, json_tuple 0.40 s — identical results.
    * Generator expression: use directly inside `select`, then alias
    * via `.toDF`/`as`. Cast typed fields at the call site. */
  def jsonGetMany(c: Column, fields: String*): Column =
    F.json_tuple(c, fields: _*)
  /** inverse of [[parseJson]]: struct/array/map column → JSON string. */
  def toJsonString(c: Column): Column = F.to_json(c)

  // ---- date (Functions.hs:323-338) ---------------------------------------
  def parseDate(c: Column, fmt: String): Column = F.to_date(c, fmt)
  def daysBetween(start: Column, end: Column): Column = F.datediff(end, start)

  // ---- aggregates (Functions.hs:150-240) ----------------------------------
  /** reference `count` counts ALL rows incl. nulls (Functions.hs:150-151);
    * Spark's count(col) skips nulls, so use count(1). */
  def countAll: Column = F.count(F.lit(1))
  def collect(c: Column): Column = F.collect_list(c)
  /** exact interpolated percentile, p in [0,100] (Statistics.hs:140-168). */
  def percentile(c: Column, p: Double): Column = F.percentile(c, F.lit(p / 100.0))
  /** approximate percentile (Greenwald-Khanna sketch) — the 100 TB scale
    * path when the exact sort-based percentile's shuffle is too heavy;
    * `accuracy` trades memory for error (err ≤ 1/accuracy). */
  def percentileApprox(c: Column, p: Double, accuracy: Int = 10000): Column =
    F.percentile_approx(c, F.lit(p / 100.0), F.lit(accuracy))
  def median(c: Column): Column = F.median(c)
  def mode(c: Column): Column = F.mode(c)

  // zScore lives on Frame (Frame.zScore): the reference's un-grouped
  // aggregate broadcast back to rows (Functions.hs:222-223) needs an
  // aggregate-then-broadcast-crossJoin plan; a Column-level formulation
  // would force a global Window = the whole table in ONE task at scale.

  // ---- decimal-exact aggregation helpers ----------------------------------
  // Double sums are order-dependent (Spark's partial-aggregation order is
  // nondeterministic across runs), which breaks hash-comparison against any
  // oracle AND across our own runs. Aggregating through DecimalType is exact
  // and associative; cast to double only at the very end. At 100 TB this is
  // also the right call: deterministic re-runs and no precision drift.
  //
  // Sizing: per-row values must fit decimal(18,6) (|x| < 1e12, long-backed
  // "compact" decimals — ~2× faster than wider decimals); the sum's result
  // type decimal(28,6) holds ~1e22, i.e. 10^12 rows of 10^5-sized values
  // per group before overflow — safe at 100 TB.
  def dsum(c: Column): Column = F.sum(c.cast("decimal(18,6)"))
  /** exact sum as double — same per-row decimal(18,6) rounding as
    * [[dsum]], accumulated in graft's codegen'd 128-bit register
    * instead of Spark's BigDecimal-backed decimal(28,6) sum buffer
    * (bit-identical results, ~3× faster on agg-bound queries; see
    * [[graft.expr.Int128SumMicros]]). */
  def dsumD(c: Column): Column = graft.expr.AggregateExpressions.dsum128(c)
  def davg(c: Column): Column =
    (dsumD(c) / F.count(F.when(c.isNotNull, 1)))

  /** fast nondeterministic double sum (order-dependent in the last ulps,
    * like any parallel engine's SUM(double)) — use when throughput matters
    * more than bit-reproducibility. */
  def fsum(c: Column): Column = F.sum(c.cast("double"))
}
