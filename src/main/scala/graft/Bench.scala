package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main: times the battery (the two BASELINE.md macros, then
  * every registry query flagged `bench`, in registry order) on
  * SPARK_GRAFT_SF_DIR. Prints the full JSON record
  * {"metric":"total","value":N,"unit":"sec","queries":{...},...}, writes
  * it to SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL.json), then prints
  * one compact summary line.
  *
  * Each row runs into the noop sink through [[Runtime.repeat]]: one
  * warm-up (whole-stage codegen compiles a fresh class per novel plan
  * and C2 JIT needs one pass; at this data size that would dominate a
  * cold measurement), one discarded run, then SPARK_GRAFT_ITERS
  * measured runs (default 5), reporting the MEDIAN: a single
  * steady-state run cannot tell a plan regression from GC/session
  * noise. Per-query min/max go to `spread`.
  * A shared-session median can still mislead across commits
  * (co-resident queries shift GC and codegen-cache state): attribute a
  * per-query delta only with [[tools.QBench]] / `scripts/ab_bench.sh`.
  *
  * A row that throws is printed to stderr, reported as -1 in `queries`,
  * named in `failed`, and left out of `value`.
  */
object Bench {

  type Query = (SparkSession, String) => DataFrame

  /** BASELINE.md macro-benchmarks ported to the driver tables; they have
    * no oracle, so they are not registry queries. */
  val baselines: Seq[(String, Query)] = Seq(
    // reference benchmark/Main.hs:41-79 groupBy+min/max, on lineitem
    "bench_groupby_minmax" -> ((s: SparkSession, d: String) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
        .agg(min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))),
    // reference examples/OneBillionRowChallenge.hs:21-43 min/mean/max, on events
    "bench_1brc" -> ((s: SparkSession, d: String) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(min("value").as("min_v"), avg("value").as("mean_v"), max("value").as("max_v"))))

  /** The timed rows: the baselines, then every registry query flagged
    * `bench`, in registry order. */
  def battery: Seq[(String, Query)] =
    baselines ++ SparkEntry.registry.collect { case (n, q) if q.bench => n -> q.fn }

  /** (median, min, max) seconds per row, or None for a row that threw. */
  type Results = Seq[(String, Option[(Double, Double, Double)])]

  /** Times each row (warm-up, discard-first, then `iters` runs); a row
    * stops at its first failure, which goes to stderr. */
  def runBattery(spark: SparkSession, sfDir: String, iters: Int,
                 rows: Seq[(String, Query)]): Results =
    rows.map { case (name, fn) =>
      // warm-ups: the codegen/JIT one, then discard-first. After the
      // codegen/JIT warm-up the first measured run of the composed
      // pipelines was still up to 2.7x their median (shuffle-file/
      // page-cache warm-up the noop re-run does not share).
      val r = Runtime.repeat(spark, warmups = 2, iters)(Runtime.noop(fn(spark, sfDir)))
        .map(runs => Runtime.medianMinMax(runs.map(_.sec)))
      r.left.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      // Full GC between queries: Spark's ContextCleaner reclaims
      // broadcast/shuffle/accumulator state only when driver GC runs,
      // and with a large heap GC is rare, so a long battery otherwise
      // accumulates earlier queries' state and inflates later medians.
      // GC time sits between queries, never inside a measured run.
      System.gc()
      name -> r.toOption
    }

  /** The full JSON record and the compact final line (value, counts,
    * failed names, output file), kept well under 2,000 chars for
    * consumers that keep only the tail of stdout. */
  def report(results: Results, host: String, iters: Int, sfDir: String,
             out: String): (String, String) = {
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val timed = results.collect { case (k, Some(r)) => k -> r }
    val failed = results.collect { case (k, None) => k }
    val qs = obj(results.map { case (k, r) => k -> r.fold(-1.0)(_._1).toString })
    val spread = obj(results.map { case (k, r) =>
      k -> r.fold("[-1.0,-1.0]") { case (_, lo, hi) => s"[$lo,$hi]" } })
    // Outlier flag (an adjudication aid, not a gate): a >3x min-to-max
    // spread that moves >0.3 s means at least one run absorbed external
    // load (GC storm, co-resident process). The 0.3 s floor keeps
    // sub-second queries from tripping the ratio on scheduler jitter.
    val outliers = obj(timed.collect {
      case (k, (_, lo, hi)) if hi > 3 * lo && hi - lo > 0.3 => k -> s"[$lo,$hi]" })
    val total = timed.map(_._2._1).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"outliers":$outliers,"host":$host,"iters":$iters,"sf":"$sfDir","failed":${names(failed)}}"""
    // at most 20 names, so the line stays short when the whole battery
    // fails; n_failed is exact and the file names every failure
    val compact =
      s"""{"metric":"total","value":$total,"n":${timed.size},"n_failed":${failed.size},"failed":${names(failed.take(20))},"out":"$out"}"""
    (json, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Runtime.sfDir
    val spark = Runtime.session(Runtime.cpus)
    // A median of 5 tolerates two runs contaminated by external machine
    // load; a median of 3 tolerates one.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "5").toInt

    // SPARK_GRAFT_BENCH_ONLY=q186_...,q211_... restricts the run (the
    // sf1 lane runs only the most expensive queries). Unknown names fail
    // fast: a typo would otherwise run zero queries and overwrite
    // BENCH_LOCAL.json with an empty battery.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(battery.map(_._1).toSet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the bench battery: " +
          unknown.toSeq.sorted.mkString(", "))
      require(names.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but empty")
    }
    val selected = battery.filter { case (n, _) => only.forall(_(n)) }

    val hostStart = Runtime.hostState()
    val wallStart = System.nanoTime()
    val results = runBattery(spark, sfDir, iters, selected)
    val hostEnd = Runtime.hostState()
    // The artifact describes its own session. steal_sec is CPU the
    // hypervisor withheld across the whole battery (whole-machine):
    // tens of seconds is an idle host, hundreds+ means the medians are
    // contaminated (discard and re-run). loadavg start/end bounds
    // co-resident pressure the same way.
    val host =
      f"""{"steal_sec":${(hostEnd._1 - hostStart._1) / 100.0}%.1f,""" +
        f""""loadavg_start":${hostStart._2}%.2f,"loadavg_end":${hostEnd._2}%.2f,""" +
        f""""wall_sec":${(System.nanoTime() - wallStart) / 1e9}%.1f}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val (json, compact) = report(results, host, iters, sfDir, out)
    // stdout AND a file: sbt prefixes stdout with [info], which breaks
    // line-oriented JSON parsing downstream; the file copy is canonical.
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(compact)
    spark.stop()
  }
}
