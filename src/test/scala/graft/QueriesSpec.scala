package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.Stats
import org.apache.spark.sql.functions._

/** registry smoke: every declared query runs and returns rows at sf0.001
  * (the DuckDB hash gate runs via scripts/check.py — see the verify skill). */
class QueriesSpec extends SparkSpec {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle query has matching column sets promised by its SQL") {
    // cheap structural check: every query referenced by oracleSql exists
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracleSql for unknown query $k")
    }
  }

  test("Runtime.session(n): n shuffle partitions, UTC, graft functions resolve") {
    try {
      val s = Runtime.session(3)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.sql("SELECT graft_dot(array(1.0D), array(1.0D))").head().getDouble(0) == 1.0)
    } finally Runtime.session(4)
  }

  test("Runtime.repeat: warm-ups are run and dropped; the first failure stops it") {
    var calls = 0
    val runs = Runtime.repeat(spark, warmups = 2, iters = 3) { calls += 1; calls }
    assert(calls == 5 && runs.toOption.get.map(_.value) == Seq(3, 4, 5))
    calls = 0
    val failed = Runtime.repeat(spark, warmups = 1, iters = 3) {
      calls += 1; throw new IllegalStateException("boom")
    }
    assert(calls == 1 && failed.left.toOption.get.getMessage == "boom")
  }

  test("Runtime.run releases a frame pinned inside the run") {
    val r = Runtime.run(spark)(spark.range(100).localCheckpoint().count())
    assert(r.toOption.get.value == 100)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("Runtime.JobLog: one job per RDD count(), each with the description set") {
    val sc = spark.sparkContext
    val (_, jobs) = Runtime.JobLog.during(spark) {
      (1 to 3).foreach { i =>
        sc.setJobDescription(s"count $i")
        sc.parallelize(1 to 10, 2).count()
      }
      sc.setJobDescription(null)
    }
    assert(jobs.map(_.desc) == Seq("count 1", "count 2", "count 3"))
    assert(jobs.forall(j => j.wallMs >= 0 && j.stages == 1 && j.tasks == 2))
  }

  test("Tables.readParquet memoises the schema by file identity and inference confs") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.types.LongType
    Tables.lineitem(spark, sfSmoke)
    val (again, jobs) = Runtime.JobLog.during(spark)(Tables.lineitem(spark, sfSmoke))
    assert(jobs.isEmpty, s"a memoised load launched $jobs")
    assert(again.schema == spark.read.parquet(s"$sfSmoke/lineitem.parquet").schema)

    val dir = Files.createTempDirectory("graft_schema_memo")
    // one table file overwritten in place by another table's parquet
    val file = dir.resolve("t.parquet")
    Files.copy(Paths.get(s"$sfSmoke/nation.parquet"), file)
    assert(Tables.readParquet(spark, file.toString).columns.contains("n_name"))
    val mtime = file.toFile.lastModified
    Files.copy(Paths.get(s"$sfSmoke/region.parquet"), file,
      StandardCopyOption.REPLACE_EXISTING)
    assert(file.toFile.setLastModified(mtime + 10000))
    assert(Tables.readParquet(spark, file.toString).columns.toSeq ==
      spark.read.parquet(s"$sfSmoke/region.parquet").columns.toSeq)

    // a Spark-written directory overwritten with another schema
    val out = dir.resolve("d").toString
    spark.range(3).toDF("a").write.parquet(out)
    assert(Tables.readParquet(spark, out).columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS b", "'x' AS c").write.mode("overwrite").parquet(out)
    assert(Tables.readParquet(spark, out).columns.toSeq == Seq("b", "c"))

    // TIMESTAMP(NANOS) infers as long only under nanosAsLong; Spark
    // refuses it otherwise, so a reused schema would hide the refusal
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val nanosType = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val nanos = dir.resolve("nanos.parquet").toString
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(nanos))
      .withType(nanosType).build()
    w.write(new SimpleGroupFactory(nanosType).newGroup().append("ts", 1L))
    w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.readParquet(spark, nanos).schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      intercept[AnalysisException](Tables.readParquet(spark, nanos))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bench battery is exactly the rows of the committed BENCH_LOCAL.json") {
    val committed = new ObjectMapper().readTree(new java.io.File("BENCH_LOCAL.json"))
      .get("queries").fieldNames.asScala.toSeq
    val battery = Bench.battery.map(_._1)
    assert(committed.size == 139 && battery.size == 139)
    assert(battery.toSet == committed.toSet)
  }

  test("bench battery: a throwing row is named in failed and left out of value") {
    val good: Bench.Query = (s, _) => s.range(10).toDF()
    val bad: Bench.Query = (s, _) => s.range(10).select(raise_error(lit("boom")))
    val results = Bench.runBattery(spark, sfSmoke, 1, Seq("good" -> good, "bad" -> bad))
    val (json, compact) = Bench.report(results, "{}", 1, sfSmoke, "out.json")
    val full = new ObjectMapper().readTree(json)
    val line = new ObjectMapper().readTree(compact)
    val goodMedian = full.get("queries").get("good").asDouble
    assert(goodMedian > 0 && full.get("queries").get("bad").asDouble == -1.0)
    for (j <- Seq(full, line)) {
      assert(j.get("failed").elements.asScala.map(_.asText).toSeq == Seq("bad"))
      assert(j.get("value").asDouble == goodMedian)
    }
    assert(line.get("n").asInt == 1 && line.get("n_failed").asInt == 1)
    assert(line.get("out").asText == "out.json" && compact.length < 2000)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name returns rows at sf0.001") {
      assert(fn(spark, sfSmoke).count() > 0, s"$name returned 0 rows")
    }
  }

  test("v8 state-path ingest reproduces the v7 recompute ingest exactly " +
    "(q231 ≡ q225 row-for-row)") {
    // the persisted-state differential: q225 recomputes the seen side
    // (clean + shingles + pack seed) from the old snapshot; q231 reads
    // every seen-side input from the materialized v8 state tables. Any
    // divergence — a wrong state write, a stale manifest seed, a
    // shingle-array corruption — shifts dups/survivors/offsets and
    // breaks this row-for-row equality.
    val a = SparkEntry.queries("q225_pipeline_v7")(spark, sfSmoke)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q231_v8_ingest_state")(spark, sfSmoke)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("stats helpers: moments, MI, skewness") {
    val li = Tables.lineitem(spark, sfSmoke)
    val row = li.agg(
      Stats.mean(col("l_quantity")), Stats.variance(col("l_quantity")),
      Stats.skewness(col("l_quantity")), Stats.skewnessRef(col("l_quantity")),
      Stats.correlation(col("l_quantity"), col("l_extendedprice")),
      Stats.meanSquaredError(col("l_quantity"), col("l_quantity") * 1.1),
      Stats.interQuartileRange(col("l_quantity"))).head()
    assert(row.getDouble(0) > 0 && row.getDouble(1) > 0)
    // both skewness estimators near 0 for near-uniform quantity, same sign region
    assert(math.abs(row.getDouble(2)) < 0.5 && math.abs(row.getDouble(3)) < 0.5)
    assert(row.getDouble(4).abs <= 1.0)
    assert(row.getDouble(5) > 0)
    assert(row.getDouble(6) > 0)
    val mi = Stats.mutualInformationBinned(
      li.select(col("l_quantity"), col("l_extendedprice")), "l_quantity", "l_extendedprice", 8)
    assert(mi >= 0.0)
    val miSelf = Stats.mutualInformationBinned(
      li.select(col("l_quantity"), col("l_quantity").as("q2")), "l_quantity", "q2", 8)
    assert(miSelf > mi) // a column carries more information about itself
  }

  test("plot-data surfaces: boxplot, correlation matrix, heatmap, ascii") {
    val li = Tables.lineitem(spark, sfSmoke)
    val box = Stats.boxPlotStats(li, "l_quantity", "l_returnflag")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(box.nonEmpty)
    box.values.foreach { r =>
      // v_min <= q1 <= median <= q3 <= v_max; whiskers bracket the IQR
      assert(r.getDouble(1) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3)
        && r.getDouble(3) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(5))
      assert(r.getDouble(7) <= r.getDouble(2) && r.getDouble(8) >= r.getDouble(4))
      assert(r.getLong(10) >= 0 && r.getLong(10) < r.getLong(9))
    }
    val cm = Stats.correlationMatrix(li,
      Seq("l_quantity", "l_extendedprice", "l_discount")).collect()
    assert(cm.length == 3 && cm.forall(r => math.abs(r.getDouble(2)) <= 1.0))
    // decimal-exact-moment corr tracks Spark's built-in estimator
    // (tolerance = the 4-6 dp per-row quantization of the moment sums)
    val qp = cm.find(r => r.getString(0) == "l_quantity" &&
      r.getString(1) == "l_extendedprice").get.getDouble(2)
    val builtin = li.agg(corr(col("l_quantity"), col("l_extendedprice")))
      .head().getDouble(0)
    assert(math.abs(qp - builtin) < 1e-3, s"$qp vs $builtin")
    val hm = Stats.heatmapBins(li, "l_quantity", "l_extendedprice", 6)
      .collect()
    assert(hm.map(_.getLong(2)).sum == li.count())
    assert(hm.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 6 &&
      r.getLong(1) >= 0 && r.getLong(1) < 6))
    val art = Stats.asciiHeatmap(li, "l_quantity", "l_extendedprice", 6)
    assert(art.linesIterator.size == 6)
  }

  test("plot-data surfaces: scatter, lines, bars top-n / percentages") {
    val li = Tables.lineitem(spark, sfSmoke)
    val n = li.count()
    // scatter: pure projection, nulls dropped, optional group column
    val sc = Stats.scatterData(li, "l_quantity", "l_extendedprice",
      group = Some("l_returnflag"))
    assert(sc.columns.toSeq == Seq("x", "y", "group") && sc.count() == n)
    // deterministic content-hash downsample: stable across reruns, ~pct
    val thin1 = Stats.scatterData(li, "l_quantity", "l_extendedprice",
      samplePct = 10.0)
    val thin2 = Stats.scatterData(li, "l_quantity", "l_extendedprice",
      samplePct = 10.0)
    val c1 = thin1.count()
    assert(c1 == thin2.count() && c1 > n / 20 && c1 < n / 5)
    // lines: long (x, series, value) — one row per (row, y column)
    val ln = Stats.linesData(li.limit(50), "l_orderkey",
      Seq("l_quantity", "l_discount"))
    assert(ln.columns.toSeq == Seq("l_orderkey", "series", "value"))
    assert(ln.count() == 100)
    assert(ln.select("series").distinct().count() == 2)
    // bars: top-n of the grouped counts; percentages sum to ~100
    val f = graft.api.Frame(li)
    val top = f.barsTopN("l_returnflag", 2).collect()
    assert(top.length == 2 && top(0).getLong(1) >= top(1).getLong(1))
    val pcts = f.barsWithPercentages("l_returnflag")
      .agg(sum(col("percentage")), max(col("pct_label"))).head()
    assert(math.abs(pcts.getDouble(0) - 100.0) < 1e-9)
    assert(pcts.getInt(1) <= 100)
  }
}
