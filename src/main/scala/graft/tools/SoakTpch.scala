package graft.tools

import graft.Runtime
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Relational-macro soak at sf1-equivalent scale: the sf fixtures stop
  * at sf0.1 (~600 k lineitem rows), so this main replicates the TPC-H
  * tables `SPARK_GRAFT_SOAK_COPIES`× (default 10 → ~6 M lineitem rows)
  * with consistent KEY OFFSETS (orderkey / custkey / suppkey shift by
  * copy×10⁹ in every table that carries them, so join cardinalities
  * scale linearly and no cross-copy edges appear), writes them under
  * the fixture layout, and re-runs the REGISTRY macro queries
  * unchanged against the scaled directory. Dimension tables (nation /
  * region) stay single-copy — exactly how a real scale-up behaves, and
  * what keeps them broadcastable.
  *
  * Proves the macro plans' scale posture the sf0.1 bench can't: the
  * broadcast dims stay broadcast, the fact-fact joins stay shuffle
  * equi-joins, and wall-times must scale ~linearly with the fact
  * tables. One JSON line appends to SOAK_LOCAL.json.
  *
  * Run: SPARK_GRAFT_SOAK_COPIES=10 sbt "runMain graft.tools.SoakTpch"
  */
object SoakTpch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SOAK_COPIES", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_DIR", "/tmp/soak_tpch")
    val spark = Runtime.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val K = 1_000_000_000L
    def replicate(df: DataFrame, keys: String*): DataFrame =
      (0 until copies).map { k =>
        keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * K)))
      }.reduce(_ unionAll _)

    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")

    // SPARK_GRAFT_SOAK_REUSE=1 skips the table rewrite when the scaled
    // dir already exists — replication is deterministic (same copies →
    // same bytes), so adjudication re-runs (the ITERS protocol) can
    // re-time queries without paying the ~2 min write each time.
    val reuse = sys.env.get("SPARK_GRAFT_SOAK_REUSE").contains("1") &&
      new java.io.File(s"$out/lineitem.parquet").exists()
    if (!reuse) {
      write(replicate(graft.Tables.customer(spark, sfDir), "c_custkey"), "customer")
      write(replicate(graft.Tables.supplier(spark, sfDir), "s_suppkey"), "supplier")
      write(replicate(graft.Tables.orders(spark, sfDir), "o_orderkey", "o_custkey"), "orders")
      write(replicate(graft.Tables.lineitem(spark, sfDir),
        "l_orderkey", "l_suppkey"), "lineitem")
      write(graft.Tables.nation(spark, sfDir), "nation")
      write(graft.Tables.region(spark, sfDir), "region")
      write(graft.Tables.part(spark, sfDir), "part")
    }
    val nLi = spark.read.parquet(s"$out/lineitem.parquet").count()

    // SPARK_GRAFT_SOAK_ITERS > 1 switches from single-shot timings
    // (cliff/OOM bounding) to median-of-N with min/max spread — the
    // adjudication mode for single-iteration variance (q109's 14-37 s
    // band across identical 40-copy runs was GC/load noise, which only
    // repeated same-session runs can demonstrate).
    val iters = sys.env.getOrElse("SPARK_GRAFT_SOAK_ITERS", "1").toInt
    def once(name: String): Double =
      Runtime.runNoop(spark)(graft.SparkEntry.queries(name)(spark, out)).toTry.get
    def time(name: String): (String, Double, Double, Double) = {
      // Adjudication mode only: GC between iterations (the Bench
      // inter-query protocol) so a previous iteration's garbage can't
      // charge its collection pause to the next timing — single-shot
      // soaks keep the raw ambient-pressure number.
      val ts = Seq.fill(iters) {
        if (iters > 1) { System.gc(); Thread.sleep(200) }
        once(name)
      }.sorted
      (name, ts(ts.length / 2), ts.head, ts.last)
    }
    // Full TPC-H battery + the two reference-flavor macros. Override
    // with a comma-separated SPARK_GRAFT_SOAK_QUERIES for targeted
    // adjudication runs (the ITERS>1 A/B protocol).
    val defaultMacros = Seq("q01_groupby_agg", "q12_join_star",
      "q137_tpch_q1", "q130_tpch_q2", "q73_tpch_q3", "q121_tpch_q4",
      "q74_tpch_q5", "q122_tpch_q6", "q115_tpch_q7", "q131_tpch_q8",
      "q132_tpch_q9", "q114_tpch_q10", "q133_tpch_q11", "q134_tpch_q12",
      "q123_tpch_q13", "q116_tpch_q14", "q127_tpch_q15", "q135_tpch_q16",
      "q124_tpch_q17", "q108_tpch_q18", "q117_tpch_q19", "q136_tpch_q20",
      "q109_tpch_q21", "q125_tpch_q22")
    val macros = sys.env.get("SPARK_GRAFT_SOAK_QUERIES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(defaultMacros)
    val results = macros.map(time)

    val rt = java.lang.Runtime.getRuntime
    val heapUsedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    val spread =
      if (iters > 1)
        results.map { case (n, _, lo, hi) => f""""$n":[$lo%.2f,$hi%.2f]""" }
          .mkString(""","iters":""" + iters + ""","spread":{""", ",", "}")
      else ""
    val json =
      s"""{"soak":"tpch","copies":$copies,"lineitem_rows":$nLi,""" +
        results.map { case (n, t, _, _) => f""""$n":$t%.2f""" }.mkString(",") +
        spread + s""","heap_used_mb":$heapUsedMb}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SOAK_LOCAL.json"), json + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
  }
}
