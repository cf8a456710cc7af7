package graft.tools

import graft.Runtime

/** Single-query A/B bench: `runMain graft.tools.QBench q46_simhash [iters]`.
  *
  * Same session and noop-sink run as [[graft.Bench]], but ONE query in a
  * fresh session: in the shared-session battery, co-resident queries
  * shift GC and codegen-cache state, so a per-query delta there cannot
  * be attributed. Use this before calling any per-query number a
  * regression or an improvement. Prints one `QBENCH {...}` line, which
  * `scripts/ab_bench.sh` greps for its median.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QBench <queryName> [iters]")
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 7
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val spark = Runtime.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Per-run wall, GC and steal: an outlier whose extra wall time is
    // its extra collector time is heap pressure; one whose steal
    // jiffies spike is the hypervisor throttling the VM; neither is a
    // plan cost. The three need different responses (plan fix / heap
    // fix / discard the sample).
    def once(): (Double, Double, Long) = {
      val g0 = Runtime.gcMillis(); val s0 = Runtime.hostState()._1
      val dt = Runtime.runNoop(spark)(fn(spark, sfDir)).toTry.get
      (dt, (Runtime.gcMillis() - g0) / 1e3, Runtime.hostState()._1 - s0)
    }
    once() // warm-up: codegen + JIT
    val raw = Seq.fill(iters)(once())
    val ts = raw.map(_._1).sorted
    val med = ts(ts.length / 2)
    val itersStr = raw.map { case (t, g, st) => f"[$t%.2f,$g%.2f,$st%d]" }
      .mkString("[", ",", "]")
    println(f"""QBENCH {"query":"$name","median":$med%.3f,"min":${ts.head}%.3f,"max":${ts.last}%.3f,"iters":$iters,"sec_gc_steal":$itersStr,"sf":"$sfDir"}""")
    spark.stop()
  }
}
