package graft.tools

import graft.Runtime

/** Single-query A/B bench: `runMain graft.tools.QBench q46_simhash [iters]`.
  *
  * Same session and noop-sink run as [[graft.Bench]], but ONE query in a
  * fresh session: in the shared-session battery, co-resident queries
  * shift GC and codegen-cache state, so a per-query delta there cannot
  * be attributed. Use this before calling any per-query number a
  * regression or an improvement. Prints one `QBENCH {...}` line, which
  * `scripts/ab_bench.sh` greps for its median, with each run's wall, GC
  * seconds and steal jiffies ([[graft.Runtime.Run]]).
  */
object QBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QBench <queryName> [iters]")
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 7
    val sfDir = Runtime.sfDir
    val fn = Runtime.query(name)
    val spark = Runtime.session(Runtime.cpus)
    // one warm-up: codegen + JIT
    val runs = Runtime.repeat(spark, warmups = 1, iters)(Runtime.noop(fn(spark, sfDir))).toTry.get
    val (med, lo, hi) = Runtime.medianMinMax(runs.map(_.sec))
    val itersStr = runs.map(r => f"[${r.sec}%.2f,${r.gcSec}%.2f,${r.steal}%d]")
      .mkString("[", ",", "]")
    println(f"""QBENCH {"query":"$name","median":$med%.3f,"min":$lo%.3f,"max":$hi%.3f,"iters":$iters,"sec_gc_steal":$itersStr,"sf":"$sfDir"}""")
    spark.stop()
  }
}
