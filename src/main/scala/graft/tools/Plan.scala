package graft.tools

import graft.Runtime
import org.apache.spark.sql.execution.ExplainMode

/** Plan dumper: `runMain graft.tools.Plan <outDir> <query1> [query2 ...]`.
  *
  * Writes `<outDir>/<query>.txt` with the `explain("formatted")` output of
  * each named registry query, under the same session config as
  * [[graft.Bench]] — the audit artifact for plan-shape claims (Exchange
  * count, join strategy, PushedFilters/ReadSchema, codegen spans). The
  * dump is the pre-execution plan (`AdaptiveSparkPlan isFinalPlan=false`);
  * AQE-final shapes are attributed separately when a claim depends on them.
  */
object Plan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Plan <outDir> <query...>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = Runtime.sfDir
    val spark = Runtime.session(Runtime.cpus)
    args.drop(1).foreach { name =>
      val df = Runtime.query(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(outDir.resolve(name + ".txt"), txt)
      // checkpoint hygiene (some queries pin frames while BUILDING the plan)
      Runtime.release(spark)
      println(s"[plan] wrote $name (${txt.length} chars)")
    }
    spark.stop()
  }
}
