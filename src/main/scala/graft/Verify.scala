package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional trailing args: run only these queries (local iteration;
    // the driver always passes exactly two args → full run).
    //
    // Queries whose ORACLE reads another query's dump (the
    // __GRAFT_OUT__/<name> convention, e.g. q221 over q220's parquet)
    // are force-included with their dependencies: running q221 alone
    // would otherwise read a MISSING dump (visible error) or — worse —
    // a STALE dump from a prior run at a different SF, silently
    // feeding the oracle wrong doubles. Derived from the SQL itself
    // (no hand-kept map to drift), closed transitively.
    val depRe = "__GRAFT_OUT__/([A-Za-z0-9_]+)".r
    def depsOf(n: String): Set[String] = SparkEntry.oracleSql.get(n)
      .toSeq.flatMap(depRe.findAllMatchIn(_).map(_.group(1))).toSet - n
    def closure(s: Set[String]): Set[String] = {
      val next = s ++ s.flatMap(depsOf)
      if (next == s) s else closure(next)
    }
    val only =
      if (args.length <= 2) Set.empty[String] else closure(args.drop(2).toSet)
    val spark = Runtime.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __GRAFT_OUT__ resolves to this run's dump directory: it lets an
    // oracle replay composition logic over a column only Spark can
    // compute (q221 reads q220's materialized zlib ratios — the
    // two-paths/one-truth split one level up from q152's). Absolute,
    // because the driver's DuckDB may run with a different cwd.
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
