package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Io, Macro, Pipeline, Q, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator-coverage registry (one entry per implemented
  * operator family from SURVEY.md §2 plus the pipeline extensions);
  * `oracleSql` carries the DuckDB-equivalent SQL for the hash-match gate.
  */
object SparkEntry {

  /** Every query in declaration order; [[queries]] is its unordered view. */
  private[graft] val registry: Seq[(String, Q)] =
    Relational.registry ++ Pipeline.registry ++ Io.registry ++ Macro.registry

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.registry.head._2.fn(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.fn }.toMap

  def oracleSql: Map[String, String] =
    registry.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }.toMap
}
