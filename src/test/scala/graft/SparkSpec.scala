package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** shared local session (one per suite — lazy, 4 threads, AQE on). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Runtime.session(4)

  val sfSmoke = "/root/testdata/sf0.001"
}
