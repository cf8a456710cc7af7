package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{AbstractDataType, DataType, StructType, TypeCollection}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DataFrame-from-InternalRow bridge. `internalCreateDataFrame` is
  * `private[sql]` in Spark 4; exposing it from this subpackage lets
  * graft build frames from UnsafeRow RDDs without the Row-encoder
  * round trip (used by Frame.indexed — see the rationale there). */
object InternalBridge {
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Spark's own DIVIDE_BY_ZERO error (`QueryExecutionErrors` is
    * `private[sql]`), for kernels that follow `Divide`'s ANSI rule. */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Block until Spark's asynchronous listener bus has delivered every
    * queued event (`listenerBus` is `private[spark]`), so a listener
    * read afterwards has seen every job that already ran. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** An `ExpectsInputTypes` entry that accepts any of `types`
    * (`TypeCollection` is `private[sql]`). */
  def anyOf(types: DataType*): AbstractDataType = TypeCollection(types: _*)
}
