package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.adaptive.{ShufflePartitionsUtil, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf
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

  /** True when these materialized shuffle stages have one partition
    * each, or AQE's partition coalescing (`CoalesceShufflePartitions`)
    * would read them as ONE partition: the same
    * `ShufflePartitionsUtil.coalescePartitions` call with the same
    * advisory size, minimum partition count and minimum partition size
    * (the `SQLConf` entries are `private[spark]`). */
  def coalescesToOne(stages: Seq[ShuffleQueryStageExec], session: SparkSession): Boolean =
    stages.forall(_.shuffle.numPartitions == 1) || {
      val conf = SQLConf.get
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          session.sparkContext.defaultParallelism
        else 1)
      val advisory = stages.flatMap(_.advisoryPartitionSize).headOption
        .getOrElse(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      val specs = ShufflePartitionsUtil.coalescePartitions(
        stages.map(_.mapStats), stages.map(_ => None), advisory, math.max(minNum, 1),
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      specs.nonEmpty && specs.forall(_.size == 1)
    }
}
