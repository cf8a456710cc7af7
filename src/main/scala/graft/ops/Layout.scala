package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout tooling — at 100 TB the write layout IS the read
  * plan: parquet footers carry per-file/rowgroup min-max stats, and a
  * scan prunes every file whose stats exclude the predicate. Sorting
  * by one column gives perfect pruning on that column and none on any
  * other; a Z-ORDER (Morton) curve interleaves the bits of several
  * columns so every file covers a narrow range of EACH — multi-column
  * data skipping from one layout pass.
  *
  * Also here: small-file compaction. Streaming/partitioned ingestion
  * leaves thousands of KB-sized files; at scale the driver drowns in
  * footer reads and task scheduling. Compaction rewrites to
  * size-targeted files — run it as the standing maintenance job.
  */
object Layout {

  private val Z = "__graft_zval"

  /** Morton interleave of `cols`, each uniform-bucketed into 2^bits
    * buckets over its observed [min, max]. Runs ONE small aggregate job
    * at call time to fetch the min/max bounds (write-side utility — an
    * eager stats pass is the norm for layout jobs). Nulls land in
    * bucket 0 (files containing nulls stay prunable for non-null
    * predicates via parquet null-counts). */
  def zorderValue(df: DataFrame, cols: Seq[String], bits: Int = 16): Column = {
    require(cols.size >= 2, "zorderValue: need at least 2 columns")
    require(bits * cols.size <= 62, "zorderValue: bits * cols must be <= 62")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"mn_$c"),
      max(col(c).cast("double")).as(s"mx_$c")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val n = 1L << bits
    val bucketCols = cols.zipWithIndex.map { case (c, ci) =>
      if (bounds.isNullAt(2 * ci)) lit(0L) // all-null column
      else {
        val mn = bounds.getDouble(2 * ci); val mx = bounds.getDouble(2 * ci + 1)
        if (mn == mx) lit(0L)
        else {
          val b = floor((col(c).cast("double") - lit(mn)) / lit(mx - mn) *
            lit(n.toDouble)).cast("long")
          coalesce(least(greatest(b, lit(0L)), lit(n - 1)), lit(0L))
        }
      }
    }
    var z: Column = lit(0L)
    for (i <- 0 until bits; (b, j) <- bucketCols.zipWithIndex)
      z = z.bitwiseOR(shiftleft(
        shiftright(b, i).bitwiseAND(lit(1L)), i * cols.size + j))
    z
  }

  /** Range-partition into `numFiles` output files along the Z-curve and
    * sort within each — every file then spans a contiguous Z range,
    * i.e. a small hyper-rectangle of the column space. Pair with
    * `Frame.writeParquet`. */
  def zorderBy(df: DataFrame, cols: Seq[String], numFiles: Int,
               bits: Int = 16): DataFrame = {
    require(numFiles >= 1, "zorderBy: numFiles must be >= 1")
    df.withColumn(Z, zorderValue(df, cols, bits))
      .repartitionByRange(numFiles, col(Z))
      .sortWithinPartitions(Z)
      .drop(Z)
  }

  /** total bytes + file count of the parquet data files under `path`. */
  def parquetFootprint(spark: SparkSession, path: String): (Long, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var bytes = 0L; var files = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        bytes += f.getLen; files += 1
      }
    }
    (bytes, files)
  }

  /** Rewrite the parquet dataset at `src` into `dst` as
    * ceil(totalBytes / targetFileBytes) files (coalesce when shrinking
    * the file count — no shuffle; repartition only when growing it).
    * Returns (filesBefore, filesAfter).
    *
    * For a hive-partitioned dataset pass `partitionBy` — a plain
    * rewrite would flatten the directory layout into data columns and
    * every downstream partition-pruned read would full-scan. With
    * `partitionBy` the rewrite repartitions on the partition columns
    * (files-per-directory ≈ total target count spread over
    * directories) and writes the same layout back. */
  def compactParquet(spark: SparkSession, src: String, dst: String,
                     targetFileBytes: Long,
                     partitionBy: Seq[String] = Nil): (Int, Int) = {
    require(targetFileBytes > 0, "compactParquet: targetFileBytes must be > 0")
    require(src != dst, "compactParquet: dst must differ from src " +
      "(in-place rewrite would destroy the source on job failure)")
    val (bytes, before) = parquetFootprint(spark, src)
    val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = graft.Tables.readParquet(spark, src)
    val out =
      if (partitionBy.nonEmpty)
        df.repartition(want, partitionBy.map(org.apache.spark.sql.functions.col): _*)
      else if (want < before) df.coalesce(want)
      else df.repartition(want)
    val w = out.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dst)
    val (_, after) = parquetFootprint(spark, dst)
    (before, after)
  }
}
