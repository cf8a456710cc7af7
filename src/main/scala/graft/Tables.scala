package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`; pushdown and
  * pruning reach the scan, and the same call sites apply to partitioned
  * directories. Every parquet read goes through [[readParquet]], which
  * memoises the inferred schema. The key is the files under the path as
  * (absolute path, length, mtime), listed through the Hadoop
  * `FileSystem`, plus the session's values of `inferenceConfs`, the
  * parquet confs that change inference. A hit reads with that schema and
  * launches no Spark job. Rewriting, adding or removing a file changes
  * the key, so the next load re-infers. A miss returns the frame that did
  * the inference: a cold first load still pays the footer job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  private val inferenceConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (Seq[(String, Long, Long)], Seq[Option[String]]), StructType]()

  /** `spark.read.parquet(path)` through the memo; `path` may be a glob. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap { m =>
      val it = fs.listFiles(m.getPath, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    }.sorted
    val key = (files, inferenceConfs.map(spark.conf.getOption))
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        if (files.nonEmpty) schemas.put(key, df.schema)
        df
    }
  }

  /** Scale-adaptive compute split (optimization guide §2.5, "input
    * skew: one huge unsplittable file"). The local testdata ships each
    * table as ONE parquet file with ONE row group, so every scan stage
    * — and the per-row kernels this engine deliberately evaluates
    * scan-stage (regex/trigram/deflate text battery, decimal
    * arithmetic, vector folds) — runs as a SINGLE task no matter how
    * many cores the session has (a row group is parquet's atomic
    * split). When, and only when, the input provides fewer file splits
    * than the session's parallelism AND is small enough that one extra
    * shuffle is trivially cheap (< 1 GB total),
    * hash-repartition by the table's key so downstream per-row work
    * uses every core. On a real many-file 100 TB layout this is the
    * identity — no shuffle is ever added; the sub-GB bound keeps it
    * the identity for any input big enough to split naturally.
    * Hash-partitioning on the primary key is deterministic across
    * task retries (guide §2.5 — never derive placement from rand());
    * results are unchanged because every query's output order is
    * pinned by its own final sort, which the full oracle gate
    * (row-order-preserving diff) re-proves end to end.
    *
    * Apply it at call sites, not inside the loaders: a loader-level
    * split puts the shuffle below REDUCING operations too (a 600k-row
    * exchange under a 6-row aggregate). The split only pays where the
    * caller stacks heavy per-row compute ABOVE it before any reduction,
    * which is call-site knowledge (guide §2.3 "aggregate before you
    * shuffle" / §1.2 step 1). Non-file-backed frames (e.g. over a
    * checkpoint) report no input files and pass through untouched. */
  private val splitBytesCap = 1L << 30
  def splitForCompute(df: DataFrame, key: org.apache.spark.sql.Column,
                      rest: org.apache.spark.sql.Column*): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val p = sc.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= p) df
    else {
      val conf = sc.hadoopConfiguration
      val total = files.map { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(conf).getFileStatus(path).getLen
      }.sum
      if (total > splitBytesCap) df else df.repartition(p, key +: rest: _*)
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped as TIMESTAMP(NANOS) in some testdata
    * generations (Spark 4 refuses it by default — read nanos as long,
    * truncate to microseconds, the same truncation DuckDB applies when
    * casting TIMESTAMP_NS → TIMESTAMP) and as plain TIMESTAMP(MICROS)
    * NTZ in others. Normalize both to session-TZ TimestampType (UTC
    * everywhere in this engine), so every downstream query and oracle
    * sees identical instants regardless of generation. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
