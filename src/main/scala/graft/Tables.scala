package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`. Reads are plain
  * `spark.read.parquet` — predicate pushdown / column pruning reach the
  * scan automatically, which is the scale posture: at 100 TB these would
  * be partitioned directories and the same call sites still apply.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scale-adaptive compute split (optimization guide §2.5, "input
    * skew: one huge unsplittable file"). The local testdata ships each
    * table as ONE parquet file with ONE row group, so every scan stage
    * — and the per-row kernels this engine deliberately evaluates
    * scan-stage (regex/trigram/deflate text battery, decimal
    * arithmetic, vector folds) — runs as a SINGLE task no matter how
    * many cores the session has (a row group is parquet's atomic
    * split; measured r19: q186's gated text scan was one 1.7 s task on
    * a 32-core session). When, and only when, the input provides fewer
    * file splits than the session's parallelism AND is small enough
    * that one extra shuffle is trivially cheap (< 1 GB total),
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
    * APPLIED AT CALL SITES, not inside the loaders (r19, measured): a
    * blanket loader-level split inserts the shuffle below REDUCING
    * operations too — a 600k-row exchange under a 6-row aggregate —
    * and a same-boot battery A/B read geomean 1.13 AGAINST it (cheap
    * agg-first rows regressed 2-5× while per-row-kernel rows improved
    * 2×). The split is only correct where the caller stacks heavy
    * per-row compute ABOVE it before any reduction, which is
    * call-site knowledge (guide §2.3 "aggregate before you shuffle" /
    * §1.2 step 1). Non-file-backed frames (e.g. over a checkpoint)
    * report no input files and pass through untouched. */
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
