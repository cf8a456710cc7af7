package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Sort key for [[Frame.sortBy]] (reference: Operations/Permutation.hs:42-64).
  * Strictly more general than the reference: any Column, not just names. */
sealed trait SortKey { def toCol: Column }
case class Asc(c: Column) extends SortKey { def toCol: Column = c.asc }
case class Desc(c: Column) extends SortKey { def toCol: Column = c.desc }

/** The reference's `DataFrame` operation surface
  * (src/DataFrame/Operations/{Core,Subset,Transformations,Join,Merge,
  * Permutation}.hs) as a thin, zero-copy wrapper over a Spark DataFrame.
  *
  * Every method is a pure logical-plan rewrite — nothing executes until an
  * action. Catalyst supplies pushdown, pruning, join selection, AQE; the
  * wrapper adds only the reference's naming/semantic conventions.
  *
  * Positional ops (`take`/`drop`/`range`) follow the reference's
  * order-preserving semantics only relative to an explicit ordering: Spark
  * frames are unordered at scale, so these take the ordering columns
  * explicitly (SURVEY §7 "decisions to lock early").
  */
final class Frame(val df: DataFrame) {
  import Frame._

  def columns: Seq[String] = df.columns.toSeq
  /** column count — free (schema-only, no job). */
  def columnsCount: Int = df.columns.length
  /** row count — an ACTION: runs a full Spark job over the frame. */
  def rowCount: Long = df.count()
  /** (rows, columns) — an ACTION (delegates to [[rowCount]]); use
    * [[columnsCount]] when only the width is needed. */
  def dimensions: (Long, Int) = (rowCount, columnsCount)

  // ---- sinks (reference: IO/CSV.hs:392-459) -----------------------------
  def writeCsv(path: String): Unit = graft.sources.Csv.writeCsv(df, path)
  def writeTsv(path: String): Unit = graft.sources.Csv.writeTsv(df, path)
  /** parquet sink; `partitionBy` writes hive-style `col=value/`
    * directories. At 100 TB the write layout IS the read plan: a filter
    * on a partition column prunes to its directories at planning time
    * (zero data read for excluded partitions — plan-asserted in
    * PlanSpec). Pick low-cardinality columns a downstream query filters
    * on; never a high-cardinality key (one dir per value).
    * `maxRecordsPerFile` > 0 caps file size (file sizing is the other
    * half of write-side layout: too-large files limit read parallelism,
    * too-small ones drown the driver in footers). */
  def writeParquet(path: String, partitionBy: Seq[String] = Nil,
                   compression: String = "snappy",
                   maxRecordsPerFile: Long = 0L): Unit = {
    var w = df.write.mode("overwrite").option("compression", compression)
    if (maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }
  def writeJSONL(path: String): Unit = graft.sources.Json.writeJSONL(df, path)
  /** ORC sink (warehouse-format parity; oracle round trip q70). */
  def writeOrc(path: String, compression: String = "zstd",
               maxRecordsPerFile: Long = 0L): Unit =
    graft.sources.Orc.writeOrc(df, path, compression, maxRecordsPerFile)
  /** bucketed managed-table sink: rows are hash-clustered into a fixed
    * number of buckets per `cols` (optionally sorted within buckets).
    * Joins and aggregations between tables bucketed the same way on the
    * same keys need NO shuffle at all — at 100 TB, pre-bucketing the
    * fact tables once pays for itself on the first repeated join
    * (plan-asserted shuffle-free in PlanSpec). Bucket count is fixed at
    * write time: pick ≈ cluster cores × small factor. */
  def writeBucketedTable(table: String, buckets: Int, cols: Seq[String],
                         sortCols: Seq[String] = Nil): Unit = {
    require(cols.nonEmpty, "writeBucketedTable: no bucket columns")
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, cols.head, cols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
  /** JDBC sink (dataframe-persistent toPersistent). */
  def toPersistent(url: String, table: String): Unit =
    graft.sources.Jdbc.toPersistent(df, url, table)
  /** rows Spark could not structurally parse (PERMISSIVE corrupt-record
    * column) — the reference's `partiallyParsed`
    * (Operations/Core.hs:580-587). Pass the corruptColumn used at read. */
  def partiallyParsed(corruptColumn: String = "_corrupt_record"): Frame =
    Frame(df.filter(F.col(corruptColumn).isNotNull))

  // ---- projection / column ops (Operations/Subset.hs:233-326) ----------
  def select(names: String*): Frame = Frame(df.select(names.map(F.col): _*))
  def selectBy(p: String => Boolean): Frame =
    Frame(df.select(df.columns.filter(p).map(F.col).toSeq: _*))
  /** byProperty isNumeric (Operations/Subset.hs:251-315). */
  def selectNumeric: Frame = {
    val numeric = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    Frame(df.select(numeric.map(F.col).toSeq: _*))
  }
  def selectByNameRange(lo: String, hi: String): Frame =
    selectBy(n => n >= lo && n <= hi)
  def selectByIndexRange(lo: Int, hi: Int): Frame =
    Frame(df.select(df.columns.slice(lo, hi + 1).map(F.col).toSeq: _*))
  def exclude(names: String*): Frame = Frame(df.drop(names: _*))

  // ---- column insertion / rename (Operations/Core.hs:144-486) ----------
  def derive(name: String, e: Column): Frame = Frame(df.withColumn(name, e))
  def deriveMany(cols: (String, Column)*): Frame =
    Frame(df.withColumns(cols.toMap))
  def cloneColumn(from: String, to: String): Frame =
    Frame(df.withColumn(to, F.col(from)))
  def rename(from: String, to: String): Frame =
    Frame(df.withColumnRenamed(from, to))
  def renameMany(m: (String, String)*): Frame =
    Frame(df.withColumnsRenamed(m.toMap))
  /** apply f to a column in place (Operations/Transformations.hs:33-132). */
  def applyTo(name: String)(f: Column => Column): Frame =
    Frame(df.withColumn(name, f(F.col(name))))
  /** applyWhere: f on `target` only where `cond` holds
    * (Operations/Transformations.hs:139-168). */
  def applyWhere(cond: Column, target: String)(f: Column => Column): Frame =
    Frame(df.withColumn(target,
      F.when(cond, f(F.col(target))).otherwise(F.col(target))))
  /** insert an in-memory vector as a column, aligned by position under
    * an explicit ordering, with the reference's pad semantics
    * (Operations/Core.hs:144-360 expandColumn): a shorter vector
    * null-pads; a longer vector extends the frame with null rows. */
  def insertVector(name: String, values: Seq[Any], order: SortKey*): Frame = {
    val spark = df.sparkSession
    val vdf = Frame.fromNamedColumns(spark, Seq(
      RowIdx -> values.indices.map(_.toLong), name -> values)).df
    Frame(indexed(order).join(vdf, Seq(RowIdx), "full").drop(RowIdx))
  }

  /** insertVector padding with a default value instead of null
    * (Operations/Core.hs:230-290 insertVectorWithDefault). */
  def insertVectorWithDefault(name: String, default: Any, values: Seq[Any],
                              order: SortKey*): Frame = {
    val ins = insertVector(name, values, order: _*)
    Frame(ins.df.withColumn(name, F.coalesce(F.col(name), F.lit(default))))
  }

  /** positional boolean-mask filter (Operations/Subset.hs
    * filterByVector): keep row i where mask(i) under the explicit
    * order; rows beyond the mask drop, and mask entries beyond the
    * last row are ignored (a LEFT join on the index — unlike
    * insertVector's full join, a too-long mask cannot fabricate
    * phantom all-null rows). */
  def filterByVector(mask: Seq[Boolean], order: SortKey*): Frame = {
    val spark = df.sparkSession
    val vdf = Frame.fromNamedColumns(spark, Seq(
      RowIdx -> mask.indices.map(_.toLong), MaskCol -> mask)).df
    Frame(indexed(order).join(vdf, Seq(RowIdx), "left")
      .filter(F.col(MaskCol) === true).drop(RowIdx, MaskCol))
  }

  /** apply f to one row of a column under an explicit ordering
    * (Operations/Transformations.hs:171-189 — positional, so like
    * range/hconcat it needs the order made explicit; index is 0-based
    * over that order). */
  def applyAtIndex(i: Long, name: String, order: SortKey*)(f: Column => Column): Frame = {
    val ind = indexed(order)
    Frame(ind.withColumn(name,
      F.when(F.col(RowIdx) === i, f(F.col(name))).otherwise(F.col(name)))
      .drop(RowIdx))
  }

  /** impute nulls with a constant (Operations/Transformations.hs:192-207). */
  def impute(name: String, value: Any): Frame =
    Frame(df.withColumn(name, F.coalesce(F.col(name), F.lit(value))))
  /** impute with any column-level aggregate — the reference's
    * `imputeWith` takes an arbitrary derived aggregate
    * (Operations/Statistics.hs:290-305). Scalar agg → 1-row broadcast
    * crossJoin: two jobs, no single-partition window shuffle (a global
    * Window would force the whole frame into ONE task at scale). */
  def imputeWith(name: String, agg: Column => Column): Frame = {
    val v = df.agg(agg(F.col(name)).as(AggCol))
    Frame(df.crossJoin(F.broadcast(v))
      .withColumn(name, F.coalesce(F.col(name), F.col(AggCol)))
      .drop(AggCol))
  }
  def imputeWithMean(name: String): Frame = imputeWith(name, F.avg)
  /** exact interpolated median fill (same kernel as q25 percentiles). */
  def imputeWithMedian(name: String): Frame = imputeWith(name, F.median)

  /** zScore of `name` appended as `as` — the reference's un-grouped
    * aggregate broadcast back to rows (Functions.hs:222-223,
    * Interpreter.hs:95-105), as aggregate-then-broadcast-crossJoin. */
  def zScore(name: String, as: String): Frame = {
    val x = F.col(name)
    val stats = df.agg(F.avg(x).as(AggCol), F.stddev_samp(x).as(AggCol2))
    Frame(df.crossJoin(F.broadcast(stats))
      .withColumn(as, (x - F.col(AggCol)) / F.col(AggCol2))
      .drop(AggCol, AggCol2))
  }

  // ---- filters (Operations/Subset.hs:102-219) ---------------------------
  def filterWhere(cond: Column): Frame = Frame(df.filter(cond))
  def filterJust(name: String): Frame = Frame(df.filter(F.col(name).isNotNull))
  def filterNothing(name: String): Frame = Frame(df.filter(F.col(name).isNull))
  def filterAllJust: Frame = Frame(df.na.drop())
  /** rows where EVERY column is null — the reference folds
    * `filterNothing` over all columns (Operations/Subset.hs:218-219),
    * i.e. conjunctive. (A prior revision used any-null; fixed to match.) */
  def filterAllNothing: Frame =
    Frame(df.filter(df.columns.map(F.col(_).isNull).reduce(_ && _)))
  /** rows where at least one column is null — the complement of
    * [[filterAllJust]] (not a reference op; kept for the any-null reading
    * of all-nothing some callers expect). */
  def filterAnyNothing: Frame =
    Frame(df.filter(df.columns.map(F.col(_).isNull).reduce(_ || _)))

  // ---- positional subsetting (Operations/Subset.hs:48-96) ---------------
  /** first n rows under an explicit ordering (TakeOrderedAndProject —
    * no global sort materialized). */
  def takeRows(n: Int, order: SortKey*): Frame =
    Frame(df.orderBy(order.map(_.toCol): _*).limit(n))
  /** rows [lo, hi) under an explicit ordering. Global contiguous indices
    * come from zipWithIndex over the range-partitioned sort: one count
    * job for per-partition offsets, then a map — every partition works
    * in parallel (a global row_number window would funnel the whole
    * table through ONE task). */
  def range(lo: Int, hi: Int, order: SortKey*): Frame =
    Frame(indexed(order).filter(F.col(RowIdx) >= lo && F.col(RowIdx) < hi)
      .drop(RowIdx))
  def dropRows(n: Int, order: SortKey*): Frame =
    Frame(indexed(order).filter(F.col(RowIdx) >= n).drop(RowIdx))

  /** sorted frame + 0-based contiguous [[Frame.RowIdx]] column.
    *
    * Implemented as zipWithIndex over the physical UnsafeRow RDD
    * (`queryExecution.toRdd`): rows never leave Tungsten binary format —
    * no Row-encoder round trip on either side. zipWithIndex's two passes
    * (per-partition count, then map) run over ONE pinned RDD lineage, so
    * the range-sort boundaries both passes see are identical. That
    * pinning is load-bearing: a pure two-job Dataset formulation
    * (offsets job + consumer job) re-instantiates the plan per action,
    * and RangePartitioner re-SAMPLES boundaries with a per-RDD-id seed —
    * offsets computed against one partitioning would be applied to
    * another, silently corrupting indices. Every partition works in
    * parallel (a global row_number window would funnel the whole table
    * through one task). */
  private def indexed(order: Seq[SortKey]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
    val sorted = df.orderBy(order.map(_.toCol): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(RowIdx, LongType, nullable = false))
    val internal = sorted.queryExecution.toRdd.zipWithIndex.mapPartitions { it =>
      val joined = new JoinedRow
      val idxRow = new GenericInternalRow(1)
      val proj = UnsafeProjection.create(schema)
      it.map { case (r, i) =>
        idxRow.setLong(0, i)
        proj(joined(r, idxRow)): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.InternalBridge
      .internalCreateDataFrame(sorted.sparkSession, internal, schema)
  }
  /** last n rows under an explicit ordering (Operations/Subset.hs
    * takeLast): the top-n of the REVERSED order — no count job, stays
    * TakeOrderedAndProject. */
  def takeLast(n: Int, order: SortKey*): Frame =
    Frame(df.orderBy(order.map(k => flip(k).toCol): _*).limit(n))
  def dropLast(n: Int, order: SortKey*): Frame =
    dropRows(n, order.map(flip): _*)
  private def flip(k: SortKey): SortKey = k match {
    case Asc(c) => Desc(c)
    case Desc(c) => Asc(c)
  }

  /** expose the 0-based contiguous positional index under an explicit
    * ordering as a regular column (the parallel zipWithIndex described
    * at [[indexed]]). */
  def withIndex(as: String, order: SortKey*): Frame =
    Frame(indexed(order).withColumnRenamed(RowIdx, as))

  /** top k rows per group under `order` (dense ranking is NOT applied:
    * ties beyond k drop deterministically by the order given — add a
    * tiebreaker key for full determinism). Window is group-partitioned,
    * never global. */
  def topKPerGroup(groupCols: Seq[String], k: Int, order: SortKey*): Frame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(F.col): _*)
      .orderBy(order.map(_.toCol): _*)
    Frame(df.withColumn(RankCol, F.row_number().over(w))
      .filter(F.col(RankCol) <= k).drop(RankCol))
  }

  /** cube (l,w): first l rows × first w columns (Operations/Subset.hs:226) —
    * N.B. not SQL CUBE (that's [[GroupedFrame.cube]]). */
  def cubeSlice(l: Int, w: Int, order: SortKey*): Frame =
    Frame(takeRows(l, order: _*).df
      .select(df.columns.take(w).map(F.col).toSeq: _*))

  // ---- sampling (Operations/Subset.hs:337-459) ---------------------------
  def sample(p: Double, seed: Long): Frame = Frame(df.sample(p, seed))
  /** deterministic, engine-portable sample on an id column: keep rows
    * whose portable integer mixer lands below p·M. Unlike seeded-RNG
    * [[sample]], any engine (and any rerun, any partitioning) selects
    * the SAME rows — the property a reproducible 100 TB pipeline wants. */
  def sampleHash(idCol: String, p: Double): Frame =
    Frame(df.filter(portableMix(F.col(idCol)) < math.round(p * MixM)))
  /** deterministic disjoint folds: fold i = rows with mix(id) ≡ i (mod n). */
  def kFoldsHash(idCol: String, n: Int): Seq[Frame] =
    (0 until n).map(i => Frame(df.filter(portableMix(F.col(idCol)) % n === i)))
  /** deterministic, engine-portable STRATIFIED sample: per-stratum keep
    * probability (strata absent from the map drop). Same portable-mixer
    * property as [[sampleHash]] — any engine, any rerun, any
    * partitioning selects the same rows, which is how a 100 TB pipeline
    * rebalances sources (e.g. downsample crawl, keep all books)
    * reproducibly. One scan, no shuffle. */
  def sampleHashStratified(idCol: String, strataCol: String,
                           fractions: Map[String, Double]): Frame = {
    val thresh = fractions.foldLeft(F.lit(-1L).cast(LongType)) {
      case (acc, (k, p)) =>
        F.when(F.col(strataCol) === k, F.lit(math.round(p * MixM))).otherwise(acc)
    }
    Frame(df.filter(portableMix(F.col(idCol)) < thresh))
  }
  def randomSplit(p: Double, seed: Long): (Frame, Frame) = {
    val Array(a, b) = df.randomSplit(Array(p, 1 - p), seed)
    (Frame(a), Frame(b))
  }
  /** n disjoint random folds (Operations/Subset.hs:416-459). */
  def kFolds(n: Int, seed: Long): Seq[Frame] = {
    val tagged = df.withColumn(FoldIdx, (F.rand(seed) * n).cast("int"))
    (0 until n).map(i => Frame(tagged.filter(F.col(FoldIdx) === i).drop(FoldIdx)))
  }
  def shuffle(seed: Long): Frame = Frame(df.orderBy(F.rand(seed)))

  /** unnest an array column: one row per element, other columns
    * repeated (the public surface of the generator the dedup operators
    * use internally; reference list workflows Functions.hs:300-307). */
  def explodeCol(name: String, as: String): Frame =
    Frame(df.withColumn(as, F.explode(F.col(name))).drop(name))
  /** [[explodeCol]] with the element's 0-based position in `posAs`. */
  def posexplodeCol(name: String, posAs: String, as: String): Frame =
    Frame(df.select(df.columns.filterNot(_ == name).map(F.col).toSeq :+
      F.posexplode(F.col(name)).as(Seq(posAs, as)): _*))

  // ---- dedup / sort (Aggregation.hs:289-292, Permutation.hs:42-78) ------
  def distinct: Frame = Frame(df.distinct())
  def dropDuplicates(cols: String*): Frame = Frame(df.dropDuplicates(cols))
  def sortBy(keys: SortKey*): Frame = Frame(df.orderBy(keys.map(_.toCol): _*))

  // ---- grouping (Operations/Aggregation.hs:45-279) -----------------------
  def groupBy(cols: String*): GroupedFrame =
    new GroupedFrame(df, cols.map(F.col))

  // ---- joins (Operations/Join.hs) ----------------------------------------
  // Exact equality (the reference's hash-only matching is a bug we do not
  // replicate — SURVEY §7). Clashing right-side non-key columns get the
  // reference's `Right_` prefix (Join.hs:134-144). Catalyst + AQE choose
  // broadcast / shuffled-hash / sort-merge.
  def innerJoin(other: Frame, keys: Seq[String]): Frame = join(other, keys, "inner")
  def leftJoin(other: Frame, keys: Seq[String]): Frame = join(other, keys, "left")
  def rightJoin(other: Frame, keys: Seq[String]): Frame = join(other, keys, "right")
  def fullOuterJoin(other: Frame, keys: Seq[String]): Frame = join(other, keys, "full")
  def semiJoin(other: Frame, keys: Seq[String]): Frame = join(other, keys, "left_semi")
  def antiJoin(other: Frame, keys: Seq[String]): Frame = join(other, keys, "left_anti")
  def join(other: Frame, keys: Seq[String], how: String): Frame = {
    val clash = other.df.columns.filterNot(keys.contains)
      .filter(df.columns.contains).toSeq
    val renamed = clash.foldLeft(other.df)((d, c) =>
      d.withColumnRenamed(c, s"Right_$c"))
    Frame(df.join(renamed, keys, how))
  }

  // ---- set ops (Operations/Merge.hs) --------------------------------------
  /** `<>`: vertical union by name; missing columns null-pad
    * (Merge.hs:16-56). The reference's Either-merge of same-name
    * different-type columns has no Spark analog — callers cast first. */
  def unionByName(other: Frame): Frame =
    Frame(df.unionByName(other.df, allowMissingColumns = true))
  /** [[unionByName]] with an EXPLICIT cast policy for same-name
    * different-type columns — the Spark rendering of the reference's
    * Either-merge (`concatColumnsEither`, Internal/Column.hs:816-853),
    * which combines an Int column and a Text column into `Either Int
    * Text` values. Spark columns are monomorphic, so instead of a sum
    * type the clash resolves to one concrete type:
    *   - numeric ∪ numeric → the wider numeric (byte<short<int<long<
    *     float<double; any decimal mixed with a different numeric →
    *     double);
    *   - any other atomic pair (string∪int, date∪string, …) → string —
    *     the printable common form, as Either's Show is in the
    *     reference;
    *   - complex types (array/map/struct) that differ → error: no
    *     lossless common form exists, the caller must restructure.
    * Both sides are cast BEFORE the union so the policy is visible in
    * the plan; missing columns still null-pad. */
  def unionByNameCoerced(other: Frame): Frame = {
    val lT = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val rT = other.df.schema.fields.map(f => f.name -> f.dataType).toMap
    val rank: Seq[DataType] = Seq(ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType)
    def common(n: String, a: DataType, b: DataType): DataType = (a, b) match {
      case (x: NumericType, y: NumericType) =>
        (x, y) match {
          case (dx: DecimalType, dy: DecimalType) =>
            DecimalType(math.max(dx.precision, dy.precision),
              math.max(dx.scale, dy.scale))
          case _ if rank.contains(x) && rank.contains(y) =>
            if (rank.indexOf(x) >= rank.indexOf(y)) x else y
          case _ => DoubleType // decimal mixed with a different numeric
        }
      case (_: ArrayType, _) | (_, _: ArrayType) |
           (_: MapType, _) | (_, _: MapType) |
           (_: StructType, _) | (_, _: StructType) =>
        throw new IllegalArgumentException(
          s"unionByNameCoerced: column '$n' has incompatible complex types " +
            s"${a.simpleString} vs ${b.simpleString}; restructure before union")
      case _ => StringType // atomic pair: the printable common form
    }
    val casts = lT.keySet.intersect(rT.keySet).iterator
      .filter(n => lT(n) != rT(n))
      .map(n => n -> common(n, lT(n), rT(n))).toMap
    def cast(d: DataFrame): DataFrame =
      casts.foldLeft(d) { case (acc, (n, t)) =>
        acc.withColumn(n, F.col(n).cast(t)) }
    Frame(cast(df).unionByName(cast(other.df), allowMissingColumns = true))
  }
  def intersect(other: Frame): Frame = Frame(df.intersect(other.df))
  def except(other: Frame): Frame = Frame(df.except(other.df))
  /** `|||` horizontal zip by position (Merge.hs:59-64) — no native Spark
    * analog; both sides get a zipWithIndex ordinal (parallel, see
    * [[range]]) and equi-join on it. Documented divergence: requires
    * both sides to carry a stable order. */
  def hconcat(other: Frame, leftOrder: SortKey, rightOrder: SortKey): Frame =
    hconcat(other, Seq(leftOrder), Seq(rightOrder))
  def hconcat(other: Frame, leftOrder: Seq[SortKey], rightOrder: Seq[SortKey]): Frame = {
    val l = indexed(leftOrder)
    val r = other.indexed(rightOrder)
    Frame(l.join(r, Seq(RowIdx), "inner").drop(RowIdx))
  }

  // ---- describe-style (Operations/Core.hs:513-716, Statistics.hs) --------
  /** per-column null / non-null counts + type (Core.hs:513-578), as one
    * single-pass aggregate (no per-column jobs). */
  def describeColumns: DataFrame = {
    val aggs = df.columns.flatMap { c =>
      Seq(F.count(F.when(F.col(c).isNotNull, 1)).as(s"${c}__nonnull"),
          F.count(F.when(F.col(c).isNull, 1)).as(s"${c}__null"))
    }
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).collect()(0)
    val spark = df.sparkSession
    import spark.implicits._
    df.columns.zipWithIndex.map { case (c, i) =>
      (c, row.getLong(2 * i), row.getLong(2 * i + 1),
        df.schema(c).dataType.simpleString)
    }.toSeq.toDF("column", "non_null", "nulls", "type")
  }
  /** frequency table with percentages (Operations/Statistics.hs:60-81).
    * Grand total via 1-row broadcast crossJoin, not a global window —
    * the grouped frame is small but the no-single-partition-exchange
    * invariant holds for every registry query (plan-asserted). */
  def frequencies(name: String): DataFrame = {
    val counts = df.groupBy(F.col(name)).agg(F.count(F.lit(1)).as("count"))
    val total = counts.agg(F.sum("count").as(AggCol))
    counts.crossJoin(F.broadcast(total))
      .withColumn("percentage", F.col("count") * 100.0 / F.col(AggCol))
      .drop(AggCol)
  }
  def valueCounts(name: String): DataFrame =
    df.groupBy(F.col(name)).agg(F.count(F.lit(1)).as("count"))
      .orderBy(F.desc("count"), F.col(name))
  /** data side of `plotBarsTopN` (Display/Terminal/Plot.hs:213-257):
    * the n most frequent values — ordered grouped counts under a limit
    * (TakeOrderedAndProject over ≤ |distinct| rows, never a full sort). */
  def barsTopN(name: String, n: Int): DataFrame = valueCounts(name).limit(n)
  /** data side of `plotBarsWithPercentages`
    * (Display/Terminal/Plot.hs:282-294): frequencies plus the
    * integer-rounded percent the reference prints in each label. */
  def barsWithPercentages(name: String): DataFrame =
    frequencies(name)
      .withColumn("pct_label", F.round(F.col("percentage")).cast("int"))

  /** wide → long (melt/unpivot): one output row per (row, value
    * column); the inverse of groupBy().pivot(). Spark-native `unpivot`
    * — a logical Expand, scan-stage, no shuffle. Value columns are
    * cast to their common type by Spark (mixed types error — cast
    * first). */
  def melt(idCols: Seq[String], valueCols: Seq[String],
           varName: String = "variable", valName: String = "value"): Frame =
    Frame(df.unpivot(idCols.map(F.col).toArray,
      valueCols.map(F.col).toArray, varName, valName))

  /** equi-width histogram of a numeric column: (bin, lo, hi, n) for
    * every NON-EMPTY bin — the data side of the reference's plotting
    * module (src/DataFrame/Display/Terminal/Plot.hs histograms; the
    * terminal rendering itself is [[asciiHistogram]]). Bounds ride a
    * broadcast crossJoin (no driver collect); one scan + one shuffle
    * on ≤ `bins` keys. Values exactly at max land in the last bin. */
  def histogram(name: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, "histogram: bins must be >= 1")
    val v = F.col(name).cast("double")
    val bounds = df.agg(F.min(v).as("mn"), F.max(v).as("mx"))
    val w = (F.col("mx") - F.col("mn")) / bins + F.lit(1e-300)
    df.select(v.as("v")).filter(F.col("v").isNotNull)
      .crossJoin(F.broadcast(bounds))
      .select(F.least(F.floor((F.col("v") - F.col("mn")) / w),
        F.lit(bins - 1L)).cast("long").as("bin"),
        F.col("mn"), F.col("mx"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"),
        F.first(F.col("mn") + F.col("bin") * ((F.col("mx") - F.col("mn")) / bins)).as("lo"),
        F.first(F.col("mn") + (F.col("bin") + 1) * ((F.col("mx") - F.col("mn")) / bins)).as("hi"))
      .select("bin", "lo", "hi", "n")
      .orderBy("bin")
  }

  /** driver-side ASCII rendering of [[histogram]] (bounded: ≤ bins
    * rows collect). */
  def asciiHistogram(name: String, bins: Int = 10, width: Int = 40): String = {
    val rows = histogram(name, bins).collect()
    if (rows.isEmpty) return "(empty)"
    val maxN = rows.map(_.getLong(3)).max.toDouble
    rows.map { r =>
      val bar = "#" * math.max(1, math.round(r.getLong(3) / maxN * width).toInt)
      f"[${r.getDouble(1)}%12.4f, ${r.getDouble(2)}%12.4f) ${r.getLong(3)}%8d $bar"
    }.mkString("\n")
  }

  // ---- driver-side extractors (Operations/Core.hs:683-800) --------------
  // Bounded-use helpers for handing data to local ML / plotting code —
  // they collect to the driver; never call on an unbounded frame.
  def columnAsList[T](name: String): Seq[T] =
    df.select(F.col(name)).collect().toSeq.map(_.getAs[T](0))
  /** row-major double matrix of the numeric columns
    * (Core.hs toDoubleMatrix). */
  def toDoubleMatrix: Seq[Array[Double]] = {
    val numeric = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    df.select(numeric.map(c => F.col(c).cast("double")): _*)
      .collect().map(r => Array.tabulate(numeric.length)(i =>
        if (r.isNullAt(i)) Double.NaN else r.getDouble(i))).toSeq
  }

  /** Scala source for typed column bindings — the analog of the
    * reference's Template Haskell `declareColumns` (Functions.hs:
    * 446-486), which generates one binding per schema field. Scala has
    * no splice at this level, so this returns the code to paste. */
  def declareColumns: String =
    df.schema.fields.map { f =>
      val ident = f.name.replaceAll("[^A-Za-z0-9_]", "_")
      s"""val $ident: Column = col("${f.name}") // ${f.dataType.simpleString}"""
    }.mkString("\n")

  /** first-n rows rendered as a GitHub-style markdown table
    * (Internal/DataFrame.hs:91-117 `toMarkdownTable`). Driver-side
    * display helper — bounded by n, never materializes the frame. */
  def toMarkdownTable(n: Int = 20): String = {
    val hdr = df.columns.toSeq
    val sep = hdr.map(_ => "---")
    val rows = df.take(n).toSeq.map(_.toSeq.map(v =>
      if (v == null) "null" else v.toString))
    (Seq(hdr, sep) ++ rows)
      .map(_.mkString("| ", " | ", " |")).mkString("\n")
  }

  /** plain-text display with the type row and truncation note — the
    * reference's `show`/`asText` (Internal/DataFrame.hs:70-117). */
  def asText(n: Int = 20): String = {
    val hdr = df.columns.toSeq
    val types = df.schema.fields.map(_.dataType.simpleString).toSeq
    val taken = df.take(n + 1)
    val rows = taken.take(n).toSeq.map(_.toSeq.map(v =>
      if (v == null) "null" else v.toString))
    val table = (Seq(hdr, types) ++ rows)
      .map(_.mkString("| ", " | ", " |")).mkString("\n")
    if (taken.length > n) table + s"\nShowing $n rows" else table
  }

  /** summarize: describe-table per numeric column
    * (Operations/Statistics.hs:326-380). One aggregate pass over all
    * columns; explicit exact percentiles (not approx). */
  def summarize: DataFrame = {
    val numeric = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = numeric.flatMap { c =>
      val x = F.col(c)
      Seq(F.count(F.when(x.isNotNull, 1)).cast("double").as(s"${c}__count"),
        F.avg(x).as(s"${c}__mean"), F.min(x).cast("double").as(s"${c}__min"),
        F.percentile(x, F.lit(0.25)).as(s"${c}__p25"),
        F.percentile(x, F.lit(0.5)).as(s"${c}__median"),
        F.percentile(x, F.lit(0.75)).as(s"${c}__p75"),
        F.max(x).cast("double").as(s"${c}__max"),
        F.stddev_samp(x).as(s"${c}__stddev"),
        F.skewness(x).as(s"${c}__skewness"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val k = 9
    numeric.zipWithIndex.map { case (c, i) =>
      def g(j: Int): Double =
        if (row.isNullAt(i * k + j)) Double.NaN else row.getDouble(i * k + j)
      (c, g(0), g(1), g(2), g(3), g(4), g(5), g(6), g(7), g(4) - g(3) + (g(5) - g(4)), g(8))
    }.toDF("column", "count", "mean", "min", "p25", "median", "p75", "max",
      "stddev", "iqr_parts", "skewness")
      .withColumn("iqr", F.col("p75") - F.col("p25")).drop("iqr_parts")
  }
}

object Frame {
  def apply(df: DataFrame): Frame = new Frame(df)

  // ---- I/O front door (reference: src/DataFrame.hs:49-97 quick-start) ---
  import org.apache.spark.sql.SparkSession
  import graft.sources.{Csv, CsvOptions}
  def readCsv(spark: SparkSession, path: String): Frame =
    Frame(Csv.readCsv(spark, path))
  def readTsv(spark: SparkSession, path: String): Frame =
    Frame(Csv.readTsv(spark, path))
  def readCsvWithOpts(spark: SparkSession, path: String, opts: CsvOptions): Frame =
    Frame(Csv.read(spark, path, opts))
  def readParquet(spark: SparkSession, path: String): Frame =
    Frame(graft.Tables.readParquet(spark, path))
  def readOrc(spark: SparkSession, path: String): Frame =
    Frame(graft.sources.Orc.readOrc(spark, path))
  /** reference top-level-array JSON (IO/JSON.hs:23-133). */
  def readJSON(spark: SparkSession, path: String): Frame =
    Frame(graft.sources.Json.readJSON(spark, path))
  /** JSON-lines — the splittable, distributed-scan shape. */
  def readJSONL(spark: SparkSession, path: String): Frame =
    Frame(graft.sources.Json.readJSONL(spark, path))
  /** JDBC source (dataframe-persistent fromPersistent). */
  def fromPersistent(spark: SparkSession, url: String, table: String): Frame =
    Frame(graft.sources.Jdbc.fromPersistent(spark, url, table))
  /** catalog-table source (pairs with [[Frame.writeBucketedTable]] —
    * reads carry the bucketing metadata, so co-bucketed joins plan
    * shuffle-free). */
  def fromTable(spark: SparkSession, table: String): Frame =
    Frame(spark.table(table))

  // ---- in-memory constructors (Operations/Core.hs:613-643) --------------
  /** build a Frame from named columns; shorter columns null-pad to the
    * longest (the reference's insertColumn pad semantics). Scala Options
    * unwrap to nullable values; element types are inferred from the
    * first non-null value per column. */
  def fromNamedColumns(spark: SparkSession, cols: Seq[(String, Seq[Any])]): Frame = {
    require(cols.nonEmpty, "fromNamedColumns: no columns")
    val n = cols.map(_._2.length).max
    val schema = StructType(cols.map { case (name, vs) =>
      StructField(name, inferType(vs), nullable = true)
    })
    val rows = (0 until n).map { i =>
      Row.fromSeq(cols.map { case (_, vs) => unwrapOpt(vs.lift(i).orNull) })
    }
    Frame(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema))
  }

  /** positional variant: columns named "0", "1", …
    * (Core.hs:643 fromUnnamedColumns). */
  def fromUnnamedColumns(spark: SparkSession, cols: Seq[Seq[Any]]): Frame =
    fromNamedColumns(spark, cols.zipWithIndex.map { case (v, i) => i.toString -> v })

  /** build a Frame from rows + column names. */
  def fromRows(spark: SparkSession, names: Seq[String], rows: Seq[Seq[Any]]): Frame =
    fromNamedColumns(spark, names.zipWithIndex.map { case (nm, i) =>
      nm -> rows.map(r => r.lift(i).orNull)
    })

  private def unwrapOpt(x: Any): Any = x match {
    case Some(v) => v
    case None => null
    case v => v
  }
  private def inferType(vs: Seq[Any]): DataType =
    vs.iterator.map(unwrapOpt).find(_ != null) match {
      case Some(_: Int) => IntegerType
      case Some(_: Long) => LongType
      case Some(_: Double) => DoubleType
      case Some(_: Float) => FloatType
      case Some(_: Boolean) => BooleanType
      case Some(_: java.sql.Timestamp) => TimestampType
      case Some(_: java.sql.Date) => DateType
      case Some(_: java.math.BigDecimal) => DecimalType(38, 18)
      case _ => StringType
    }
  private val RowIdx = "__graft_row_idx"
  private val RankCol = "__graft_rank"
  private val FoldIdx = "__graft_fold"
  private val AggCol = "__graft_agg"
  private val AggCol2 = "__graft_agg2"
  private val MaskCol = "__graft_mask"

  /** engine-portable integer mixer over a non-negative id: two rounds of
    * multiply-add mod the Mersenne prime 2³¹−1, overflow-safe for any
    * long id (every intermediate < 2³¹·P < 2⁶³). The same arithmetic is
    * expressible in ANSI SQL (see queries.Sql.mix), so samples/folds
    * hash-match across engines. */
  val MixM: Long = 2147483647L
  private val MixP1 = 2654435761L
  private val MixP2 = 2246822519L
  def portableMix(c: Column): Column =
    F.pmod(F.pmod(F.pmod(c, F.lit(MixM)) * MixP1 + MixP2, F.lit(MixM)) * MixP2, F.lit(MixM))
}

/** groupBy → aggregate intermediate (reference `GroupedDataFrame`,
  * Internal/DataFrame.hs:43-48). Also exposes Spark-native grouping sets
  * (cube/rollup) — net-new capability vs the reference (SURVEY §2.2). */
final class GroupedFrame(df: DataFrame, keys: Seq[Column]) {
  def aggregate(aggs: (String, Column)*): Frame =
    Frame(df.groupBy(keys: _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, e) => e.as(n) }: _*))
  def cube(aggs: (String, Column)*): Frame =
    Frame(df.cube(keys: _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, e) => e.as(n) }: _*))
  def rollup(aggs: (String, Column)*): Frame =
    Frame(df.rollup(keys: _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, e) => e.as(n) }: _*))
  /** arbitrary GROUPING SETS over the groupBy keys (each set a subset of
    * the keys, by Column) — the general form of cube/rollup; one
    * aggregation pass, Catalyst Expand feeds each set. */
  def groupingSets(sets: Seq[Seq[Column]], aggs: (String, Column)*): Frame =
    Frame(df.groupingSets(sets, keys: _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, e) => e.as(n) }: _*))
  /** grouped collect — the reference's `UnAggregated` vector-of-vectors
    * (Interpreter.hs:701-731) is Spark's collect_list. */
  def collectGroups(c: Column, as: String): Frame =
    Frame(df.groupBy(keys: _*).agg(F.collect_list(c).as(as)))
}
