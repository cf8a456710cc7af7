package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet conformance smoke over golden files from the parquet-testing
  * corpus (copied from /root/reference/tests/data — the same fixtures the
  * reference asserts in tests/Parquet.hs:15-60): plain + snappy codecs,
  * int96-era timestamps, physical-type decimals, nested lists, and
  * all-null structs must decode with the expected schema and values. */
class ParquetConformanceSpec extends SparkSpec {
  private def res(name: String): String =
    getClass.getResource(s"/parquet/$name").toString

  test("alltypes_plain: schema and row values (Parquet.hs allTypesPlain)") {
    val df = spark.read.parquet(res("alltypes_plain.parquet"))
    val t = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(t("id") == IntegerType && t("bool_col") == BooleanType)
    assert(t("bigint_col") == LongType && t("float_col") == FloatType)
    assert(t("double_col") == DoubleType && t("timestamp_col") == TimestampType)
    assert(t("date_string_col") == BinaryType && t("string_col") == BinaryType)
    assert(df.count() == 8)
    val r = df.orderBy("id").select("id", "bool_col", "bigint_col",
        "double_col", "timestamp_col").head()
    assert(r.getInt(0) == 0 && r.getBoolean(1) && r.getLong(2) == 0L
      && r.getDouble(3) == 0.0)
    assert(r.getTimestamp(4).toInstant ==
      java.time.Instant.parse("2009-01-01T00:00:00Z"))
    // the 8 ids are 0..7 (written out of order in the file)
    assert(df.select("id").collect().map(_.getInt(0)).sorted.toSeq == (0 to 7))
  }

  test("int64_decimal: DECIMAL(10,2) physical int64") {
    val df = spark.read.parquet(res("int64_decimal.parquet"))
    assert(df.schema.fields.head.dataType == DecimalType(10, 2))
    val vals = df.collect().map(_.getDecimal(0).doubleValue()).sorted
    assert(vals.length == 24 && vals.head == 1.0 && vals.last == 24.0)
  }

  test("nulls.snappy: all-null struct field decodes as nulls") {
    val df = spark.read.parquet(res("nulls.snappy.parquet"))
    assert(df.schema("b_struct").dataType.isInstanceOf[StructType])
    assert(df.count() == 8)
    assert(df.filter(col("b_struct.b_c_int").isNull).count() == 8)
  }

  test("nested_lists.snappy: 3-level list nesting with interior nulls") {
    val df = spark.read.parquet(res("nested_lists.snappy.parquet"))
    val at = df.schema("a").dataType
    assert(at == ArrayType(ArrayType(ArrayType(StringType))))
    val rows = df.collect()
    assert(rows.length == 3 && rows.forall(_.getInt(1) == 1))
    def lvl(x: Any): Seq[Any] = x.asInstanceOf[scala.collection.Seq[Any]].toSeq
    val first = rows.head.getSeq[Any](0)
    assert(lvl(lvl(first.head).head) == Seq("a", "b"))
    // interior null list survives decode
    assert(first.exists(x => lvl(x).contains(null)))
  }
}
