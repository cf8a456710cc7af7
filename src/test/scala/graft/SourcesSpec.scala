package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Jdbc, Json}

/** JSON + JDBC source/sink semantics (reference IO/JSON.hs,
  * dataframe-persistent/IO/Persistent.hs). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("readJSON: top-level array of objects, key union, numbers as double") {
    val dir = Files.createTempDirectory("graft_json")
    val p = dir.resolve("a.json")
    // second object misses 'x' and adds 'b' — schema is the key union
    Files.writeString(p,
      """[{"id": 1, "x": 1.5, "s": "a"},
         {"id": 2, "s": "b", "b": true}]""")
    val df = Json.readJSON(spark, p.toString)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // CTNumber → Double (JSON.hs:76-101): integral id surfaces as double
    assert(types("id") == DoubleType && types("x") == DoubleType)
    assert(types("s") == StringType && types("b") == BooleanType)
    assert(df.count() == 2)
    assert(df.filter(col("x").isNull).count() == 1)
    // spark-native typing when the reference cast is off
    val raw = Json.readJSON(spark, p.toString, numbersAsDouble = false)
    assert(raw.schema("id").dataType == LongType)
  }

  test("JSONL round trip preserves values") {
    val dir = Files.createTempDirectory("graft_jsonl").resolve("out").toString
    val src = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "s", "v")
    Json.writeJSONL(src, dir)
    val back = Json.readJSONL(spark, dir)
    assert(back.select("id", "s", "v").orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
  }

  test("ORC round trip preserves values, types, and nulls") {
    val dir = Files.createTempDirectory("graft_orc").resolve("out").toString
    val src = Seq(
      (1L, Some("a"), Some(1.5), Some(java.sql.Date.valueOf("2024-01-31"))),
      (2L, None, Some(-2.25), None),
      (3L, Some("c"), None, Some(java.sql.Date.valueOf("1999-12-31"))))
      .toDF("id", "s", "v", "d")
    graft.sources.Orc.writeOrc(src, dir)
    val back = graft.sources.Orc.readOrc(spark, dir)
    // ORC keeps the exact Spark types (nullability always relaxes on read)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
    // predicate pushdown reaches the ORC scan (same posture as parquet)
    val plan = back.filter(col("id") === 2L).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"))
  }

  test("Avro round trip preserves values, types, nulls, and logical types") {
    val dir = Files.createTempDirectory("graft_avro").resolve("out").toString
    val src = Seq(
      (1L, Some("a&<b>"), Some(1.5), Some(java.sql.Date.valueOf("2024-01-31")),
        Some(java.sql.Timestamp.valueOf("2024-01-31 23:59:59.123456"))),
      (2L, None, Some(-2.25), None, None),
      (3L, Some("c"), None, Some(java.sql.Date.valueOf("1999-12-31")),
        Some(java.sql.Timestamp.valueOf("1970-01-01 00:00:00.000001"))))
      .toDF("id", "s", "v", "d", "t")
    graft.sources.Avro.writeAvro(src, dir)
    val back = graft.sources.Avro.readAvro(spark, dir)
    // Avro's logical types restore date / timestamp-micros exactly
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
  }

  test("Avro round trip: decimal, binary, array, map, nested struct") {
    val dir = Files.createTempDirectory("graft_avro_nested").resolve("out").toString
    val src = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, new java.math.BigDecimal("12345.67"),
          Array[Byte](1, 2, -3), Seq(1.5, -2.5), Map("a" -> 1L, "b" -> 2L),
          org.apache.spark.sql.Row("inner", Some(9).map(_.toLong).get)),
        org.apache.spark.sql.Row(2L, new java.math.BigDecimal("-0.01"),
          null, Seq.empty[Double], Map.empty[String, Long], null)),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("dec", DecimalType(9, 2)),
        StructField("bin", BinaryType),
        StructField("arr", ArrayType(DoubleType, containsNull = false)),
        StructField("m", MapType(StringType, LongType, valueContainsNull = false)),
        StructField("st", StructType(Seq(
          StructField("s", StringType), StructField("n", LongType)))))))
    graft.sources.Avro.writeAvro(src, dir)
    val back = graft.sources.Avro.readAvro(spark, dir)
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("dec") == DecimalType(9, 2))
    assert(types("bin") == BinaryType)
    assert(types("arr") == ArrayType(DoubleType, containsNull = false))
    assert(types("m") == MapType(StringType, LongType, valueContainsNull = false))
    assert(types("st") == StructType(Seq(
      StructField("s", StringType), StructField("n", LongType))))
    val rows = back.orderBy("id").collect()
    assert(rows(0).getDecimal(1) == new java.math.BigDecimal("12345.67"))
    assert(rows(0).getAs[Array[Byte]]("bin").toSeq == Seq[Byte](1, 2, -3))
    assert(rows(0).getAs[scala.collection.Seq[Double]]("arr").toSeq ==
      Seq(1.5, -2.5))
    assert(rows(0).getAs[scala.collection.Map[String, Long]]("m").toMap ==
      Map("a" -> 1L, "b" -> 2L))
    assert(rows(0).getStruct(5).getString(0) == "inner"
      && rows(0).getStruct(5).getLong(1) == 9L)
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(5)
      && rows(1).getAs[scala.collection.Seq[Double]]("arr").isEmpty)
  }

  test("Avro write rejects unsupported field types with a clear error") {
    // map keys must be strings in Avro; fail fast at schema conversion,
    // not row-by-row inside tasks
    val src = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("m",
        MapType(LongType, StringType, valueContainsNull = false)))))
    val e = intercept[IllegalArgumentException] {
      graft.sources.Avro.writeAvro(src,
        Files.createTempDirectory("graft_avro_bad").resolve("out").toString)
    }
    assert(e.getMessage.contains("unsupported Avro field type"))
  }

  test("XML reader surfaces element attributes with the _ prefix convention") {
    val dir = Files.createTempDirectory("graft_xml_attr")
    val p = dir.resolve("a.xml")
    Files.writeString(p,
      """<rows>
        |  <row id="1" kind="a"><v>1.5</v></row>
        |  <row id="2"><v>2.5</v></row>
        |</rows>""".stripMargin)
    val df = graft.sources.Xml.readXml(spark, p.toString)
    // attributes land as _id/_kind columns; missing attribute → null
    assert(df.columns.toSet == Set("_id", "_kind", "v"))
    val rows = df.orderBy("_id").collect()
    assert(rows(0).getAs[Long]("_id") == 1L
      && rows(0).getAs[String]("_kind") == "a" && rows(0).getAs[Double]("v") == 1.5)
    assert(rows(1).getAs[Long]("_id") == 2L && rows(1).isNullAt(
      rows(1).fieldIndex("_kind")))
  }

  test("Avro read resolves mixed-generation directories in BOTH naming " +
    "orders, electing the widest compatible schema") {
    // Two files written at different times: the second adds a nullable
    // column. The reader schema is ELECTED across file headers — the
    // widest schema that resolves every generation — so the added field
    // survives (null for old rows) and, critically, the result does not
    // depend on which generation's file name sorts first (the r9 ADVICE
    // gap: first-file sniffing broke when a new-generation file sorted
    // first and the old files lacked its field).
    def mixedDir(newFileName: String, nullableAdd: Boolean): String = {
      val root = Files.createTempDirectory(s"graft_avro_evolve_$newFileName")
      val dirA = root.resolve("gen").toString
      val old = Seq((1L, "a")).toDF("id", "s")
      val neu =
        if (nullableAdd) Seq((2L, "b", Option(3.5))).toDF("id", "s", "extra")
        else Seq((2L, "b", 3.5)).toDF("id", "s", "extra")
      graft.sources.Avro.writeAvro(old, dirA)
      val dirB = root.resolve("tmp").toString
      graft.sources.Avro.writeAvro(neu, dirB)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val newFile = fs.listStatus(new org.apache.hadoop.fs.Path(dirB))
        .map(_.getPath).filter(p => !p.getName.startsWith("_"))
        .find(_.getName.endsWith(".avro")).get
      fs.rename(newFile, new org.apache.hadoop.fs.Path(dirA, newFileName))
      dirA
    }
    for (name <- Seq("zzz-gen2.avro", "aaa-gen2.avro")) { // old-first / new-first
      val back = graft.sources.Avro.readAvro(spark,
        mixedDir(name, nullableAdd = true))
      assert(back.schema.fieldNames.toSeq == Seq("id", "s", "extra"),
        s"naming order $name")
      assert(back.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .toSeq == Seq((1L, "a", None), (2L, "b", Some(3.5))),
        s"naming order $name")
    }
    // a NON-nullable (defaultless) added field cannot read old files, so
    // election falls back to the old schema — both generations still
    // read, the defaultless field is projected away, again in both
    // naming orders (previously new-file-first failed at task runtime)
    for (name <- Seq("zzz-gen2.avro", "aaa-gen2.avro")) {
      val back = graft.sources.Avro.readAvro(spark,
        mixedDir(name, nullableAdd = false))
      assert(back.schema.fieldNames.toSeq == Seq("id", "s"),
        s"naming order $name")
      assert(back.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .toSeq == Seq((1L, "a"), (2L, "b")), s"naming order $name")
    }
  }

  test("Avro write modes: errorifexists refuses, overwrite refuses a " +
    "foreign target but replaces a prior Avro output") {
    val root = Files.createTempDirectory("graft_avro_modes")
    val dir = root.resolve("out").toString
    val df = Seq((1L, "a")).toDF("id", "s")
    graft.sources.Avro.writeAvro(df, dir)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Avro.writeAvro(df, dir, mode = "errorifexists") }
    assert(e.getMessage.contains("already exists"))
    // overwrite onto our own prior output: fine (part-*/_SUCCESS only)
    graft.sources.Avro.writeAvro(Seq((2L, "b")).toDF("id", "s"), dir)
    assert(graft.sources.Avro.readAvro(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))
    // overwrite onto a directory holding foreign content: refuse
    val foreign = root.resolve("data").toString
    new java.io.File(foreign).mkdirs()
    Files.writeString(root.resolve("data").resolve("precious.txt"), "keep me")
    val f = intercept[IllegalArgumentException] {
      graft.sources.Avro.writeAvro(df, foreign) }
    assert(f.getMessage.contains("refusing to overwrite")
      && f.getMessage.contains("precious.txt"))
    assert(Files.exists(root.resolve("data").resolve("precious.txt")))
  }

  test("compressed .jsonl.gz dump: reads transparently but one task per " +
    "file; readJsonlDump restores parallelism") {
    // a gzip'd JSONL crawl dump — the non-splittable landing-zone shape
    val dir = Files.createTempDirectory("graft_jsonl_gz")
    val f = dir.resolve("dump-000.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(f))
    val body = (1 to 500)
      .map(i => s"""{"id": $i, "text": "doc number $i"}""").mkString("\n")
    out.write(body.getBytes("UTF-8")); out.close()
    val raw = graft.sources.Json.readJSONL(spark, f.toString)
    assert(raw.count() == 500 &&
      raw.agg(sum("id")).head().getLong(0) == 500L * 501 / 2)
    // gzip is not splittable: the whole file is ONE input partition,
    // regardless of cluster size — the documented 100 TB trap
    assert(raw.rdd.getNumPartitions == 1)
    val spread = graft.sources.Json.readJsonlDump(spark, f.toString, 8)
    assert(spread.rdd.getNumPartitions == 8)
    assert(spread.count() == 500)
    // default target = the session's shuffle parallelism
    val dflt = graft.sources.Json.readJsonlDump(spark, f.toString)
    assert(dflt.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("XML round trip: inference restores long/double/string, escapes survive") {
    val dir = Files.createTempDirectory("graft_xml").resolve("out").toString
    val src = Seq(
      (1L, "a&<b>\"quoted\"", 1.5),
      (2L, "plain", -2.25),
      (3L, "tail", 100.0))
      .toDF("id", "s", "v")
    graft.sources.Xml.writeXml(src, dir)
    val back = graft.sources.Xml.readXml(spark, dir)
    val types = back.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("id") == LongType && types("v") == DoubleType
      && types("s") == StringType)
    assert(back.orderBy("id").select("id", "s", "v").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
  }

  test("XML reader restores omitted null fields as nulls") {
    val dir = Files.createTempDirectory("graft_xml_null").resolve("out").toString
    val src = Seq((1L, Some("a"), Some(1.5)), (2L, None, Some(2.5)),
      (3L, Some("c"), None)).toDF("id", "s", "v")
    graft.sources.Xml.writeXml(src, dir)
    val back = graft.sources.Xml.readXml(spark, dir)
    assert(back.count() == 3)
    assert(back.filter(col("s").isNull).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(back.filter(col("v").isNull).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("JDBC round trip through embedded Derby") {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    val src = Seq((1L, "x", 10.5), (2L, "y", 20.25), (3L, "z", -1.0))
      .toDF("id", "name", "v")
    Jdbc.toPersistent(src, url, "t1")
    val back = Jdbc.fromPersistent(spark, url, "t1")
    assert(back.columns.map(_.toLowerCase).toSet == Set("id", "name", "v"))
    assert(back.orderBy("id").select("id", "name", "v").collect().toSeq ==
      src.orderBy("id").collect().toSeq)
    // append mode + partitioned parallel read
    Jdbc.toPersistent(src.withColumn("id", col("id") + 3), url, "t1",
      SaveMode.Append)
    val part = Jdbc.fromPersistentPartitioned(spark, url, "t1",
      "id", 1L, 7L, 3)
    assert(part.rdd.getNumPartitions == 3)
    assert(part.count() == 6)
  }
}
