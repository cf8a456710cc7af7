package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.Frame
import graft.sources._

/** CSV surface semantics, mirroring the reference's inference cases
  * (tests/Main.hs:59-120, tests/Operations/ReadCsv.hs). */
class CsvSpec extends SparkSpec {
  private def writeFixture(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_csv_fix")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("readCsv infers bool / int / double / date / text from sample") {
    val p = writeFixture("types.csv",
      """flag,n,x,day,label
        |True,1,1.5,2020-01-01,a
        |False,2,2.5,2020-01-02,b
        |true,3,-3.5,2020-01-03,c
        |""".stripMargin)
    val df = Csv.readCsv(spark, p)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("flag") == BooleanType)
    assert(types("n") == LongType)
    assert(types("x") == DoubleType)
    assert(types("day") == DateType)
    assert(types("label") == StringType)
    assert(df.agg(sum("n")).head().getLong(0) == 6L)
  }

  test("full-column validation overrides a too-clean sample") {
    // sample of 2 says int, a later row fails → falls back through
    // double → text (Typing.hs handleIntAssumption fallback chain)
    val rows = Seq("h", "1", "2") ++ Seq.fill(5)("3") :+ "oops"
    val p = writeFixture("fallback.csv", rows.mkString("\n") + "\n")
    val df = Csv.read(spark, p, CsvOptions(types = InferFromSample(3)))
    assert(df.schema.fields.head.dataType == StringType)
    // and a double later keeps it numeric (int sample → double full)
    val p2 = writeFixture("int2dbl.csv", "h\n1\n2\n2.5\n")
    val df2 = Csv.read(spark, p2, CsvOptions(types = InferFromSample(2)))
    assert(df2.schema.fields.head.dataType == DoubleType)
  }

  test("null tokens: safeRead on/off + missingIndicators") {
    val p = writeFixture("nulls.csv", "v\n1\nNA\n3\nnan\n-\n5\n")
    val on = Csv.readCsv(spark, p)
    // NA/nan → null, "-" fails long parse → column stays text
    assert(on.schema.fields.head.dataType == StringType)
    val custom = Csv.read(spark, p,
      CsvOptions(missingIndicators = Seq("-")))
    assert(custom.schema.fields.head.dataType == LongType)
    assert(custom.filter(col("v").isNull).count() == 3)
    assert(custom.agg(sum("v")).head().getLong(0) == 9L)
    val off = Csv.read(spark, p, CsvOptions(safeRead = false))
    // tokens survive as text when safeRead is off
    assert(off.filter(col("v") === "NA").count() == 1)
  }

  test("header specs: NoHeader positional names, ProvideNames padding") {
    val p = writeFixture("nohdr.csv", "1,a\n2,b\n")
    val noh = Csv.read(spark, p, CsvOptions(header = NoHeader))
    assert(noh.columns.toSeq == Seq("0", "1"))
    assert(noh.count() == 2)
    val prov = Csv.read(spark, p,
      CsvOptions(header = ProvideNames(Seq("num"))))
    assert(prov.columns.toSeq == Seq("num", "1"))
    val tsv = writeFixture("t.tsv", "a\tb\n1\t2\n")
    assert(Csv.readTsv(spark, tsv).columns.toSeq == Seq("a", "b"))
  }

  test("numColumns trims; SpecifyTypes casts positionally") {
    val p = writeFixture("spec.csv", "a,b,c\n1,2.5,x\n2,3.5,y\n")
    val two = Csv.read(spark, p, CsvOptions(numColumns = Some(2),
      types = SpecifyTypes(Seq(IntegerType, DoubleType))))
    assert(two.columns.toSeq == Seq("a", "b"))
    assert(two.schema.fields.map(_.dataType).toSeq == Seq(IntegerType, DoubleType))
  }

  test("SpecifyTypesByName casts by name; unknown name errors") {
    val p = writeFixture("byname.csv", "a,b,c\n1,2.5,2020-01-01\n2,3.5,2020-01-02\n")
    val df = Csv.read(spark, p, CsvOptions(types = SpecifyTypesByName(
      Map("a" -> LongType, "c" -> DateType))))
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("a") == LongType)
    assert(types("b") == StringType) // unnamed stays string
    assert(types("c") == DateType)
    assert(df.agg(sum("a")).head().getLong(0) == 3L)
    // unknown-name error parity with the reference's named specs
    val err = intercept[IllegalArgumentException] {
      Csv.read(spark, p, CsvOptions(types = SpecifyTypesByName(
        Map("nope" -> LongType))))
    }
    assert(err.getMessage.contains("nope"))
  }

  test("corrupt records: partiallyParsed captures structural failures") {
    val p = writeFixture("corrupt.csv", "a,b\n1,2\nonlyone\n3,4\n")
    val df = Csv.read(spark, p, CsvOptions(
      header = ProvideNames(Seq("a", "b")),
      corruptColumn = Some("_bad"),
      types = NoInference)).cache()
    // header row itself is structurally fine; 'onlyone' row is corrupt
    val bad = Frame(df).partiallyParsed("_bad").df
    assert(bad.count() == 1)
    assert(bad.head().getString(2) == "onlyone")
  }

  test("writeTsv round-trips through tab separation") {
    val dir = Files.createTempDirectory("graft_tsv_rt").resolve("out").toString
    import spark.implicits._
    val src = Seq((1L, "has,comma", 1.5), (2L, "plain", -2.5)).toDF("n", "s", "x")
    Csv.writeTsv(src, dir)
    val back = Csv.readTsv(spark, dir)
    assert(back.orderBy("n").collect().toSeq == src.orderBy("n").collect().toSeq)
  }

  test("writeCsv round-trips a frame through text") {
    val dir = Files.createTempDirectory("graft_csv_rt").resolve("out").toString
    import spark.implicits._
    val src = Seq((1L, 1.5, "a", java.sql.Date.valueOf("2020-01-01")),
      (2L, -2.5, "b", java.sql.Date.valueOf("2021-06-30")))
      .toDF("n", "x", "s", "d")
    Csv.writeCsv(src, dir)
    val back = Csv.readCsv(spark, dir)
    assert(back.schema.fields.map(_.dataType).toSeq ==
      Seq(LongType, DoubleType, StringType, DateType))
    assert(back.orderBy("n").collect().toSeq == src.orderBy("n").collect().toSeq)
  }
}
