package perfbench

import graft.Tables
import graft.expr.{AggregateExpressions, HeavyHitters, MomentsAggregate, StringExpressions, TextHashExpressions, TopK, VectorExpressions}
import graft.ops.TextAnalysis
import graft.sources.{Avro, Csv, Jdbc, Json, Orc, Xml}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Direct timed calls into single layers, from outside the program:
  * `Tables.*` loaders and scans, the `expr/` kernels through their public
  * Column functions, and the `sources/` writers and readers. Each timing
  * is one call after one untimed warm-up call. */
final class Probes(spark: SparkSession, dataDir: String, tmpDir: String) {

  private def timed(body: => Unit): Double = {
    body
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** per table: load seconds (the `Tables.*` call alone), full-scan
    * seconds through the noop sink, and row count. */
  def tableProbe(): Seq[Map[String, Any]] = tables.map { case (name, load) =>
    val loadS = timed(load(spark, dataDir))
    val df = load(spark, dataDir)
    val rows = df.count()
    Map("table" -> name, "load_s" -> loadS, "scan_s" -> timed(noop(df)), "rows" -> rows)
  }

  /** rows/s of each custom expression or aggregate over the documents /
    * embeddings columns, replicated twice and cached so that the kernel,
    * not the scan, is what is timed. */
  def exprProbe(): Seq[Map[String, Any]] = {
    val rep = spark.range(2).withColumnRenamed("id", "copy")
    val docs = Tables.documents(spark, dataDir).crossJoin(rep)
      .select(col("doc_id"), col("text"), col("n_chars"),
        split(col("text"), "\\s+").as("words"))
      .withColumn("cps", TextAnalysis.charCodePoints(col("text")))
      .withColumn("h3", TextHashExpressions.ngramHashesDistinct(col("words"), 3))
      .cache()
    val words = docs.select(explode(col("words")).as("w")).cache()
    val embs = Tables.embeddings(spark, dataDir).crossJoin(rep)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("score", VectorExpressions.dot(col("v"), col("v")))
      .cache()
    val (nDocs, nWords, nEmbs) = (docs.count(), words.count(), embs.count())
    val dim = 64
    val rnd = new scala.util.Random(7)
    val codebooks = Array.fill(8)(Array.fill(16)(Array.fill(dim / 8)(rnd.nextGaussian())))
    val planes = Vector.fill(16)(Vector.fill(dim)(rnd.nextGaussian()))
    def sel(df: DataFrame, c: org.apache.spark.sql.Column) = () => noop(df.select(c))
    def agg(df: DataFrame, c: org.apache.spark.sql.Column) = () => noop(df.agg(c))
    val v = col("v")
    val kernels: Seq[(String, Long, () => Unit)] = Seq(
      ("CompressionRatio", nDocs, sel(docs, StringExpressions.compressionRatio(col("text")))),
      ("UnicodeNormalize", nDocs, sel(docs, StringExpressions.unicodeNormalize(col("text"), "NFKC"))),
      ("CharTrigramBucketHashes", nDocs, sel(docs, TextHashExpressions.charTrigramBuckets(col("cps"), 4096))),
      ("NgramHashes", nDocs, sel(docs, TextHashExpressions.ngramHashesAll(col("words"), 3))),
      ("BigramHashPairs", nDocs, sel(docs, TextHashExpressions.bigramHashPairs(col("words")))),
      ("PortableWordHashes", nDocs, sel(docs, VectorExpressions.portableWordHashes(col("words")))),
      ("TopNgramCount", nDocs, sel(docs, VectorExpressions.topNgramCount(col("words"), 2))),
      ("MinHashSignature", nDocs, sel(docs, VectorExpressions.minhashSig(col("h3"), 64))),
      ("SimHashSignature", nDocs, sel(docs, VectorExpressions.simhashSig(col("h3"), 64))),
      ("DotProduct", nEmbs, sel(embs, VectorExpressions.dot(v, v))),
      ("VectorDivide", nEmbs, sel(embs, VectorExpressions.vecDiv(v, sqrt(col("score"))))),
      ("SignSketch", nEmbs, sel(embs, VectorExpressions.signSketch(v, planes, 4))),
      ("PqEncode", nEmbs, sel(embs, VectorExpressions.pqEncode(v, codebooks))),
      ("VectorMomentsAgg", nEmbs, agg(embs, MomentsAggregate.vectorMoments(v, dim))),
      ("TopKAgg", nEmbs, () => noop(embs.groupBy("label").agg(TopK.topK(col("score"), col("vec_id"), 10)))),
      ("Int128SumMicros", nDocs, agg(docs, AggregateExpressions.dsumScaled(col("n_chars").cast("double"), 6))),
      ("MisraGriesAgg", nWords, agg(words, HeavyHitters.misraGries(col("w"), 64))),
      ("CountMinAgg", nWords, agg(words, graft.api.functions.cmsSketch(col("w")))))
    val out = kernels.map { case (name, rows, run) =>
      val s = timed(run())
      Map("kernel" -> name, "rows" -> rows, "s" -> s, "rows_per_s" -> rows / s)
    }
    Seq(docs, words, embs).foreach(_.unpersist(blocking = true))
    out
  }

  /** write and read seconds per `sources/` format over the q32-size
    * lineitem slice (held in memory so the writer is what is timed). */
  def sourcesProbe(): Seq[Map[String, Any]] = {
    val slice = Tables.lineitem(spark, dataDir)
      .filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        col("l_shipdate").cast("date").as("l_shipdate"))
      .cache()
    val rows = slice.count()
    val url = "jdbc:derby:memory:perfbench;create=true"
    def p(fmt: String) = s"$tmpDir/sources_$fmt"
    val formats: Seq[(String, () => Unit, () => DataFrame)] = Seq(
      ("csv", () => Csv.writeCsv(slice, p("csv")), () => Csv.readCsv(spark, p("csv"))),
      ("json", () => Json.writeJSONL(slice, p("json")), () => Json.readJSONL(spark, p("json"))),
      ("orc", () => Orc.writeOrc(slice, p("orc")), () => Orc.readOrc(spark, p("orc"))),
      ("avro", () => Avro.writeAvro(slice, p("avro")), () => Avro.readAvro(spark, p("avro"))),
      ("xml", () => Xml.writeXml(slice, p("xml")), () => Xml.readXml(spark, p("xml"))),
      ("jdbc", () => Jdbc.toPersistent(slice, url, "slice", SaveMode.Overwrite),
        () => Jdbc.fromPersistent(spark, url, "slice")))
    val out = formats.map { case (fmt, write, read) =>
      val w = timed(write())
      val r = timed(noop(read()))
      Map("format" -> fmt, "rows" -> rows, "write_s" -> w, "read_s" -> r)
    }
    slice.unpersist(blocking = true)
    out
  }
}
