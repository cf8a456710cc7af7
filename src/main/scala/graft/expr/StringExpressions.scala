package graft.expr

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonical/compatibility normalization (NFC/NFD/NFKC/NFKD) as
  * a codegen'd Catalyst expression.
  *
  * Spark ships no normalization builtin, and a Scala UDF would break
  * whole-stage codegen right at the top of every text-cleaning chain —
  * this stays inside the generated code (the JDK `java.text.Normalizer`
  * is the same ICU-derived implementation DuckDB's `nfc_normalize`
  * follows, so the q153 oracle replays it).
  *
  * Fast path: `Normalizer.isNormalized` is a cheap quick-check scan
  * (ASCII and already-composed text — the overwhelming majority of a
  * web corpus — takes no allocation beyond the `toString`), so the
  * normalize-and-copy cost is paid only by rows that actually need it.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes {

  require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unknown normalization form: $form")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_unicode_normalize"
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], Normalizer.Form.valueOf(form))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.UnicodeNormalize.normalize($a, java.text.Normalizer.Form.$form);")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  /** `s` itself when already in `form`, else its normalized copy. */
  def normalize(s: UTF8String, form: Normalizer.Form): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }
}

/** zlib compression ratio of a string's UTF-8 bytes — deflated size /
  * raw size — as a codegen'd Catalyst expression. The standard
  * degenerate-text detector in web-corpus quality filtering
  * (RefinedWeb/Dolma-style "gzip ratio"): looping or boilerplate-heavy
  * text compresses far below organic prose (~0.1 vs ~0.5-0.7), and
  * random/binary-ish junk refuses to compress (>0.9) — both tails get
  * filtered. Runs inside whole-stage codegen; a UDF here would break
  * the scan-stage quality chain on every row of a 100 TB corpus.
  *
  * Level is pinned (6) for cross-run determinism on a given JVM; the
  * signal is a heuristic, thresholds should come from
  * `quantileThresholds` on a sample, not from magic constants. Empty
  * strings yield NULL (no raw bytes to ratio), matching the null-out
  * convention of the other quality signals. Cost: one deflate pass per
  * row — comparable to the hashing the dedup path already pays. */
case class CompressionRatio(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_compression_ratio"
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    CompressionRatio.ratio(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      Kernel.boxedOrNull(ctx, ev, dataType, s"graft.expr.CompressionRatio.ratio($a)"))

  override protected def withNewChildInternal(newChild: Expression): CompressionRatio =
    copy(child = newChild)
}

object CompressionRatio {
  /** Deflated / raw size of the UTF-8 bytes, or null for the empty
    * string. One Deflater per call (they are not thread-safe and Spark
    * shares nothing across rows here); the output buffer is discarded —
    * only the deflated LENGTH matters, so nothing row-sized survives the
    * call. */
  def ratio(s: UTF8String): java.lang.Double = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return null
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    } finally d.end()
  }
}

object StringExpressions {
  /** Column wrapper: Unicode-normalize a string column (default NFC —
    * the canonical-composition form DuckDB's `nfc_normalize` matches). */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(c), form))

  /** Column wrapper: zlib compression ratio (deflated/raw UTF-8 bytes;
    * NULL for empty strings) — the degenerate-text quality signal. */
  def compressionRatio(c: Column): Column =
    ColumnBridge.column(CompressionRatio(ColumnBridge.expression(c)))
}
