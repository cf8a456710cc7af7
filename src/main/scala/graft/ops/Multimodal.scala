package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: media travels as an
  * opaque `binary` column plus a typed metadata struct; decode /
  * feature-extraction / resize run per-partition so a payload never
  * leaves the executor that holds it.
  *
  * Image decode is REAL: [[Multimodal.ImageIoCodec]] reads PNG/JPEG/
  * BMP/GIF via the JDK's javax.imageio (no external dependency). Other
  * media types plug in through [[Multimodal.MediaCodec]]; the byte-level
  * [[decodeStub]] path remains for opaque/audio-like payloads.
  *
  * Scale notes: binary payloads dominate row size, so operators here
  * never shuffle payloads — features are extracted in the scan stage and
  * the payload column is dropped before any wide operation.
  */
object Multimodal {

  /** metadata schema carried next to every payload. */
  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("mean_byte", DoubleType, nullable = false),
    StructField("byte_entropy", DoubleType, nullable = false),
    StructField("histogram_head", ArrayType(LongType), nullable = false)))

  /** Deterministic fake "images": payload = the document's UTF-8 bytes,
    * metadata derived from them. Stands in for `spark.read.format(
    * "binaryFile")` + sidecar metadata in a real pipeline. */
  def packDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(lit("fake/raw").as("format"),
        (length(col("text")) % 640).cast("int").as("width"),
        (length(col("text")) % 480).cast("int").as("height"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  /** STUB decode: a real implementation would decode image/audio bytes
    * here (per-partition, batched). The deterministic fake computes a
    * byte histogram + entropy so the full pipeline (schema, partition
    * locality, feature shape) is real and testable. */
  def decodeStub(payload: Array[Byte]): (Double, Double, Array[Long]) = {
    val hist = new Array[Long](256)
    var sum = 0.0
    payload.foreach { b => val u = b & 0xFF; hist(u) += 1; sum += u }
    val n = math.max(payload.length, 1)
    var entropy = 0.0
    hist.foreach { c =>
      if (c > 0) { val p = c.toDouble / n; entropy -= p * math.log(p) }
    }
    (sum / n, entropy, hist.take(8))
  }

  /** typed rows for the Dataset.mapPartitions feature paths: the case
    * classes keep extraction inside Tungsten (DeserializeToObject →
    * MapPartitions → SerializeFromObject in ONE plan, no ExistingRDD
    * scan and no Row-encoder round trip through createDataFrame). */
  case class ByteFeatures(doc_id: Long, n_bytes: Long, mean_byte: Double,
                          byte_entropy: Double, histogram_head: Seq[Long])
  case class AudioFeatures(doc_id: Long, sample_rate: Option[Int],
                           n_samples: Option[Long], duration_sec: Option[Double],
                           rms: Option[Double], peak: Option[Double],
                           zero_cross_rate: Option[Double])
  case class ImageFeatures(doc_id: Long, width: Option[Int],
                           height: Option[Int], mean_luma: Option[Double],
                           luma_hist: Option[Seq[Long]])
  case class MediaPayload(doc_id: Long, payload: Array[Byte])
  case class LumaGrid(doc_id: Long, pixels: Option[Seq[Double]])

  private val payloadEnc: Encoder[(Long, Array[Byte])] =
    Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)

  /** per-partition feature extraction over (doc_id, payload, meta) rows —
    * the mapPartitions shape a real decoder would use (one codec init per
    * partition, payloads processed where they live). */
  def extractFeatures(packed: DataFrame): DataFrame =
    packed.select("doc_id", "payload").as[(Long, Array[Byte])](payloadEnc)
      .mapPartitions { rows =>
        // real pipeline: initialize the decoder once per partition here
        rows.map { case (id, payload) =>
          val (mean, entropy, head) = decodeStub(payload)
          ByteFeatures(id, payload.length.toLong, mean, entropy, head.toSeq)
        }
      }(Encoders.product[ByteFeatures]).toDF()

  /** "frame sampling": every `stride`-th block of `blockBytes` bytes, as
    * the video-frame-sample analog (array<binary> column, bounded count). */
  def sampleFrames(packed: DataFrame, blockBytes: Int = 64,
                   stride: Int = 4, maxFrames: Int = 8): DataFrame = {
    val nBlocks = (length(col("payload")) + blockBytes - 1) / blockBytes
    val idx = sequence(lit(0), least(((nBlocks - 1) / stride).cast("int"), lit(maxFrames - 1)))
    packed.select(col("doc_id"),
      transform(idx, i => substring(col("payload"), i * stride * blockBytes + 1, lit(blockBytes)))
        .as("frames"))
  }

  /** "resize": truncate/zero-pad payloads to a fixed size (the geometric
    * resize analog for opaque payloads — real resize goes in the decoder). */
  def resizePayload(packed: DataFrame, target: Int): DataFrame =
    packed.withColumn("payload",
      substring(rpad(col("payload"), target, Array[Byte](0)), 1, target))

  // ---- real image codec (JDK ImageIO: PNG/JPEG/BMP/GIF) -----------------

  /** pluggable per-partition media decoder: implementations must be
    * serializable (shipped to executors) and cheap to reuse across a
    * partition's rows. */
  trait MediaCodec extends Serializable {
    def name: String
    /** decode to (width, height, row-major 8-bit grayscale); None when
      * the payload isn't decodable as this codec's media type. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Byte])]
    /** geometric resize, re-encoded in the codec's own format. */
    def resize(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]]
  }

  /** JDK-built-in image codec — javax.imageio reads PNG/JPEG/BMP/GIF
    * with no external dependency, headless-safe. The decode the round-1
    * stub stood in for. */
  object ImageIoCodec extends MediaCodec {
    val name = "imageio"
    System.setProperty("java.awt.headless", "true")

    // ImageIO.read returns null only for unrecognized formats but THROWS
    // (IIOException) for recognized-but-truncated/corrupt payloads — both
    // must become None so a corrupt image yields null features, not a
    // failed task (the decodeImages contract).
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      Option(img).map { im =>
        val w = im.getWidth; val h = im.getHeight
        val gray = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = im.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 +
              ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
            gray(y * w + x) = lum.toByte
            x += 1
          }
          y += 1
        }
        (w, h, gray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

    def resize(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      Option(img).map { im =>
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(im, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        bos.toByteArray
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- real audio codec (RIFF/WAVE PCM) ---------------------------------

  /** audio analog of [[MediaCodec]]: decode a payload to (sampleRate,
    * mono float samples in [-1, 1]); None when not decodable. */
  trait AudioCodec extends Serializable {
    def name: String
    def decode(payload: Array[Byte]): Option[(Int, Array[Float])]
  }

  /** Minimal RIFF/WAVE PCM decoder: 8- or 16-bit integer PCM, any
    * channel count (channels average to mono). A pure-JVM chunk walk —
    * no external dependency; corrupt, truncated, or non-WAV payloads
    * yield None (never a failed task). */
  object WavCodec extends AudioCodec {
    val name = "wav-pcm"

    def decode(payload: Array[Byte]): Option[(Int, Array[Float])] = try {
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      if (bb.remaining() < 12 || tag() != "RIFF") return None
      bb.getInt() // declared RIFF size (untrusted — we walk actual chunks)
      if (tag() != "WAVE") return None
      var fmt: Option[(Int, Int, Int, Int)] = None // format, channels, rate, bits
      while (bb.remaining() >= 8) {
        val id = tag()
        val size = bb.getInt()
        if (size < 0 || size > bb.remaining()) return None
        val next = bb.position() + size + (size & 1) // chunks are word-aligned
        if (id == "fmt " && size >= 16) {
          fmt = Some((bb.getShort().toInt, bb.getShort().toInt,
            bb.getInt(), { bb.getInt(); bb.getShort(); bb.getShort().toInt }))
        } else if (id == "data") {
          fmt match {
            case Some((1, ch, rate, bits))
                if ch >= 1 && (bits == 8 || bits == 16) =>
              val bytesPerSample = bits / 8
              val frames = size / (bytesPerSample * ch)
              val mono = new Array[Float](frames)
              var i = 0
              while (i < frames) {
                var acc = 0.0f
                var c = 0
                while (c < ch) {
                  acc += (if (bits == 16) bb.getShort() / 32768.0f
                          else ((bb.get() & 0xFF) - 128) / 128.0f)
                  c += 1
                }
                mono(i) = acc / ch
                i += 1
              }
              return Some((rate, mono))
            case _ => return None // non-PCM or fmt missing/unsupported
          }
        }
        if (next > bb.limit()) return None
        bb.position(next)
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("duration_sec", DoubleType, nullable = true),
    StructField("rms", DoubleType, nullable = true),
    StructField("peak", DoubleType, nullable = true),
    StructField("zero_cross_rate", DoubleType, nullable = true)))

  /** REAL audio decode + feature extraction (duration, RMS, peak,
    * zero-crossing rate), per-partition, same no-payload-shuffle shape
    * as [[decodeImages]]; undecodable payloads → null features. */
  def decodeAudio(packed: DataFrame, codec: AudioCodec = WavCodec): DataFrame =
    packed.select("doc_id", "payload").as[(Long, Array[Byte])](payloadEnc)
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          codec.decode(payload) match {
            case Some((rate, s)) if s.nonEmpty =>
              var sumSq = 0.0; var peak = 0.0; var zc = 0L
              var i = 0
              while (i < s.length) {
                val v = s(i)
                sumSq += v.toDouble * v
                if (math.abs(v) > peak) peak = math.abs(v)
                if (i > 0 && (s(i - 1) >= 0) != (v >= 0)) zc += 1
                i += 1
              }
              AudioFeatures(id, Some(rate), Some(s.length.toLong),
                Some(s.length.toDouble / rate), Some(math.sqrt(sumSq / s.length)),
                Some(peak), Some(zc.toDouble / s.length))
            case _ => AudioFeatures(id, None, None, None, None, None, None)
          }
        }
      }(Encoders.product[AudioFeatures]).toDF()

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("mean_luma", DoubleType, nullable = true),
    StructField("luma_hist", ArrayType(LongType), nullable = true)))

  /** REAL image decode + feature extraction, per-partition (codec reused
    * across a partition's rows; payloads never shuffle). Undecodable
    * payloads yield null features, not failures — at corpus scale some
    * media is always corrupt. */
  def decodeImages(packed: DataFrame, codec: MediaCodec = ImageIoCodec,
                   histBins: Int = 16): DataFrame =
    packed.select("doc_id", "payload").as[(Long, Array[Byte])](payloadEnc)
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          codec.decode(payload) match {
            case Some((w, h, gray)) =>
              val hist = new Array[Long](histBins)
              var sum = 0.0
              gray.foreach { b =>
                val u = b & 0xFF; sum += u; hist(u * histBins / 256) += 1
              }
              ImageFeatures(id, Some(w), Some(h),
                Some(sum / math.max(gray.length, 1)), Some(hist.toSeq))
            case None => ImageFeatures(id, None, None, None, None)
          }
        }
      }(Encoders.product[ImageFeatures]).toDF()

  /** REAL geometric resize: payload → payload (re-encoded), same
    * per-partition no-shuffle shape. */
  def resizeImages(packed: DataFrame, w: Int, h: Int,
                   codec: MediaCodec = ImageIoCodec): DataFrame =
    packed.select("doc_id", "payload").as[(Long, Array[Byte])](payloadEnc)
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          MediaPayload(id, codec.resize(payload, w, h).orNull)
        }
      }(Encoders.product[MediaPayload]).toDF()

  /** REAL decode → w×h downsampled luma grid as array<double> (the
    * perceptual-hash input): one decode + resize per payload, per
    * partition, payloads never shuffle; undecodable payloads yield a
    * null grid. The grid is tiny (w·h doubles), so it IS safe to
    * shuffle downstream — the whole point of hashing before joining. */
  def decodeLumaGrid(packed: DataFrame, w: Int, h: Int,
                     codec: MediaCodec = ImageIoCodec): DataFrame =
    packed.select("doc_id", "payload").as[(Long, Array[Byte])](payloadEnc)
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val grid = for {
            small <- codec.resize(payload, w, h)
            (gw, gh, gray) <- codec.decode(small)
            if gw == w && gh == h
          } yield gray.map(b => (b & 0xFF).toDouble).toSeq
          LumaGrid(id, grid)
        }
      }(Encoders.product[LumaGrid]).toDF()

  /** Average hash (aHash — the classic public perceptual fingerprint:
    * bit i set iff pixel i exceeds the grid mean). `bits` ≤ 63 pixels
    * participate — 63, not 64, keeps the signature strictly
    * non-negative in signed-64 engines (Spark longs, DuckDB BIGINT),
    * so shifts, comparisons, and the pigeonhole chunking stay
    * engine-portable; the discrimination loss of one bit is noise.
    * Pure codegen Column arithmetic: the mean is a sequential
    * element-order fold (deterministic — the [[Similarity.dot]]
    * convention) and the bit sum is 63 exact long adds; a DuckDB
    * oracle replays it bit-identically (q171). Near-dup pairs:
    * [[Dedup.hammingNearDupPairs]]. Null/short grids → null hash. */
  def aHash(pixels: org.apache.spark.sql.Column, bits: Int = 63)
      : org.apache.spark.sql.Column =
    // codegen kernel (graft.expr.AHash): the Column formulations are
    // pathological here — a HOF-fold mean is CodegenFallback AND
    // re-evaluates per bit term (2.0 s / 50 k rows at sf0.1), while an
    // inlined add-chain mean duplicated across 63 terms explodes the
    // expression tree past what codegen handles (25 s). The kernel is
    // two tight loops per row (QBench 0.35 s), arithmetic bit-identical
    // to the q171 oracle's list_sum formulation.
    graft.expr.VectorExpressions.aHash(pixels, bits)

  /** Difference hash (dHash — gradient fingerprint: bit r·(w−1)+c set
    * iff pixel (r,c) < pixel (r,c+1) of a w×h row-major grid).
    * (w−1)·h ≤ 63 bits for the same sign-portability rule as
    * [[aHash]]; default 9×7 → 56 bits. More robust than aHash to
    * global brightness shifts (it compares neighbors, not the mean).
    * Pure exact Column arithmetic, no fp at all. */
  def dHash(pixels: org.apache.spark.sql.Column, w: Int = 9, h: Int = 7)
      : org.apache.spark.sql.Column =
    graft.expr.VectorExpressions.dHash(pixels, w, h)

  /** Perceptual near-duplicate image pairs: hash each grid (tiny,
    * scan-stage) and block on hamming chunks — [[Dedup
    * .hammingNearDupPairs]]'s pigeonhole guarantee, so recall is FULL
    * for the given hash; payloads themselves never join. Returns
    * (d1, d2, dist) with hamming(aHash) <= maxDist. */
  def imageNearDupPairs(grids: DataFrame, id: String, pixels: String,
                        maxDist: Int = 6, bits: Int = 63): DataFrame =
    // size guard, not just null: a grid shorter than `bits` hashes to
    // null, and null chunk keys silently never pair — an 8×7 grid fed
    // to the 63-bit default would return an empty result with no error
    Dedup.hammingNearDupPairs(
      grids.filter(col(pixels).isNotNull && size(col(pixels)) >= bits), id,
      aHash(col(pixels), bits), maxDist, bits)
}
