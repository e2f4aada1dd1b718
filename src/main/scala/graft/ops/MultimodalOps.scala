package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * processed in batched partition-local stages.
  *
  * The real decoders (image/audio libs) are not available in this
  * container, so the decode step is a STUB — a deterministic fake feature
  * extractor over the raw bytes (clearly marked below). Everything
  * Spark-side is real and tested: binary column construction, metadata
  * struct schema, batch shape (mapPartitions with fixed-size internal
  * batches, mirroring the reference's BATCH_SIZE=32 inference batching,
  * ref: src/signature_module/signature_module_main.py:18), and the
  * downstream relational handling of the features.
  */
object MultimodalOps {

  import RelationalOps.table

  val BatchSize = 32

  final case class MediaFeature(
      doc_id: Long,
      n_bytes: Int,
      top_byte: Int,
      byte_sum: Long,
      batch_size_seen: Int)

  /** STUB decoder: deterministic byte-level "features" standing in for an
    * image/audio decode. Replace with a real codec when available — the
    * signature (Array[Byte] => features) and the batching shape stay.
    * The summary statistic is a plain byte SUM (not a wrapping product
    * hash) so the output is expressible in overflow-checked engines and
    * the DuckDB oracle can recompute it.
    */
  private def fakeDecode(payload: Array[Byte]): (Int, Int, Long) = {
    val hist = new Array[Int](256)
    var byteSum = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      hist(b) += 1
      byteSum += b
      i += 1
    }
    var top = 0
    var ti = 0
    var b = 0
    while (b < 256) { if (hist(b) > top) { top = hist(b); ti = b }; b += 1 }
    (payload.length, ti, byteSum)
  }

  /** Build a binary media column (payload = utf-8 bytes of text — the
    * container has no real media; the column TYPE and flow are the point)
    * plus a typed metadata struct, then feature-extract in batches.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, dir, "documents")
      .select(
        col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          col("source").as("container"),
          col("n_chars").as("declared_size"),
          lit("application/octet-stream").as("mime")).as("meta"))

    media
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // batched processing: the decode stub is called per element, but
        // batch boundaries are real (a vectorized codec would consume the
        // whole batch at once)
        it.grouped(BatchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            val (n, top, sum) = fakeDecode(payload)
            MediaFeature(id, n, top, sum, batch.size)
          }
        }
      }
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("top_byte"), col("byte_sum"))
  }

  final case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: Long)

  /** Frame sampling over an opaque binary "video" payload: fixed-size
    * windows at a stride, each "decoded" (STUB: checksum) — the
    * partition-local fan-out shape of real frame extraction (one input
    * row → k frame rows, no shuffle).
    */
  def frameSample(
      spark: SparkSession,
      dir: String,
      frameBytes: Int = 64,
      stride: Int = 48): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val n = payload.length
          // windows start every `stride` bytes until the payload is
          // exhausted — the final (possibly partial) frame covers the
          // tail, so every byte lands in at least one frame
          val starts = 0 until math.max(1, n) by stride
          starts.iterator.zipWithIndex.map { case (s, fi) =>
            val end = math.min(n, s + frameBytes)
            var ck = 0L
            var i = s
            while (i < end) { ck = ck * 131 + (payload(i) & 0xff); i += 1 }
            Frame(id, fi, end - s, ck)
          }
        }
      }
      .toDF()
  }

  /** F8: base64 transport encoding of a binary payload column — the
    * reference ships page images base64-encoded (ref: app.py:273-279).
    * Spark's `base64` emits RFC 2045 MIME chunking (CRLF every 76 chars)
    * for long payloads; transport format here is single-line RFC 4648,
    * so the line breaks are stripped. Round-trip (`fromBase64Transport`)
    * is asserted in OpsSpec.
    */
  def toBase64Transport(df: DataFrame, binCol: String): DataFrame =
    df.withColumn(s"${binCol}_b64",
      regexp_replace(base64(col(binCol)), "[\\r\\n]", ""))

  def fromBase64Transport(df: DataFrame, b64Col: String, outCol: String): DataFrame =
    df.withColumn(outCol, unbase64(col(b64Col)))

  /** Pixel plane width / planted-pixel cap / thumbnail side for
    * [[imageFeatures]].
    */
  val ImgWidth = 32
  val ImgMaxChars = 1024
  val ThumbSide = 8

  final case class ImageFeature(
      doc_id: Long, width: Int, height: Int,
      sum_luma: Long, max_luma: Int, thumb_sum: Long)

  /** REAL image codec path (no external jars — `javax.imageio` ships in
    * the JDK with PNG support): deterministic grayscale pixels are
    * planted from the document's character codepoints (corpus is ASCII;
    * `% 256` keeps the 8-bit range for any BMP char), PNG-ENCODED with
    * ImageIO, then PNG-DECODED again, and every output feature — size,
    * luminance sum/max, and an 8×8 nearest-neighbor thumbnail sum — is
    * computed from the DECODED raster. The DuckDB oracle recomputes the
    * expected values from the text alone, so a green q84 proves the real
    * encode→decode round-trip is pixel-exact, not just that the stub
    * arithmetic matches. Raster `setSample`/`getSample` keep samples raw
    * (no color-space conversion). Batched mapPartitions, zero shuffles —
    * the same flow a vectorized codec would use at 100 TB.
    */
  def imageFeatures(spark: SparkSession, dir: String): DataFrame =
    codecFeatures(spark, dir, "png")

  /** Plant the deterministic grayscale plane for one document's text. */
  private def plantPlane(t: String): (Array[Int], java.awt.image.BufferedImage) = {
    // codepoints (not UTF-16 chars) — matches the oracle's
    // per-codepoint ord(..) % 256 for any input, incl. non-BMP
    val px = t.codePoints().toArray.map(_ % 256)
    val w = ImgWidth
    val h = math.max(1, (px.length + w - 1) / w)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val out = img.getRaster
    var i = 0
    while (i < w * h) {
      out.setSample(i % w, i / w, 0, if (i < px.length) px(i) else 0)
      i += 1
    }
    (px, img)
  }

  /** Encode with ImageIO `format`, decode again — both real codec calls. */
  private def roundTrip(img: java.awt.image.BufferedImage, format: String, id: Long)
      : java.awt.image.BufferedImage = {
    val bos = new java.io.ByteArrayOutputStream()
    val wrote = javax.imageio.ImageIO.write(img, format, bos)
    require(wrote, s"no $format ImageIO writer available (doc $id)")
    val dec = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    require(dec != null, s"$format decode failed for doc $id")
    dec
  }

  /** Codec-parameterized round-trip features: q84 runs it with PNG, q89
    * with BMP — BOTH lossless JDK-ImageIO codecs, so both get the same
    * text-derived oracle and a green row proves the respective
    * encode→decode path pixel-exact (the "foreign container" case of
    * S2/S3 without external jars; ref: app.py:250-287 handles
    * image-or-pdf containers before rasterizing).
    */
  def codecFeatures(spark: SparkSession, dir: String, format: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(col("doc_id"),
        substring(coalesce(col("text"), lit("")), 1, ImgMaxChars).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          batch.iterator.map { case (id, t) =>
            val (_, img) = plantPlane(t)
            val dec = roundTrip(img, format, id)
            val r = dec.getRaster
            var sum = 0L; var mx = 0; var y = 0
            while (y < dec.getHeight) {
              var x = 0
              while (x < dec.getWidth) {
                val v = r.getSample(x, y, 0)
                sum += v; if (v > mx) mx = v
                x += 1
              }
              y += 1
            }
            var tsum = 0L
            var j = 0
            while (j < ThumbSide * ThumbSide) {
              val tx = j % ThumbSide; val ty = j / ThumbSide
              tsum += r.getSample(
                tx * dec.getWidth / ThumbSide, ty * dec.getHeight / ThumbSide, 0)
              j += 1
            }
            ImageFeature(id, dec.getWidth, dec.getHeight, sum, mx, tsum)
          }
        }
      }
      .toDF()
  }

  final case class CodecError(
      doc_id: Long, width: Int, height: Int, max_abs_err: Int, sum_abs_err: Long)

  /** LOSSY decode path (JPEG, the reference's wire format for scanned
    * pages): real ImageIO encode→decode, reporting per-document decode
    * error against the planted plane. Dimensions must survive exactly
    * (enforced here — a dimension change is a codec bug, not loss);
    * sample error is bounded by the local tolerance test. No DuckDB
    * oracle by design: lossy output is codec-version-defined, so the
    * correctness claim is the error BOUND, not byte equality.
    */
  def codecError(spark: SparkSession, dir: String, format: String = "jpg"): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(col("doc_id"),
        substring(coalesce(col("text"), lit("")), 1, ImgMaxChars).as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          batch.iterator.map { case (id, t) =>
            val (px, img) = plantPlane(t)
            val w = img.getWidth; val h = img.getHeight
            val dec = roundTrip(img, format, id)
            require(dec.getWidth == w && dec.getHeight == h,
              s"$format decode changed dimensions for doc $id")
            val r = dec.getRaster
            var sumErr = 0L; var maxErr = 0
            var i = 0
            while (i < w * h) {
              val want = if (i < px.length) px(i) else 0
              val got = r.getSample(i % w, i / w, 0)
              val e = math.abs(got - want)
              sumErr += e; if (e > maxErr) maxErr = e
              i += 1
            }
            CodecError(id, w, h, maxErr, sumErr)
          }
        }
      }
      .toDF()
  }
}
