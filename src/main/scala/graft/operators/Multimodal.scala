package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
 * columns with a typed metadata struct, plus decode / feature-extract /
 * resize / frame-sample stages. North-star operators (BASELINE.json);
 * absent from the reference (JSON-scalar records only,
 * `stepist/app.py:20,26`).
 *
 * Image payloads (PNG/JPEG/GIF/BMP) decode for REAL in [[decodeBatched]]
 * via the JDK's `javax.imageio` — no external libraries needed. Payloads no
 * JDK reader claims (audio, video, exotic codecs — the container carries no
 * libraries for those) fall back to a deterministic content-derived stub
 * with the same output shape, so the batched contract — schema, binary
 * handling, partition-parallel extraction, one codec call per batch — is
 * exercised on genuine bytes where possible and never fails on the rest.
 * The column-expression [[fakeDecode]] stays the pure-codegen variant for
 * plans that only need stable pseudo-features.
 */
object Multimodal {

  /** Typed metadata carried next to every media payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("modality", StringType, nullable = false),  // image|audio|video|text
    StructField("mime", StringType, nullable = true),
    StructField("byte_len", LongType, nullable = false),
    StructField("checksum", StringType, nullable = false))) // hex md5 of payload

  /**
   * Wrap a binary payload column into the canonical (payload, meta) pair.
   * `meta.checksum` doubles as the exact-dedup key for media — dedup on it,
   * not on the payload bytes, so the shuffle moves 32-byte digests, never
   * blobs.
   */
  def packMedia(df: DataFrame, payloadCol: String, modality: String,
                mime: String = null): DataFrame =
    df.withColumn("media_meta", struct(
      lit(modality).as("modality"),
      lit(mime).cast(StringType).as("mime"),
      coalesce(length(col(payloadCol)).cast(LongType), lit(0L)).as("byte_len"),
      md5(coalesce(col(payloadCol), lit(Array.emptyByteArray))).as("checksum")))

  /**
   * Deterministic fake "decode" of a binary payload: derives stable
   * pseudo-features (width/height/duration proxies) from content hashes.
   * STUB — replace with a real codec; the surrounding plan is production
   * shape: pure column expressions, codegen'd, partition-parallel.
   */
  def fakeDecode(payload: Column): Column = {
    val h = xxhash64(payload)
    struct(
      (pmod(h, lit(1920L)) + 1L).as("width"),
      (pmod(shiftright(h, 16), lit(1080L)) + 1L).as("height"),
      (pmod(shiftright(h, 32), lit(600L)).cast(DoubleType) / 10.0).as("duration_s"))
  }

  /**
   * Feature-extraction stage: payload → fixed-width float feature vector.
   * The fake derives `dim` deterministic values from content hashes — the
   * real version plugs an encoder model at the same signature
   * (binary → array<float>), batched per partition.
   */
  def fakeFeatures(payload: Column, dim: Int = 8): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(payload, i), lit(2000L)).cast(DoubleType) / 1000.0 - 1.0)
        .cast(FloatType))

  /**
   * Partition-batched decode — the Scala shape of a batched decode UDF
   * (Python's `mapInPandas` contract): rows stream through `mapPartitions`,
   * are buffered into fixed-size batches, the codec is invoked once per
   * BATCH, and decoded structs are emitted alongside the original columns.
   * Batching amortizes per-call overhead (model load, FFI crossing) and
   * bounds peak memory to `batchSize` payloads per task. Image payloads
   * (PNG/JPEG/GIF/BMP) decode for real via `javax.imageio` to their actual
   * width/height (`duration_s` 0.0 — a still image has no time axis);
   * everything else falls back to the content-derived stub, which equals
   * [[fakeDecode]] (pinned in MultimodalSpec).
   */
  def decodeBatched(df: DataFrame, payloadCol: String,
                    batchSize: Int = 64): DataFrame =
    codecStage(df, payloadCol, batchSize, "decoded", StructType(Seq(
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("duration_s", DoubleType, nullable = false))))(
      payloads => Multimodal.codecBatch(payloads).map(d =>
        org.apache.spark.sql.Row(d._1, d._2, d._3)))

  /** The shared batched-codec scaffold both [[decodeBatched]] and
    * [[resizeBatched]] run on: rows stream through `mapPartitions`, are
    * buffered into `batchSize` groups, `batchFn` is invoked ONCE per
    * batch (a native codec would hand the whole Array[Array[Byte]] across
    * the FFI boundary at once), and its structs are appended to the
    * original columns — one place for the mechanics, so a fix to
    * null-row handling or batch sizing cannot diverge between stages. */
  private def codecStage(df: DataFrame, payloadCol: String, batchSize: Int,
      structName: String, structSchema: StructType)(
      batchFn: Array[Array[Byte]] => Array[org.apache.spark.sql.Row])
      : DataFrame = {
    // driver-side argument error, not a per-task Iterator.grouped failure
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    val outSchema = StructType(df.schema.fields :+
      StructField(structName, structSchema))
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val out = batchFn(batch.map(_.getAs[Array[Byte]](payloadIdx)).toArray)
        batch.iterator.zip(out.iterator).map { case (r, d) =>
          Row.fromSeq(r.toSeq :+ d)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batch codec: real image decode where a JDK reader claims the bytes,
    * content-derived stub otherwise — so one corrupt or exotic payload
    * degrades to pseudo-features instead of failing the task. */
  private[operators] def codecBatch(
      payloads: Array[Array[Byte]]): Array[(Long, Long, Double)] =
    payloads.map(p => decodeImage(p).getOrElse(stubDecodeOne(p)))

  /** Real JDK-only image decode (`javax.imageio`: PNG/JPEG/GIF/BMP readers
    * ship with the JDK). HEADER-ONLY: `reader.getWidth/getHeight(0)` parse
    * actual dimensions from the stream without allocating the pixel
    * buffer — a decompression-bomb payload (25000×25000 PNG ≈ 2.5 GB ARGB)
    * must not OOM the executor when the decoded struct only carries dims.
    * None when the magic bytes match no known format, no reader claims the
    * stream, or the payload is corrupt — the caller falls back to the
    * stub. */
  private[operators] def decodeImage(
      bytes: Array[Byte]): Option[(Long, Long, Double)] =
    if (!imageMagic(bytes)) None
    else try {
      imageioConfigured
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            Some((reader.getWidth(0).toLong, reader.getHeight(0).toLong, 0.0))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /**
   * REAL resize stage — [[decodeBatched]]'s contract applied to the
   * transform that actually rewrites payloads: aspect-preserving fit of
   * every image payload into `maxW`×`maxH` (JDK `BufferedImage` bilinear
   * scale — no external libraries), batched per partition
   * like every codec stage. Output adds a `resized` struct:
   * (payload binary, width, height, applied).
   *
   *  - FORMAT-PRESERVING re-encode: a JPEG comes back as a JPEG (at
   *    `jpegQuality`, default 0.85 — the one lossy knob, documented
   *    here), PNG as PNG, GIF/BMP likewise; PNG is the fallback only
   *    when the JVM has no writer for the source format. A downscaled
   *    photographic JPEG re-encoded as PNG is typically several times
   *    LARGER than the original — the exact storage/bandwidth regression
   *    this avoids on a real image corpus, where JPEG dominates
   *    (q159-gated: JPEG in → JPEG magic out, smaller than the input).
   *  - Images already within bounds pass through BYTE-IDENTICAL with
   *    `applied = true` — no decode-re-encode quality churn, no work.
   *  - Non-image payloads (audio/video/exotic/corrupt) pass through
   *    unchanged with stub dims and `applied = false` — one bad blob
   *    never fails the task (the [[codecBatch]] degradation contract).
   *  - DECOMPRESSION-BOMB guard: unlike header-only [[decodeBatched]],
   *    resizing must allocate the pixel buffer, so the header dims are
   *    checked FIRST and any image over `maxPixels` (default 64M px ≈
   *    256 MB ARGB) is passed through un-decoded with `applied = false`
   *    rather than OOMing the executor.
   */
  def resizeBatched(df: DataFrame, payloadCol: String, maxW: Int, maxH: Int,
                    batchSize: Int = 64,
                    maxPixels: Long = 64L * 1024 * 1024,
                    jpegQuality: Float = 0.85f): DataFrame = {
    require(maxW > 0 && maxH > 0, s"bounds must be positive: $maxW x $maxH")
    require(jpegQuality > 0f && jpegQuality <= 1f,
      s"jpegQuality must be in (0, 1], got $jpegQuality")
    codecStage(df, payloadCol, batchSize, "resized", StructType(Seq(
      StructField("payload", BinaryType, nullable = true),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("applied", BooleanType, nullable = false))))(
      payloads => resizeBatch(payloads, maxW, maxH, maxPixels, jpegQuality)
        .map(d => org.apache.spark.sql.Row(d._1, d._2, d._3, d._4)))
  }

  /** One header decode per payload: the dims gate pass-through, the bomb
    * guard, AND the in-bounds fast path, so the reader probe never runs
    * twice. A failed rescale or re-encode (no writer on this JVM,
    * corrupt pixel data past a valid header) degrades to pass-through
    * with `applied = false` — ORIGINAL bytes, never a truncated payload. */
  private[operators] def resizeBatch(payloads: Array[Array[Byte]],
      maxW: Int, maxH: Int, maxPixels: Long, jpegQuality: Float = 0.85f)
      : Array[(Array[Byte], Long, Long, Boolean)] =
    payloads.map { p =>
      decodeImage(p) match {
        case None => // not an image: stub dims, pass through
          val d = stubDecodeOne(p)
          (p, d._1, d._2, false)
        case Some((w, h, _)) if w * h > maxPixels => // bomb guard
          (p, w, h, false)
        case Some((w, h, _)) if w <= maxW && h <= maxH => // already fits
          (p, w, h, true)
        case Some((w, h, _)) =>
          rescale(p, w, h, maxW, maxH, jpegQuality).getOrElse((p, w, h, false))
      }
    }

  /** None = the pixel decode or re-encode failed — caller passes the
    * original bytes through. */
  private def rescale(bytes: Array[Byte], w: Long, h: Long,
      maxW: Int, maxH: Int, jpegQuality: Float)
      : Option[(Array[Byte], Long, Long, Boolean)] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val scale = math.min(maxW.toDouble / w, maxH.toDouble / h)
        // floor, min 1 — fakeResize's arithmetic, so the column-expression
        // and codec paths agree on output dims (MultimodalSpec-pinned)
        val nw = math.max(1L, math.floor(w * scale).toLong).toInt
        val nh = math.max(1L, math.floor(h * scale).toLong).toInt
        val dst = new java.awt.image.BufferedImage(
          nw, nh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, nw, nh, null)
        } finally g.dispose()
        // format-preserving: re-encode in the SOURCE format (the sniffed
        // magic — the format that actually decoded), falling back to PNG
        // only when this JVM registers no writer for it
        encodeImage(dst, sniffFormat(bytes).getOrElse("png"), jpegQuality)
          .orElse(encodeImage(dst, "png", jpegQuality))
          .map(out => (out, nw.toLong, nh.toLong, true))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Encode `img` as `format`; None when no writer exists or it refuses
    * the image — the caller decides the fallback. JPEG goes through an
    * explicit `ImageWriteParam` so the quality knob is a real contract,
    * not the writer's unspecified default. */
  private def encodeImage(img: java.awt.image.BufferedImage, format: String,
                          jpegQuality: Float): Option[Array[Byte]] =
    try {
      val writers = javax.imageio.ImageIO.getImageWritersByFormatName(format)
      if (!writers.hasNext) None
      else {
        val writer = writers.next()
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          val param = writer.getDefaultWriteParam
          if (format == "jpg" && param.canWriteCompressed) {
            param.setCompressionMode(
              javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            param.setCompressionQuality(jpegQuality)
          }
          writer.write(null,
            new javax.imageio.IIOImage(img, null, null), param)
        } finally { writer.dispose(); ios.close() }
        Some(bos.toByteArray).filter(_.nonEmpty)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-JVM, once: in-memory payloads must not round-trip through
    * ImageIO's temp-FILE cache on executors (disk IO per image). */
  private lazy val imageioConfigured: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Magic-number sniff for the formats the JDK decodes out of the box —
    * keeps the non-image path at a 4-byte compare instead of an ImageIO
    * reader probe per payload. Returns the ImageIO format name, which is
    * also what [[resizeBatched]]'s format-preserving re-encode targets. */
  private def sniffFormat(b: Array[Byte]): Option[String] =
    if (b == null || b.length < 4) None
    else if (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      Some("png")
    else if (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte)
      Some("jpg")
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      Some("gif")
    else if (b(0) == 'B' && b(1) == 'M') Some("bmp")
    else None

  private def imageMagic(b: Array[Byte]): Boolean = sniffFormat(b).nonEmpty

  /** Stub fallback: same content-derived pseudo-features as [[fakeDecode]]
    * (xxhash64 with Spark's seed 42), computed JVM-side. */
  private def stubDecodeOne(raw: Array[Byte]): (Long, Long, Double) = {
    // NULL payloads are in-contract for the media pipeline (packMedia
    // coalesces them to empty); decode must not NPE on one bad blob
    val bytes = if (raw == null) Array.emptyByteArray else raw
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)
    def pmod(x: Long, m: Long): Long = { val r = x % m; if (r < 0) r + m else r }
    (pmod(h, 1920L) + 1L,
      pmod(h >> 16, 1080L) + 1L,
      pmod(h >> 32, 600L).toDouble / 10.0)
  }


  /**
   * Frame-sampling stage for video-like payloads: emits `n` (frame_idx,
   * frame_fingerprint) rows per input via posexplode — the 1→N shape a
   * real frame sampler has. The fingerprints are content-derived md5 hex
   * strings standing in for frame payloads (a real sampler swaps in codec
   * output at the same column contract). The payload digest is bound
   * once per row ([[graft.functions.TextFunctions.bindOnce]]), so the
   * per-frame lambda does not re-hash the whole payload for every frame.
   */
  def sampleFrames(df: DataFrame, payloadCol: String, n: Int): DataFrame = {
    val frames = graft.functions.TextFunctions.bindOnce(
        md5(col(payloadCol)).cast(BinaryType)) { digest =>
      transform(sequence(lit(0), lit(n - 1)), i =>
        md5(concat(digest, i.cast(StringType).cast(BinaryType))))
    }
    df.select(col("*"),
      posexplode(frames).as(Seq("frame_idx", "frame_fingerprint")))
  }

  /**
   * "Resize" stage contract: payload in, payload out with updated meta.
   * Fake: truncates the checksum-space (keeps bytes; rewrites meta dims).
   */
  def fakeResize(decoded: Column, maxW: Int, maxH: Int): Column = {
    val w = decoded.getField("width")
    val h = decoded.getField("height")
    val scale = least(lit(1.0), lit(maxW) / w.cast(DoubleType),
      lit(maxH) / h.cast(DoubleType))
    struct(
      floor(w * scale).cast(LongType).as("width"),
      floor(h * scale).cast(LongType).as("height"),
      decoded.getField("duration_s").as("duration_s"))
  }

  /**
   * Build a multimodal record set from the fixture tables: documents joined
   * to embeddings on id, text payload packed as binary media with fake
   * decode + features. Demonstrates the full column contract end-to-end.
   */
  def multimodalRecords(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val docs = documents
      .withColumn("payload", encode(col("text"), "UTF-8"))
    val packed = packMedia(docs, "payload", "text", "text/plain")
    packed.join(embeddings, packed("doc_id") === embeddings("vec_id"), "inner")
      .withColumn("decoded", fakeDecode(col("payload")))
      .withColumn("features", fakeFeatures(col("payload")))
      .select(col("doc_id"), col("media_meta"), col("decoded"),
        col("features"), col("embedding"), col("label"))
  }
}
