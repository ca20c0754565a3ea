package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal

import Shared._

/** Multimodal: media metadata, frame sampling, image decode and resize. */
object Media extends Family {

  /** Multimodal packing: text payload as binary media + typed meta struct,
    * joined to its embedding row. Oracle checks the SQL-expressible fields
    * (byte length, md5 checksum, label); the fake decode/feature stages are
    * pinned by ScalaTest. */
  query("q36_multimodal_meta") { (s, dir) =>
    val recs = Multimodal.multimodalRecords(
      t(s, dir, "documents"), t(s, dir, "embeddings"))
    recs.select(col("doc_id"),
        col("media_meta").getField("byte_len").as("byte_len"),
        col("media_meta").getField("checksum").as("checksum"),
        col("label"))
      .orderBy(col("doc_id"))
  } {
    """SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS byte_len,
      | md5(d.text) AS checksum, e.label
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |ORDER BY d.doc_id""".stripMargin
  }

  /** Multimodal frame sampling: 1→N posexplode of content-derived frame
    * fingerprints per document payload (the real sampler swaps the fake
    * md5 frames for codec output at the same column contract). md5 exists
    * in both engines, so even the fake frames are oracle-checkable. */
  query("q72_multimodal_frames") { (s, dir) =>
    val packed = t(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .withColumn("payload", encode(col("text"), "UTF-8"))
    Multimodal.sampleFrames(packed, "payload", n = 3)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_fingerprint"))
      .orderBy(col("doc_id"), col("frame_idx"))
  } {
    """SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
      | md5(md5(text) || CAST(fi AS VARCHAR)) AS frame_fingerprint
      |FROM documents CROSS JOIN (SELECT unnest([0,1,2]) AS fi) f
      |WHERE doc_id < 200
      |ORDER BY doc_id, frame_idx""".stripMargin
  }

  /** Real-image decode under the driver gate: deterministic PNGs (built
    * with the JDK encoder at plan-build time) flow through the batched
    * decode path alongside a non-image payload; the verdict rows pin
    * that every decoded dimension matches its constructed size and that
    * the fallback stays in the stub's range. The oracle pins the
    * expected verdict literally (javax.imageio has no DuckDB twin), so a
    * decode regression flips `ok` and hash-mismatches — the q33
    * accuracy-gate pattern applied to multimodal. */
  query("q99_multimodal_decode") { (s, dir) =>
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) { img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF); y += 1 }
        x += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      // a missing PNG writer must fail HERE, not surface later as a
      // misattributed decode-regression verdict
      require(javax.imageio.ImageIO.write(img, "png", bos),
        "no PNG ImageWriter registered on this JVM")
      bos.toByteArray
    }
    import s.implicits._
    val media = Seq(
      (1L, png(2, 2), 2L, 2L),
      (2L, png(640, 480), 640L, 480L),
      (3L, png(31, 17), 31L, 17L),
      (4L, "definitely not an image".getBytes("UTF-8"), -1L, -1L))
      .toDF("id", "payload", "want_w", "want_h")
    val decoded = operators.Multimodal.decodeBatched(media, "payload")
      .select(col("id"), col("want_w"), col("want_h"),
        col("decoded.width").as("w"), col("decoded.height").as("h"))
    val counts = decoded.agg(
      sum(when(col("want_w") > 0 &&
        col("w") === col("want_w") && col("h") === col("want_h"), 1L)
        .otherwise(0L)).as("n_decoded"),
      sum(when(col("want_w") < 0 &&
        col("w").between(1L, 1920L) && col("h").between(1L, 1080L), 1L)
        .otherwise(0L)).as("n_fallback"))
    Gate.verdict(counts)(
      ("imageio_decode_dims", 3.0, col("n_decoded") === 3L),
      ("fallback_in_stub_range", 1.0, col("n_fallback") === 1L))
  } {
    // q99 is an accuracy GATE (q33 pattern): the oracle pins the expected
    // decode verdict literally; a javax.imageio regression flips ok and
    // hash-mismatches.
    """SELECT * FROM (VALUES
      |  ('fallback_in_stub_range', CAST(1.0 AS DOUBLE), TRUE),
      |  ('imageio_decode_dims', CAST(3.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }

  /** REAL image resize under the q99 accuracy-gate pattern
    * ([[operators.Multimodal.resizeBatched]] — aspect-preserving
    * BufferedImage rescale, FORMAT-PRESERVING re-encode, batched codec
    * contract): the verdict pins (a) rescaled payloads RE-DECODE to
    * exactly the floor-scaled dims, (b) an in-bounds image passes
    * through byte-identical, (c) a non-image passes through unapplied,
    * (d) the decompression-bomb guard refuses to allocate pixels over
    * the budget, and (e, r15) a JPEG input comes back with the JPEG
    * magic AND smaller than its input — the storage contract a 100 TB
    * photographic corpus needs (a PNG re-encode of a downscaled JPEG is
    * typically LARGER than the original). The oracle pins the verdict
    * rows literally (java.awt has no DuckDB twin). */
  query("q159_multimodal_resize") { (s, dir) =>
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) { img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF); y += 1 }
        x += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos),
        "no PNG ImageWriter registered on this JVM")
      bos.toByteArray
    }
    import s.implicits._
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) { img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF); y += 1 }
        x += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "jpg", bos),
        "no JPEG ImageWriter registered on this JVM")
      bos.toByteArray
    }
    val small = png(10, 6)
    val media = Seq(
      (1L, png(100, 40), 32L, 12L),  // downscale, landscape
      (2L, png(30, 80), 12L, 32L),   // downscale, portrait
      (3L, small, 10L, 6L),          // in-bounds: byte-identical
      (4L, "definitely not an image".getBytes("UTF-8"), -1L, -1L),
      (5L, jpeg(200, 100), 32L, 16L)) // downscale, FORMAT-PRESERVING
      .toDF("id", "payload", "want_w", "want_h")
    val out = operators.Multimodal.resizeBatched(media, "payload",
      maxW = 32, maxH = 32)
    // format preservation is a claim about the BYTES: the resized JPEG
    // payload must carry the JPEG magic (not PNG's) and, being a
    // downscaled re-encode of a photographic-ish gradient, be SMALLER
    // than its input — the storage contract a 100 TB image corpus needs
    val jrow = out.filter(col("id") === 5L)
      .select(col("resized.payload"), col("payload")).head()
    val (jres, jorig) =
      (jrow.getAs[Array[Byte]](0), jrow.getAs[Array[Byte]](1))
    val jpegStaysJpeg = jres != null && jres.length >= 3 &&
      jres(0) == 0xFF.toByte && jres(1) == 0xD8.toByte &&
      jres(2) == 0xFF.toByte
    val jpegSmaller = jres != null && jres.length < jorig.length
    // re-decode the rewritten payloads: the claim is about the BYTES,
    // not the metadata — a resize that lies about dims must fail here
    val redecoded = operators.Multimodal.decodeBatched(
      out.select(col("id"), col("want_w"), col("want_h"),
        col("resized.applied").as("applied"),
        when(col("resized.applied"), col("resized.payload"))
          .otherwise(col("payload")).as("payload"),
        (col("resized.payload") === col("payload")).as("same_bytes")),
      "payload")
    val counts = redecoded.agg(
      sum(when(col("want_w") > 0 && col("applied") &&
        col("decoded.width") === col("want_w") &&
        col("decoded.height") === col("want_h"), 1L).otherwise(0L))
        .as("n_scaled"),
      sum(when(col("id") === 3L && col("same_bytes"), 1L).otherwise(0L))
        .as("n_identical"),
      sum(when(col("want_w") < 0 && !col("applied") && col("same_bytes"),
        1L).otherwise(0L)).as("n_passthrough"))
    val guarded = operators.Multimodal.resizeBatched(
        Seq((9L, png(100, 40))).toDF("id", "payload"), "payload",
        maxW = 32, maxH = 32, maxPixels = 50L)
      .select(col("resized.applied")).head().getBoolean(0)
    Gate.verdict(counts)(
      ("resize_bomb_guard_holds", 1.0, lit(!guarded)),
      ("resize_inbounds_byte_identical", 1.0, col("n_identical") === 1L),
      ("resize_jpeg_smaller", 1.0, lit(jpegSmaller)),
      ("resize_jpeg_stays_jpeg", 1.0, lit(jpegStaysJpeg)),
      ("resize_nonimage_passthrough", 1.0, col("n_passthrough") === 1L),
      ("resize_redecoded_dims", 4.0, col("n_scaled") === 4L))
  } {
    // q159 is an accuracy GATE (q99 pattern): the oracle pins the resize
    // verdicts literally; a rescale/guard regression flips ok.
    """SELECT * FROM (VALUES
      |  ('resize_bomb_guard_holds', CAST(1.0 AS DOUBLE), TRUE),
      |  ('resize_inbounds_byte_identical', CAST(1.0 AS DOUBLE), TRUE),
      |  ('resize_jpeg_smaller', CAST(1.0 AS DOUBLE), TRUE),
      |  ('resize_jpeg_stays_jpeg', CAST(1.0 AS DOUBLE), TRUE),
      |  ('resize_nonimage_passthrough', CAST(1.0 AS DOUBLE), TRUE),
      |  ('resize_redecoded_dims', CAST(4.0 AS DOUBLE), TRUE))
      |  AS t(metric, bound, ok)
      |ORDER BY metric""".stripMargin
  }
}
