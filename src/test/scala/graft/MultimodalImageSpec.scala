package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal

/** Real-image decode through the JDK's `javax.imageio`: dimensions,
  * channels, and grid-luma features must come from the actual pixels,
  * and two re-encodings of the SAME pixels must land within aHash
  * Hamming ≤ 3 (identical for lossless containers) — the property the
  * perceptual-dedup channel stands on.
  */
class MultimodalImageSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 48×32 RGB test image: vertical luma gradient (top
    * dark → bottom bright) with a light diagonal so the content isn't
    * degenerate. A vertical gradient makes the row-major luma scan
    * monotone, so at most one aHash segment sits near the global mean
    * — JPEG's ±few-level quantization noise can flip at most that
    * borderline bit, keeping the lossy-re-encode Hamming well inside
    * the ≤ 3 envelope by construction rather than by luck. */
  private def testImage(): java.awt.image.BufferedImage = {
    val (w, h) = (48, 32)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val base = y * 255 / (h - 1)
      val r = math.min(255, base + (if ((x + y) % 7 == 0) 24 else 0))
      img.setRGB(x, y, (r << 16) | (base << 8) | base)
    }
    img
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
    baos.toByteArray
  }

  test("ImageIO decode emits true dimensions, channels, and gradient features") {
    val img = testImage()
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/png", encode(img, "png")),
      Multimodal.MediaRecord(2L, "image/jpeg", encode(img, "jpg")),
      Multimodal.MediaRecord(3L, "image/bmp", encode(img, "bmp")),
      // non-image MIME and corrupt image both take the stub arm
      Multimodal.MediaRecord(4L, "audio/wav", Array.fill(100)(7.toByte)),
      Multimodal.MediaRecord(5L, "image/png", Array.fill(100)(7.toByte))
    ).toDS()
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(feats(id).width == 48 && feats(id).height == 32,
        s"row $id decoded wrong dimensions")
      assert(feats(id).channels == 3)
      val f = feats(id).feature
      assert(f.length == 8)
      // 4×2 luma grid of a top-dark/bottom-bright gradient: every
      // top-row cell strictly darker than every bottom-row cell
      assert(f.take(4).max < f.drop(4).min,
        s"row $id features don't reflect the gradient: ${f.toSeq}")
    }
    // stub arm: dimensions derive from byte length, not pixels
    for (id <- Seq(4L, 5L)) {
      assert(feats(id).width == 16 + (100 % 64) && feats(id).channels == 3)
    }
  }

  test("re-encodings of the same pixels: lossless identical, lossy Hamming <= 3") {
    val img = testImage()
    // the luma string is what an image payload feeds the aHash with;
    // a non-image payload has none
    assert(Multimodal.ImageCodec.lumaString("not an image".getBytes).isEmpty)
    val luma = Seq((1L, "png"), (2L, "bmp"), (3L, "jpg")).map { case (id, fmt) =>
      (id, Multimodal.ImageCodec.lumaString(encode(img, fmt)).get)
    }.toDF("media_id", "luma")
    val h = Multimodal.aHashed(luma, col("luma"), col("media_id"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L),
      "lossless re-encodings decoded to different luma grids")
    val hamming = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(hamming <= 3,
      s"JPEG re-encode drifted $hamming aHash bits (> 3)")
  }

  test("frame container: real per-frame decode, temporal envelope, reject on tamper") {
    // 6 PNG frames of ramped brightness -> the temporal feature must
    // follow the ramp; dims/channels come from the real first frame
    val frames = (0 until 6).map { k =>
      val img = new java.awt.image.BufferedImage(
        20, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val lum = 20 + k * 40
      for (y <- 0 until 12; x <- 0 until 20)
        img.setRGB(x, y, (lum << 16) | (lum << 8) | lum)
      encode(img, "png")
    }
    val payload = graft.ops.Multimodal.VideoContainer.pack(frames)
    val media = Seq(
      Multimodal.MediaRecord(1L, graft.ops.Multimodal.VideoContainer.Mime, payload),
      // tampered magic -> stub arm, not partial frames
      Multimodal.MediaRecord(2L, graft.ops.Multimodal.VideoContainer.Mime,
        payload.updated(0, 'X'.toByte))
    ).toDS()
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).width == 20 && feats(1L).height == 12 &&
      feats(1L).channels == 3)
    val f = feats(1L).feature.take(6)
    assert((0 until 5).forall(i => f(i) < f(i + 1)),
      s"temporal envelope must follow the brightness ramp: ${f.toSeq}")
    // tampered: byte-length stub dimensions, not frame dimensions
    assert(feats(2L).width == 16 + (payload.length % 64))
    // sampling rule: 6 frames at n=8 -> all; 100 at n=8 -> spaced
    assert(graft.ops.Multimodal.VideoContainer.sampleIdx(6, 8) == (0 until 6))
    assert(graft.ops.Multimodal.VideoContainer.sampleIdx(100, 8) ==
      Seq(0, 12, 25, 37, 50, 62, 75, 87))
  }

  test("tiny image still emits the fixed 8-float feature shape") {
    // 2x1 image: the 4x2 grid degrades to 2 cells — the feature must
    // pad to the codec family's fixed width, not shrink
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff); img.setRGB(1, 0, 0)
    val f = Multimodal.ImageCodec.decode(
      Multimodal.MediaRecord(1L, "image/png", encode(img, "png"))).get
    assert(f.feature.length == 8 && f.width == 2 && f.height == 1)
    assert(f.feature.drop(2).forall(_ == 0.0f), "padding must be zeros")
  }

  test("luma grid is deterministic and caps at 64x64 cells") {
    val img = testImage()
    val g1 = Multimodal.ImageCodec.lumaGrid(img)
    val g2 = Multimodal.ImageCodec.lumaGrid(img)
    assert(g1.toSeq == g2.toSeq)
    // image smaller than the grid: one cell per pixel, no upsampling
    assert(g1.length == 48 * 32)
    val big = new java.awt.image.BufferedImage(
      200, 100, java.awt.image.BufferedImage.TYPE_INT_RGB)
    assert(Multimodal.ImageCodec.lumaGrid(big).length == 64 * 64)
  }
}
