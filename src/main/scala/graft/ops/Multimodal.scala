package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §7.4): treat image/audio/video as
  * opaque `binary` payloads with typed metadata, and run decode /
  * feature-extraction as batched per-partition transforms.
  *
  * IMAGE and AUDIO decode are REAL: [[ImageCodec]] reads
  * JPEG/PNG/BMP/GIF/WBMP through the JDK's own `javax.imageio` and
  * [[AudioCodec]] reads WAV/AIFF/AU through `javax.sound.sampled`
  * (both public APIs, zero extra dependencies — the codec stacks this
  * sandbox does ship), emitting true dimensions/rates/channels,
  * grid features, and a downsampled luma/loudness stream for the
  * perceptual hash. VIDEO runs real container parsing + real
  * per-frame PNG decode + temporal features through the documented
  * [[VideoContainer]] format (only the industry bitstream codec is
  * absent from the sandbox — a production demuxer swaps into
  * `unpack` alone). Payloads none of the codecs parse fall back to
  * [[DecodeStub]]'s deterministic fake so the pipeline shape stays
  * total.
  *
  * Scale notes: decode is per-row work inside `mapPartitions` (no
  * shuffle); payloads never pass through the driver; partition sizing
  * for 100 TB of blobs is governed by `spark.sql.files.maxPartitionBytes`
  * on the scan, not anything here.
  */
object Multimodal {

  /** A media row: opaque payload + envelope metadata. */
  case class MediaRecord(media_id: Long, mime: String, payload: Array[Byte])

  /** Decoded-media features (what a real image decoder would emit). */
  case class MediaFeatures(media_id: Long, mime: String, byte_len: Long,
                           width: Int, height: Int, channels: Int,
                           feature: Array[Float])

  /** Real image decode via JDK `javax.imageio` — JPEG, PNG, BMP, GIF,
    * WBMP (the standard-plugin set; `ImageIO.read` sniffs the actual
    * container, the MIME only gates WHETHER we try). Luma is ITU-R
    * BT.601 integer weights ((299R + 587G + 114B) / 1000) — exact
    * integer arithmetic, so features and hashes are bit-reproducible
    * across JVMs for the same decoded pixels. */
  object ImageCodec {
    /** Only payloads declared as images are offered to ImageIO — a
      * video container with a parseable embedded thumbnail must not
      * silently decode as an image. */
    def isImageMime(mime: String): Boolean =
      mime != null && mime.startsWith("image/")

    private def readImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }

    private def lumaAt(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
      val rgb = img.getRGB(x, y)
      (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
        114 * (rgb & 0xff)) / 1000
    }

    /** Area-downsample to a ≤ gridW×gridH luma grid (row-major byte
      * per cell, each cell the integer mean over its pixel block) —
      * the fixed-size stand-in for "resize + grayscale" every
      * perceptual-hash pipeline starts with. Deterministic: integer
      * sums, floor division, no color-management paths. */
    def lumaGrid(img: java.awt.image.BufferedImage,
                 gridW: Int = 64, gridH: Int = 64): Array[Byte] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val gw = math.min(gridW, w); val gh = math.min(gridH, h)
      Array.tabulate(gw * gh) { i =>
        val (gx, gy) = (i % gw, i / gw)
        val (x0, x1) = (gx * w / gw, (gx + 1) * w / gw)
        val (y0, y1) = (gy * h / gh, (gy + 1) * h / gh)
        var sum = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += lumaAt(img, x, y); n += 1; x += 1 }
          y += 1
        }
        (sum / math.max(n, 1)).toByte
      }
    }

    /** The luma grid as a codepoint string (one char per cell,
      * codepoints 0–255) — the shape [[Multimodal.aHashed]]'s
      * codegen'd kernel consumes, so IMAGE payloads ride the exact
      * same 60-bit fingerprint arithmetic as text content. */
    def lumaString(payload: Array[Byte]): Option[String] =
      readImage(payload).map(img =>
        new String(lumaGrid(img).map(b => (b & 0xff).toChar)))

    /** Full decode → [[MediaFeatures]]: true width/height, channel
      * count from the color model, and an 8-float feature = mean luma
      * of a 4×2 grid scaled to [-1, 1] (the thumbnail-embedding shape
      * the ANN operators consume). None = ImageIO cannot parse the
      * payload (corrupt, or a format without a standard plugin). */
    def decode(r: MediaRecord): Option[MediaFeatures] =
      readImage(r.payload).map { img =>
        val cells = lumaGrid(img, gridW = 4, gridH = 2)
        // images smaller than the 4×2 grid yield fewer cells — pad to
        // the fixed 8-float shape every codec arm emits (ANN consumers
        // assume one embedding width; VideoContainer pads identically)
        val feature = cells.map(b => ((b & 0xff) - 128) / 128.0f)
          .padTo(8, 0.0f).take(8)
        MediaFeatures(r.media_id, r.mime, r.payload.length.toLong,
          width = img.getWidth, height = img.getHeight,
          channels = img.getColorModel.getNumComponents,
          feature = feature)
      }
  }

  /** Real audio decode via JDK `javax.sound.sampled` — WAV, AIFF, AU
    * (the standard-provider set; like [[ImageCodec]], the MIME only
    * gates WHETHER we try, the parser sniffs the container). PCM
    * samples decode to exact integers, so features and hashes are
    * bit-reproducible. Feature conventions on [[MediaFeatures]]:
    * `width` = sample rate (Hz), `height` = frame count, `channels` =
    * channel count, `feature` = mean |amplitude| of 8 equal time
    * segments scaled to [0, 1] — the coarse loudness envelope.
    */
  object AudioCodec {
    def isAudioMime(mime: String): Boolean =
      mime != null && mime.startsWith("audio/")

    /** First-channel PCM samples normalized to signed 16-bit, or None
      * when no installed provider parses the payload. Supports the
      * JDK's PCM frame layouts (8/16-bit, either endianness, signed
      * or unsigned). */
    def samples(payload: Array[Byte]): Option[Array[Int]] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val f = in.getFormat
        val bytes = in.readAllBytes()
        in.close()
        val frame = f.getFrameSize
        val bits = f.getSampleSizeInBits
        val signed = f.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        // a container may report NOT_SPECIFIED (-1) frame size — the
        // offset arithmetic below would walk negative indices and
        // crash the task rather than take the graceful None arm
        if (frame <= 0 || (bits != 8 && bits != 16)) None
        else {
          val n = bytes.length / frame
          Some(Array.tabulate(n) { i =>
            val o = i * frame
            val raw =
              if (bits == 8) {
                val v = bytes(o) & 0xff
                (if (signed) (bytes(o): Int) else v - 128) << 8
              } else {
                val (lo, hi) = if (f.isBigEndian) (o + 1, o) else (o, o + 1)
                val v = ((bytes(hi) & 0xff) << 8) | (bytes(lo) & 0xff)
                val s = if (signed) v.toShort.toInt else v - 32768
                s
              }
            raw
          })
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }

    /** Loudness envelope as a codepoint string (≤ 4096 cells, one
      * char per cell = mean |amplitude| scaled to 0–255) — the audio
      * analog of [[ImageCodec.lumaString]], feeding the same aHash
      * kernel so near-identical recordings land within small Hamming
      * distance. Integer arithmetic end to end. */
    def envelopeString(payload: Array[Byte], cells: Int = 4096): Option[String] =
      samples(payload).filter(_.nonEmpty).map { s =>
        val n = s.length
        val gc = math.min(cells, n)
        val chars = Array.tabulate(gc) { g =>
          val lo = (g.toLong * n / gc).toInt
          val hi = ((g + 1).toLong * n / gc).toInt
          var sum = 0L
          var i = lo
          while (i < hi) { sum += math.abs(s(i).toLong); i += 1 }
          ((sum / math.max(hi - lo, 1)) / 129).toInt.min(255).toChar
        }
        new String(chars)
      }

    /** Full decode → [[MediaFeatures]] (see the conventions above). */
    def decode(r: MediaRecord): Option[MediaFeatures] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val f = in.getFormat
        in.close()
        samples(r.payload).filter(_.nonEmpty).map { s =>
          val n = s.length
          val feature = Array.tabulate(8) { g =>
            val lo = (g.toLong * n / 8).toInt
            val hi = ((g + 1).toLong * n / 8).toInt
            var sum = 0L
            var i = lo
            while (i < hi) { sum += math.abs(s(i).toLong); i += 1 }
            (sum / math.max(hi - lo, 1)).toFloat / 32768f
          }
          MediaFeatures(r.media_id, r.mime, r.payload.length.toLong,
            width = f.getSampleRate.toInt, height = n,
            channels = f.getChannels, feature = feature)
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }
  }

  object DecodeStub {
    /** STUB — stands in for the remaining NON-IMAGE, NON-AUDIO decode
      * arms (video codecs this environment doesn't ship) and for
      * payloads the real codecs reject. Deterministic on the payload
      * so tests are stable: "dimensions" derive from the byte length,
      * the "feature vector" from a rolling hash of the bytes.
      */
    def decode(r: MediaRecord): MediaFeatures = {
      val n = r.payload.length
      var h = 1125899906842597L // deterministic FNV-ish rolling hash
      var i = 0
      while (i < n) { h = h * 31 + (r.payload(i) & 0xff); i += 1 }
      val feature = Array.tabulate(8) { j =>
        (((h >>> (j * 8)) & 0xff).toInt - 128) / 128.0f
      }
      MediaFeatures(r.media_id, r.mime, n.toLong,
        width = 16 + (n % 64), height = 16 + ((n * 7) % 64), channels = 3,
        feature = feature)
    }
  }

  /** Batched decode over partitions — the Scala analog of a pandas UDF
    * over `mapInPandas`: one iterator per partition, rows processed in
    * batch without per-row task overhead or driver involvement.
    * Dispatch: image MIME → real [[ImageCodec]] decode, with
    * [[DecodeStub]] as the fallback for everything else (and for
    * image payloads ImageIO cannot parse — a total function, the F5
    * silent-no-op discipline applied to codecs).
    */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      (if (ImageCodec.isImageMime(r.mime)) ImageCodec.decode(r)
       else if (AudioCodec.isAudioMime(r.mime)) AudioCodec.decode(r)
       else if (r.mime == VideoContainer.Mime) VideoContainer.decode(r)
       else None)
        .getOrElse(DecodeStub.decode(r))
    })
  }

  /** Minimal FRAME-CONTAINER for the video path — `GFV1`: magic +
    * big-endian frame count, then length-prefixed PNG frames. This is
    * deliberately OUR OWN trivial container (an MJPEG-style
    * concatenation), not an H.264 stand-in: the sandbox JDK ships no
    * video codec, but container parsing, per-frame image decode, and
    * temporal feature extraction — the Spark-side plumbing a video
    * pipeline actually exercises — are all REAL through this format,
    * and swapping in a production demuxer changes only [[unpack]].
    */
  object VideoContainer {
    val Mime = "video/x-graft-frames"
    private val Magic = Array[Byte]('G', 'F', 'V', '1')

    def pack(frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(out)
      d.write(Magic); d.writeInt(frames.length)
      frames.foreach { f => d.writeInt(f.length); d.write(f) }
      d.flush(); out.toByteArray
    }

    /** None on anything that is not a well-formed GFV1 payload —
      * truncation, bad magic, or a frame length running past the end
      * all reject rather than yielding partial frames. */
    def unpack(payload: Array[Byte]): Option[Seq[Array[Byte]]] =
      try {
        val d = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(payload))
        val magic = new Array[Byte](4)
        d.readFully(magic)
        if (!magic.sameElements(Magic)) None
        else {
          val n = d.readInt()
          if (n < 0 || n > 100000) None
          else Some(Seq.fill(n) {
            val len = d.readInt()
            require(len >= 0 && len <= payload.length)
            val f = new Array[Byte](len)
            d.readFully(f)
            f
          })
        }
      } catch { case _: Exception => None }

    /** Decode → [[MediaFeatures]]: dimensions/channels from the FIRST
      * frame, `feature` = mean luma of ≤ 8 evenly sampled frames
      * scaled to [-1, 1] — the temporal brightness envelope (a scene
      * cut or fade shows up here the way a gradient does in the image
      * feature). */
    def decode(r: MediaRecord): Option[MediaFeatures] =
      unpack(r.payload).filter(_.nonEmpty).flatMap { frames =>
        val imgs = sampleIdx(frames.length, 8).map(i =>
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(frames(i))))
          catch { case _: java.io.IOException => None })
        if (imgs.exists(_.isEmpty)) None
        else {
          val decoded = imgs.flatten
          val head = decoded.head
          val feature = decoded.map { img =>
            val g = ImageCodec.lumaGrid(img, 8, 8)
            val mean = g.map(b => (b & 0xff).toLong).sum / g.length
            ((mean - 128) / 128.0f)
          }.padTo(8, 0.0f).take(8).toArray
          Some(MediaFeatures(r.media_id, r.mime, r.payload.length.toLong,
            width = head.getWidth, height = head.getHeight,
            channels = head.getColorModel.getNumComponents,
            feature = feature))
        }
      }

    /** `n` evenly spaced frame indices over `total` (all when
      * total ≤ n) — the sampling rule [[Multimodal.sampleFrames]]
      * documents, applied to real frames. */
    def sampleIdx(total: Int, n: Int): Seq[Int] =
      if (total <= n) 0 until total
      else (0 until n).map(j => j * total / n)
  }

  /** A resized media row: fixed target dimensions + pixel buffer. */
  case class ResizedMedia(media_id: Long, width: Int, height: Int,
                          channels: Int, pixels: Array[Byte])

  /** Batched resize to (w, h) — same `mapPartitions` execution shape as
    * [[decodeFeatures]]. The resample itself is a STUB (no imaging
    * library here): it emits a correctly-sized w·h·channels buffer
    * filled deterministically from the source envelope, so buffer
    * shape, schema, and batch behavior are all real and testable;
    * a real bilinear/area resampler changes only the fill loop.
    */
  def resize(decoded: Dataset[MediaFeatures], w: Int, h: Int): Dataset[ResizedMedia] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions(_.map { m =>
      val px = new Array[Byte](w * h * m.channels)
      var hsh = m.byte_len * 31L + m.width * 7L + m.height
      var i = 0
      while (i < px.length) {
        hsh = hsh * 6364136223846793005L + 1442695040888963407L
        px(i) = (hsh >>> 56).toByte
        i += 1
      }
      ResizedMedia(m.media_id, w, h, m.channels, px)
    })
  }

  /** Pseudo-frame sampling for video-shaped payloads: `n` evenly spaced
    * (frame_idx, byte_offset) rows per media row — the partition-local
    * explode a real frame sampler would do.
    */
  def sampleFrames(media: DataFrame, n: Int,
                   idCol: Column = col("media_id"),
                   payloadCol: Column = col("payload")): DataFrame =
    media.select(idCol.as("media_id"), octet_length(payloadCol).as("byte_len"))
      .select(col("media_id"), col("byte_len"),
        explode(expr(s"sequence(0, ${n - 1})")).as("frame_idx"))
      .withColumn("byte_offset", col("frame_idx") * (col("byte_len") / lit(n)).cast("long"))

  /** 60-bit piecewise-average perceptual hash (the aHash construction
    * image dedup uses: downsample, then threshold each cell against
    * the global mean) over a decoded content stream: the stream splits
    * into 60 equal segments, and bit k is set iff segment k's mean
    * sample exceeds the global mean. Small local edits perturb few
    * segment means, so near-identical media land within small Hamming
    * distance — locality over the SAMPLE SEQUENCE, where [[Dedup]]'s
    * simhash is locality over the token SET. Thresholds are exact
    * integer cross-multiplication (seg_sum·n > total·seg_len — no
    * float means), so the fingerprint is engine- and partitioning-
    * exact. With the stub codec the "samples" are the decoded text's
    * codepoints; a real decoder feeds luma bytes through the same
    * arithmetic.
    *
    * Per-row array math only — the hash adds no shuffle; the pair
    * search is the Manku band channel ([[Dedup.simhashNearDups]]):
    * 4 bands × 15 bits, pigeonhole-complete for Hamming ≤ 3, hot
    * buckets capped before the self-join.
    */
  val aHashBits = 60
  val aHashBands = 4

  /** (media_id, phash) — the codegen'd single-pass
    * [[graft.functions.AHash60]] kernel (registered idempotently, like
    * [[Text.polyHash]]'s fast path). */
  def aHashed(media: DataFrame, contentCol: Column, idCol: Column): DataFrame = {
    // register on the frame's OWN session — getActiveSession is
    // per-thread and silently absent off the driver's main thread,
    // which would surface later as an unresolved-routine error far
    // from the cause; media.sparkSession is the session that will
    // analyze the expression.
    graft.functions.GraftFunctions.registerAHash(media.sparkSession)
    media.select(idCol.as("media_id"),
      call_function("a_hash", contentCol).as("phash"))
  }

  /** Reference formulation via built-in higher-order functions — kept
    * for the equivalence property test of the codegen'd kernel (the
    * [[Text.polyHashHof]] discipline): per-char ascii codes, 60
    * slice-aggregates with the same integer-div bounds and
    * cross-multiplied thresholds. */
  def aHashedHof(media: DataFrame, contentCol: Column, idCol: Column): DataFrame =
    media.select(idCol.as("media_id"),
        transform(split(contentCol, ""), c => ascii(c).cast("long")).as("codes"))
      .select(col("media_id"), col("codes"),
        size(col("codes")).cast("long").as("n"),
        aggregate(col("codes"), lit(0L), (a, x) => a + x).as("total"))
      .select(col("media_id"), expr(
        s"""aggregate(transform(sequence(0L, ${aHashBits - 1}L), k ->
           |  CASE WHEN aggregate(slice(codes,
           |      CAST((k * n) div $aHashBits AS INT) + 1,
           |      CAST(((k+1) * n) div $aHashBits - (k * n) div $aHashBits AS INT)),
           |      0L, (a, x) -> a + x) * n
           |    > total * (((k+1) * n) div $aHashBits - (k * n) div $aHashBits)
           |  THEN shiftleft(1L, CAST(k AS INT)) ELSE 0L END),
           |0L, (a, x) -> a + x)""".stripMargin).as("phash"))

  /** Near-duplicate media pairs by banded Hamming distance over the
    * aHash — same channel shape as [[Dedup.simhashNearDups]]. */
  def aHashNearDups(media: DataFrame, contentCol: Column, idCol: Column,
                    maxHamming: Int = 3, maxBucket: Int = 100): DataFrame = {
    require(maxHamming < aHashBands, "pigeonhole needs hamming < bands")
    val bandW = aHashBits / aHashBands
    val banded = aHashed(media, contentCol, idCol)
      .select(col("media_id").as("doc_id"), col("phash"),
        posexplode(array((0 until aHashBands).map(b =>
          shiftright(col("phash"), b * bandW) % lit(1L << bandW)): _*))
          .as(Seq("band", "bv")))
    Dedup.cappedPairJoin(banded, Seq("band", "bv"), maxBucket,
        payload = Seq("phash"))
      .select(col("x.doc_id").as("media_a"), col("y.doc_id").as("media_b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).cast("long")
          .as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Columnar feature extraction used by the oracle-checked query:
    * envelope features computable without the codec (byte length,
    * content hash, stub dimensions) as pure expressions.
    */
  def envelopeFeatures(payload: Column, nChars: Column): Seq[Column] = Seq(
    octet_length(payload).cast("long").as("byte_len"),
    sha2(payload, 256).as("sha"),
    (lit(16) + nChars % 64).cast("long").as("width"),
    (lit(16) + (nChars * 7) % 64).cast("long").as("height"),
    lit(3L).as("channels"))

  /** Stride frame sampling over a BINARY media column — the video
    * analog of the image/audio paths: treat the payload as a sequence
    * of `frameBytes`-byte frames (final partial frame included) and
    * keep every `stride`-th frame, the way a vision pipeline thins a
    * clip to 1-in-N frames before feature extraction. Emits per media
    * the envelope (byte_len, n_frames), the sample size, and an exact
    * integer checksum over the sampled frames' first bytes — the
    * cheap content witness that lets the oracle verify WHICH frames
    * were sampled, not just how many.
    *
    * Per-partition typed iteration over the raw bytes (the standard
    * batched-decode shape): zero per-row JVM boxing beyond the row
    * itself, no driver involvement, linear in payload bytes.
    */
  def frameSample(media: DataFrame, payload: Column, idCol: Column,
                  frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes >= 1 && stride >= 1, "frameBytes and stride must be >= 1")
    import media.sparkSession.implicits._
    media.select(idCol.cast("long").as("media_id"), payload.as("p"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0 else bytes.length
        val nFrames = (n + frameBytes - 1) / frameBytes
        var k = 0
        var sampled = 0L
        var checksum = 0L
        while (k < nFrames) {
          checksum += (bytes(k * frameBytes) & 0xffL)
          sampled += 1
          k += stride
        }
        (id, n.toLong, nFrames.toLong, sampled, checksum)
      })
      .toDF("media_id", "byte_len", "n_frames", "n_sampled", "checksum")
  }
}
