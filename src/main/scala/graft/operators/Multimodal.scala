package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns for training-data pipelines.
  *
  * Design: media travels as an opaque `binary` column plus a typed
  * metadata struct — Spark never interprets the payload, so parquet column
  * pruning keeps metadata-only queries from ever reading the bytes, and
  * the payload column stays out of every shuffle that doesn't need it.
  * Per-item decode/feature work runs inside `mapPartitions` so a real
  * decoder (JNI image lib, ffmpeg pipe, ONNX session) amortizes its
  * per-partition setup across the batch — the Scala analogue of a Pandas
  * UDF's batch shape.
  *
  * Every decode kernel is REAL and in-JDK — no stubs:
  *   - [[ImageCodec]]: `javax.imageio` (PNG/JPEG/BMP/GIF readers ship
  *     with every JDK). [[decodeImageMeta]] recovers true
  *     width/height/channels + a pixel checksum from the payload bytes.
  *   - [[AudioCodec]]: `javax.sound.sampled` WAV/PCM16.
  *     [[decodeAudioMeta]] recovers rate/channels/bit-depth/frames + a
  *     sample checksum.
  *   - [[VideoCodec]]: multi-frame GIF through the same ImageIO readers.
  *     [[decodeVideoMeta]] recovers dims, TRUE frame count and a
  *     cross-frame checksum.
  *   - [[extractFeatures]] dispatches per `meta.media_type` to real
  *     decoded-content features (resampled pixels / windowed RMS /
  *     frame-mean envelope) — what similarity search actually runs on. A
  *     learned-embedding deployment swaps the per-modality kernel bodies
  *     (an ONNX session constructed once per partition); the schema,
  *     batch shape and null contract stay.
  */
object Multimodal {

  /** Typed metadata carried beside the payload. */
  val MediaMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("format", StringType),       // png, wav, mp4, ...
    StructField("width", IntegerType),       // images/video
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),    // video
    StructField("sample_rate", IntegerType)  // audio
  ))

  /** Canonical asset schema: id + opaque payload + metadata struct. */
  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", MediaMetaType)))

  /** Pure resampling helpers shared by the feature kernels — no decoding
    * here (the real codecs live in [[ImageCodec]]/[[AudioCodec]]/
    * [[VideoCodec]]). */
  object Resample {
    /** Nearest-neighbor re-sample to `newDim`: out(i) = in(i*len/newDim).
      * The one resample formula every feature kernel and its SQL twin
      * share. */
    def resize(features: Array[Float], newDim: Int): Array[Float] = {
      val out = new Array[Float](newDim)
      var i = 0
      while (i < newDim) {
        out(i) = features((i.toLong * features.length / newDim).toInt)
        i += 1
      }
      out
    }

    /** Frame sample plan: every k-th frame index of an n-frame video. */
    def sampleFrames(nFrames: Int, every: Int): Array[Int] =
      (0 until nFrames by math.max(1, every)).toArray
  }

  /** Real image encode/decode through JDK `javax.imageio` — no stub.
    * Works headless (BufferedImage never touches a display). */
  object ImageCodec {
    /** Decode any ImageIO-supported payload (PNG/JPEG/BMP/GIF); None for
      * null, truncated, or non-image bytes — a 100 TB crawl corpus always
      * contains undecodable payloads, and they must degrade to null rows,
      * not task failures. */
    def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (bytes == null) None
      // NonFatal, not just IOException: ImageIO plugin readers throw
      // RuntimeExceptions (IllegalArgument, ArrayIndexOutOfBounds,
      // NegativeArraySize) on malformed payloads, and real crawl bytes
      // WILL be malformed — those must degrade to None, not kill tasks
      // Explicit MemoryCacheImageInputStream: the InputStream overload
      // consults ImageIO.getUseCache() (default TRUE) and spools every
      // payload through a FileCacheImageInputStream — one temp file
      // created, written, read and deleted PER IMAGE PER ROW, i.e. a
      // hidden disk round trip on a pure in-memory decode (guide §1.2
      // step 2: per-task work). The decoded pixels are identical.
      else decodeStream(new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))

    /** Decode from an image stream and close it on every path:
      * `ImageIO.read` closes the stream itself only when a reader claims
      * it — on unrecognized bytes it returns null and leaves it open. */
    private[operators] def decodeStream(
        iis: javax.imageio.stream.ImageInputStream): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(iis))
      catch { case scala.util.control.NonFatal(_) => None }
      finally {
        // a second close of an already-closed stream throws "closed"
        try iis.close() catch { case _: java.io.IOException => () }
      }

    /** Encode a width x height 8-bit grayscale PNG whose pixel (x, y) is
      * `pixel(x, y) & 0xff`. Gray PNG is lossless, so a decode reads back
      * the exact samples — the property the oracle-checked round trip
      * relies on. */
    def encodePngGray(width: Int, height: Int, pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      // Explicit MemoryCacheImageOutputStream for the same reason as
      // [[decode]]: the OutputStream overload routes through a
      // FileCacheImageOutputStream temp file per encode. close() flushes
      // the cache into `out`; the PNG bytes are identical.
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try javax.imageio.ImageIO.write(img, "png", ios)
      finally ios.close()
      out.toByteArray
    }
  }

  /** Deterministic real-PNG corpus from an id column: each id becomes an
    * actual PNG payload (dims and pixels are closed-form functions of the
    * id, so an oracle can recompute what a correct decode must find).
    * This is the fixture generator for the oracle-checked decode round
    * trip — and a real encode kernel in its own right. */
  def syntheticPngMedia(df: DataFrame, idCol: String): DataFrame = {
    val enc = Encoders.row(MediaSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val w = (1 + id % 16).toInt
        val h = (1 + id % 9).toInt
        val bytes = ImageCodec.encodePngGray(w, h,
          (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt)
        Row(id, bytes, Row("image", "png", w, h, null, null))
      }
    }(enc)
  }

  /** Decode payloads with the REAL codec: one ImageIO pass per asset,
    * emitting true width/height/channel-count plus a band-0 sample sum
    * (the deterministic pixel checksum the oracle recomputes).
    * Undecodable/null payloads survive as null-metric rows. */
  def decodeImageMeta(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_channels", IntegerType),
      StructField("pixel_sum", LongType)))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        ImageCodec.decode(r.getAs[Array[Byte]](contentIdx)) match {
          case None => Row(id, null, null, null, null)
          case Some(img) =>
            val raster = img.getRaster
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
              y += 1
            }
            Row(id, img.getWidth, img.getHeight, raster.getNumBands, sum)
        }
      }
    }(enc)
  }

  /** REAL image features: decode the payload with [[ImageCodec]] and
    * nearest-neighbor-resample the band-0 samples (row-major) to a
    * fixed-dim vector in [0,1] — the classic thumbnail-vector baseline a
    * similarity search actually works on (two visually identical payloads
    * get identical vectors; hash-different bytes of the same pixels no
    * longer matter, which is exactly what the md5 pseudo-features got
    * wrong). Same resample formula as [[Resample.resize]]
    * (`idx = d*len/dim`), so the synthetic-PNG corpus keeps a closed-form
    * SQL twin. Undecodable/null payloads degrade to null-feature rows. */
  def extractImageFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        ImageCodec.decode(r.getAs[Array[Byte]](contentIdx)) match {
          case None => Row(id, null)
          case Some(img) => Row(id, imagePixelVector(img, dim).toSeq)
        }
      }
    }(enc)
  }

  /** Perceptual difference-hash (dHash) of an image payload: decode with
    * the REAL codec, nearest-resample the row-major band-0 samples to
    * `bits + 1` integer points (the [[extractImageFeatures]] resample
    * formula, un-normalized), and set bit `d` when sample `d+1` is
    * brighter than sample `d` — the classic gradient fingerprint. Two
    * visually identical images hash equal regardless of byte encoding;
    * small pixel perturbations flip few bits, so near-duplicate images
    * sit within a small hamming distance — pair them with
    * [[Dedup.hammingPairs]] (pigeonhole banding, exact recall), giving
    * image dedup the same candidate+verify shape as text SimHash. 60
    * bits (not 64) keeps every stage SQL-twin-able without BIGINT sign
    * games, the [[Dedup.simHash60]] precedent. Undecodable/null payloads
    * degrade to null-hash rows. */
  def perceptualHash(media: DataFrame, bits: Int = 60): DataFrame = {
    require(bits >= 4 && bits <= 62, s"bits must be in [4, 62], got $bits")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("phash", LongType)))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        ImageCodec.decode(r.getAs[Array[Byte]](contentIdx)) match {
          case None => Row(id, null)
          case Some(img) =>
            val w = img.getWidth
            val raster = img.getRaster
            val len = w.toLong * img.getHeight
            def sample(d: Int): Int = {
              val idx = (d.toLong * len / (bits + 1)).toInt
              raster.getSample(idx % w, idx / w, 0)
            }
            var hash = 0L
            var prev = sample(0)
            var d = 0
            while (d < bits) {
              val cur = sample(d + 1)
              if (cur > prev) hash |= 1L << d
              prev = cur
              d += 1
            }
            Row(id, hash)
        }
      }
    }(enc)
  }

  /** Perceptual AUDIO hash: gradient bits over the `bits + 1`-window RMS
    * energy envelope ([[extractAudioFeatures]]) — bit `d` set when
    * window `d+1` is louder than window `d`. Computed entirely as column
    * algebra over the decoded features (one decode pass, no UDF; the
    * 2^i terms are exact double powers cast to long), so it inherits the
    * audio twin's cross-engine exactness: integer squared-sample sums ->
    * correctly-rounded divide/sqrt -> float32, bit-identical in any
    * IEEE engine. Pairs via [[Dedup.hammingPairs]], the image-dHash
    * composition — re-encoded or resampled-alike audio clusters by
    * envelope shape, not byte identity. Undecodable -> null. */
  def audioPerceptualHash(media: DataFrame, bits: Int = 60): DataFrame = {
    require(bits >= 4 && bits <= 62, s"bits must be in [4, 62], got $bits")
    gradientHash(extractAudioFeatures(media, windows = bits + 1), bits)
  }

  /** Perceptual VIDEO hash: gradient bits over the `bits + 1`-point
    * frame-mean-gray envelope ([[extractFeatures]] video arm) — the
    * brightness-over-time signature. Short clips repeat frames under the
    * resample (flat gradient, bit 0 — deterministic on both engines);
    * the hash earns its bits on real multi-frame footage. Same
    * [[Dedup.hammingPairs]] composition as image/audio, completing
    * perceptual dedup across all three modalities. */
  def videoPerceptualHash(media: DataFrame, bits: Int = 60): DataFrame = {
    require(bits >= 4 && bits <= 62, s"bits must be in [4, 62], got $bits")
    gradientHash(extractFeatures(media, dim = bits + 1), bits)
  }

  /** Shared gradient-bit fold: bit `d` set when feature `d+1` exceeds
    * feature `d`; 2^d terms are exact double powers cast to long. Null
    * features propagate to a null hash. */
  private def gradientHash(feats: DataFrame, bits: Int): DataFrame =
    feats.select(col("media_id"),
      when(col("features").isNotNull,
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
          (acc, i) => acc +
            when(element_at(col("features"), i + lit(2)) >
                element_at(col("features"), i + lit(1)),
              pow(lit(2.0d), i).cast("long")).otherwise(lit(0L))))
        .as("phash"))

  /** REAL audio features: decode with [[AudioCodec.decodeSamples]] and
    * emit `windows` per-window RMS values normalized to full-scale PCM —
    * the standard energy-envelope descriptor. Window of sample i is
    * `floor(i*windows/n)` (the same floor-partition as the image
    * resample), and the squared-sample sums accumulate in exact integer
    * arithmetic so the synthetic-WAV corpus has an order-independent SQL
    * twin. Non-PCM16LE/undecodable payloads degrade to null rows. */
  def extractAudioFeatures(media: DataFrame, windows: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        AudioCodec.decodeSamples(r.getAs[Array[Byte]](contentIdx)) match {
          case Some((_, samples)) if samples.nonEmpty =>
            Row(id, audioRmsVector(samples, windows).toSeq)
          case _ => Row(id, null)
        }
      }
    }(enc)
  }

  /** Real audio encode/decode through JDK `javax.sound.sampled` — the
    * audio twin of [[ImageCodec]]. WAV/PCM is a JDK-native format: no
    * external codecs, and 16-bit PCM round-trips samples exactly. */
  object AudioCodec {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    /** Encode mono 16-bit little-endian PCM samples as a WAV payload. */
    def encodeWavPcm16Mono(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
      val pcm = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val stream = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Decode a WAV payload: (sampleRate, channels, bitDepth, frames,
      * signed sum of channel-0 16-bit samples). None for null/garbage
      * bytes — same degrade-to-null contract as [[ImageCodec.decode]]. */
    def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Long)] =
      if (bytes == null) None
      else try {
        val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val frames = in.getFrameLength
          val data = in.readAllBytes()
          var sum = 0L
          // the (hi << 8) | lo read is only correct for 16-bit signed
          // LITTLE-endian PCM; AudioSystem also parses AIFF/AU (big-endian)
          // and unsigned/float encodings, which would yield a silently
          // wrong checksum — gate the sum on the exact layout it decodes
          if (fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
              fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) {
            val frameSize = fmt.getFrameSize
            var off = 0
            while (off + 1 < data.length) {
              val lo = data(off) & 0xff
              val hi = data(off + 1).toInt
              sum += (hi << 8) | lo // channel 0, little-endian signed
              off += frameSize
            }
          }
          Some((fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, frames, sum))
        } finally in.close()
      } catch {
        // same degrade-to-null contract as ImageCodec: malformed headers
        // can surface as RuntimeExceptions from the parser, not just the
        // two checked types
        case scala.util.control.NonFatal(_) => None
      }

    /** Decode the channel-0 sample SEQUENCE of a 16-bit signed
      * little-endian PCM payload — the input the real feature extractor
      * works on. None for any other layout (big-endian, float, u8) or
      * undecodable bytes: a wrong-layout read would produce garbage
      * samples, and garbage features are worse than absent ones. */
    def decodeSamples(bytes: Array[Byte]): Option[(Int, Array[Int])] =
      if (bytes == null) None
      else try {
        val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
              fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) None
          else {
            val data = in.readAllBytes()
            val frameSize = fmt.getFrameSize
            val n = data.length / frameSize
            val out = new Array[Int](n)
            var f = 0
            while (f < n) {
              val off = f * frameSize
              out(f) = (data(off + 1).toInt << 8) | (data(off) & 0xff)
              f += 1
            }
            Some((fmt.getSampleRate.toInt, out))
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Real multi-frame video decode through JDK `javax.imageio`'s GIF
    * reader/writer — the video twin of [[ImageCodec]]/[[AudioCodec]].
    * GIF is the one multi-frame container with an in-JDK codec pair;
    * frames encode with an explicit 256-gray `IndexColorModel` palette so
    * the round trip is lossless (the writer copies the palette instead of
    * re-quantizing), and the decode reads pixel values back through
    * `getRGB`'s red channel — palette-order-independent, so it checks the
    * COLORS the frames actually carry, not an index layout. */
  object VideoCodec {
    import java.awt.image.{BufferedImage, IndexColorModel}

    private def grayPalette: IndexColorModel = {
      val g = Array.tabulate(256)(_.toByte)
      new IndexColorModel(8, 256, g, g, g)
    }

    /** Encode `nFrames` frames of width x height 8-bit gray as one
      * animated GIF; frame f's pixel (x, y) is `pixel(f, x, y) & 0xff`. */
    def encodeGifGray(width: Int, height: Int, nFrames: Int,
        pixel: (Int, Int, Int) => Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      // MemoryCacheImageOutputStream, not createImageOutputStream: the
      // factory consults getUseCache() and spools the GIF sequence
      // through a temp FILE per encode (see [[ImageCodec.decode]]).
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        // interlace OFF: the JDK GIF writer's default interlaced write
        // misplaces rows on sequence frames (verified empirically — rows
        // shift and drop on decode); non-progressive frames round-trip
        // exactly
        val param = writer.getDefaultWriteParam
        param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          val img = new BufferedImage(width, height,
            BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
          val raster = img.getRaster
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) { raster.setSample(x, y, 0, pixel(f, x, y) & 0xff); x += 1 }
            y += 1
          }
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
          f += 1
        }
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      out.toByteArray
    }

    /** Decode every frame of a multi-frame payload. None for null or
      * undecodable bytes, or when no ImageIO reader claims the format —
      * the crawl-data degrade-to-null contract again. */
    def decodeFrames(bytes: Array[Byte]): Option[IndexedSeq[BufferedImage]] =
      if (bytes == null) None
      else try {
        // MemoryCacheImageInputStream, not createImageInputStream: the
        // factory's default is a temp-file-backed cache per decode (see
        // [[ImageCodec.decode]]).
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              if (n <= 0) None
              else Some((0 until n).map(reader.read))
            } finally reader.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Decode a multi-frame payload to its metrics: (width, height, TRUE
      * frame count, sum over all frames of each pixel's red/gray channel
      * via `getRGB` — palette-order-independent). */
    def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] =
      decodeFrames(bytes).map { frames =>
        var sum = 0L
        frames.foreach { img =>
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
            y += 1
          }
        }
        (frames.head.getWidth, frames.head.getHeight, frames.length, sum)
      }
  }

  /** Deterministic real-GIF corpus from an id column — the video twin of
    * [[syntheticPngMedia]]: frame count, dims and per-frame pixels are
    * closed-form functions of the id, so the oracle recomputes what a
    * correct multi-frame decode must find. */
  def syntheticGifMedia(df: DataFrame, idCol: String): DataFrame = {
    val enc = Encoders.row(MediaSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val w = (2 + id % 8).toInt
        val h = (2 + id % 6).toInt
        val nf = (1 + id % 5).toInt
        val bytes = VideoCodec.encodeGifGray(w, h, nf,
          (f, x, y) => ((id * 31 + f * 17 + x * 7 + y * 13) % 256).toInt)
        Row(id, bytes, Row("video", "gif", w, h, nf, null))
      }
    }(enc)
  }

  /** Decode video payloads with the REAL codec: true dims, true frame
    * count (the metadata-claims-vs-payload check [[plannedFrameSample]]
    * plans against) and the cross-frame pixel checksum the oracle
    * recomputes. Undecodable payloads survive as null-metric rows. */
  def decodeVideoMeta(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("pixel_sum", LongType)))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        VideoCodec.decode(r.getAs[Array[Byte]](contentIdx)) match {
          case None => Row(id, null, null, null, null)
          case Some((w, h, n, sum)) => Row(id, w, h, n, sum)
        }
      }
    }(enc)
  }

  /** Deterministic real-WAV corpus from an id column — the audio twin of
    * [[syntheticPngMedia]]: frame count and samples are closed-form
    * functions of the id, so an oracle can recompute what a correct
    * decode must find. */
  def syntheticWavMedia(df: DataFrame, idCol: String): DataFrame = {
    val enc = Encoders.row(MediaSchema)
    val idIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val n = (64 + id % 128).toInt
        val samples = Array.tabulate(n)(i => (((id * 31 + i * 7) % 2048) - 1024).toShort)
        val bytes = AudioCodec.encodeWavPcm16Mono(8000, samples)
        Row(id, bytes, Row("audio", "wav", null, null, null, 8000))
      }
    }(enc)
  }

  /** Decode audio payloads with the REAL codec: true sample rate /
    * channels / bit depth / frame count plus the signed channel-0 sample
    * sum (the checksum the oracle recomputes). Undecodable payloads
    * survive as null-metric rows. */
  def decodeAudioMeta(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("n_channels", IntegerType),
      StructField("bit_depth", IntegerType),
      StructField("n_frames", LongType),
      StructField("sample_sum", LongType)))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        AudioCodec.decode(r.getAs[Array[Byte]](contentIdx)) match {
          case None => Row(id, null, null, null, null, null)
          case Some((rate, ch, bits, frames, sum)) =>
            Row(id, rate, ch, bits, frames, sum)
        }
      }
    }(enc)
  }

  /** Wrap a (id, payload) frame into the canonical media schema with
    * caller-supplied metadata columns. */
  def asMedia(df: DataFrame, idCol: String, contentCol: String,
      mediaType: String, format: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      col(contentCol).cast(BinaryType).as("content"),
      struct(
        lit(mediaType).as("media_type"), lit(format).as("format"),
        lit(null).cast(IntegerType).as("width"), lit(null).cast(IntegerType).as("height"),
        lit(null).cast(IntegerType).as("n_frames"), lit(null).cast(IntegerType).as("sample_rate")
      ).as("meta"))

  /** Decode + feature-extract over partitions, dispatching on the
    * asset's `meta.media_type` to the REAL per-modality kernel:
    *   - image: [[extractImageFeatures]]' resampled band-0 pixels;
    *   - audio: [[extractAudioFeatures]]' windowed RMS energies;
    *   - video: per-frame mean gray, nearest-resampled to `dim` — the
    *     temporal envelope twin of the image kernel.
    * One decoder instantiation per partition (where a learned encoder's
    * session would be constructed), one fixed-size float vector per
    * asset; unknown types, null payloads and undecodable bytes all
    * degrade to null-feature rows (callers filter). */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = Encoders.row(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    val metaIdx = media.schema.fieldIndex("meta")
    // positional lookup resolved at PLAN time: nested rows inside
    // mapPartitions are schemaless GenericRows (fieldIndex throws there)
    val mtIdx = media.schema(metaIdx).dataType
      .asInstanceOf[StructType].fieldIndex("media_type")
    media.mapPartitions { rows =>
      // real impl: construct decoder/ONNX sessions HERE, once per partition
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](contentIdx)
        val meta = if (r.isNullAt(metaIdx)) null else r.getStruct(metaIdx)
        val mediaType =
          if (meta == null || meta.isNullAt(mtIdx)) null else meta.getString(mtIdx)
        val feats: Option[Array[Float]] = mediaType match {
          case "image" => ImageCodec.decode(bytes).map(imagePixelVector(_, dim))
          case "audio" =>
            AudioCodec.decodeSamples(bytes).collect {
              case (_, samples) if samples.nonEmpty => audioRmsVector(samples, dim)
            }
          case "video" =>
            videoFrameMeans(bytes).collect {
              case means if means.nonEmpty => Resample.resize(means, dim)
            }
          case _ => None
        }
        feats match {
          case Some(f) => Row(id, f.toSeq)
          case None => Row(id, null)
        }
      }
    }(enc)
  }

  /** Shared image kernel: band-0 samples row-major, nearest-resampled to
    * `dim`, scaled to [0,1]. */
  private def imagePixelVector(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val len = w * h
    val out = new Array[Float](dim)
    var d = 0
    while (d < dim) {
      val idx = (d.toLong * len / dim).toInt
      out(d) = (raster.getSample(idx % w, idx / w, 0) / 255.0).toFloat
      d += 1
    }
    out
  }

  /** Shared audio kernel: `windows` full-scale-normalized RMS energies;
    * window of sample i is floor(i*windows/n), squared sums accumulate in
    * exact integer arithmetic (order-independent SQL twin). */
  private def audioRmsVector(samples: Array[Int], windows: Int): Array[Float] = {
    val n = samples.length
    val ss = new Array[Long](windows)
    val cnt = new Array[Int](windows)
    var i = 0
    while (i < n) {
      val j = (i.toLong * windows / n).toInt
      val v = samples(i).toLong
      ss(j) += v * v
      cnt(j) += 1
      i += 1
    }
    val out = new Array[Float](windows)
    var j = 0
    while (j < windows) {
      out(j) =
        if (cnt(j) == 0) 0f
        else (math.sqrt(ss(j).toDouble / cnt(j)) / 32768.0).toFloat
      j += 1
    }
    out
  }

  /** Per-frame mean gray of a multi-frame payload, read through the
    * red/gray channel of `getRGB` (palette-order-independent, like
    * [[VideoCodec.decode]]'s checksum). */
  private def videoFrameMeans(bytes: Array[Byte]): Option[Array[Float]] =
    VideoCodec.decodeFrames(bytes).map { frames =>
      frames.map { img =>
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { sum += (img.getRGB(x, y) >> 16) & 0xff; x += 1 }
          y += 1
        }
        (sum.toDouble / (img.getWidth.toLong * img.getHeight * 255L)).toFloat
      }.toArray
    }

  /** Resize pass over an existing feature column (kept as a separate
    * narrow transformation: at scale you chain these without re-decoding). */
  def resizeFeatures(features: DataFrame, newDim: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val enc = Encoders.row(outSchema)
    val idIdx = features.schema.fieldIndex("media_id")
    val fIdx = features.schema.fieldIndex("features")
    features.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(fIdx)) Row(r.getLong(idIdx), null)
        else {
          val f = r.getSeq[Float](fIdx).toArray
          val resized = if (f.isEmpty) new Array[Float](newDim) else Resample.resize(f, newDim)
          Row(r.getLong(idIdx), resized.toSeq)
        }
      }
    }(enc)
  }

  /** Metadata-only video frame-sampling plan: computes the retained frame
    * indices per asset WITHOUT touching `content` (column pruning keeps
    * the payload out of the scan entirely — check ReadSchema). */
  def plannedFrameSample(media: DataFrame, every: Int): DataFrame =
    media.select(col("media_id"), col("meta.n_frames").as("n_frames"))
      .where(col("n_frames").isNotNull)
      .withColumn("kept_frames",
        // n_frames = 0 would make sequence(0, -1, +1) throw; emit empty
        when(col("n_frames") > 0,
          sequence(lit(0), col("n_frames") - 1, lit(math.max(1, every))))
          .otherwise(typedLit(Seq.empty[Int])))
      .withColumn("n_kept", size(col("kept_frames")))
}
