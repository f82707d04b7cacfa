package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // real PNG payloads: ids 1 and 3 carry the SAME pixels (different rows,
  // one visual identity), id 2 different pixels
  private def png(seed: Long): Array[Byte] =
    Multimodal.ImageCodec.encodePngGray(8, 5, (x, y) => ((seed * 31 + x * 7 + y * 13) % 256).toInt)

  private def media = {
    val rows = Seq(Row(1L, png(1)), Row(2L, png(2)), Row(3L, png(1)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("bytes", BinaryType))))
    Multimodal.asMedia(df, "id", "bytes", "image", "png")
  }

  test("asMedia produces the canonical schema (names + types)") {
    def shape(t: StructType): Seq[(String, DataType)] = t.fields.toSeq.map {
      case StructField(n, s: StructType, _, _) => n -> StructType(shape(s).map { case (fn, ft) => StructField(fn, ft) })
      case StructField(n, d, _, _)             => n -> d
    }
    assert(shape(media.schema) == shape(Multimodal.MediaSchema))
    assert(media.count() == 3)
  }

  test("extractFeatures: fixed dim, deterministic, equal pixels -> equal features") {
    val f = Multimodal.extractFeatures(media, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f.values.forall(_.size == 16))
    assert(f(1L) == f(3L)) // identical payloads
    assert(f(1L) != f(2L)) // different payloads
    assert(f.values.flatten.forall(v => v >= 0f && v <= 1f))
    // deterministic across runs
    val again = Multimodal.extractFeatures(media, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(again == f)
    // the features are the DECODED CONTENT, not a byte hash: re-encoding
    // the same pixels through a fresh PNG pass (bytes may differ) must
    // land on the identical vector, and the vector must BE the resampled
    // pixels
    val expected = (0 until 16).map { d =>
      val idx = d * 40 / 16
      ((((1 * 31 + (idx % 8) * 7 + (idx / 8) * 13) % 256)) / 255.0).toFloat
    }
    assert(f(1L).toSeq == expected)
  }

  test("extractFeatures dispatches per media_type: audio RMS and video envelopes") {
    val id = 9L
    val n = (64 + id % 128).toInt
    val samples = Array.tabulate(n)(i => (((id * 31 + i * 7) % 2048) - 1024).toShort)
    val wav = Multimodal.AudioCodec.encodeWavPcm16Mono(8000, samples)
    val gif = Multimodal.VideoCodec.encodeGifGray(4, 3, 2, (f, x, y) => (f * 100 + x + y) % 256)
    val rows = Seq(Row(1L, wav, "audio"), Row(2L, gif, "video"), Row(3L, wav, "text"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("bytes", BinaryType),
        StructField("mt", StringType))))
    val byType = df.select(org.apache.spark.sql.functions.col("mt")).distinct().collect()
      .map(_.getString(0)).map { mt =>
        mt -> Multimodal.extractFeatures(
          Multimodal.asMedia(df.where(org.apache.spark.sql.functions.col("mt") === mt),
            "id", "bytes", mt, "x"), dim = 4)
          .collect().map(r => r.getLong(0) -> Option(r.getSeq[Float](1))).toMap
      }.toMap
    // audio: 4 RMS windows, recomputed from the raw samples
    val rms = {
      val ss = new Array[Long](4); val cnt = new Array[Int](4)
      samples.zipWithIndex.foreach { case (s, i) =>
        val j = (i.toLong * 4 / n).toInt; ss(j) += s.toLong * s; cnt(j) += 1
      }
      (0 until 4).map(j => (math.sqrt(ss(j).toDouble / cnt(j)) / 32768.0).toFloat)
    }
    assert(byType("audio")(1L).get.toSeq == rms)
    // video: per-frame means resampled to dim=4 -> frames [0,0,1,1]
    val frameMean = (0 until 2).map { f =>
      val s = (for (y <- 0 until 3; x <- 0 until 4) yield (f * 100 + x + y) % 256).sum
      (s.toDouble / (12 * 255L)).toFloat
    }
    assert(byType("video")(2L).get.toSeq == Seq(frameMean(0), frameMean(0), frameMean(1), frameMean(1)))
    // unknown media_type -> null features, not a guess
    assert(byType("text")(3L).isEmpty)
  }

  test("resizeFeatures downsamples to requested dim") {
    val f = Multimodal.extractFeatures(media, dim = 64)
    val r = Multimodal.resizeFeatures(f, 8).collect().map(_.getSeq[Float](1))
    assert(r.forall(_.size == 8))
  }

  test("media features feed the similarity operators (pipeline integration)") {
    val feats = Multimodal.extractFeatures(media, dim = 32)
      .withColumnRenamed("media_id", "vec_id").withColumnRenamed("features", "embedding")
    val q = feats.where(org.apache.spark.sql.functions.col("vec_id") === 1)
      .head().getSeq[Float](1).map(_.toDouble)
    val top = Similarity.bruteForceTopK(feats, "vec_id", "embedding", q, 3).collect()
    // ids 1 and 3 share a payload -> cosine 1.0 for both, id asc tie-break
    assert(top.map(_.getLong(0)).take(2).toSeq == Seq(1L, 3L))
    assert(math.abs(top(1).getDouble(1) - 1.0) < 1e-9)
  }

  test("null payload survives extract/resize as null features; zero frames -> empty plan") {
    import org.apache.spark.sql.functions._
    val rows = Seq(Row(1L, png(1)), Row(2L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", LongType), StructField("bytes", BinaryType, true))))
    val feats = Multimodal.extractFeatures(
      Multimodal.asMedia(df, "id", "bytes", "image", "png"), dim = 8)
    val collected = feats.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(collected == Map(1L -> false, 2L -> true))
    val resized = Multimodal.resizeFeatures(feats, 4).collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(resized == Map(1L -> false, 2L -> true))
    // n_frames = 0 must not crash sequence()
    val zeroFrames = media.withColumn("meta",
      struct(col("meta.media_type"), col("meta.format"), col("meta.width"),
        col("meta.height"), lit(0).as("n_frames"), col("meta.sample_rate")))
    val plan = Multimodal.plannedFrameSample(zeroFrames, 2).collect()
    assert(plan.forall(_.getAs[Int]("n_kept") == 0))
  }

  test("ImageCodec closes its stream on undecodable bytes and on success") {
    final class Tracked(bytes: Array[Byte]) extends javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes)) {
      var closes = 0
      override def close(): Unit = { closes += 1; super.close() }
    }
    val garbage = new Tracked(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    assert(Multimodal.ImageCodec.decodeStream(garbage).isEmpty)
    assert(garbage.closes >= 1, "stream leaked on the ImageIO.read null path")
    val good = new Tracked(png(1))
    assert(Multimodal.ImageCodec.decodeStream(good).map(_.getWidth).contains(8))
    assert(good.closes >= 1)
  }

  test("ImageCodec decodes a real checked-in PNG fixture to its true dims and pixels") {
    // fixture: 8x5 8-bit grayscale, pixel(x,y) = (x*7 + y*13) % 256
    val in = getClass.getResourceAsStream("/graft/fixture_8x5.png")
    val bytes = in.readAllBytes(); in.close()
    val img = Multimodal.ImageCodec.decode(bytes).getOrElse(fail("fixture must decode"))
    assert(img.getWidth == 8 && img.getHeight == 5)
    val sum = (for (y <- 0 until 5; x <- 0 until 8)
      yield img.getRaster.getSample(x, y, 0)).sum
    assert(sum == 2020, "decoded samples must match the fixture's known pixel sum")
    // and through the distributed seam:
    val rows = Seq(Row(7L, bytes), Row(8L, Array[Byte](1, 2, 3)), Row(9L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("bytes", BinaryType, true))))
    val meta = Multimodal.decodeImageMeta(
        Multimodal.asMedia(df, "id", "bytes", "image", "png"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getLong(4))))).toMap
    assert(meta(7L).contains((8, 5, 2020L)))
    assert(meta(8L).isEmpty, "garbage bytes degrade to a null row, not a task failure")
    assert(meta(9L).isEmpty, "null payload degrades to a null row")
  }

  test("WAV encode -> decode round-trips rate, frames, and the exact sample sum") {
    val id = 42L
    val n = (64 + id % 128).toInt
    val samples = Array.tabulate(n)(i => (((id * 31 + i * 7) % 2048) - 1024).toShort)
    val bytes = Multimodal.AudioCodec.encodeWavPcm16Mono(8000, samples)
    val (rate, ch, bits, frames, sum) = Multimodal.AudioCodec.decode(bytes).get
    assert(rate == 8000 && ch == 1 && bits == 16 && frames == n)
    assert(sum == samples.map(_.toLong).sum, "decoded PCM must be sample-exact")
    // garbage and null degrade to null rows through the seam
    val rows = Seq(Row(1L, bytes), Row(2L, Array[Byte](9, 9, 9)), Row(3L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("bytes", BinaryType, true))))
    val meta = Multimodal.decodeAudioMeta(
        Multimodal.asMedia(df, "id", "bytes", "audio", "wav"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(meta == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("GIF encode -> decode round-trips dims, true frame count, and the pixel checksum") {
    val id = 13L
    val w = (2 + id % 8).toInt; val h = (2 + id % 6).toInt; val nf = (1 + id % 5).toInt
    val pixel = (f: Int, x: Int, y: Int) => ((id * 31 + f * 17 + x * 7 + y * 13) % 256).toInt
    val bytes = Multimodal.VideoCodec.encodeGifGray(w, h, nf, pixel)
    val (dw, dh, dn, sum) = Multimodal.VideoCodec.decode(bytes).get
    assert((dw, dh, dn) == (w, h, nf), "dims and frame count must come from the payload")
    val expected = (for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
      yield pixel(f, x, y).toLong).sum
    assert(sum == expected, "gray palette GIF must round-trip every pixel exactly")
    // garbage / null degrade to null rows through the distributed seam
    val rows = Seq(Row(1L, bytes), Row(2L, Array[Byte](4, 4)), Row(3L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("id", LongType), StructField("bytes", BinaryType, true))))
    val meta = Multimodal.decodeVideoMeta(
        Multimodal.asMedia(df, "id", "bytes", "video", "gif"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))))).toMap
    assert(meta(1L).contains((w, h, nf, expected)))
    assert(meta(2L).isEmpty && meta(3L).isEmpty)
  }

  test("PNG encode -> decode round-trips dims and every sample exactly") {
    val id = 42L
    val w = (1 + id % 16).toInt; val h = (1 + id % 9).toInt
    val bytes = Multimodal.ImageCodec.encodePngGray(w, h,
      (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt)
    val img = Multimodal.ImageCodec.decode(bytes).get
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == ((id * 31 + x * 7 + y * 13) % 256).toInt)
  }

  test("plannedFrameSample never reads the payload column") {
    import org.apache.spark.sql.functions._
    val withFrames = media.withColumn("meta",
      struct(col("meta.media_type"), col("meta.format"), col("meta.width"),
        col("meta.height"), lit(10).as("n_frames"), col("meta.sample_rate")))
    val plan = Multimodal.plannedFrameSample(withFrames, every = 3)
    val kept = plan.collect().map(r => r.getSeq[Int](r.fieldIndex("kept_frames")).toSeq).head
    assert(kept == Seq(0, 3, 6, 9))
    assert(Multimodal.Resample.sampleFrames(10, 3).toSeq == kept)
    // column pruning: the optimized plan must not reference `content`
    val optimized = plan.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("content"), s"payload not pruned:\n$optimized")
  }
}
