package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

import graft.TestSpark

/** Multimodal plumbing: batch-shaped feature extraction over binary
  * columns (decode kernel stubbed — deterministic fake), frame-sampling
  * and resize planning as declarative expressions.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def assets() = {
    val rows = Seq(
      Row(1L, Array[Byte](1, 2, 3, 4, 5), Row("image", 1920, 1080, 0, 0L)),
      Row(2L, Array[Byte](9, 9, 9), Row("video", 640, 480, 0, 1000L)),
      Row(3L, null, Row("audio", 0, 0, 16000, 2500L)),
    )
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.assetSchema)
  }

  test("imageDimsPlan parses REAL png/gif/bmp headers; junk yields nulls") {
    import java.nio.ByteBuffer
    // a real PNG prefix: signature, IHDR length, "IHDR", 640x480 big-endian
    val png = ByteBuffer.allocate(26)
      .put(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte))
      .putInt(13).put("IHDR".getBytes("US-ASCII"))
      .putInt(640).putInt(480).array()
    // a real GIF89a prefix: 320x200 little-endian u16 logical screen
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x40, 0x01, 0xC8.toByte, 0x00, 0, 0, 0, 0)
    // a real BMP prefix: "BM", 12 filler bytes, header size 40,
    // width 123, height -456 (top-down: parsed as |height|)
    val bmp = ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put('B'.toByte).put('M'.toByte).putInt(0).putInt(0).putInt(54)
      .putInt(40).putInt(123).putInt(-456).array()
    val junk = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10,
      11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26)
    // a real JPEG prefix: SOI, APP0/JFIF segment, SOF0 with 480x640
    val jpeg = Array(
      0xFF, 0xD8, // SOI
      0xFF, 0xE0, 0x00, 0x10, 'J', 'F', 'I', 'F', 0x00, // APP0 len 16
      0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
      0xFF, 0xC0, 0x00, 0x11, 0x08, // SOF0 len 17, precision 8
      0x01, 0xE0, // height 480
      0x02, 0x80, // width 640
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01,
    ).map(_.toByte)
    import spark.implicits._
    val df = Seq((1L, png), (2L, gif), (3L, bmp), (4L, junk), (5L, jpeg))
      .toDF("asset_id", "content")
    val got = Multimodal.imageDimsPlan(df).orderBy("asset_id").collect()
      .map(r => (Option(r.getString(2)),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(got(0) == (Some("png"), Some(640L), Some(480L)))
    assert(got(1) == (Some("gif"), Some(320L), Some(200L)))
    assert(got(2) == (Some("bmp"), Some(123L), Some(456L)))
    assert(got(3) == (None, None, None))
    assert(got(4) == (Some("jpeg"), Some(640L), Some(480L)))
    // a 12-byte BITMAPCOREHEADER bmp has u16 dims at other offsets — it
    // must yield NULLs, not the INFOHEADER layout's garbage
    val coreBmp = ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put('B'.toByte).put('M'.toByte).putInt(0).putInt(0).putInt(26)
      .putInt(12).putShort(100.toShort).putShort(50.toShort).array()
    val core = Seq((9L, coreBmp)).toDF("asset_id", "content")
    val coreRow = Multimodal.imageDimsPlan(core).collect()(0)
    assert(coreRow.isNullAt(2) && coreRow.isNullAt(3) && coreRow.isNullAt(4))
    // truncated content is null-dims, never an error
    val short = Seq((9L, Array[Byte](0x89.toByte, 0x50))).toDF("asset_id", "content")
    assert(Multimodal.imageDimsPlan(short).collect()(0).isNullAt(2))
  }

  test("imageDimsPlan fails fast on output-column name clashes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val df = Seq((1L, "x")).toDF("asset_id", "img_width")
      .withColumn("content", lit(Array[Byte](1, 2)))
    val e = intercept[IllegalArgumentException](Multimodal.imageDimsPlan(df))
    assert(e.getMessage.contains("img_width"))
  }

  test("mediaMetaPlan parses REAL wav/mp4 headers; junk yields nulls") {
    import spark.implicits._
    // a real 8kHz mono 8-bit WAV header with 4000 declared data bytes
    val wav = "RIFF".getBytes("US-ASCII") ++
      Array[Byte](36, 0, 0, 0) ++ "WAVEfmt ".getBytes("US-ASCII") ++
      Array[Byte](16, 0, 0, 0, 1, 0, 1, 0, 0x40, 0x1F, 0, 0, 0x40, 0x1F,
        0, 0, 1, 0, 8, 0) ++
      "data".getBytes("US-ASCII") ++ Array[Byte](0xA0.toByte, 0x0F, 0, 0)
    // a real MP4 prefix: ftyp + moov/mvhd v0, timescale 600, duration 1200
    val mp4 = Array[Byte](0, 0, 0, 16) ++ "ftypisommm41".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 116) ++ "moov".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 108) ++ "mvhd".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        0, 0, 0x02, 0x58, 0, 0, 0x04, 0xB0.toByte) ++ Array.fill[Byte](80)(0)
    val junk = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
    // a real FLAC header: fLaC + last-block STREAMINFO, 8kHz mono 8-bit,
    // 4000 total samples -> 500 ms (packed per the public spec layout)
    val flac = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ Array.fill[Byte](10)(0) ++
      Array[Byte](0x01, 0xF4.toByte, 0x00, 0x70, 0, 0, 0x0F, 0xA0.toByte) ++
      Array.fill[Byte](16)(0)
    // a real V1-stereo MP3 frame with a Xing count of 441 frames
    val mp3 = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00) ++
      Array.fill[Byte](32)(0) ++ "Xing".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 1, 0, 0, 0x01, 0xB9.toByte) // frames = 441
    val out = Multimodal.mediaMetaPlan(
        Seq((1L, wav), (2L, mp4), (3L, junk), (4L, flac), (5L, mp3))
          .toDF("asset_id", "content"))
      .orderBy("asset_id").collect()
      .map(r => (Option(r.getString(2)),
        Option(r.getAs[Any]("media_duration_ms")).map(_.asInstanceOf[Long])))
    assert(out(0) == (Some("wav"), Some(500L)))  // 4000 B at 8000 B/s
    assert(out(1) == (Some("mp4"), Some(2000L))) // 1200 units at 600/s
    assert(out(2) == (None, None))
    assert(out(3) == (Some("flac"), Some(500L))) // 4000 samples at 8 kHz
    assert(out(4) == (Some("mp3"), Some(441L * 1152L * 1000L / 44100L)))
  }

  test("mediaMetaPlan fails fast on output-column name clashes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val df = Seq((1L, "x")).toDF("asset_id", "media_duration_ms")
      .withColumn("content", lit(Array[Byte](1, 2)))
    val e = intercept[IllegalArgumentException](Multimodal.mediaMetaPlan(df))
    assert(e.getMessage.contains("media_duration_ms"))
  }

  test("extractFeatures appends array<float> of the requested dim") {
    val out = Multimodal.extractFeatures(assets(), dim = 8)
    assert(out.schema("features").dataType.typeName == "array")
    val rows = out.orderBy("asset_id").collect()
    assert(rows.forall(_.getSeq[Float](3).size == 8))
    assert(rows.forall(_.getSeq[Float](3).forall(f => f >= 0f && f < 1f)))
  }

  test("the stub decode is deterministic and null-safe") {
    val a = Multimodal.extractFeatures(assets()).orderBy("asset_id").collect()
    val b = Multimodal.extractFeatures(assets()).orderBy("asset_id").collect()
    assert(a.map(_.getSeq[Float](3)).toSeq == b.map(_.getSeq[Float](3)).toSeq)
    assert(a(2).getSeq[Float](3).forall(_ == 0f)) // null content -> zeros
  }

  test("normalize=true lands every modality on the unit sphere (r17 advice)") {
    // raw lanes mix per-modality scales (luma 0-255, envelope sums ~2^31,
    // stub [0,1)); the normalized variant is what a Euclidean consumer
    // (kNN / k-means over a mixed crawl) must read
    val out = Multimodal.extractFeatures(assets(), dim = 8, normalize = true)
      .orderBy("asset_id").collect()
    for (r <- out) {
      val v = r.getSeq[Float](3)
      val n2 = v.map(x => x.toDouble * x).sum
      // all-zero vectors (absent bytes) stay all-zero; everything else
      // is unit-length within float tolerance
      assert(n2 == 0.0 || math.abs(n2 - 1.0) < 1e-5, s"norm² was $n2")
    }
    assert(out.exists(_.getSeq[Float](3).exists(_ != 0f)))
    // direction is preserved: normalized is a positive scalar multiple
    val raw = Multimodal.extractFeatures(assets(), dim = 8)
      .orderBy("asset_id").collect()
    for ((n, r) <- out.zip(raw)) {
      val nv = n.getSeq[Float](3); val rv = r.getSeq[Float](3)
      val dot = nv.zip(rv).map { case (a, b) => a.toDouble * b }.sum
      val nn = math.sqrt(nv.map(x => x.toDouble * x).sum)
      val rn = math.sqrt(rv.map(x => x.toDouble * x).sum)
      if (nn > 0 && rn > 0)
        assert(math.abs(dot / (nn * rn) - 1.0) < 1e-5)
    }
  }

  test("feature extraction preserves partitioning (executor-side batches)") {
    val out = Multimodal.extractFeatures(assets())
    assert(out.rdd.getNumPartitions == 2)
  }

  test("frameSamplePlan explodes one row per sampled frame timestamp") {
    val frames = Multimodal.frameSamplePlan(assets(), everyMs = 250)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(frames.toSeq == Seq((2L, 0L), (2L, 250L), (2L, 500L), (2L, 750L)))
  }

  test("extracted features feed the similarity stack end-to-end") {
    import org.apache.spark.sql.functions._
    val feats = Multimodal.extractFeatures(assets())
      .select(col("asset_id"), col("features").cast("array<double>").as("v"))
    // pairwise cosine over the fake features via the native expression:
    // the multimodal decode output is a first-class similarity input
    val pairs = feats.as("a")
      .join(feats.as("b"), col("a.asset_id") < col("b.asset_id"))
      .select(col("a.asset_id"), col("b.asset_id"),
        graft.functions.GraftFunctions.cosine(col("a.v"), col("b.v")).as("sim"))
      .collect()
    assert(pairs.length == 3)
    // asset 3 has null content -> zero features -> cosine is undefined ->
    // NULL (the expression's documented zero-norm contract); real-vector
    // pairs stay clamped in [-1, 1]
    pairs.foreach { r =>
      if (r.getLong(1) == 3L) assert(r.isNullAt(2))
      else assert(math.abs(r.getDouble(2)) <= 1.0)
    }
  }

  test("decodable content routes through the REAL kernels, junk falls back (r17)") {
    // a real 9×8 BMP: features at dim=72 ARE the grid-luma cells
    val grid = Array.tabulate(8, 9)((r, c) => (r * 31 + c * 17) % 211)
    val b = java.nio.ByteBuffer.allocate(54 + 28 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + 28 * 8).putInt(0).putInt(54)
    b.putInt(40).putInt(9).putInt(8).putShort(1).putShort(24)
    b.putInt(0).putInt(28 * 8).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (s <- 0 until 8) {
      val r = 7 - s
      for (c <- 0 until 9) {
        val v = grid(r)(c).toByte
        b.put(v).put(v).put(v)
      }
      b.put(0.toByte)
    }
    val bmpBytes = b.array()
    val cells = graft.functions.GridLumaCells.scan(bmpBytes)
    val full = Multimodal.RealDecoder.features(bmpBytes, dim = 72)
    assert(full.toSeq == cells.map(_.toFloat).toSeq,
      "dim = native length: features are the cells verbatim")
    // dim=8: lane i box-averages cell indices [i·72/8, (i+1)·72/8) = 9 each
    val down = Multimodal.RealDecoder.features(bmpBytes, dim = 8)
    for (i <- 0 until 8) {
      val exp = (cells.slice(i * 9, i * 9 + 9).sum / 9.0).toFloat
      assert(down(i) == exp, s"lane $i")
    }
    // a real WAV routes through the envelope leg
    val samples = Array.tabulate(65 * 8)(i => i / 8 + 1)
    val wb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
    wb.put("WAVEfmt ".getBytes("US-ASCII")).putInt(16)
    wb.putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    wb.put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
    samples.foreach(s => wb.putShort(s.toShort))
    val env = graft.functions.MediaEnvelope.scan(wb.array())
    val wfull = Multimodal.RealDecoder.features(wb.array(), dim = 65)
    assert(wfull.toSeq == env.map(_.toFloat).toSeq)
    // junk bytes: the documented FakeDecoder fallback, unchanged
    val junk = Array[Byte](1, 2, 3, 4, 5)
    assert(Multimodal.RealDecoder.features(junk, 8).toSeq ==
      Multimodal.FakeDecoder.features(junk, 8).toSeq)
    // null content stays all-zero
    assert(Multimodal.RealDecoder.features(null, 8).forall(_ == 0f))
  }

  test("resizeMetaPlan scales the long side down, never up") {
    val out = Multimodal.resizeMetaPlan(assets(), target = 960)
      .orderBy("asset_id").collect()
    assert((out(0).getAs[Int]("resized_width"),
      out(0).getAs[Int]("resized_height")) == (960, 540))
    assert((out(1).getAs[Int]("resized_width"),
      out(1).getAs[Int]("resized_height")) == (640, 480))
  }
}
