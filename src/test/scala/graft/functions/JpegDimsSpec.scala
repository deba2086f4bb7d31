package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The JPEG marker-chain walk ([[JpegDims.scan]]): segment skipping, fill
  * bytes, progressive SOF2, standalone markers, and every refusal path.
  */
class JpegDimsSpec extends AnyFunSuite {
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private val app0 = Seq(0xFF, 0xE0, 0x00, 0x10, 'J'.toInt, 'F'.toInt,
    'I'.toInt, 'F'.toInt, 0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01,
    0x00, 0x00)
  private def sof(marker: Int, h: Int, w: Int) = Seq(
    0xFF, marker, 0x00, 0x11, 0x08, h >> 8, h & 0xff, w >> 8, w & 0xff,
    0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)

  test("baseline SOF0 behind APP0 parses") {
    val b = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sof(0xC0, 480, 640): _*)
    assert(JpegDims.scan(b).toSeq == Seq(640, 480))
  }

  test("progressive SOF2 parses; fill FF bytes before markers are skipped") {
    val b = bytes(Seq(0xFF, 0xD8, 0xFF) ++ // extra fill byte
      app0 ++ Seq(0xFF) ++ sof(0xC2, 1080, 1920): _*)
    assert(JpegDims.scan(b).toSeq == Seq(1920, 1080))
  }

  test("DHT (C4) is a table segment, not a SOF — it must be skipped") {
    val dht = Seq(0xFF, 0xC4, 0x00, 0x05, 0x00, 0x01, 0x02)
    val b = bytes(Seq(0xFF, 0xD8) ++ dht ++ sof(0xC1, 10, 20): _*)
    assert(JpegDims.scan(b).toSeq == Seq(20, 10))
  }

  test("a buffer ending exactly at the SOF width field still parses") {
    // all four dimension bytes present, nothing after: b.length == j+8
    val sofPrefix = Seq(0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x07, 0x00, 0x09)
    val b = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sofPrefix: _*)
    assert(JpegDims.scan(b).toSeq == Seq(9, 7))
  }

  test("DNL-deferred height (SOF height=0) is unparseable, not img_height=0") {
    // ITU T.81 §B.2.2 allows SOF height 0 with the real value in a later
    // DNL marker; the scan must refuse rather than report a 0 dimension
    val hZero = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sof(0xC0, 0, 640): _*)
    val wZero = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sof(0xC0, 480, 0): _*)
    assert(JpegDims.scan(hZero) == null)
    assert(JpegDims.scan(wZero) == null)
  }

  test("refusals: no SOI, EOI before SOF, truncation, bad length, null") {
    assert(JpegDims.scan(bytes(0x89, 0x50, 0x4E, 0x47)) == null)
    assert(JpegDims.scan(bytes(0xFF, 0xD8, 0xFF, 0xD9)) == null) // EOI first
    assert(JpegDims.scan(bytes(Seq(0xFF, 0xD8) ++ app0.take(6): _*)) == null)
    assert(JpegDims.scan(bytes(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x01)) == null)
    assert(JpegDims.scan(null) == null)
    assert(JpegDims.scan(Array.emptyByteArray) == null)
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val good = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sof(0xC0, 7, 9): _*)
    val rows = Seq((1L, good), (2L, bytes(1, 2, 3, 4)))
      .toDF("id", "content")
      .select($"id", GraftFunctions.jpegDims($"content").as("dims"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Int](1) == Seq(9, 7))
    assert(rows(1).isNullAt(1))
  }

  // ---- EXIF orientation -------------------------------------------------

  /** A genuine APP1/Exif segment: TIFF header + one-entry IFD0 carrying
    * tag 0x0112 (SHORT, count 1) = `orient`, in either byte order.
    */
  private def exifApp1(orient: Int, little: Boolean,
      tag: Int = 0x0112): Seq[Int] = {
    def u16(v: Int) = if (little) Seq(v & 0xff, v >> 8) else Seq(v >> 8, v & 0xff)
    def u32(v: Int) = if (little)
      Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, v >>> 24)
    else Seq(v >>> 24, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
    val order = if (little) Seq('I'.toInt, 'I'.toInt) else Seq('M'.toInt, 'M'.toInt)
    val tiff = order ++ u16(42) ++ u32(8) ++ // IFD0 directly after header
      u16(1) ++ // one entry
      u16(tag) ++ u16(3) ++ u32(1) ++ u16(orient) ++ u16(0) ++
      u32(0) // next-IFD pointer
    val payload = Seq('E'.toInt, 'x'.toInt, 'i'.toInt, 'f'.toInt, 0, 0) ++ tiff
    Seq(0xFF, 0xE1, (payload.length + 2) >> 8, (payload.length + 2) & 0xff) ++
      payload
  }

  test("EXIF orientation parses in both byte orders, behind other segments") {
    for (little <- Seq(true, false); o <- Seq(1, 6, 8)) {
      val b = bytes(Seq(0xFF, 0xD8) ++ app0 ++ exifApp1(o, little) ++
        sof(0xC0, 7, 9): _*)
      assert(JpegExifOrientation.scan(b) == o, s"little=$little o=$o")
    }
  }

  test("EXIF absence is NULL-shaped: no APP1, XMP-style APP1, wrong tag, bad value") {
    val noExif = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sof(0xC0, 7, 9): _*)
    assert(JpegExifOrientation.scan(noExif) == 0)
    // an APP1 that is NOT Exif (XMP) must be walked over, and a later
    // real Exif APP1 still found
    val xmp = Seq(0xFF, 0xE1, 0x00, 0x08, 'h'.toInt, 't'.toInt, 't'.toInt,
      'p'.toInt, ':'.toInt, '/'.toInt)
    val afterXmp = bytes(Seq(0xFF, 0xD8) ++ xmp ++ exifApp1(5, little = true) ++
      sof(0xC0, 7, 9): _*)
    assert(JpegExifOrientation.scan(afterXmp) == 5)
    val wrongTag = bytes(Seq(0xFF, 0xD8) ++
      exifApp1(3, little = true, tag = 0x0113) ++ sof(0xC0, 7, 9): _*)
    assert(JpegExifOrientation.scan(wrongTag) == 0)
    val badValue = bytes(Seq(0xFF, 0xD8) ++ exifApp1(9, little = false) ++
      sof(0xC0, 7, 9): _*)
    assert(JpegExifOrientation.scan(badValue) == 0)
  }

  test("hostile EXIF: IFD offset past the segment cannot read out of bounds") {
    // hand-build a TIFF header whose IFD0 offset points far outside
    val payload = Seq('E'.toInt, 'x'.toInt, 'i'.toInt, 'f'.toInt, 0, 0,
      'I'.toInt, 'I'.toInt, 42, 0, 0xFF, 0xFF, 0x00, 0x00) // offset 65535
    val seg = Seq(0xFF, 0xE1, (payload.length + 2) >> 8,
      (payload.length + 2) & 0xff) ++ payload
    val b = bytes(Seq(0xFF, 0xD8) ++ seg ++ sof(0xC0, 7, 9): _*)
    assert(JpegExifOrientation.scan(b) == 0)
    assert(JpegExifOrientation.scan(null) == 0)
  }

  test("orientation: interpreted eval and codegen agree; imageDimsPlan carries it") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val rotated = bytes(Seq(0xFF, 0xD8) ++ app0 ++
      exifApp1(6, little = true) ++ sof(0xC0, 7, 9): _*)
    val plain = bytes(Seq(0xFF, 0xD8) ++ app0 ++ sof(0xC0, 7, 9): _*)
    val rows = Seq((1L, rotated), (2L, plain))
      .toDF("id", "content")
      .select($"id",
        GraftFunctions.jpegExifOrientation($"content").as("o"))
      .orderBy("id").collect()
    assert(rows(0).getInt(1) == 6)
    assert(rows(1).isNullAt(1))
    val planned = graft.multimodal.Multimodal.imageDimsPlan(
        Seq((1L, rotated), (2L, plain)).toDF("asset_id", "content"))
      .orderBy("asset_id").collect()
    assert(planned(0).getAs[Long]("img_orientation") == 6L)
    assert(planned(0).getAs[Long]("img_width") == 9L)
    assert(planned(1).isNullAt(planned(1).fieldIndex("img_orientation")))
  }
}
