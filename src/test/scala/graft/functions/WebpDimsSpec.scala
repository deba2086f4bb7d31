package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The WebP chunk walk ([[WebpDims.scan]]): all three bitstream layouts
  * (lossy VP8 bit-masked u16s, lossless VP8L packed u32, extended VP8X
  * u24 canvas), unknown-chunk skipping with even padding, and every
  * refusal path — plus eval/codegen parity through the typed Column
  * and the imageDimsPlan wiring.
  */
class WebpDimsSpec extends AnyFunSuite {
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def ascii(s: String): Seq[Int] = s.map(_.toInt)
  private def u32le(v: Long): Seq[Int] = Seq((v & 0xff).toInt,
    ((v >> 8) & 0xff).toInt, ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
  private def u24le(v: Int): Seq[Int] = Seq(v & 0xff, (v >> 8) & 0xff,
    (v >> 16) & 0xff)
  private def u16le(v: Int): Seq[Int] = Seq(v & 0xff, (v >> 8) & 0xff)

  private def riff(chunks: Seq[Int]): Array[Byte] =
    bytes(ascii("RIFF") ++ u32le(chunks.length + 4L) ++ ascii("WEBP") ++
      chunks: _*)

  private def chunk(id: String, payload: Seq[Int]): Seq[Int] =
    ascii(id) ++ u32le(payload.length.toLong) ++ payload ++
      (if (payload.length % 2 == 1) Seq(0) else Seq())

  /** VP8 key-frame header: 3-byte frame tag, sync 9D 01 2A, 14-bit dims
    * with the upper 2 bits used as scale hints (must be masked off).
    */
  private def vp8(w: Int, h: Int, wScale: Int = 0, hScale: Int = 0): Seq[Int] =
    Seq(0x30, 0x01, 0x00, 0x9D, 0x01, 0x2A) ++
      u16le(w | (wScale << 14)) ++ u16le(h | (hScale << 14)) ++ Seq(0x00)

  private def vp8l(w: Int, h: Int): Seq[Int] =
    Seq(0x2F) ++ u32le(((h - 1).toLong << 14) | (w - 1).toLong) ++ Seq(0x00)

  private def vp8x(w: Int, h: Int): Seq[Int] =
    Seq(0x08, 0x00, 0x00, 0x00) ++ u24le(w - 1) ++ u24le(h - 1)

  test("lossy VP8 parses; scale hint bits are masked, not dimensions") {
    assert(WebpDims.scan(riff(chunk("VP8 ", vp8(640, 480)))).toSeq ==
      Seq(640, 480, 0))
    assert(WebpDims.scan(riff(chunk("VP8 ", vp8(640, 480, wScale = 3,
      hScale = 1)))).toSeq == Seq(640, 480, 0))
  }

  test("lossless VP8L parses its packed 14-bit dims (incl. the 16383 max)") {
    assert(WebpDims.scan(riff(chunk("VP8L", vp8l(1, 1)))).toSeq ==
      Seq(1, 1, 1))
    assert(WebpDims.scan(riff(chunk("VP8L", vp8l(1920, 1080)))).toSeq ==
      Seq(1920, 1080, 1))
    assert(WebpDims.scan(riff(chunk("VP8L", vp8l(16384, 16384)))).toSeq ==
      Seq(16384, 16384, 1))
  }

  test("extended VP8X reports the canvas and leads the chain") {
    val b = riff(chunk("VP8X", vp8x(800, 600)) ++ chunk("VP8 ", vp8(800, 600)))
    assert(WebpDims.scan(b).toSeq == Seq(800, 600, 2))
  }

  test("unknown chunks are skipped by declared size, odd sizes padded") {
    // 5-byte (odd) unknown chunk forces the even-padding step
    val junk = chunk("JUNK", Seq(1, 2, 3, 4, 5))
    assert(junk.length % 2 == 0)
    val b = riff(junk ++ chunk("VP8 ", vp8(33, 44)))
    assert(WebpDims.scan(b).toSeq == Seq(33, 44, 0))
  }

  test("refusals: wrong magics, bad sync, zero VP8 dims, truncation, null") {
    assert(WebpDims.scan(bytes(ascii("RIFX") ++ u32le(20) ++ ascii("WEBP")
      ++ chunk("VP8 ", vp8(1, 1)): _*)) == null)
    assert(WebpDims.scan(bytes(ascii("RIFF") ++ u32le(20) ++ ascii("WAVE")
      ++ chunk("VP8 ", vp8(1, 1)): _*)) == null)
    val badSync = Seq(0x30, 0x01, 0x00, 0x9D, 0x01, 0x2B) ++ u16le(9) ++
      u16le(9) ++ Seq(0)
    assert(WebpDims.scan(riff(chunk("VP8 ", badSync))) == null)
    assert(WebpDims.scan(riff(chunk("VP8 ", vp8(0, 7)))) == null)
    assert(WebpDims.scan(riff(chunk("VP8 ", vp8(7, 0)))) == null)
    // payload truncated mid-dims: size says 10 but bytes end early
    assert(WebpDims.scan(riff(ascii("VP8 ") ++ u32le(10) ++
      Seq(0x30, 0x01, 0x00, 0x9D))) == null)
    assert(WebpDims.scan(riff(ascii("VP8L") ++ u32le(5) ++ Seq(0x2F))) == null)
    assert(WebpDims.scan(null) == null)
    assert(WebpDims.scan(Array.emptyByteArray) == null)
    assert(WebpDims.scan(riff(Seq())) == null) // no bitstream chunk at all
    // a declared chunk size near 2³¹ must walk off the buffer end, not
    // wrap the cursor into a negative index (review finding, round 13)
    val huge = riff(ascii("JUNK") ++ u32le(0x7FFFFFF0L) ++ Seq(0, 0, 0, 0))
    assert(WebpDims.scan(huge) == null)
    val umax = riff(ascii("JUNK") ++ u32le(0xFFFFFFFFL) ++ Seq(0, 0, 0, 0))
    assert(WebpDims.scan(umax) == null)
  }

  test("interpreted eval and codegen agree; imageDimsPlan classifies webp") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val rows = Seq(
        (1L, riff(chunk("VP8 ", vp8(640, 480)))),
        (2L, riff(chunk("VP8L", vp8l(12, 34)))),
        (3L, riff(chunk("VP8X", vp8x(100, 200)))),
        (4L, bytes(1, 2, 3, 4)))
      .toDF("id", "content")
    val exprRows = rows
      .select($"id", GraftFunctions.webpDims($"content").as("d"))
      .orderBy("id").collect()
    assert(exprRows(0).getSeq[Int](1) == Seq(640, 480, 0))
    assert(exprRows(1).getSeq[Int](1) == Seq(12, 34, 1))
    assert(exprRows(2).getSeq[Int](1) == Seq(100, 200, 2))
    assert(exprRows(3).isNullAt(1))
    val planned = graft.multimodal.Multimodal.imageDimsPlan(rows)
      .select("id", "img_format", "img_width", "img_height")
      .orderBy("id").collect()
    assert(planned(0).getString(1) == "webp" &&
      planned(0).getLong(2) == 640L && planned(0).getLong(3) == 480L)
    assert(planned(1).getString(1) == "webp" && planned(1).getLong(2) == 12L)
    assert(planned(2).getString(1) == "webp" && planned(2).getLong(3) == 200L)
    assert(planned(3).isNullAt(1))
  }
}
