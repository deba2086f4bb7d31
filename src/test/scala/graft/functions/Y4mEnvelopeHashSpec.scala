package graft.functions

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the YUV4MPEG2 frame walk + envelope hash
  * ([[Y4mEnvelopeHash]]): envelope comparisons from frame luma means,
  * chroma-plane skipping per colourspace, unequal-window
  * cross-multiplication, frame parameters, the truncated-tail and
  * refusal contracts, and interpreted/codegen parity.
  */
class Y4mEnvelopeHashSpec extends AnyFunSuite {

  /** A Y4M stream of constant-luma frames (one Int per frame). */
  private def y4m(frames: Array[Int], w: Int = 4, h: Int = 4,
      colour: String = "Cmono", header: String = null,
      frameParams: String = ""): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val hdr = if (header != null) header
      else s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 $colour\n"
    out.write(hdr.getBytes("US-ASCII"))
    val ySize = w * h
    val chroma = colour match {
      case "Cmono" => 0
      case c if c.startsWith("C420") => ySize / 2
      case c if c.startsWith("C444") => ySize * 2
      case _ => 0
    }
    frames.foreach { v =>
      out.write(s"FRAME$frameParams\n".getBytes("US-ASCII"))
      for (_ <- 0 until ySize) out.write(v)
      for (_ <- 0 until chroma) out.write(200) // chroma must NOT drive the hash
    }
    out.toByteArray
  }

  /** 65 frames walking from 128 per `bits` (the d85 construction). */
  private def walkFrames(bits: Long): Array[Int] = {
    var v = 128
    (0 to 64).map { k =>
      if (k > 0) v += (if (((bits >> (k - 1)) & 1L) == 1L) -1 else 1)
      v
    }.toArray
  }

  test("the frame walk reproduces the intended bits exactly") {
    for (bits <- Seq(0L, -1L, 0xAAAAAAAAAAAAAAAAL, 0x123456789ABCDEF0L))
      assert(Y4mEnvelopeHash.scan(y4m(walkFrames(bits))) == bits,
        s"pattern $bits")
  }

  test("chroma planes are skipped: 4:2:0 and 4:4:4 hash like mono") {
    val f = walkFrames(0x5A5A5A5A5A5A5A5AL)
    assert(Y4mEnvelopeHash.scan(y4m(f, colour = "C420jpeg")) ==
      0x5A5A5A5A5A5A5A5AL)
    assert(Y4mEnvelopeHash.scan(y4m(f, colour = "C444")) ==
      0x5A5A5A5A5A5A5A5AL)
    // C absent defaults to 4:2:0 per the spec
    assert(Y4mEnvelopeHash.scan(y4m(f, colour = "C420jpeg",
      header = "YUV4MPEG2 W4 H4 F25:1\n")) == 0x5A5A5A5A5A5A5A5AL)
  }

  test("unequal windows cross-multiply exactly (n = 66: one double window)") {
    // 66 frames → window 0 spans 2 frames, the rest 1; strictly
    // decreasing means set every bit
    val f = (0 until 66).map(i => 200 - i * 2).toArray
    assert(Y4mEnvelopeHash.scan(y4m(f)) == -1L)
  }

  test("frame parameters after FRAME are walked over, not refused") {
    val f = walkFrames(42L)
    assert(Y4mEnvelopeHash.scan(y4m(f, frameParams = " Ip X=1")) == 42L)
  }

  test("a truncated FINAL frame is ignored; enough whole frames still hash") {
    val f = walkFrames(0x0F0F0F0F0F0F0F0FL)
    val whole = y4m(f)
    // chop 5 bytes into the 66th... there are exactly 65 frames; append a
    // 66th frame header + partial data instead: the complete 65 decide
    val extra = whole ++ "FRAME\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    assert(Y4mEnvelopeHash.scan(extra) == 0x0F0F0F0F0F0F0F0FL)
    // but chopping INTO frame 65 leaves only 64 complete frames → refuse
    assert(Y4mEnvelopeHash.scan(whole.dropRight(5)) == null)
  }

  test("refusals: junk, short clip, odd 4:2:0 dims, unknown colourspace, caps") {
    val f = walkFrames(7L)
    assert(Y4mEnvelopeHash.scan(y4m(f)) != null)
    assert(Y4mEnvelopeHash.scan(null) == null)
    assert(Y4mEnvelopeHash.scan(Array.emptyByteArray) == null)
    assert(Y4mEnvelopeHash.scan("MPEG4 nope".getBytes) == null)
    assert(Y4mEnvelopeHash.scan(y4m(f.take(64))) == null, "64 frames < 65")
    assert(Y4mEnvelopeHash.scan(y4m(f, w = 3, h = 4, colour = "C420jpeg",
      header = "YUV4MPEG2 W3 H4 C420jpeg\n")) == null,
      "odd width is ill-formed 4:2:0")
    assert(Y4mEnvelopeHash.scan(y4m(f, colour = "C422",
      header = "YUV4MPEG2 W4 H4 C422\n")) == null,
      "unsupported colourspace must refuse, not misdecode")
    // depth/alpha suffixes are NOT 8-bit layouts: the token whitelist is
    // exact, never a prefix match (review finding r15 — a prefix match
    // read C420p10 planes at half their real size and could hash garbage)
    for (cs <- Seq("C420p10", "C444p10", "C444alpha", "Cmono16"))
      assert(Y4mEnvelopeHash.scan(y4m(f, colour = cs,
        header = s"YUV4MPEG2 W4 H4 $cs\n")) == null,
        s"$cs must refuse: depth/alpha variant, not an 8-bit layout")
    assert(Y4mEnvelopeHash.scan(
      "YUV4MPEG2 W4 H4 Cmono".getBytes("US-ASCII")) == null,
      "no header terminator")
    assert(Y4mEnvelopeHash.scan(
      "YUV4MPEG2 W99999 H4 Cmono\n".getBytes("US-ASCII")) == null,
      "dimension beyond the cap")
    assert(Y4mEnvelopeHash.scan(
      "YUV4MPEG2 W4x H4 Cmono\n".getBytes("US-ASCII")) == null,
      "non-numeric dimension")
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val bits = 0x5A5A5A5A5A5A5A5AL
    val rows = Seq((1L, y4m(walkFrames(bits))), (2L, Array[Byte](3, 1)))
      .toDF("id", "content")
      .select($"id", GraftFunctions.y4mEnvelopeHash($"content").as("vh"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == bits)
    assert(rows(1).isNullAt(1))
  }
}
