package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** The synthetic media corpus rendered natively: `graft_media_render(doc_id,
  * fam, mult, kMult, add, window, widthMod, layout)` is the container bytes
  * of doc_id's 64-bit pattern, the input the media hubs' decoders walk
  * (d78–d88, c10, d90, d94). One pass writes the bytes into one array; the
  * interpreted higher-order SQL that used to spell each layout (a
  * `transform` for the pattern, `aggregate` walks building hex strings,
  * `unhex`) is kept as the test reference, `MediaRenderReference`, and the
  * kernel equals it byte for byte (MediaRenderDiffSpec, in the interpreted,
  * generated and whole-stage paths).
  *
  * The pattern is a mixer family's: bit k is the parity of the double
  * middle-square mix of x = ((doc_id div fam)·mult + k·kMult + add) mod
  * 1000000007 — (x² mod P)² mod P div 1024 mod 2, P = 2147483647 — XOR a
  * run of `doc_id % widthMod` flips starting at position `doc_id % window`,
  * with Spark's truncating `div`/`%` (negative ids included). The reference
  * computes that in checked bigint arithmetic, which is defined while
  * (doc_id div fam)·mult + 63·kMult + add fits a bigint; outside that range
  * the kernel is NULL (the reference throws). Docs with doc_id ≡ 0 (mod 17)
  * render the 4 junk bytes `00112233` every decoder refuses; a NULL doc_id
  * renders NULL.
  *
  * Layouts, each a luma (or sample, frame, palette index) walk that steps
  * down on a 1-bit and up on a 0-bit, so neighbour cells compare exactly
  * as the bits say:
  *  - `bmp`: 9×8 24bpp bottom-up BMP, rows walking 128 ± 10;
  *  - `bmp18`: its pixel-doubled 18×16 rendering;
  *  - `bmp_row_shift`: `bmp` whose logical row `doc_id % 8` starts
  *    `doc_id % 3 − 1` off 128;
  *  - `png`: 9×8 8-bit gray PNG, one stored deflate block;
  *  - `wav`: mono 16-bit PCM, 65 windows of 8 samples walking 10000 ± 100;
  *  - `y4m`: 65 4×4 mono frames walking 128 ± 1;
  *  - `gif`: 9×8 gray-palette GIF, indices walking 16 ± 1, a CLEAR code
  *    before every pixel so every LZW code stays 6 bits;
  *  - `bmp_png`: `bmp` for even doc_ids, `png` for odd ones;
  *  - `bmp18_bmp`: `bmp18` for even doc_ids, `bmp` for odd ones.
  */
case class MediaRender(child: Expression, fam: Long, mult: Long, kMult: Long,
    add: Long, window: Long, widthMod: Long, layout: String)
    extends UnaryExpression {
  require(fam > 0 && mult > 0 && kMult >= 0 && add >= 0 && window > 0 &&
    widthMod > 0, s"${MediaRender.Name}: mixer constants out of range")
  require(MediaRender.Layouts.contains(layout), s"${MediaRender.Name}: " +
    s"unknown layout '$layout' (one of ${MediaRender.Layouts.mkString(", ")})")

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint doc_id, got ${other.simpleString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = MediaRender.Name

  override def nullSafeEval(input: Any): Any =
    MediaRender.render(input.asInstanceOf[Long], fam, mult, kMult, add,
      window, widthMod, layout)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, d => {
      val r = ctx.freshName("media")
      s"""
         |byte[] $r = graft.functions.MediaRender.render($d, ${fam}L, ${mult}L,
         |  ${kMult}L, ${add}L, ${window}L, ${widthMod}L, "$layout");
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MediaRender =
    copy(child = newChild)
}

object MediaRender {
  val Name = "graft_media_render"

  val Bmp = "bmp"
  val Bmp18 = "bmp18"
  val BmpRowShift = "bmp_row_shift"
  val Png = "png"
  val Wav = "wav"
  val Y4m = "y4m"
  val Gif = "gif"
  val BmpPng = "bmp_png"
  val Bmp18Bmp = "bmp18_bmp"
  private val Layouts =
    Seq(Bmp, Bmp18, BmpRowShift, Png, Wav, Y4m, Gif, BmpPng, Bmp18Bmp)

  /** BITMAPFILEHEADER + BITMAPINFOHEADER of the 9×8 24bpp bottom-up
    * bitmap: "BM", file size 278, pixel offset 54, DIB 40, planes 1,
    * BI_RGB, stride 28 (27 + 1 pad), image size 224. */
  val BmpHeaderHex: String =
    "424D160100000000000036000000" +
      "280000000900000008000000" +
      "01001800" +
      "00000000E0000000" +
      "130B0000130B0000" +
      "0000000000000000"

  /** The 18×16 bitmap's headers: file size 950, stride 56 (54 + 2 pad),
    * image size 896. */
  val Bmp18HeaderHex: String =
    "424DB6030000000000003600000028000000120000001000000001001800" +
      "0000000080030000130B0000130B00000000000000000000"

  /** RIFF/WAVE + fmt (PCM mono 16-bit 8 kHz) + data (1040 B = 520
    * samples). */
  val WavHeaderHex: String =
    "52494646" + "34040000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" +
      "401F0000" + "803E0000" + "0200" + "1000" +
      "64617461" + "10040000"

  /** PNG preamble through the IDAT stored-block header: signature, IHDR
    * (9×8, depth 8, grayscale, no interlace; CRCs zeroed — the decode
    * verifies meaning, not checksums), IDAT length 0x5B = zlib hdr (2) +
    * stored-block hdr (5: final, LEN=80 LE, NLEN) + 80 raw + adler (4). */
  val PngHeaderHex: String =
    "89504E470D0A1A0A" + "0000000D49484452" + "00000009" + "00000008" +
      "0800000000" + "00000000" + "0000005B49444154" + "7801" +
      "01" + "5000" + "AFFF"

  /** Zeroed adler placeholder + IDAT CRC, then IEND. */
  val PngTrailerHex: String =
    "00000000" + "00000000" + "00000000" + "49454E44" + "00000000"

  /** `YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono\n`: a 4×4 mono stream, 16 luma
    * bytes per frame. */
  val Y4mHeaderHex: String =
    "595556344D50454732205734204834204632353A312049702041313A3120" +
      "436D6F6E6F0A"

  /** GIF preamble through the one data sub-block's size byte: signature,
    * 9×8 logical screen with a 32-entry global gray table (entry i = 8i,
    * so palette luma is monotone in the index), image descriptor, LZW min
    * code size 5, sub-block length 0x6D (145 six-bit codes = 109 bytes). */
  val GifHeaderHex: String = {
    val gct = (0 until 32).map(i => f"${i * 8}%02X" * 3).mkString
    "474946383961" + "09000800F40000" + gct +
      "2C000000000900080000" + "05" + "6D"
  }

  /** End of the code stream: the 0 block terminator + the 3B trailer. */
  val GifTrailerHex: String = "003B"

  private def bytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val BmpHeader = bytes(BmpHeaderHex)
  private val Bmp18Header = bytes(Bmp18HeaderHex)
  private val WavHeader = bytes(WavHeaderHex)
  private val PngHeader = bytes(PngHeaderHex)
  private val PngTrailer = bytes(PngTrailerHex)
  private val Y4mHeader = bytes(Y4mHeaderHex)
  private val GifHeader = bytes(GifHeaderHex)
  private val GifTrailer = bytes(GifTrailerHex)
  private val Frame = "FRAME\n".getBytes("US-ASCII")
  private val Junk = bytes("00112233")

  /** The bytes of `docId`'s pattern in `layout`; NULL outside the
    * mixer's defined range. Static so generated code calls it directly. */
  def render(docId: Long, fam: Long, mult: Long, kMult: Long, add: Long,
      window: Long, widthMod: Long, layout: String): Array[Byte] = {
    val q = docId / fam
    if (q < Long.MinValue / mult || q > (Long.MaxValue - 63 * kMult - add) / mult)
      return null
    if (docId % 17 == 0) return Junk.clone()
    val p = pattern(q * mult + add, kMult, docId % window, docId % widthMod)
    val even = docId % 2 == 0
    layout match {
      case Bmp => bmp(p, 0, 0)
      case Bmp18 => bmp18(p)
      case BmpRowShift => bmp(p, (docId % 8).toInt, (docId % 3 - 1).toInt)
      case Png => png(p)
      case Wav => wav(p)
      case Y4m => y4m(p)
      case Gif => gif(p)
      case BmpPng => if (even) bmp(p, 0, 0) else png(p)
      case Bmp18Bmp => if (even) bmp18(p) else bmp(p, 0, 0)
    }
  }

  /** The 64 bits, bit k at position k: x = (base + k·kMult) mod 1000000007
    * mixed twice, XOR the flip run [start, start + width). */
  private def pattern(base: Long, kMult: Long, start: Long, width: Long): Long = {
    var p = 0L
    var k = 0
    while (k < 64) {
      val x = (base + k * kMult) % 1000000007L
      val sq = x * x % 2147483647L
      val mixed = sq * sq % 2147483647L / 1024L % 2L
      val flip = if (k >= start && k < start + width) 1L else 0L
      p |= ((mixed + flip) % 2L) << k
      k += 1
    }
    p
  }

  /** The walk's step at pattern bit `i`: down on a 1-bit, up on a 0-bit. */
  private def step(p: Long, i: Int, d: Int): Int =
    if (((p >>> i) & 1L) == 1L) -d else d

  /** `n` copies of byte `v` at `o`; the offset after them. */
  private def fill(out: Array[Byte], o: Int, v: Int, n: Int): Int = {
    java.util.Arrays.fill(out, o, o + n, v.toByte)
    o + n
  }

  /** 8 storage rows bottom-up (logical row 7 − s), each 9 BGR pixels of
    * the walk plus 1 zero pad byte; logical row `shiftRow` starts `shift`
    * off 128. */
  private def bmp(p: Long, shiftRow: Int, shift: Int): Array[Byte] = {
    val out = java.util.Arrays.copyOf(BmpHeader, BmpHeader.length + 8 * 28)
    var o = BmpHeader.length
    var s = 0
    while (s < 8) {
      val r = 7 - s
      var v = 128 + (if (r == shiftRow) shift else 0)
      o = fill(out, o, v, 3)
      var c = 0
      while (c < 8) {
        v += step(p, r * 8 + c, 10)
        o = fill(out, o, v, 3)
        c += 1
      }
      o += 1
      s += 1
    }
    out
  }

  /** 16 storage rows bottom-up, storage row s drawing logical row
    * (15 − s) / 2 with every pixel doubled (6 bytes), plus 2 pad bytes. */
  private def bmp18(p: Long): Array[Byte] = {
    val out = java.util.Arrays.copyOf(Bmp18Header, Bmp18Header.length + 16 * 56)
    var o = Bmp18Header.length
    var s = 0
    while (s < 16) {
      val r = (15 - s) / 2
      var v = 128
      o = fill(out, o, v, 6)
      var c = 0
      while (c < 8) {
        v += step(p, r * 8 + c, 10)
        o = fill(out, o, v, 6)
        c += 1
      }
      o += 2
      s += 1
    }
    out
  }

  /** 8 scanlines top-down: filter byte 0, then 9 gray bytes of the walk. */
  private def png(p: Long): Array[Byte] = {
    val out = new Array[Byte](PngHeader.length + 80 + PngTrailer.length)
    System.arraycopy(PngHeader, 0, out, 0, PngHeader.length)
    var o = PngHeader.length
    var s = 0
    while (s < 8) {
      o += 1
      var v = 128
      o = fill(out, o, v, 1)
      var c = 0
      while (c < 8) {
        v += step(p, s * 8 + c, 10)
        o = fill(out, o, v, 1)
        c += 1
      }
      s += 1
    }
    System.arraycopy(PngTrailer, 0, out, o, PngTrailer.length)
    out
  }

  /** 65 windows of 8 identical little-endian 16-bit samples. */
  private def wav(p: Long): Array[Byte] = {
    val out = java.util.Arrays.copyOf(WavHeader, WavHeader.length + 65 * 16)
    var o = WavHeader.length
    var v = 10000
    var c = -1
    while (c < 64) {
      if (c >= 0) v += step(p, c, 100)
      var i = 0
      while (i < 8) {
        out(o) = v.toByte
        out(o + 1) = (v >> 8).toByte
        o += 2
        i += 1
      }
      c += 1
    }
    out
  }

  /** 65 `FRAME\n` records of 16 constant luma bytes. */
  private def y4m(p: Long): Array[Byte] = {
    val out = java.util.Arrays.copyOf(Y4mHeader, Y4mHeader.length + 65 * 22)
    var o = Y4mHeader.length
    var v = 128
    var c = -1
    while (c < 64) {
      if (c >= 0) v += step(p, c, 1)
      System.arraycopy(Frame, 0, out, o, Frame.length)
      o = fill(out, o + Frame.length, v, 16)
      c += 1
    }
    out
  }

  /** The code stream: CLEAR (32) before each of the 72 pixel indices, EOI
    * (33) last, all 6-bit codes packed LSB-first into 109 bytes. */
  private def gif(p: Long): Array[Byte] = {
    val out = java.util.Arrays.copyOf(GifHeader,
      GifHeader.length + 109 + GifTrailer.length)
    var o = GifHeader.length
    var acc = 0L
    var nb = 0
    def emit(code: Long): Unit = {
      acc |= code << nb
      nb += 6
      if (nb >= 8) {
        out(o) = acc.toByte
        o += 1
        acc >>>= 8
        nb -= 8
      }
    }
    var s = 0
    while (s < 8) {
      var v = 16
      emit(32L)
      emit(v)
      var c = 0
      while (c < 8) {
        v += step(p, s * 8 + c, 1)
        emit(32L)
        emit(v)
        c += 1
      }
      s += 1
    }
    emit(33L)
    if (nb > 0) {
      out(o) = acc.toByte
      o += 1
    }
    System.arraycopy(GifTrailer, 0, out, o, GifTrailer.length)
    out
  }
}
