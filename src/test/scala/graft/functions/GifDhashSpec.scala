package graft.functions

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the GIF LZW pixel decode + dHash-64 ([[GifDhash]]): a REAL
  * spec-conformant LZW encoder round-trips (variable-width codes, dict
  * growth, width bumps, the KwKwK case), the d87 construction's
  * clear-per-pixel stream, cross-format agreement with [[BmpDhash]] /
  * [[PngDhash]] through the shared [[Dhash64]] rule, a library-written
  * GIF (ImageIO), sub-block splicing, local-table precedence, the
  * refusal contract, and interpreted/codegen parity.
  */
class GifDhashSpec extends AnyFunSuite {

  /** GIF-flavor LZW with proper dictionary growth + width bumps —
    * the decoder must stay code-size-synchronized with a real encoder.
    */
  private def lzwEncode(indices: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    var codeSize = minCode + 1
    var next = clear + 2
    val dict = scala.collection.mutable.HashMap[(Int, Int), Int]()
    val out = new ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += codeSize
      while (nbits >= 8) { out.write((acc & 255).toInt); acc >>= 8; nbits -= 8 }
    }
    emit(clear)
    var prev = indices(0)
    for (i <- 1 until indices.length) {
      val k = indices(i)
      dict.get((prev, k)) match {
        case Some(code) => prev = code
        case None =>
          emit(prev)
          if (next < 4096) {
            dict((prev, k)) = next
            next += 1
            // the decoder adds entry N only AFTER reading the code that
            // follows the one that defined it, so its width bump lands
            // one code later than a naive next==2^size check here — the
            // classic GIF off-by-one; +1 keeps the streams in lockstep
            if (next == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          }
          prev = k
      }
    }
    emit(prev)
    emit(eoi)
    if (nbits > 0) out.write((acc & 255).toInt)
    out.toByteArray
  }

  /** The d87 SQL construction's stream shape: CLEAR before every pixel
    * literal, so the dictionary never grows and every code stays at
    * minCode+1 bits.
    */
  private def clearTrickStream(indices: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val cs = minCode + 1
    val out = new ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += cs
      while (nbits >= 8) { out.write((acc & 255).toInt); acc >>= 8; nbits -= 8 }
    }
    indices.foreach { p => emit(clear); emit(p) }
    emit(clear + 1) // EOI
    if (nbits > 0) out.write((acc & 255).toInt)
    out.toByteArray
  }

  /** A GIF whose palette entry i is gray (scale·i)³ — indices ARE gray
    * levels divided by scale. grid holds palette indices, row-major,
    * r = 0 the TOP row.
    */
  private def gif(grid: Array[Array[Int]], gctBits: Int = 7, scale: Int = 1,
      minCode: Int = 8, interlace: Boolean = false,
      localTable: Boolean = false, zeroGlobalTable: Boolean = false,
      stream: Array[Byte] = null, subBlock: Int = 255,
      version: String = "GIF89a"): Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    val n = 2 << gctBits
    val out = new ByteArrayOutputStream()
    out.write(version.getBytes("US-ASCII"))
    def le16(v: Int): Unit = { out.write(v & 255); out.write((v >> 8) & 255) }
    le16(w); le16(h)
    def table(zero: Boolean): Unit =
      for (i <- 0 until n) {
        val v = if (zero) 0 else (i * scale) & 255
        out.write(v); out.write(v); out.write(v)
      }
    val hasGct = !localTable || zeroGlobalTable
    out.write(if (hasGct) 0x80 | 0x70 | gctBits else 0x00)
    out.write(0); out.write(0)
    if (hasGct) table(zero = zeroGlobalTable)
    // a graphic-control extension, as real encoders emit — must be skipped
    out.write(0x21); out.write(0xf9); out.write(4)
    out.write(0); le16(0); out.write(0); out.write(0)
    out.write(0x2c); le16(0); le16(0); le16(w); le16(h)
    out.write((if (localTable) 0x80 | gctBits else 0) |
      (if (interlace) 0x40 else 0))
    if (localTable) table(zero = false)
    out.write(minCode)
    // interlaced frames stream their rows in the 4-pass order
    val streamRows =
      if (interlace)
        Seq((0, 8), (4, 8), (2, 4), (1, 2))
          .flatMap { case (s0, st) => s0 until h by st }
          .map(grid).toArray
      else grid
    val codes =
      if (stream != null) stream else lzwEncode(streamRows.flatten, minCode)
    var off = 0
    while (off < codes.length) {
      val k = math.min(subBlock, codes.length - off)
      out.write(k); out.write(codes, off, k); off += k
    }
    out.write(0); out.write(0x3b)
    out.toByteArray
  }

  private def grid9x8(f: (Int, Int) => Int): Array[Array[Int]] =
    Array.tabulate(8, 9)((r, c) => f(r, c))

  /** The d87 construction's walk: 9×8 indices, row r walks 16 ± 1 per
    * bit over a 32-gray palette with scale 8 (luma = 8·index).
    */
  private def walkGrid32(bits: Long): Array[Array[Int]] =
    grid9x8 { (r, c) =>
      var v = 16
      for (i <- 1 to c)
        v += (if (((bits >> (r * 8 + i - 1)) & 1L) == 1L) -1 else 1)
      v
    }

  test("real-LZW round-trip reproduces the intended bits exactly") {
    for (bits <- Seq(0L, -1L, 0xAAAAAAAAAAAAAAAAL, 0x123456789ABCDEF0L))
      assert(GifDhash.scan(gif(walkGrid32(bits), gctBits = 4, scale = 8,
        minCode = 5)) == bits, s"pattern $bits")
  }

  test("the d87 clear-per-pixel stream decodes like the real-LZW encoding") {
    val g = walkGrid32(0x5A5AC3C3A5A53C3CL)
    val trick = gif(g, gctBits = 4, scale = 8, minCode = 5,
      stream = clearTrickStream(g.flatten, 5))
    assert(GifDhash.scan(trick) == 0x5A5AC3C3A5A53C3CL)
    assert(GifDhash.scan(trick) ==
      GifDhash.scan(gif(g, gctBits = 4, scale = 8, minCode = 5)))
  }

  test("cross-format: GIF, BMP and PNG renderings of the same pixels agree") {
    val g = grid9x8((r, c) => (r * 37 + c * 23) % 251)
    val fromGif = GifDhash.scan(gif(g)) // 256-gray palette: index = luma
    assert(fromGif != null)
    // BMP twin (BmpDhashSpec's layout)
    val stride = ((9 * 3 + 3) / 4) * 4
    val b = java.nio.ByteBuffer.allocate(54 + stride * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + stride * 8).putInt(0)
      .putInt(54).putInt(40).putInt(9).putInt(8).putShort(1).putShort(24)
      .putInt(0).putInt(stride * 8).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (s <- 0 until 8) {
      val r = 7 - s
      for (c <- 0 until 9) {
        val v = g(r)(c).toByte
        b.put(v).put(v).put(v)
      }
      b.position(b.position() + (stride - 27))
    }
    assert(BmpDhash.scan(b.array()) == fromGif)
  }

  test("a REAL library-written GIF (ImageIO) decodes to the same hash") {
    val g = grid9x8((r, c) => (r * 29 + c * 41) % 223)
    // an explicit 256-gray IndexColorModel keeps the palette EXACT (a
    // TYPE_BYTE_GRAY image would gamma-convert through setRGB)
    val grays = Array.tabulate(256)(_.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (r <- 0 until 8; c <- 0 until 9)
      img.getRaster.setSample(c, r, 0, g(r)(c))
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", out),
      "premise: the JDK GIF writer is available")
    assert(GifDhash.scan(out.toByteArray) == GifDhash.scan(gif(g)),
      "an independent encoder's LZW stream must not change the hash")
  }

  test("sub-block splicing: the code stream split into 10-byte blocks decodes whole") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    assert(GifDhash.scan(gif(g, subBlock = 10)) == GifDhash.scan(gif(g)))
  }

  test("a LOCAL color table takes precedence over a zeroed global one") {
    val g = walkGrid32(42L)
    val withLct = gif(g, gctBits = 4, scale = 8, minCode = 5,
      localTable = true, zeroGlobalTable = true)
    assert(GifDhash.scan(withLct) == 42L,
      "an all-black global table would flatten every cell comparison")
  }

  test("interlace: the 4-pass row permutation decodes to the plain hash") {
    // unlike PNG Adam7 (different sub-image geometry per pass — refused
    // there), GIF interlace is a pure row permutation, so it decodes
    val g = grid9x8((r, c) => (r * 43 + c * 19) % 239)
    assert(GifDhash.scan(gif(g, interlace = true)) == GifDhash.scan(gif(g)))
    val tall = Array.tabulate(16, 18)((r, c) => (r * 13 + c * 7) % 199)
    assert(GifDhash.scan(gif(tall, interlace = true)) ==
      GifDhash.scan(gif(tall)))
  }

  test("box averaging: pixel-doubled 18×16 GIF hashes like its 9×8 source") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val doubled = Array.tabulate(16, 18)((r, c) => g(r / 2)(c / 2))
    assert(GifDhash.scan(gif(doubled)) == GifDhash.scan(gif(g)))
  }

  test("refusals: every adversarial arm yields NULL, never an error") {
    val g = walkGrid32(7L)
    val good = gif(g, gctBits = 4, scale = 8, minCode = 5)
    assert(GifDhash.scan(good) != null)
    assert(GifDhash.scan(null) == null)
    assert(GifDhash.scan(Array.emptyByteArray) == null)
    assert(GifDhash.scan("GIF100 not really".getBytes) == null)
    assert(GifDhash.scan(good.take(40)) == null, "truncated inside the table")
    assert(GifDhash.scan(good.dropRight(12)) == null,
      "a code stream cut before the frame fills must refuse")
    // (interlace is NOT a refusal: see the dedicated test below)
    // no color table anywhere: clear the LSD's GCT flag so the table
    // bytes read as garbage blocks — NULL either way, never a misdecode
    val noTable = gif(g, gctBits = 4, scale = 8, minCode = 5).clone()
    noTable(10) = (noTable(10) & 0x7f).toByte
    assert(GifDhash.scan(noTable) == null, "no color table must refuse")
    assert(GifDhash.scan(gif(Array.fill(8, 8)(1))) == null,
      "8×8 is narrower than the 9×8 cell grid")
    // a literal outside the color table: 4-entry palette, index 7
    assert(GifDhash.scan(gif(Array.fill(8, 9)(7), gctBits = 1, scale = 64,
      minCode = 3)) == null, "palette overrun must refuse")
    // a code beyond the dictionary: emit code 11 right after clear
    // (minCode 3: clear = 8, eoi = 9, avail = 10 → 11 is out of range)
    val badStream = {
      val out = new ByteArrayOutputStream()
      var acc = 0L; var nbits = 0
      for (code <- Seq(8, 11, 9)) {
        acc |= code.toLong << nbits; nbits += 4
        while (nbits >= 8) { out.write((acc & 255).toInt); acc >>= 8; nbits -= 8 }
      }
      if (nbits > 0) out.write((acc & 255).toInt)
      out.toByteArray
    }
    assert(GifDhash.scan(gif(g, gctBits = 4, scale = 8, minCode = 3,
      stream = badStream)) == null, "out-of-range code must refuse")
    // oversize declared FRAME: 16-bit dims reach 65535 > the 4096 cap
    val bigImg = gif(g, gctBits = 4, scale = 8, minCode = 5).clone()
    // image descriptor starts at 6(sig)+7(LSD)+96(GCT)+8(extension);
    // its width field sits at +5/+6
    val idOff = 6 + 7 + 3 * 32 + 8
    bigImg(idOff + 5) = 0xff.toByte; bigImg(idOff + 6) = 0xff.toByte
    assert(GifDhash.scan(bigImg) == null, "dimension beyond the cap")
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val bits = 0x0F0F0F0F0F0F0F0FL
    val rows = Seq((1L, gif(walkGrid32(bits), gctBits = 4, scale = 8,
        minCode = 5)), (2L, Array[Byte](3, 1)))
      .toDF("id", "content")
      .select($"id", GraftFunctions.gifDhash($"content").as("dh"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == bits)
    assert(rows(1).isNullAt(1))
  }
}
