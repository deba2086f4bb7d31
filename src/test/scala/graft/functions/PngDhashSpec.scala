package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{Adler32, Deflater}

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the PNG pixel decode + dHash-64 ([[PngDhash]]): the inflate
  * → unfilter → cell walk against hand-built grids, all five public
  * filters, multi-IDAT splicing, cross-format agreement with
  * [[BmpDhash]] through the shared [[Dhash64]] rule, a REAL
  * library-written PNG (ImageIO), the refusal contract on adversarial
  * bytes, and interpreted/codegen parity.
  */
class PngDhashSpec extends AnyFunSuite {

  private def crc32(chunk: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32(); c.update(chunk); c.getValue.toInt
  }

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + data.length)
    out.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
    out.putInt(crc32(typ.getBytes("US-ASCII") ++ data))
    out.array()
  }

  private val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    .map(_.toByte)

  private def ihdr(w: Int, h: Int, depth: Int = 8, color: Int = 0,
      interlace: Int = 0): Array[Byte] = {
    val d = java.nio.ByteBuffer.allocate(13)
    d.putInt(w).putInt(h).put(depth.toByte).put(color.toByte)
      .put(0.toByte).put(0.toByte).put(interlace.toByte)
    chunk("IHDR", d.array())
  }

  /** Filtered scanline bytes → a proper zlib stream (real header + real
    * adler32), deflated at the given level (0 = stored blocks, the
    * layout the SQL construction mirrors; default = real compression).
    */
  private def zlibOf(raw: Array[Byte], level: Int = Deflater.DEFAULT_COMPRESSION)
      : Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Grayscale PNG from a row-major grid (r = 0 is the TOP row), one
    * filter-type byte per row (default all 0), IDAT optionally split.
    */
  private def png(grid: Array[Array[Int]], filters: Array[Int] = null,
      level: Int = Deflater.DEFAULT_COMPRESSION, idatSplit: Int = 0)
      : Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    val fts = if (filters != null) filters else Array.fill(h)(0)
    val raw = new Array[Byte](h * (1 + w))
    for (r <- 0 until h) {
      raw(r * (1 + w)) = fts(r).toByte
      // apply the INVERSE of the unfilter so the decoder must undo it
      for (c <- 0 until w) {
        val v = grid(r)(c)
        val a = if (c > 0) grid(r)(c - 1) else 0
        val up = if (r > 0) grid(r - 1)(c) else 0
        val ul = if (r > 0 && c > 0) grid(r - 1)(c - 1) else 0
        val pred = fts(r) match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case 4 =>
            val p = a + up - ul
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul
        }
        raw(r * (1 + w) + 1 + c) = (v - pred).toByte
      }
    }
    val z = zlibOf(raw, level)
    val idats =
      if (idatSplit <= 0 || idatSplit >= z.length) Seq(chunk("IDAT", z))
      else Seq(chunk("IDAT", z.take(idatSplit)),
        chunk("IDAT", z.drop(idatSplit)))
    Sig ++ ihdr(w, h) ++ idats.flatten ++ chunk("IEND", Array.emptyByteArray)
  }

  private def grid9x8(f: (Int, Int) => Int): Array[Array[Int]] =
    Array.tabulate(8, 9)((r, c) => f(r, c))

  /** The d84 construction's walk: 9×8, row r walks 128 ± 10 per bit. */
  private def walkGrid(bits: Long): Array[Array[Int]] =
    grid9x8 { (r, c) =>
      var v = 128
      for (i <- 1 to c)
        v += (if (((bits >> (r * 8 + i - 1)) & 1L) == 1L) -10 else 10)
      v
    }

  test("the pixel walk reproduces the intended bits exactly (stored + deflated)") {
    for (bits <- Seq(0L, -1L, 0xAAAAAAAAAAAAAAAAL, 0x123456789ABCDEF0L)) {
      val g = walkGrid(bits)
      assert(PngDhash.scan(png(g, level = 0)) == bits, s"stored $bits")
      assert(PngDhash.scan(png(g)) == bits, s"deflated $bits")
    }
  }

  test("cross-format: PNG and BMP renderings of the same pixels hash identically") {
    // the shared Dhash64 cell rule is the contract that lets a crawl
    // dedup the SAME image across container formats
    val g = grid9x8((r, c) => (r * 37 + c * 23) % 251)
    val fromPng = PngDhash.scan(png(g))
    assert(fromPng != null)
    // build the BMP twin through BmpDhashSpec's layout (inline here)
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
    assert(BmpDhash.scan(b.array()) == fromPng)
  }

  test("all five filters decode: per-row Sub/Up/Average/Paeth equal the filter-0 hash") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val want = PngDhash.scan(png(g, filters = Array.fill(8)(0)))
    assert(want != null)
    for (ft <- 1 to 4)
      assert(PngDhash.scan(png(g, filters = Array.fill(8)(ft))) == want,
        s"filter $ft")
    // a mixed per-row assignment, like real encoders emit
    val mixed = Array(0, 1, 2, 3, 4, 2, 1, 4)
    assert(PngDhash.scan(png(g, filters = mixed)) == want)
  }

  test("multi-IDAT: the zlib stream spliced across two chunks decodes whole") {
    val g = walkGrid(0x5A5A5A5A5A5A5A5AL)
    for (split <- Seq(1, 7, 40))
      assert(PngDhash.scan(png(g, idatSplit = split)) == 0x5A5A5A5A5A5A5A5AL,
        s"split at $split")
  }

  test("a REAL library-written PNG (ImageIO, truecolor) decodes to the same hash") {
    val g = grid9x8((r, c) => (r * 29 + c * 41) % 223)
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (r <- 0 until 8; c <- 0 until 9) {
      val v = g(r)(c)
      img.setRGB(c, r, (v << 16) | (v << 8) | v)
    }
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", out),
      "premise: the JDK PNG writer is available")
    assert(PngDhash.scan(out.toByteArray) == PngDhash.scan(png(g)),
      "an independent encoder's filters/compression must not change the hash")
  }

  test("box averaging: pixel-doubled 18×16 PNG hashes like its 9×8 source") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val doubled = Array.tabulate(16, 18)((r, c) => g(r / 2)(c / 2))
    assert(PngDhash.scan(png(doubled)) == PngDhash.scan(png(g)))
  }

  test("a truncated final IDAT (intact length field) still hashes the prefix") {
    val whole = png(walkGrid(0x5AA5C33CL), level = 0)
    // drop IEND (12), the IDAT CRC (4), and the zlib adler32 trailer (4):
    // the declared IDAT length now exceeds the remaining bytes — the
    // common crawl-truncation shape (file cut mid-chunk) — but the
    // stored-block deflate payload is complete, so the
    // truncated-but-decodable prefix must hash, not vanish (review r15)
    assert(PngDhash.scan(whole.dropRight(20)) == PngDhash.scan(whole))
  }

  test("refusals: every adversarial arm yields NULL, never an error") {
    val good = png(walkGrid(7L))
    assert(PngDhash.scan(good) != null)
    assert(PngDhash.scan(null) == null)
    assert(PngDhash.scan(Array.emptyByteArray) == null)
    assert(PngDhash.scan("not an image at all".getBytes) == null)
    assert(PngDhash.scan(good.take(40)) == null, "truncated inside IHDR+IDAT")
    assert(PngDhash.scan(good.dropRight(30)) == null, "truncated IDAT")
    // bad filter type byte (5): corrupt the stored-block raw payload
    val g = walkGrid(3L)
    val bad = png(g, level = 0)
    // stored block: sig(8) + IHDR(25) + IDAT hdr(8) + zlib hdr(2) + block hdr(5)
    val rawOff = 8 + 25 + 8 + 2 + 5
    bad(rawOff) = 5.toByte // first row's filter-type byte
    assert(PngDhash.scan(bad) == null, "unknown filter type must refuse")
    // interlaced (Adam7) refused, not misdecoded
    val z = zlibOf(Array.fill(8 * 10)(0.toByte))
    val interlaced = Sig ++ ihdr(9, 8, interlace = 1) ++
      chunk("IDAT", z) ++ chunk("IEND", Array.emptyByteArray)
    assert(PngDhash.scan(interlaced) == null)
    // palette color type and 16-bit depth refused
    assert(PngDhash.scan(Sig ++ ihdr(9, 8, color = 3) ++ chunk("IDAT", z) ++
      chunk("IEND", Array.emptyByteArray)) == null)
    assert(PngDhash.scan(Sig ++ ihdr(9, 8, depth = 16) ++ chunk("IDAT", z) ++
      chunk("IEND", Array.emptyByteArray)) == null)
    // grid narrower than the 9×8 cells
    assert(PngDhash.scan(png(Array.tabulate(8, 8)((r, c) => r + c))) == null)
    // zlib header with a preset dictionary (FDICT) refused
    val fdict = png(g, level = 0)
    fdict(8 + 25 + 8 + 1) = 0x20.toByte
    assert(PngDhash.scan(fdict) == null)
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val bits = 0x0F0F0F0F0F0F0F0FL
    val rows = Seq((1L, png(walkGrid(bits))), (2L, Array[Byte](3, 1)))
      .toDF("id", "content")
      .select($"id", GraftFunctions.pngDhash($"content").as("dh"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == bits)
    assert(rows(1).isNullAt(1))
  }
}
