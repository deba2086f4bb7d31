package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the REAL feature kernels ([[GridLumaCells]] /
  * [[MediaEnvelope]]): the feature vector IS the decode's own
  * intermediate (cells / envelope), cross-format equality of features
  * from different containers of the same pixels, the hash↔feature
  * consistency relation (Dhash64 over the feature vector reproduces the
  * shipped perceptual hash), trimming semantics, refusal contracts, and
  * interpreted/codegen parity.
  */
class MediaFeaturesSpec extends AnyFunSuite {

  // --- builders (the sibling specs' constructions, kept local) ---------

  /** 24-bpp BI_RGB bottom-up BMP from a row-major grayscale grid. */
  private def bmp(grid: Array[Array[Int]]): Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    b.putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (s <- 0 until h) {
      val r = h - 1 - s
      for (c <- 0 until w) {
        val v = grid(r)(c).toByte
        b.put(v).put(v).put(v)
      }
      b.position(b.position() + (stride - w * 3))
    }
    b.array()
  }

  /** 8-bit grayscale PNG (stored-deflate IDAT, zeroed CRCs/adler) from
    * the same row-major grid — the d84 construction in plain bytes.
    */
  private def png(grid: Array[Array[Int]]): Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    val ihdr = be32(13) ++ ascii("IHDR") ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 0, 0, 0, 0) ++ be32(0)
    val raw = new Array[Byte](h * (1 + w))
    for (r <- 0 until h; c <- 0 until w)
      raw(r * (1 + w) + 1 + c) = grid(r)(c).toByte
    val z = Array[Byte](0x78, 0x01, 0x01,
      (raw.length & 0xff).toByte, ((raw.length >> 8) & 0xff).toByte,
      (~raw.length & 0xff).toByte, ((~raw.length >> 8) & 0xff).toByte) ++
      raw ++ be32(0)
    sig ++ ihdr ++ be32(z.length) ++ ascii("IDAT") ++ z ++ be32(0) ++
      be32(0) ++ ascii("IEND") ++ be32(0)
  }

  /** 256-gray-palette GIF whose LZW stream is the uncompressed idiom
    * (CLEAR before every literal, fixed 9-bit codes) — the d87
    * construction widened to a full palette so any grid renders.
    */
  private def gif(grid: Array[Array[Int]]): Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 255); out.write((v >> 8) & 255) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0xF7) // GCT present, 256 entries
    out.write(0); out.write(0)
    for (i <- 0 until 256) { out.write(i); out.write(i); out.write(i) }
    out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
    out.write(8) // LZW min code size: clear=256, eoi=257, 9-bit codes
    val codes = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += 9
      while (nbits >= 8) { codes.write((acc & 255).toInt); acc >>= 8; nbits -= 8 }
    }
    for (r <- 0 until h; c <- 0 until w) { emit(256); emit(grid(r)(c)) }
    emit(257)
    if (nbits > 0) codes.write((acc & 255).toInt)
    val cs = codes.toByteArray
    var off = 0
    while (off < cs.length) {
      val n = math.min(255, cs.length - off)
      out.write(n); out.write(cs, off, n)
      off += n
    }
    out.write(0); out.write(0x3B)
    out.toByteArray
  }

  /** Mono 16-bit PCM WAV over little-endian samples. */
  private def wav(samples: Array[Int]): Array[Byte] = {
    val data = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + data)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(data)
    samples.foreach(s => b.putShort(s.toShort))
    b.array()
  }

  /** 4×4 mono Y4M whose frame f is constant luma `frames(f)`. */
  private def y4m(frames: Array[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("YUV4MPEG2 W4 H4 Cmono\n".getBytes("US-ASCII"))
    frames.foreach { v =>
      out.write("FRAME\n".getBytes("US-ASCII"))
      for (_ <- 0 until 16) out.write(v & 0xff)
    }
    out.toByteArray
  }

  private def grid9x8(f: (Int, Int) => Int): Array[Array[Int]] =
    Array.tabulate(8, 9)((r, c) => f(r, c))

  // --- GridLumaCells ----------------------------------------------------

  test("the image feature vector IS the 72-cell luma grid (9×8: cells = pixels)") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val v = GridLumaCells.scan(bmp(g))
    assert(v != null && v.length == 72)
    for (r <- 0 until 8; c <- 0 until 9)
      assert(v(r * 9 + c) == g(r)(c).toDouble, s"cell ($r,$c)")
  }

  test("cross-format features: BMP, PNG and GIF of the same pixels are identical") {
    val g = grid9x8((r, c) => (r * 53 + c * 29) % 231)
    val a = GridLumaCells.scan(bmp(g))
    val b = GridLumaCells.scan(png(g))
    val c = GridLumaCells.scan(gif(g))
    assert(a != null && b != null && c != null)
    assert(a.toSeq == b.toSeq && a.toSeq == c.toSeq)
  }

  test("hash↔feature consistency: Dhash64 over the features reproduces each dHash") {
    val g = grid9x8((r, c) => (r * 37 + c * 23) % 199)
    for ((bytes, hash) <- Seq(
        (bmp(g), BmpDhash.scan(bmp(g))),
        (png(g), PngDhash.scan(png(g))),
        (gif(g), GifDhash.scan(gif(g))))) {
      val v = GridLumaCells.scan(bytes)
      assert(v != null && hash != null)
      assert(Dhash64.ofCells(v.map(_.toLong)) == hash.longValue())
    }
  }

  test("grid features box-average larger images (18×16 equals its 9×8 source)") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val doubled = Array.tabulate(16, 18)((r, c) => g(r / 2)(c / 2))
    assert(GridLumaCells.scan(bmp(doubled)).toSeq ==
      GridLumaCells.scan(bmp(g)).toSeq)
  }

  test("grid feature refusals: junk, truncation, undersize") {
    assert(GridLumaCells.scan(null) == null)
    assert(GridLumaCells.scan(Array[Byte](1, 2, 3, 4)) == null)
    val g = grid9x8((_, _) => 100)
    assert(GridLumaCells.scan(bmp(g).take(40)) == null)
    assert(GridLumaCells.scan(bmp(Array.tabulate(7, 9)((_, _) => 9))) == null)
  }

  // --- MediaEnvelope ------------------------------------------------------

  test("the audio feature vector is the 65-window energy envelope (exact sums)") {
    val samples = Array.tabulate(65 * 8)(i => (i / 8 + 1) * (if (i % 2 == 0) 1 else -1))
    val v = MediaEnvelope.scan(wav(samples))
    assert(v != null && v.length == 65)
    for (w <- 0 until 65) assert(v(w) == (w + 1) * 8.0, s"window $w")
  }

  test("envelope trims to a multiple of 65; exact multiples match the hash's windows") {
    // 65·8 + 3 trailing samples: the trim drops exactly the tail 3
    val base = Array.tabulate(65 * 8)(i => i / 8 + 1)
    val padded = base ++ Array(9999, 9999, 9999)
    assert(MediaEnvelope.scan(wav(padded)).toSeq ==
      MediaEnvelope.scan(wav(base)).toSeq)
    // n % 65 == 0: the envelope-induced dHash equals the shipped hash
    // (same windows, same comparisons — the constructed-corpus regime)
    val bits = 0xDEADBEEFCAFEBABEL
    val walk = new Array[Int](65 * 8)
    var v0 = 10000
    for (w <- 0 until 65) {
      if (w > 0) v0 += (if (((bits >> (w - 1)) & 1L) == 1L) -100 else 100)
      for (j <- 0 until 8) walk(w * 8 + j) = v0
    }
    val env = MediaEnvelope.scan(wav(walk))
    var h = 0L
    for (k <- 0 until 64) if (env(k) > env(k + 1)) h |= (1L << k)
    assert(h == WavEnergyHash.scan(wav(walk)).longValue())
  }

  test("the video feature vector is the 65-window luma envelope") {
    val frames = Array.tabulate(65)(f => 64 + f)
    val v = MediaEnvelope.scan(y4m(frames))
    assert(v != null && v.length == 65)
    // 65 frames → one frame per window; 4×4 plane sums = 16·luma
    for (w <- 0 until 65) assert(v(w) == (64 + w) * 16.0, s"window $w")
  }

  test("envelope refusals: junk, non-PCM-shaped, too few windows") {
    assert(MediaEnvelope.scan(null) == null)
    assert(MediaEnvelope.scan(Array[Byte](1, 2, 3)) == null)
    assert(MediaEnvelope.scan(wav(Array.tabulate(64)(identity))) == null)
    assert(MediaEnvelope.scan(y4m(Array.tabulate(64)(identity))) == null)
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val samples = Array.tabulate(65 * 8)(i => i % 3000)
    val rows = Seq(
        (1L, bmp(g)), (2L, png(g)), (3L, wav(samples)),
        (4L, Array[Byte](1, 2, 3)))
      .toDF("id", "content")
      .select($"id",
        GraftFunctions.gridLuma($"content").as("cells"),
        GraftFunctions.mediaEnvelope($"content").as("env"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Double](1) == GridLumaCells.scan(bmp(g)).toSeq)
    assert(rows(0).isNullAt(2))
    assert(rows(1).getSeq[Double](1) == GridLumaCells.scan(png(g)).toSeq)
    assert(rows(2).isNullAt(1))
    assert(rows(2).getSeq[Double](2) == MediaEnvelope.scan(wav(samples)).toSeq)
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
  }
}
