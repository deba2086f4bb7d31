package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the BMP pixel walk + dHash-64 ([[BmpDhash]]): grid
  * comparisons, box-average downsampling (floor semantics), bottom-up vs
  * top-down row order, stride padding, the refusal contract on
  * non-BI_RGB-24 input, and interpreted/codegen parity.
  */
class BmpDhashSpec extends AnyFunSuite {

  /** Build a 24-bpp BI_RGB BMP from a row-major grayscale grid
    * (grid(r)(c), r = 0 is the TOP row; B=G=R=v so luma == v exactly).
    */
  private def bmp(grid: Array[Array[Int]], topDown: Boolean = false,
      bpp: Int = 24, compression: Int = 0, dibSize: Int = 40,
      planes: Int = 1): Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
    b.putInt(dibSize).putInt(w).putInt(if (topDown) -h else h)
    b.putShort(planes.toShort).putShort(bpp.toShort)
    b.putInt(compression).putInt(stride * h)
    b.putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (s <- 0 until h) {
      val r = if (topDown) s else h - 1 - s
      for (c <- 0 until w) {
        val v = grid(r)(c).toByte
        b.put(v).put(v).put(v)
      }
      b.position(b.position() + (stride - w * 3)) // pad bytes stay zero
    }
    b.array()
  }

  private def grid9x8(f: (Int, Int) => Int): Array[Array[Int]] =
    Array.tabulate(8, 9)((r, c) => f(r, c))

  test("monotone rows: all-decreasing sets every bit, all-increasing none") {
    val dec = bmp(grid9x8((_, c) => 200 - 10 * c))
    val inc = bmp(grid9x8((_, c) => 40 + 10 * c))
    assert(BmpDhash.scan(dec) == -1L) // all 64 comparisons strict >
    assert(BmpDhash.scan(inc) == 0L)
    val flat = bmp(grid9x8((_, _) => 100))
    assert(BmpDhash.scan(flat) == 0L) // strict >, so ties are 0-bits
  }

  test("a single bright cell sets exactly its left-comparison bit") {
    val g = grid9x8((_, _) => 100)
    g(2)(3) = 150 // cell(2,3) > cell(2,4) → bit 2·8+3 = 19; 18 stays 0
    assert(BmpDhash.scan(bmp(g)) == (1L << 19))
  }

  test("box averaging: pixel-doubled 18×16 image hashes like its 9×8 source") {
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val doubled = Array.tabulate(16, 18)((r, c) => g(r / 2)(c / 2))
    val a = BmpDhash.scan(bmp(g))
    val b = BmpDhash.scan(bmp(doubled))
    assert(a != null && a == b)
  }

  test("box averaging floors: an 18-wide row of (100,101) pairs reads as 100") {
    // w=18, h=8 → each cell is 2 px wide; pixels (100, 101) average to
    // floor(201/2) = 100 — same as an all-100 image
    val halves = Array.tabulate(8, 18)((_, c) => if (c % 2 == 0) 100 else 101)
    val flat = grid9x8((_, _) => 100)
    assert(BmpDhash.scan(bmp(halves)) == BmpDhash.scan(bmp(flat)))
  }

  test("top-down (negative height) equals bottom-up storage") {
    val g = grid9x8((r, c) => (r * 53 + c * 29) % 231)
    assert(BmpDhash.scan(bmp(g)) == BmpDhash.scan(bmp(g, topDown = true)))
  }

  test("uneven width partition + stride padding (w=10, stride 32)") {
    // cols split 1,1,1,1,1,1,1,1,2 across the 9 cells; make the last two
    // source columns equal so every cell is single-valued
    val g = Array.tabulate(8, 10)((r, c) => {
      val cc = math.min(c, 8)
      (r * 31 + cc * 17) % 211
    })
    val ref = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    assert(BmpDhash.scan(bmp(g)) == BmpDhash.scan(bmp(ref)))
  }

  test("refusals: wrong magic, depth, compression, CORE header, size floor") {
    val g = grid9x8((_, _) => 100)
    val good = bmp(g)
    assert(BmpDhash.scan(good) != null)
    assert(BmpDhash.scan(null) == null)
    assert(BmpDhash.scan(Array.emptyByteArray) == null)
    assert(BmpDhash.scan("not a bitmap at all, just text".getBytes) == null)
    val noMagic = good.clone(); noMagic(0) = 'X'.toByte
    assert(BmpDhash.scan(noMagic) == null)
    assert(BmpDhash.scan(bmp(g, bpp = 8)) == null)
    assert(BmpDhash.scan(bmp(g, compression = 1)) == null) // BI_RLE8
    assert(BmpDhash.scan(bmp(g, dibSize = 12)) == null)    // CORE layout
    assert(BmpDhash.scan(bmp(g, planes = 2)) == null)
    // smaller than the 9×8 grid → no cell partition, NULL not garbage
    assert(BmpDhash.scan(bmp(Array.tabulate(8, 8)((_, _) => 9))) == null)
    assert(BmpDhash.scan(bmp(Array.tabulate(7, 9)((_, _) => 9))) == null)
    // truncated pixel array: chop the last row
    assert(BmpDhash.scan(good.take(good.length - 28)) == null)
    // header claims more rows than the buffer carries
    val tall = good.clone()
    tall(22) = 127 // height 127 > available
    assert(BmpDhash.scan(tall) == null)
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val g = grid9x8((r, c) => (r * 31 + c * 17) % 211)
    val expected = BmpDhash.scan(bmp(g))
    val rows = Seq((1L, bmp(g)), (2L, Array[Byte](1, 2, 3)))
      .toDF("id", "content")
      .select($"id", GraftFunctions.bmpDhash($"content").as("dh"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == expected.longValue())
    assert(rows(1).isNullAt(1))
  }
}
