package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the pixel resize ([[BmpResize]]): byte-exact output on
  * block-constant input, per-channel independence, floor semantics on
  * uneven boxes, top-down normalization, the never-upscale refusal, and
  * interpreted/codegen parity.
  */
class BmpResizeSpec extends AnyFunSuite {

  /** 24-bpp BI_RGB builder with per-channel pixels
    * (grid(r)(c) = (b, g, r), row 0 = top). Same canonical header
    * constants BmpResize emits, so resize output can be compared
    * byte-for-byte against a directly-built image.
    */
  private def bmp(grid: Array[Array[(Int, Int, Int)]],
      topDown: Boolean = false): Array[Byte] = {
    val h = grid.length
    val w = grid(0).length
    val stride = ((w * 3 + 3) / 4) * 4
    val buf = java.nio.ByteBuffer.allocate(54 + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + stride * h).putInt(0)
      .putInt(54)
    buf.putInt(40).putInt(w).putInt(if (topDown) -h else h)
    buf.putShort(1).putShort(24).putInt(0).putInt(stride * h)
    buf.putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (s <- 0 until h) {
      val r = if (topDown) s else h - 1 - s
      for (c <- 0 until w) {
        val (bb, gg, rr) = grid(r)(c)
        buf.put(bb.toByte).put(gg.toByte).put(rr.toByte)
      }
      buf.position(buf.position() + (stride - w * 3))
    }
    buf.array()
  }

  private def gray(v: Int) = (v, v, v)

  test("pixel-doubled image resizes byte-exactly to its source") {
    val src = Array.tabulate(8, 9)((r, c) =>
      ((r * 31 + c * 17) % 211, (r * 7 + c * 3) % 211, (r * 13 + c * 29) % 211))
    val doubled = Array.tabulate(16, 18)((r, c) => src(r / 2)(c / 2))
    val out = BmpResize.scan(bmp(doubled), 9, 8)
    assert(out != null)
    assert(java.util.Arrays.equals(out, bmp(src)))
  }

  test("channels average independently with floor semantics") {
    // 2×2 → 1×1... below the 9-wide floor? No: resize itself has no 9×8
    // floor — only dHash does. A 2×2 block (10,20,30)/(11,21,31)...
    val grid = Array(
      Array((10, 20, 30), (11, 21, 31)),
      Array((12, 22, 32), (14, 24, 34)))
    val out = BmpResize.scan(bmp(grid), 1, 1)
    assert(out != null)
    // sums: b 10+11+12+14=47 → 11; g 20+21+22+24=87 → 21; r 30+31+32+34=127 → 31
    val o = 54
    assert((out(o) & 0xff) == 11 && (out(o + 1) & 0xff) == 21 &&
      (out(o + 2) & 0xff) == 31)
    // header of the 1×1 output is canonical
    assert(out.length == 54 + 4) // stride 4
    assert(out(0) == 'B' && out(1) == 'M')
  }

  test("uneven boxes: 10×9 → 9×8 floors each cell separately") {
    val src = Array.tabulate(9, 10)((r, c) => gray((r * 37 + c * 53) % 211))
    val out = BmpResize.scan(bmp(src), 9, 8)
    assert(out != null)
    // mirror the partition arithmetic and check one non-trivial cell:
    // target row 3 covers src rows [3*9/8, 4*9/8) = [3,4), col 8 covers
    // src cols [8*10/9, 10) = [8,10) → pixels (3,8),(3,9)
    val expect = ((3 * 37 + 8 * 53) % 211 + (3 * 37 + 9 * 53) % 211) / 2
    // output row 3 is stored at bottom-up row 8-1-3 = 4; stride 28
    val o = 54 + 4 * 28 + 8 * 3
    assert((out(o) & 0xff) == expect)
  }

  test("top-down input normalizes to bottom-up output") {
    val src = Array.tabulate(8, 9)((r, c) => gray((r * 31 + c * 17) % 211))
    val a = BmpResize.scan(bmp(src), 9, 8)
    val b = BmpResize.scan(bmp(src, topDown = true), 9, 8)
    assert(a != null && java.util.Arrays.equals(a, b))
  }

  test("refusals: upscale, non-BMP, other depths, truncation") {
    val src = Array.tabulate(8, 9)((r, c) => gray(100))
    val good = bmp(src)
    assert(BmpResize.scan(good, 9, 8) != null)
    assert(BmpResize.scan(good, 10, 8) == null) // never upscale
    assert(BmpResize.scan(good, 9, 9) == null)
    assert(BmpResize.scan(null, 9, 8) == null)
    assert(BmpResize.scan("plain text".getBytes, 9, 8) == null)
    assert(BmpResize.scan(good.take(100), 9, 8) == null)
    val wrongDepth = good.clone(); wrongDepth(28) = 8 // bpp 8
    assert(BmpResize.scan(wrongDepth, 9, 8) == null)
  }

  test("resize → dHash equals direct dHash (the d79 contract); codegen parity") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val src = Array.tabulate(8, 9)((r, c) => gray((r * 31 + c * 17) % 211))
    val doubled = Array.tabulate(16, 18)((r, c) => src(r / 2)(c / 2))
    val direct = BmpDhash.scan(bmp(src))
    val rows = Seq((1L, bmp(doubled)), (2L, Array[Byte](9, 9)))
      .toDF("id", "content")
      .select($"id",
        GraftFunctions.bmpDhash(GraftFunctions.bmpResize($"content", 9, 8)).as("dh"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == direct.longValue())
    assert(rows(1).isNullAt(1))
  }
}
