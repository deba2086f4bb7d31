package graft.queries

import graft.functions.MediaRender.{Bmp18HeaderHex, BmpHeaderHex,
  GifHeaderHex, GifTrailerHex, PngHeaderHex, PngTrailerHex, WavHeaderHex,
  Y4mHeaderHex}
import graft.queries.GroupD.MediaFamily

/** The retired interpreted construction behind the media hubs, kept
  * verbatim as the test reference for the [[graft.functions.MediaRender]]
  * kernel that replaced it: a family's pattern as a `transform` over 64
  * bigint mixes ([[bitsExpr]], and d88's flip-free spelling
  * [[d88BitsExpr]]), and per container an `aggregate` walk that builds
  * the body as hex from a `bits` column, `unhex`ed behind the header
  * (the `*ContentExpr`s; d81's alternation of two of them is
  * [[bmp18OrBmpContentExpr]]). Each content expression reads `doc_id`
  * and a `bits` column holding the matching pattern. The kernel must
  * equal it byte for byte (MediaRenderDiffSpec).
  */
object MediaRenderReference {

  /** Spark SQL: the pattern as a 64-element array of 0L/1L. */
  def bitsExpr(f: MediaFamily): String = {
    import f._
    val x = s"(((doc_id div $fam) * ${mult}L + k * ${kMult}L + ${add}L)" +
      " % 1000000007L)"
    val sq = s"($x * $x % 2147483647L)"
    s"transform(sequence(0L, 63L), k -> (($sq * $sq % 2147483647L" +
      s" div 1024L % 2L + IF(k >= doc_id % $window" +
      s" AND k < doc_id % $window + doc_id % $widthMod, 1L, 0L)) % 2L))"
  }

  /** The 8 storage rows (bottom row first) as hex: each logical row is a
    * luma walk from 128 stepping −10 on a 1-bit, +10 on a 0-bit, so
    * cell (r,c) > cell (r,c+1) iff bit r·8+c is set; pixels are BGR
    * triples of the walk value plus the 1-byte stride pad. `bits` is the
    * 64-element pattern array computed once per doc.
    */
  private val bmpPixelsHex: String = {
    val step = "IF(bits[(7 - s) * 8 + c - 1] = 1L, -10L, 10L)"
    "concat_ws('', transform(sequence(0, 7), s -> " +
      "aggregate(sequence(1, 8), " +
      "named_struct('v', 128L, 'hx', repeat('80', 3)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(lpad(hex(acc.v + $step), 2, '0'), 3))), " +
      "acc -> concat(acc.hx, '00'))))"
  }

  val bmpContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$BmpHeaderHex', $bmpPixelsHex)))"

  private val bmp18PixelsHex: String = {
    // storage rows 0..15 bottom-up; logical row 15-s, walk row (15-s)/2;
    // each walk pixel spans 2 columns (6 bytes) and each walk row 2 rows
    val step = "IF(bits[((15 - s) div 2) * 8 + c - 1] = 1L, -10L, 10L)"
    "concat_ws('', transform(sequence(0, 15), s -> " +
      "aggregate(sequence(1, 8), " +
      "named_struct('v', 128L, 'hx', repeat('80', 6)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(lpad(hex(acc.v + $step), 2, '0'), 6))), " +
      "acc -> concat(acc.hx, '0000'))))"
  }

  val bmp18ContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$Bmp18HeaderHex', $bmp18PixelsHex)))"

  /** 65 windows × 8 identical LE samples: the walk starts at 10000 and
    * steps −100 on a 1-bit, +100 on a 0-bit, so window k is strictly
    * louder than k+1 exactly when bit k is set (range 3600–16400 —
    * safely inside 16-bit signed).
    */
  private val wavSamplesHex: String = {
    val step = "IF(bits[c - 1] = 1L, -100L, 100L)"
    def le16(v: String) =
      s"concat(substring(lpad(hex($v), 4, '0'), 3, 2), " +
        s"substring(lpad(hex($v), 4, '0'), 1, 2))"
    "aggregate(sequence(1, 64), " +
      s"named_struct('v', 10000L, 'hx', repeat(${le16("10000L")}, 8)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(${le16(s"acc.v + $step")}, 8))), " +
      "acc -> acc.hx)"
  }

  val wavContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$WavHeaderHex', $wavSamplesHex)))"

  /** The 8 scanlines TOP-DOWN (PNG row order): filter byte 0, then the
    * luma walk from 128 stepping −10 on a 1-bit, +10 on a 0-bit — one
    * byte per pixel (grayscale), so cell (r,c) > cell (r,c+1) iff bit
    * r·8+c is set, same rule as the BMP rendering one byte-width over.
    */
  private val pngPixelsHex: String = {
    val step = "IF(bits[s * 8 + c - 1] = 1L, -10L, 10L)"
    "concat_ws('', transform(sequence(0, 7), s -> " +
      "aggregate(sequence(1, 8), " +
      "named_struct('v', 128L, 'hx', '0080'), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, lpad(hex(acc.v + $step), 2, '0'))), " +
      "acc -> acc.hx)))"
  }

  val pngContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$PngHeaderHex', $pngPixelsHex, '$PngTrailerHex')))"

  /** 65 `FRAME\n` + 16 constant luma bytes each: the walk starts at 128
    * and steps −1 on a 1-bit, +1 on a 0-bit (range 64–192, safely inside
    * a byte), so frame k's mean is strictly brighter than frame k+1's
    * exactly when bit k is set.
    */
  private val y4mFramesHex: String = {
    val step = "IF(bits[c - 1] = 1L, -1L, 1L)"
    "aggregate(sequence(1, 64), " +
      "named_struct('v', 128L, 'hx', concat('4652414D450A', repeat('80', 16))), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, '4652414D450A', " +
      s"repeat(lpad(hex(acc.v + $step), 2, '0'), 16))), " +
      "acc -> acc.hx)"
  }

  val y4mContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$Y4mHeaderHex', $y4mFramesHex)))"

  val xfmtContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"IF(doc_id % 2 = 0, " +
      s"unhex(concat('$BmpHeaderHex', $bmpPixelsHex)), " +
      s"unhex(concat('$PngHeaderHex', $pngPixelsHex, '$PngTrailerHex'))))"

  /** The packed LZW code stream: row s walks a palette index from 16,
    * −1 on a 1-bit, +1 on a 0-bit (range 8–24 inside the 32-entry
    * table), every pixel preceded by CLEAR (32) and the stream closed
    * by EOI (33), all 6-bit codes packed LSB-first — the GIF spec's
    * uncompressed idiom, so cell (r,c) > (r,c+1) iff bit r·8+c is set.
    */
  private val gifCodesHex: String = {
    val step = "IF(bits[s * 8 + c - 1] = 1L, -1L, 1L)"
    val pixelCodes =
      "flatten(transform(sequence(0, 7), s -> " +
        "aggregate(sequence(1, 8), " +
        "named_struct('v', 16L, 'arr', array(16L)), " +
        s"(acc, c) -> named_struct('v', acc.v + $step, " +
        s"'arr', concat(acc.arr, array(acc.v + $step))), " +
        "acc -> acc.arr)))"
    val codes =
      s"concat(flatten(transform($pixelCodes, p -> array(32L, p))), array(33L))"
    s"aggregate($codes, " +
      "named_struct('acc', 0L, 'nb', 0L, 'hx', ''), " +
      "(st, code) -> IF(st.nb + 6 >= 8, " +
      "named_struct('acc', shiftright(st.acc | shiftleft(code, st.nb), 8), " +
      "'nb', st.nb - 2L, " +
      "'hx', concat(st.hx, " +
      "lpad(hex((st.acc | shiftleft(code, st.nb)) % 256L), 2, '0'))), " +
      "named_struct('acc', st.acc | shiftleft(code, st.nb), " +
      "'nb', st.nb + 6L, 'hx', st.hx)), " +
      "st -> IF(st.nb > 0L, concat(st.hx, lpad(hex(st.acc % 256L), 2, '0')), " +
      "st.hx))"
  }

  val gifContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$GifHeaderHex', $gifCodesHex, '$GifTrailerHex')))"

  val d88BitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L)"

  /** The 8 storage rows (bottom-up) of the d88 rendering: the d78 walk
    * with a per-doc START offset on logical row `doc_id mod 8` — the
    * whole row shifts by (doc_id mod 3) − 1, everything else is the
    * family base. Values stay in [47, 209], inside a byte.
    */
  private val d88PixelsHex: String = {
    val step = "IF(bits[(7 - s) * 8 + c - 1] = 1L, -10L, 10L)"
    val start = "(128L + IF(7 - s = doc_id % 8, doc_id % 3 - 1L, 0L))"
    "concat_ws('', transform(sequence(0, 7), s -> " +
      "aggregate(sequence(1, 8), " +
      s"named_struct('v', $start, " +
      s"'hx', repeat(lpad(hex($start), 2, '0'), 3)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(lpad(hex(acc.v + $step), 2, '0'), 3))), " +
      "acc -> concat(acc.hx, '00'))))"
  }

  val d88ContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$BmpHeaderHex', $d88PixelsHex)))"

  /** d81's mixed-resolution corpus: the 18×16 rendering for even ids. */
  val bmp18OrBmpContentExpr: String =
    s"IF(doc_id % 2 = 0, $bmp18ContentExpr, $bmpContentExpr)"
}
