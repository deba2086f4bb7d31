package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The EBML/Matroska element walk ([[MkvMeta.scan]]): genuine layouts per
  * RFC 8794 + the public Matroska spec (VINT ids/sizes, spec defaults,
  * float widths, unknown-size segments), crawl-prefix behavior, refusal
  * paths, and eval/codegen parity.
  */
class MkvMetaSpec extends AnyFunSuite {
  import org.apache.spark.sql.types.LongType

  // --- EBML byte builders -----------------------------------------------
  private def vintSize(v: Long): Array[Byte] = {
    require(v >= 0 && v < (1L << 56))
    var n = 1
    while (v >= (1L << (7 * n)) - 1) n += 1 // avoid the all-ones reserved value
    val out = new Array[Byte](n)
    var k = n - 1
    var rest = v
    while (k >= 0) { out(k) = (rest & 0xff).toByte; rest >>= 8; k -= 1 }
    out(0) = (out(0) | (0x80 >> (n - 1))).toByte
    out
  }
  private def id(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
  private def el(idBytes: Array[Byte], payload: Array[Byte]): Array[Byte] =
    idBytes ++ vintSize(payload.length.toLong) ++ payload
  private def uint(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >>> (8 * n)) != 0) n += 1
    (0 until n).map(k => ((v >>> (8 * (n - 1 - k))) & 0xff).toByte).toArray
  }
  private def f32(v: Float): Array[Byte] = {
    val bits = java.lang.Float.floatToIntBits(v)
    Array((bits >> 24).toByte, (bits >> 16).toByte, (bits >> 8).toByte,
      bits.toByte)
  }
  private def f64(v: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(v)
    (0 until 8).map(k => ((bits >>> (8 * (7 - k))) & 0xff).toByte).toArray
  }
  private val EBML = id(0x1A, 0x45, 0xDF, 0xA3)
  private val DOCTYPE = id(0x42, 0x82)
  private val SEGMENT = id(0x18, 0x53, 0x80, 0x67)
  private val INFO = id(0x15, 0x49, 0xA9, 0x66)
  private val TSCALE = id(0x2A, 0xD7, 0xB1)
  private val DURATION = id(0x44, 0x89)
  private val TRACKS = id(0x16, 0x54, 0xAE, 0x6B)
  private val ENTRY = id(0xAE)
  private val TTYPE = id(0x83)
  private val AUDIO = id(0xE1)
  private val VIDEO = id(0xE0)
  private val SFREQ = id(0xB5)
  private val CHANS = id(0x9F)
  private val PIXW = id(0xB0)
  private val PIXH = id(0xBA)

  private def header(doctype: String): Array[Byte] =
    el(EBML, el(DOCTYPE, doctype.getBytes("US-ASCII")))
  private def audioEntry(freq: Array[Byte], chans: Option[Long]): Array[Byte] =
    el(ENTRY, el(TTYPE, uint(2)) ++
      el(AUDIO, el(SFREQ, freq) ++
        chans.map(c => el(CHANS, uint(c))).getOrElse(Array.emptyByteArray)))
  private def videoEntry(w: Long, h: Long): Array[Byte] =
    el(ENTRY, el(TTYPE, uint(1)) ++
      el(VIDEO, el(PIXW, uint(w)) ++ el(PIXH, uint(h))))

  private def row(m: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Any] =
    m.toSeq[Any](LongType)

  test("webm with audio+video tracks, f32 duration, explicit timescale") {
    val info = el(INFO, el(TSCALE, uint(1000000L)) ++
      el(DURATION, f32(4000f)))
    val tracks = el(TRACKS,
      audioEntry(f32(48000f), Some(2L)) ++ videoEntry(1920L, 1080L))
    val b = header("webm") ++ el(SEGMENT, info ++ tracks)
    assert(row(MkvMeta.scan(b)) ===
      Seq(4000L, 48000L, 2L, 1920L, 1080L, 2L))
  }

  test("matroska doctype, f64 duration, non-default timescale") {
    // 500 ticks x 2e6 ns/tick = 1e9 ns = 1000 ms
    val info = el(INFO, el(TSCALE, uint(2000000L)) ++
      el(DURATION, f64(500.0)))
    val b = header("matroska") ++ el(SEGMENT, info)
    assert(row(MkvMeta.scan(b)) ===
      Seq(1000L, null, null, null, null, 1L))
  }

  test("spec defaults: absent timescale=1e6, absent freq=8000, chans=1") {
    val info = el(INFO, el(DURATION, f32(250f))) // 250 ticks x 1e6 ns = 250 ms
    val tracks = el(TRACKS, el(ENTRY, el(TTYPE, uint(2)) ++
      el(AUDIO, Array.emptyByteArray)))
    val b = header("webm") ++ el(SEGMENT, info ++ tracks)
    assert(row(MkvMeta.scan(b)) === Seq(250L, 8000L, 1L, null, null, 2L))
  }

  test("first audio track wins; later tracks don't overwrite") {
    val tracks = el(TRACKS,
      audioEntry(f32(44100f), Some(1L)) ++ audioEntry(f32(48000f), Some(6L)))
    val b = header("matroska") ++ el(SEGMENT, tracks)
    assert(row(MkvMeta.scan(b)) === Seq(null, 44100L, 1L, null, null, 1L))
  }

  test("unknown-size segment (live stream) walks children to buffer end") {
    val info = el(INFO, el(DURATION, f32(100f)))
    val b = header("webm") ++ SEGMENT ++ Array(0xFF.toByte) ++ info
    assert(row(MkvMeta.scan(b)) === Seq(100L, null, null, null, null, 2L))
  }

  test("clusters and unknown elements are skipped by declared size") {
    val cluster = el(id(0x1F, 0x43, 0xB6, 0x75), Array.fill[Byte](64)(0x42))
    val info = el(INFO, el(DURATION, f32(100f)))
    val b = header("webm") ++ el(SEGMENT, cluster ++ info)
    assert(row(MkvMeta.scan(b)) === Seq(100L, null, null, null, null, 2L))
  }

  test("crawl prefix ending mid-structure keeps fields already read") {
    val info = el(INFO, el(TSCALE, uint(1000000L)) ++ el(DURATION, f32(4000f)))
    val tracks = el(TRACKS, audioEntry(f32(48000f), Some(2L)))
    val full = header("webm") ++ el(SEGMENT, info ++ tracks)
    // cut inside the Tracks element: duration survives, audio fields null
    val cut = full.take(header("webm").length + 5 + info.length + 6)
    assert(row(MkvMeta.scan(cut)) === Seq(4000L, null, null, null, null, 2L))
    // cut inside the EBML header itself: doctype default, all fields null
    assert(row(MkvMeta.scan(full.take(6))) ===
      Seq(null, null, null, null, null, 1L))
  }

  test("refusals: wrong magic, foreign doctype, junk") {
    assert(MkvMeta.scan(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)) == null)
    assert(MkvMeta.scan(header("banana")) == null)
    assert(MkvMeta.scan(null) == null)
    assert(MkvMeta.scan(Array.emptyByteArray) == null)
  }

  test("zero-padded DocType is valid per RFC 8794 §7 (review finding)") {
    // a muxer may pad String elements with trailing NULs; 'webm\0\0\0\0'
    // must classify as webm, not refuse the whole file
    val padded = el(EBML, el(DOCTYPE,
      "webm".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0)))
    val info = el(INFO, el(TSCALE, uint(1000000L)) ++ el(DURATION, f32(2000f)))
    val b = padded ++ el(SEGMENT, info)
    val m = MkvMeta.scan(b)
    assert(m != null && row(m)(5) == 2L, if (m == null) "null" else row(m))
    // padding on a FOREIGN doctype must still refuse
    val foreign = el(EBML, el(DOCTYPE,
      "banana".getBytes("US-ASCII") ++ Array[Byte](0, 0)))
    assert(MkvMeta.scan(foreign ++ el(SEGMENT, info)) == null)
  }

  test("non-finite or absurd values refuse the derived field only") {
    val info = el(INFO, el(DURATION, f32(Float.NaN)))
    val tracks = el(TRACKS, audioEntry(f32(Float.PositiveInfinity), Some(2L)))
    val b = header("webm") ++ el(SEGMENT, info ++ tracks)
    // NaN duration -> null; infinite rate -> null but channels kept
    assert(row(MkvMeta.scan(b)) === Seq(null, null, 2L, null, null, 2L))
  }

  test("eval/codegen parity through the SQL function") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val info = el(INFO, el(TSCALE, uint(1000000L)) ++ el(DURATION, f32(4000f)))
    val tracks = el(TRACKS,
      audioEntry(f32(48000f), Some(2L)) ++ videoEntry(640L, 480L))
    val good = header("webm") ++ el(SEGMENT, info ++ tracks)
    val df = Seq((1, good), (2, Array[Byte](9, 9, 9, 9, 9)))
      .toDF("i", "content")
    val out = df.select($"i",
      GraftFunctions.mkvMeta($"content").as("m")).orderBy("i").collect()
    assert(out(0).getSeq[Long](1) === Seq(4000L, 48000L, 2L, 640L, 480L, 2L))
    assert(out(1).isNullAt(1))
  }
}
