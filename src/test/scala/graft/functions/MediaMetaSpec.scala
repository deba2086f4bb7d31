package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The WAV chunk walk and MP4 box walk ([[WavMeta.scan]] /
  * [[Mp4Meta.scan]]): genuine header layouts per the public RIFF/WAVE and
  * ISO BMFF specs, crawl-prefix behavior, every refusal path, and
  * eval/codegen parity.
  */
class MediaMetaSpec extends AnyFunSuite {

  // --- byte builders (little-endian for RIFF, big-endian for BMFF) -------
  private def leU16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
  private def leU32(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte,
    (v >> 16).toByte, (v >> 24).toByte)
  private def beU32(v: Long) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte,
    (v >> 8).toByte, v.toByte)
  private def beU64(v: Long) = beU32(v >>> 32) ++ beU32(v & 0xffffffffL)
  private def ascii(s: String) = s.getBytes("US-ASCII")

  /** A genuine PCM fmt chunk: format 1, given channels/rate/bits. */
  private def fmtChunk(ch: Int, rate: Long, bits: Int): Array[Byte] = {
    val byteRate = rate * ch * bits / 8
    ascii("fmt ") ++ leU32(16) ++ leU16(1) ++ leU16(ch) ++ leU32(rate) ++
      leU32(byteRate) ++ leU16(ch * bits / 8) ++ leU16(bits)
  }
  private def wavFile(chunks: Array[Byte]*): Array[Byte] = {
    val body = ascii("WAVE") ++ chunks.flatten
    ascii("RIFF") ++ leU32(body.length.toLong) ++ body
  }
  private def dataChunk(size: Long, payload: Array[Byte] = Array.emptyByteArray) =
    ascii("data") ++ leU32(size) ++ payload

  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    beU32(payload.length + 8L) ++ ascii(tpe) ++ payload
  /** Full-length (100-byte payload) version-0 mvhd per ISO 14496-12. */
  private def mvhdV0(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", Array[Byte](0, 0, 0, 0) ++ leU32pad(0) ++ leU32pad(0) ++
      beU32(timescale) ++ beU32(duration) ++ Array.fill[Byte](80)(0))
  private def leU32pad(v: Long) = beU32(v) // creation/modification times

  test("WAV: 44.1kHz stereo 16-bit with 1s of declared data") {
    // byteRate = 44100*2*2 = 176400; data size 176400 -> exactly 1000 ms.
    // Header-only (no payload bytes): duration derives from the declared
    // size, the crawl-prefix contract.
    val b = wavFile(fmtChunk(2, 44100, 16), dataChunk(176400))
    val m = WavMeta.scan(b)
    assert(m.toSeq[Any](org.apache.spark.sql.types.LongType) ==
      Seq(44100L, 2L, 16L, 1000L))
  }

  test("WAV: odd-size chunk before fmt is skipped with its pad byte") {
    val junk = ascii("LIST") ++ leU32(3) ++ Array[Byte](1, 2, 3, 0) // +pad
    val b = wavFile(junk, fmtChunk(1, 8000, 8), dataChunk(4000))
    assert(WavMeta.scan(b).getLong(0) == 8000L)
    assert(WavMeta.scan(b).getLong(3) == 500L) // 4000 B at 8000 B/s
  }

  test("WAV: prefix with fmt but no data keeps fields, NULL duration") {
    val b = wavFile(fmtChunk(1, 16000, 16))
    val m = WavMeta.scan(b)
    assert(m.getLong(0) == 16000L && m.getLong(1) == 1L && m.getLong(2) == 16L)
    assert(m.isNullAt(3))
  }

  test("WAV: streamed 0xFFFFFFFF data size and zero byteRate give NULL duration") {
    val streamed = wavFile(fmtChunk(2, 48000, 16), dataChunk(0xffffffffL))
    assert(streamed != null && WavMeta.scan(streamed).isNullAt(3))
    // byteRate 0: hand-build a fmt with zeroed byteRate
    val fmt0 = ascii("fmt ") ++ leU32(16) ++ leU16(1) ++ leU16(1) ++
      leU32(44100) ++ leU32(0) ++ leU16(2) ++ leU16(16)
    val m0 = WavMeta.scan(wavFile(fmt0, dataChunk(100)))
    assert(m0.getLong(0) == 44100L && m0.isNullAt(3))
  }

  test("WAV: a ~2^31 declared chunk size ends the walk instead of wrapping") {
    // a junk chunk declaring 0x80000000 bytes: the Long-arithmetic skip
    // must clamp to end-of-buffer, not wrap Int and loop on a negative i
    val junk = ascii("LIST") ++ leU32(0x80000000L)
    assert(WavMeta.scan(wavFile(junk, fmtChunk(1, 8000, 8))) == null)
  }

  test("WAV refusals: wrong magic, not WAVE, truncated fmt, short, null") {
    assert(WavMeta.scan(ascii("RIFX") ++ leU32(4) ++ ascii("WAVE")) == null)
    assert(WavMeta.scan(ascii("RIFF") ++ leU32(4) ++ ascii("AVI ")) == null)
    val truncFmt = ascii("RIFF") ++ leU32(20) ++ ascii("WAVE") ++
      ascii("fmt ") ++ leU32(16) ++ leU16(1) // size says 16, 2 present
    assert(WavMeta.scan(truncFmt) == null)
    assert(WavMeta.scan(ascii("RIFF")) == null)
    assert(WavMeta.scan(null) == null)
    assert(WavMeta.scan(Array.emptyByteArray) == null)
  }

  test("MP4: ftyp + moov/mvhd v0 parses duration and timescale") {
    val ftyp = box("ftyp", ascii("isom") ++ beU32(512) ++ ascii("isomiso2"))
    // timescale 600, duration 1200 units -> 2000 ms
    val b = ftyp ++ box("moov", mvhdV0(600, 1200))
    val m = Mp4Meta.scan(b)
    assert(m.getLong(0) == 2000L && m.getLong(1) == 600L)
  }

  test("MP4: mvhd v1 (64-bit duration) parses") {
    val v1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ beU64(0) ++ beU64(0) ++
      beU32(1000) ++ beU64(90061) ++ Array.fill[Byte](80)(0))
    val b = box("ftyp", ascii("isom")) ++ box("moov", v1)
    val m = Mp4Meta.scan(b)
    assert(m.getLong(0) == 90061L && m.getLong(1) == 1000L)
  }

  test("MP4: largesize (size==1) skip and size==0 final moov both walk") {
    val big = beU32(1) ++ ascii("free") ++ beU64(24) ++ Array.fill[Byte](8)(0)
    val moovPayload = mvhdV0(90000, 450000) // 5000 ms
    val lastMoov = beU32(0) ++ ascii("moov") ++ moovPayload // to-end box
    val m = Mp4Meta.scan(big ++ lastMoov)
    assert(m.getLong(0) == 5000L && m.getLong(1) == 90000L)
  }

  test("MP4: non-faststart prefix (mdat first, moov beyond buffer) is NULL") {
    // mdat declares 1 MiB but the crawl prefix ends after 16 bytes of it:
    // moov is genuinely absent from the prefix -> NULL, the honest answer
    val prefix = box("ftyp", ascii("isom")) ++
      beU32(1048576) ++ ascii("mdat") ++ Array.fill[Byte](16)(0)
    assert(Mp4Meta.scan(prefix) == null)
  }

  test("MP4: unknown duration sentinel keeps timescale, zero timescale refuses") {
    val unk = box("ftyp", ascii("isom")) ++
      box("moov", mvhdV0(600, 0xffffffffL))
    val m = Mp4Meta.scan(unk)
    assert(m.isNullAt(0) && m.getLong(1) == 600L)
    val ts0 = box("moov", mvhdV0(0, 100))
    assert(Mp4Meta.scan(ts0) == null)
  }

  test("MP4: hostile v1 durations (overflow / u64 high bit) give NULL, keep timescale") {
    // duration * 1000 would overflow Long: NULL, not a garbage negative
    def v1(dur: Array[Byte]) = box("ftyp", ascii("isom")) ++
      box("moov", box("mvhd", Array[Byte](1, 0, 0, 0) ++ beU64(0) ++ beU64(0) ++
        beU32(1000) ++ dur ++ Array.fill[Byte](80)(0)))
    val tooBig = Mp4Meta.scan(v1(beU64(Long.MaxValue / 1000L + 1L)))
    assert(tooBig.isNullAt(0) && tooBig.getLong(1) == 1000L)
    // u64 with the high bit set arrives negative through beU64: also NULL
    val highBit = Mp4Meta.scan(v1(Array[Byte](0x80.toByte, 0, 0, 0, 0, 0, 0, 1)))
    assert(highBit.isNullAt(0) && highBit.getLong(1) == 1000L)
    // boundary: exactly Long.MaxValue/1000 still computes
    val atBound = Mp4Meta.scan(v1(beU64(Long.MaxValue / 1000L)))
    assert(atBound.getLong(0) == Long.MaxValue / 1000L * 1000L / 1000L)
  }

  test("MP4 refusals: garbage, box smaller than header, short, null") {
    assert(Mp4Meta.scan(ascii("RIFF") ++ leU32(100) ++ ascii("WAVE")) == null)
    assert(Mp4Meta.scan(beU32(4) ++ ascii("moov")) == null) // size < header
    assert(Mp4Meta.scan(beU32(16)) == null)
    assert(Mp4Meta.scan(null) == null)
    assert(Mp4Meta.scan(Array.emptyByteArray) == null)
  }

  /** A genuine STREAMINFO block per the public FLAC spec: 10 bytes of
    * block/frame sizes, then the packed sr(20)/ch-1(3)/bits-1(5)/
    * total(36) fields, then the 16-byte MD5.
    */
  private def streamInfo(sr: Long, ch: Int, bits: Int, total: Long,
      last: Boolean = true): Array[Byte] = {
    val packed = new Array[Byte](8)
    packed(0) = (sr >> 12).toByte
    packed(1) = (sr >> 4).toByte
    packed(2) = (((sr & 0xf) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)).toByte
    packed(3) = ((((bits - 1) & 0xf) << 4) | ((total >> 32) & 0xf)).toByte
    packed(4) = (total >> 24).toByte
    packed(5) = (total >> 16).toByte
    packed(6) = (total >> 8).toByte
    packed(7) = total.toByte
    val payload = Array.fill[Byte](10)(0) ++ packed ++ Array.fill[Byte](16)(0)
    Array[Byte]((if (last) 0x80 else 0x00).toByte, 0, 0, 34) ++ payload
  }
  private def flacFile(blocks: Array[Byte]*): Array[Byte] =
    ascii("fLaC") ++ blocks.flatten

  test("FLAC: 44.1kHz stereo 16-bit with a known sample count") {
    // 44100 samples at 44100 Hz = exactly 1000 ms
    val m = FlacMeta.scan(flacFile(streamInfo(44100, 2, 16, 44100)))
    assert(m.toSeq[Any](org.apache.spark.sql.types.LongType) ==
      Seq(44100L, 2L, 16L, 1000L))
  }

  test("FLAC: padding block before STREAMINFO is walked over; total=0 gives NULL duration") {
    val pad = Array[Byte](0x01, 0, 0, 3, 0, 0, 0) // PADDING, 3 bytes
    val m = FlacMeta.scan(flacFile(pad, streamInfo(96000, 1, 24, 0)))
    assert(m.getLong(0) == 96000L && m.getLong(1) == 1L && m.getLong(2) == 24L)
    assert(m.isNullAt(3), "total-samples 0 is the spec's unknown sentinel")
  }

  test("FLAC: 36-bit total samples and the 8-channel/32-bit field maxima survive") {
    // total = 2^35 at 8 Hz: exercises the high nibble of the packed field
    val total = 1L << 35
    val m = FlacMeta.scan(flacFile(streamInfo(8, 8, 32, total)))
    assert(m.getLong(1) == 8L && m.getLong(2) == 32L)
    assert(m.getLong(3) == total * 1000L / 8L)
  }

  test("FLAC refusals: wrong magic, zero sample rate, truncated STREAMINFO, no STREAMINFO") {
    assert(FlacMeta.scan(ascii("fLaX") ++ streamInfo(44100, 2, 16, 1)) == null)
    assert(FlacMeta.scan(flacFile(streamInfo(0, 2, 16, 1))) == null)
    val trunc = flacFile(streamInfo(44100, 2, 16, 44100)).dropRight(20)
    assert(FlacMeta.scan(trunc) == null)
    val padOnly = Array[Byte](0x81.toByte, 0, 0, 2, 0, 0)
    assert(FlacMeta.scan(flacFile(padOnly)) == null)
    assert(FlacMeta.scan(null) == null)
    assert(FlacMeta.scan(Array.emptyByteArray) == null)
  }

  /** A genuine V1/V2 Layer-III frame header + optional Xing tag. Without
    * a Xing tag the frame pads to its computed length and a second valid
    * header follows — the corroboration the scanner demands (one header
    * alone is a pseudo-sync in arbitrary bytes). bitrate idx 9 =
    * 128 kbps (V1) / 80 kbps (V2).
    */
  private def mp3Frame(v1: Boolean, stereo: Boolean,
      xingFrames: Long = -1L): Array[Byte] = {
    val b1 = if (v1) 0xFB else 0xF3 // sync + version + layer III + no CRC
    val b3 = if (stereo) 0x00 else 0xC0
    val header = Array[Byte](0xFF.toByte, b1.toByte, 0x90.toByte, b3.toByte)
    val side = if (v1) { if (stereo) 32 else 17 } else { if (stereo) 17 else 9 }
    val body = Array.fill[Byte](side)(0)
    if (xingFrames >= 0)
      header ++ body ++ ascii("Xing") ++ beU32(1) ++ beU32(xingFrames) ++
        Array.fill[Byte](16)(0)
    else {
      val sr = if (v1) 44100L else 22050L
      val br = if (v1) 128L else 80L
      val frameLen = ((if (v1) 144000L else 72000L) * br / sr).toInt
      header ++ Array.fill[Byte](frameLen - 4)(0) ++ header ++
        Array.fill[Byte](16)(0)
    }
  }

  test("MP3: V1 stereo with a Xing frame count gives rate/channels/duration; bits NULL") {
    val m = Mp3Meta.scan(mp3Frame(v1 = true, stereo = true, xingFrames = 441))
    assert(m.getLong(0) == 44100L && m.getLong(1) == 2L)
    assert(m.isNullAt(2), "MP3 is lossy: bits_per_sample must be NULL")
    assert(m.getLong(3) == 441L * 1152L * 1000L / 44100L)
  }

  test("MP3: ID3v2 tag is skipped; V2 mono at 576 samples/frame; no Xing -> NULL duration") {
    val id3 = ascii("ID3") ++ Array[Byte](4, 0, 0, 0, 0, 0, 10) ++
      Array.fill[Byte](10)(0x41)
    val m = Mp3Meta.scan(id3 ++ mp3Frame(v1 = false, stereo = false,
      xingFrames = 100))
    assert(m.getLong(0) == 22050L && m.getLong(1) == 1L)
    assert(m.getLong(3) == 100L * 576L * 1000L / 22050L)
    val noXing = Mp3Meta.scan(mp3Frame(v1 = true, stereo = true))
    assert(noXing.getLong(0) == 44100L && noXing.isNullAt(3),
      "CBR-without-Xing duration must be NULL, not a byte-length guess")
  }

  test("MP3: junk before the first frame is scanned over; false syncs rejected") {
    // 0xFF followed by a reserved version (bits 01) must NOT parse
    val falseSync = Array[Byte](0xFF.toByte, 0xEB.toByte, 0x90.toByte, 0x00)
    val b = falseSync ++ Array.fill[Byte](100)(0x55) ++
      mp3Frame(v1 = true, stereo = true, xingFrames = 10)
    val m = Mp3Meta.scan(b)
    assert(m != null && m.getLong(0) == 44100L)
  }

  test("MP3: an uncorroborated lone header (pseudo-sync in junk) is rejected") {
    // a perfectly valid-LOOKING header followed by junk: no Xing at the
    // side-info offset, no second frame one frame-length away — the
    // scanner must refuse rather than classify arbitrary bytes as mp3
    val lone = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0x00) ++
      Array.fill[Byte](2000)(0x55)
    assert(Mp3Meta.scan(lone) == null)
  }

  test("MP3: a CRC-protected frame has 2 CRC bytes before the side info") {
    // protection bit 0 (0xFA): Xing sits at 4 + 2 + 32
    val header = Array[Byte](0xFF.toByte, 0xFA.toByte, 0x90.toByte, 0x00)
    val b = header ++ Array.fill[Byte](2 + 32)(0) ++
      ascii("Xing") ++ beU32(1) ++ beU32(441) ++ Array.fill[Byte](8)(0)
    val m = Mp3Meta.scan(b)
    assert(m != null && m.getLong(3) == 441L * 1152L * 1000L / 44100L)
  }

  test("MP3 refusals: garbage, free/bad bitrate, reserved samplerate, truncated ID3, null") {
    assert(Mp3Meta.scan(Array.fill[Byte](64)(0x41)) == null)
    // bitrate idx 0 (free) and 0xF (bad): both rejected
    assert(Mp3Meta.scan(Array[Byte](0xFF.toByte, 0xFB.toByte, 0x00, 0x00) ++
      Array.fill[Byte](40)(0)) == null)
    assert(Mp3Meta.scan(Array[Byte](0xFF.toByte, 0xFB.toByte, 0xF0.toByte, 0x00) ++
      Array.fill[Byte](40)(0)) == null)
    // samplerate idx 3 (reserved)
    assert(Mp3Meta.scan(Array[Byte](0xFF.toByte, 0xFB.toByte, 0x9C.toByte, 0x00) ++
      Array.fill[Byte](40)(0)) == null)
    // ID3 whose declared size swallows the whole buffer
    assert(Mp3Meta.scan(ascii("ID3") ++ Array[Byte](4, 0, 0, 0, 0, 0, 100)) == null)
    assert(Mp3Meta.scan(null) == null)
    assert(Mp3Meta.scan(Array.emptyByteArray) == null)
  }

  test("MP3: chained ID3v2 tags and the v2.4 footer flag are all skipped") {
    // tag 1 declares the footer flag (byte 5 bit 4): body 20 + footer 10;
    // tag 2 (a tagger's rewrite) follows, then the real first frame
    val tag1 = ascii("ID3") ++ Array[Byte](4, 0, 0x10, 0, 0, 0, 20) ++
      Array.fill[Byte](20)(0x41) ++ ascii("3DI") ++ Array[Byte](4, 0, 0x10, 0, 0, 0, 20)
    val tag2 = ascii("ID3") ++ Array[Byte](3, 0, 0, 0, 0, 0, 12) ++
      Array.fill[Byte](12)(0x42)
    val m = Mp3Meta.scan(tag1 ++ tag2 ++
      mp3Frame(v1 = true, stereo = true, xingFrames = 441))
    assert(m != null && m.getLong(0) == 44100L && m.getLong(1) == 2L)
    assert(m.getLong(3) == 441L * 1152L * 1000L / 44100L)
    // footer flag whose extra 10 bytes run past the buffer: refuse, not throw
    assert(Mp3Meta.scan(ascii("ID3") ++ Array[Byte](4, 0, 0x10, 0, 0, 0, 50) ++
      Array.fill[Byte](52)(0)) == null)
  }

  // --- Ogg/Opus builders (RFC 3533 framing + RFC 7845 ID header) ---------
  private def le64(v: Long) = leU32(v & 0xffffffffL) ++ leU32(v >>> 32)
  private def oggPage(headerType: Int, granule: Long,
      payload: Array[Byte]): Array[Byte] =
    ascii("OggS") ++ Array[Byte](0, headerType.toByte) ++ le64(granule) ++
      Array.fill[Byte](12)(0) /* serial+seq+crc */ ++
      Array[Byte](1, payload.length.toByte) ++ payload
  private def opusHead(ch: Int, preSkip: Int, inputRate: Long): Array[Byte] =
    ascii("OpusHead") ++ Array[Byte](1, ch.toByte) ++ leU16(preSkip) ++
      leU32(inputRate) ++ leU16(0) ++ Array[Byte](0)

  test("Opus: ID header fields + EOS granule give rate/channels/duration; bits NULL") {
    val b = oggPage(0x02, 0, opusHead(2, 312, 44100)) ++
      oggPage(0x04, 48312, Array[Byte](0x41))
    val m = OggOpusMeta.scan(b)
    assert(m != null && m.getLong(0) == 44100L && m.getLong(1) == 2L)
    assert(m.isNullAt(2), "Opus is lossy: bits_per_sample must be NULL")
    assert(m.getLong(3) == 1000L, "(granule - preSkip) at the spec's fixed 48 kHz")
  }

  test("Opus: zero input rate reports the 48 kHz decode rate; prefix gives NULL duration") {
    val m0 = OggOpusMeta.scan(oggPage(0x02, 0, opusHead(1, 0, 0)))
    assert(m0 != null && m0.getLong(0) == 48000L && m0.getLong(1) == 1L)
    assert(m0.isNullAt(3), "no EOS page in the prefix: duration unknown, not guessed")
    // -1 granule on the EOS page (no packet ends there) also stays NULL
    val mNeg = OggOpusMeta.scan(oggPage(0x02, 0, opusHead(1, 0, 0)) ++
      oggPage(0x04, -1L, Array[Byte](0)))
    assert(mNeg != null && mNeg.isNullAt(3))
  }

  test("Opus refusals: wrong magics, bad version, zero channels, short, null") {
    assert(OggOpusMeta.scan(ascii("OggX") ++ Array.fill[Byte](60)(0)) == null)
    // Ogg page version must be 0
    val badVer = oggPage(0x02, 0, opusHead(2, 0, 48000))
    badVer(4) = 1
    assert(OggOpusMeta.scan(badVer) == null)
    // first packet is not OpusHead (e.g. Vorbis stream)
    assert(OggOpusMeta.scan(oggPage(0x02, 0,
      ascii("vorbis") ++ Array.fill[Byte](20)(0))) == null)
    // incompatible major version nibble
    val badMajor = oggPage(0x02, 0, opusHead(2, 0, 48000))
    badMajor(27 + 1 + 8) = 0x10
    assert(OggOpusMeta.scan(badMajor) == null)
    assert(OggOpusMeta.scan(oggPage(0x02, 0, opusHead(0, 0, 48000))) == null,
      "channel count 0 is invalid per RFC 7845")
    assert(OggOpusMeta.scan(ascii("OggS")) == null)
    assert(OggOpusMeta.scan(null) == null)
    assert(OggOpusMeta.scan(Array.emptyByteArray) == null)
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val wav = wavFile(fmtChunk(2, 44100, 16), dataChunk(176400))
    val mp4 = box("ftyp", ascii("isom")) ++ box("moov", mvhdV0(600, 1200))
    val flac = flacFile(streamInfo(48000, 2, 16, 96000))
    val mp3 = mp3Frame(v1 = true, stereo = true, xingFrames = 441)
    val opus = oggPage(0x02, 0, opusHead(2, 312, 44100)) ++
      oggPage(0x04, 48312, Array[Byte](0x41))
    val rows = Seq((1L, wav), (2L, mp4), (3L, ascii("not media")),
        (4L, flac), (5L, mp3), (6L, opus))
      .toDF("id", "content")
      .select($"id",
        GraftFunctions.wavMeta($"content").as("w"),
        GraftFunctions.mp4Meta($"content").as("m"),
        GraftFunctions.flacMeta($"content").as("f"),
        GraftFunctions.mp3Meta($"content").as("p"),
        GraftFunctions.opusMeta($"content").as("o"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[java.lang.Long](1) == Seq(44100L, 2L, 16L, 1000L))
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).isNullAt(1))
    assert(rows(1).getSeq[java.lang.Long](2) == Seq(2000L, 600L))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3) &&
      rows(2).isNullAt(4))
    assert(rows(3).getSeq[java.lang.Long](3) == Seq(48000L, 2L, 16L, 2000L))
    assert(rows(3).isNullAt(1) && rows(3).isNullAt(2))
    assert(rows(4).getSeq[java.lang.Long](4) ==
      Seq(44100L, 2L, null, 441L * 1152L * 1000L / 44100L))
    assert(rows(5).getSeq[java.lang.Long](5) == Seq(44100L, 2L, null, 1000L))
    assert(rows(5).isNullAt(1) && rows(5).isNullAt(2) && rows(5).isNullAt(3))
  }
}
