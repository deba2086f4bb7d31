package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the WAV sample walk + energy-envelope hash
  * ([[WavEnergyHash]]): envelope comparisons, cross-multiplied unequal
  * windows, negative-sample energy, chunk-walk robustness, the refusal
  * contract, and interpreted/codegen parity.
  */
class WavEnergyHashSpec extends AnyFunSuite {

  /** Mono 16-bit PCM WAV around the given samples, with optional extra
    * chunks before `data` (crawled WAVs carry LIST/INFO chunks).
    */
  private def wav(samples: Array[Int], channels: Int = 1, bits: Int = 16,
      fmt: Int = 1, preChunks: Array[Byte] = Array.emptyByteArray)
      : Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer
      .allocate(44 + preChunks.length + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
      .putInt(36 + preChunks.length + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(fmt.toShort).putShort(channels.toShort)
      .putInt(8000).putInt(16000).putShort(2).putShort(bits.toShort)
    buf.put(preChunks)
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  /** 65 windows × 8 constant samples walking from 10000 per `bits`. */
  private def walkSamples(bits: Long): Array[Int] = {
    var v = 10000
    (0 to 64).flatMap { w =>
      if (w > 0) v += (if (((bits >> (w - 1)) & 1L) == 1L) -100 else 100)
      Array.fill(8)(v)
    }.toArray
  }

  test("the envelope walk reproduces the intended bits exactly") {
    for (bits <- Seq(0L, -1L, 0xAAAAAAAAAAAAAAAAL, 0x123456789ABCDEF0L)) {
      assert(WavEnergyHash.scan(wav(walkSamples(bits))) == bits,
        s"pattern $bits")
    }
  }

  test("negative samples contribute |sample| energy") {
    // same magnitudes, alternating sign per sample — envelope unchanged
    val s = walkSamples(0x0F0F0F0F0F0F0F0FL)
    val signed = s.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v else -v }
    assert(WavEnergyHash.scan(wav(signed)) == 0x0F0F0F0F0F0F0F0FL)
  }

  test("unequal windows cross-multiply exactly (n = 66: one double window)") {
    // 66 samples → window 0 gets 2 samples, the rest 1 (partition
    // bounds floor(w·66/65)). Values chosen so the MEAN comparisons are
    // unambiguous and mirrorable by hand: strictly decreasing means
    // set every bit.
    val vals = (0 until 66).map(i => 30000 - i * 400).toArray
    assert(WavEnergyHash.scan(wav(vals)) == -1L)
  }

  test("extra chunks before data are walked over, not refused") {
    val pre = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pre.put("LIST".getBytes("US-ASCII")).putInt(4)
      .put("INFO".getBytes("US-ASCII"))
    val s = walkSamples(42L)
    assert(WavEnergyHash.scan(wav(s, preChunks = pre.array())) == 42L)
  }

  test("a trailing stale fmt chunk cannot veto an already-valid parse (r14)") {
    // WavMeta's loop contract mirrored: once fmt + data are both seen the
    // walk stops, so bytes WavMeta parses must also hash
    val s = walkSamples(0x1234L)
    val base = wav(s)
    val staleFmt = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    staleFmt.put("fmt ".getBytes("US-ASCII")).putInt(4).putInt(0) // short+garbage
    val withTrailer = base ++ staleFmt.array()
    assert(WavEnergyHash.scan(withTrailer) == 0x1234L)
    assert(WavMeta.scan(withTrailer) != null, "premise: WavMeta accepts these bytes")
  }

  test("the FIRST fmt decides: a second fmt before data cannot overwrite (r15)") {
    // a second, would-refuse fmt chunk (IEEE float) arriving BETWEEN the
    // governing fmt and data must not flip the verdict — the branch is
    // guarded on first-seen in BOTH walks, so they agree on which fmt
    // governs the same bytes
    val floatFmt = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    floatFmt.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(3).putShort(2).putInt(44100).putInt(352800)
      .putShort(8).putShort(32)
    val s = walkSamples(0xBEEFL)
    assert(WavEnergyHash.scan(wav(s, preChunks = floatFmt.array())) == 0xBEEFL)
    val meta = WavMeta.scan(wav(s, preChunks = floatFmt.array()))
    assert(meta != null && meta.getLong(0) == 8000L,
      "WavMeta must report the FIRST fmt's sample rate, not the imposter's")
  }

  test("refusals: stereo, 8-bit, non-PCM, short data, junk, truncation") {
    val s = walkSamples(7L)
    assert(WavEnergyHash.scan(wav(s)) != null)
    assert(WavEnergyHash.scan(null) == null)
    assert(WavEnergyHash.scan(Array.emptyByteArray) == null)
    assert(WavEnergyHash.scan("not audio".getBytes) == null)
    assert(WavEnergyHash.scan(wav(s, channels = 2)) == null)
    assert(WavEnergyHash.scan(wav(s, bits = 8)) == null)
    assert(WavEnergyHash.scan(wav(s, fmt = 3)) == null) // IEEE float
    assert(WavEnergyHash.scan(wav(Array.fill(64)(100))) == null) // < 65
    val good = wav(s)
    assert(WavEnergyHash.scan(good.take(50)) == null)
  }

  test("interpreted eval and codegen agree (the expression contract)") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val bits = 0x5A5A5A5A5A5A5A5AL
    val rows = Seq((1L, wav(walkSamples(bits))), (2L, Array[Byte](3, 1)))
      .toDF("id", "content")
      .select($"id", GraftFunctions.wavEnergyHash($"content").as("eh"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == bits)
    assert(rows(1).isNullAt(1))
  }
}
