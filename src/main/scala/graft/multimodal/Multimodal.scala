package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Multimodal (image/audio/video) column plumbing for a training-data
  * pipeline: media assets are opaque `binary` columns travelling next to a
  * typed metadata struct, and decode/feature-extract runs as a batched
  * per-partition transform — the JVM twin of a batched pandas UDF
  * (`mapInPandas`): one iterator in, one iterator out, executed once per
  * partition on the executors, never on the driver.
  *
  * The DECODE KERNEL IS REAL for every format the engine owns a native
  * decode for (round 17 — [[RealDecoder]]): BMP/PNG/GIF pixels feed the
  * 72-cell grid-luma vector ([[graft.functions.GridLumaCells]]), PCM WAV
  * samples and Y4M frames feed the 65-window envelope
  * ([[graft.functions.MediaEnvelope]]), box-resampled to the requested
  * lane count. [[FakeDecoder]] remains ONLY as the documented fallback
  * for bytes no native decode accepts (e.g. JPEG pixels — the reasoned
  * NO-GO in SCALE.md: codec-library formats keep deterministic
  * pseudo-features until the library escrow path lands), so the
  * surrounding plumbing — schema, null handling, batch shape, partition
  * parallelism, column pruning — keeps working over mixed crawls.
  */
object Multimodal {

  /** Typed metadata carried beside the opaque bytes. */
  val metaSchema: StructType = StructType(Seq(
    StructField("kind", StringType),           // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate_hz", IntegerType),
    StructField("duration_ms", LongType),
  ))

  /** Canonical asset schema: id + bytes + metadata struct. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("content", BinaryType),
    StructField("meta", metaSchema),
  ))

  /** STUB decode kernel — the documented FALLBACK for bytes no native
    * decode accepts (codec-library formats: JPEG pixels, compressed
    * audio/video — SCALE.md's NO-GO note). Pure and deterministic:
    * folds the bytes through a 31-bit rolling hash per feature lane,
    * normalized to [0, 1). A library-backed decoder replaces exactly
    * this function; every natively decodable format already routes
    * around it through [[RealDecoder]].
    */
  object FakeDecoder {
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      if (bytes == null) return Array.fill(dim)(0f)
      val acc = new Array[Long](dim)
      var i = 0
      while (i < bytes.length) {
        val lane = i % dim
        acc(lane) = (acc(lane) * 65599 + (bytes(i) & 0xff)) % 2147483647L
        i += 1
      }
      acc.map(a => (a.toDouble / 2147483647.0).toFloat)
    }
  }

  /** REAL decode kernel (round 17): signature-dispatched native decode
    * to the format's natural feature vector — BMP/PNG/GIF pixels to
    * the 72-cell grid-luma vector ([[graft.functions.GridLumaCells]]),
    * WAV samples / Y4M frames to the 65-window envelope
    * ([[graft.functions.MediaEnvelope]]) — then box-resampled to `dim`
    * lanes by the decode family's own integer partition rule (lane i
    * averages source indices [i·L/dim, (i+1)·L/dim); when dim > L the
    * empty-lane case replicates the nearest source value). Bytes no
    * native decode accepts fall back to [[FakeDecoder]], keeping the
    * kernel total over adversarial crawls.
    */
  object RealDecoder {
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      if (bytes == null) return Array.fill(dim)(0f)
      var v = graft.functions.GridLumaCells.scan(bytes)
      if (v == null) v = graft.functions.MediaEnvelope.scan(bytes)
      if (v == null) return FakeDecoder.features(bytes, dim)
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        val a = (i.toLong * v.length / dim).toInt
        val b = ((i + 1).toLong * v.length / dim).toInt
        if (b <= a) out(i) = v(math.min(a, v.length - 1)).toFloat
        else {
          var s = 0.0
          var j = a
          while (j < b) { s += v(j); j += 1 }
          out(i) = (s / (b - a)).toFloat
        }
        i += 1
      }
      out
    }
  }

  /** Feature extraction over a DataFrame with [[assetSchema]] columns:
    * appends `features: array<float>` via [[RealDecoder]] (native
    * decodes first, stub fallback). Runs via `mapPartitions` — batched,
    * executor-side, schema declared up front so downstream plans stay
    * columnar. Input column order is resolved by name, so the input may
    * carry extra columns in any order.
    *
    * SCALE CONTRACT (advice r17): the raw lanes mix per-modality scales
    * — grid-luma cells are 0–255, envelope lanes are raw window energy
    * sums up to ~2³¹, stub-fallback lanes are [0, 1) — so the DEFAULT
    * output is only meaningful under scale-INVARIANT distances (cosine,
    * the d88/d89 consumer). For Euclidean consumers over a mixed crawl
    * (kNN, k-means) pass `normalize = true`: each vector is divided by
    * its own L2 norm, landing every modality's leg on the unit sphere
    * (all-zero vectors — absent bytes — stay all-zero).
    */
  def extractFeatures(df: DataFrame, dim: Int = 8,
      normalize: Boolean = false): DataFrame = {
    // fail-fast on a clash (imageDimsPlan's rule, r18 review): appending
    // a second `features` field would surface later as an
    // ambiguous-reference AnalysisException far from the cause
    require(!df.columns.contains("features"),
      "input already carries a 'features' column — rename or drop it first")
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val contentIdx = df.schema.fieldIndex("content")
    implicit val enc = Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.get(contentIdx).asInstanceOf[Array[Byte]]
        var f = RealDecoder.features(bytes, dim)
        if (normalize) {
          var s = 0.0
          var i = 0
          while (i < f.length) { s += f(i).toDouble * f(i); i += 1 }
          if (s > 0) {
            val inv = 1.0 / math.sqrt(s)
            val g = new Array[Float](f.length)
            i = 0
            while (i < f.length) { g(i) = (f(i) * inv).toFloat; i += 1 }
            f = g
          }
        }
        Row.fromSeq(r.toSeq :+ f.toSeq)
      }
    }
  }

  // --- REAL container-header decoding (round 8) ---------------------------
  // Not everything needs the stub: image container DIMENSIONS live at fixed
  // offsets in PNG/GIF/BMP headers, so they parse as pure codegen'd byte
  // arithmetic (substring-on-binary + hex + conv) — no UDF, no library, no
  // mapPartitions. This is the metadata-backfill pass a multimodal pipeline
  // runs over billions of crawled images before any pixel decode.

  /** Unsigned byte at 1-based `pos` of a binary column. */
  private def u8(c: org.apache.spark.sql.Column, pos: Int) =
    conv(hex(substring(c, pos, 1)), 16, 10).cast("long")
  /** Big-endian u32 at `pos` (PNG's network byte order). */
  private def beU32(c: org.apache.spark.sql.Column, pos: Int) =
    conv(hex(substring(c, pos, 4)), 16, 10).cast("long")
  /** Little-endian u16 / u32 / s32-as-abs at `pos` (GIF / BMP). */
  private def leU16(c: org.apache.spark.sql.Column, pos: Int) =
    u8(c, pos) + u8(c, pos + 1) * 256L
  private def leU32(c: org.apache.spark.sql.Column, pos: Int) =
    u8(c, pos) + u8(c, pos + 1) * 256L +
      u8(c, pos + 2) * 65536L + u8(c, pos + 3) * 16777216L
  private def leS32Abs(c: org.apache.spark.sql.Column, pos: Int) = {
    val u = u8(c, pos) + u8(c, pos + 1) * 256L +
      u8(c, pos + 2) * 65536L + u8(c, pos + 3) * 16777216L
    // BMP stores top-down bitmaps as NEGATIVE height (two's complement)
    when(u > 2147483647L, lit(4294967296L) - u).otherwise(u)
  }

  /** Appends `img_format` / `img_width` / `img_height` parsed from the
    * bytes of `bytesCol` — real decoding of the real container layouts
    * (all public file-format specs):
    *   - PNG:  8-byte signature, IHDR width/height big-endian at 17/21
    *   - GIF:  "GIF8?a", logical screen u16 little-endian at 7/9
    *   - BMP:  "BM", BITMAPINFOHEADER s32 little-endian at 19/23
    *     (negative = top-down; |height| is reported)
    *   - JPEG: FF D8 SOI; dimensions sit behind a variable-offset marker
    *     chain, so the walk runs in the native codegen'd
    *     [[graft.functions.JpegDims]] expression (§2.2 ladder step (b))
    *   - WebP: RIFF-framed with three bit-packed dimension layouts
    *     (VP8/VP8L/VP8X) behind a chunk chain — the second walk-shaped
    *     format, in the native [[graft.functions.WebpDims]] expression
    * Unknown or truncated content yields NULLs, never an error — this runs
    * before any validity filter.
    */
  def imageDimsPlan(df: DataFrame, bytesCol: String = "content"): DataFrame = {
    // fail fast on name clashes (ShardedOrder.rankAndPrefixSum discipline):
    // withColumn would silently overwrite pre-existing caller columns
    val reserved = Seq("img_format", "img_width", "img_height",
      "img_orientation", "__graft_jd", "__graft_wd")
    val clashes = df.columns.toSet intersect reserved.toSet
    require(clashes.isEmpty,
      s"input columns collide with imageDimsPlan outputs/internals: " +
        s"${clashes.mkString(", ")} — rename them first")
    val c = col(bytesCol)
    val len = length(c)
    val isPng = len >= 24 && hex(substring(c, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(c, 13, 4)) === "49484452"
    val isGif = len >= 10 &&
      (hex(substring(c, 1, 6)) === "474946383961" || // GIF89a
        hex(substring(c, 1, 6)) === "474946383761")  // GIF87a
    // the 'BM' magic alone also matches 12-byte BITMAPCOREHEADER bitmaps,
    // whose dims are u16 at 19/21 — gate on the DIB header size (u32 at
    // 15): 40+ (INFO/V4/V5) is the s32-at-19/23 layout parsed here; CORE
    // files fall through to NULLs rather than garbage
    val isBmp = len >= 26 && hex(substring(c, 1, 2)) === "424D" &&
      leU32(c, 15) >= 40L
    // the marker-chain walk scans the bytes: evaluate it ONCE into a
    // column (CaseWhen branches are outside codegen's subexpression
    // elimination — inlining it would re-scan per output column)
    val jd = col("__graft_jd")
    val isJpeg = hex(substring(c, 1, 2)) === "FFD8" && jd.isNotNull
    // WebP (round 13): RIFF-framed but variable-layout like JPEG — the
    // chunk walk runs once in the native [[graft.functions.WebpDims]]
    // expression; NULL result means "not WebP / truncated / corrupt"
    val wd = col("__graft_wd")
    val isWebp = wd.isNotNull
    df.withColumn("__graft_jd", GraftFunctions.jpegDims(c))
      .withColumn("__graft_wd", GraftFunctions.webpDims(c))
      .withColumn("img_format",
        when(isPng, "png").when(isGif, "gif").when(isBmp, "bmp")
          .when(isWebp, "webp").when(isJpeg, "jpeg"))
      .withColumn("img_width",
        when(isPng, beU32(c, 17)).when(isGif, leU16(c, 7))
          .when(isBmp, leS32Abs(c, 19))
          .when(isWebp, element_at(wd, 1).cast("long"))
          .when(isJpeg, element_at(jd, 1).cast("long")))
      .withColumn("img_height",
        when(isPng, beU32(c, 21)).when(isGif, leU16(c, 9))
          .when(isBmp, leS32Abs(c, 23))
          .when(isWebp, element_at(wd, 2).cast("long"))
          .when(isJpeg, element_at(jd, 2).cast("long")))
      // EXIF orientation (1–8; NULL = absent): the field a resize stage
      // must honor before touching pixels — JPEG-only by construction
      // (the other formats carry no standard orientation)
      .withColumn("img_orientation",
        when(isJpeg, GraftFunctions.jpegExifOrientation(c).cast("long")))
      .drop("__graft_jd", "__graft_wd")
  }

  /** Appends `media_format` / `audio_sample_rate_hz` / `audio_channels` /
    * `audio_bits` / `media_duration_ms` / `media_video_width` /
    * `media_video_height` parsed from container header bytes — the
    * audio/video sibling of [[imageDimsPlan]], backfilling
    * [[metaSchema]]'s `sample_rate_hz`/`duration_ms` fields from the real
    * header layouts (public RIFF/WAVE, ISO BMFF and — round 13 —
    * RFC 8794 EBML/Matroska specs; the chunk/box/element walks run in
    * the native codegen'd [[graft.functions.WavMeta]] /
    * [[graft.functions.Mp4Meta]] / [[graft.functions.MkvMeta]]
    * expressions). Unknown or truncated content yields NULLs, never an
    * error; an MP4 whose `moov` trails the media data (non-faststart)
    * yields NULL duration from a prefix — the honest answer, see
    * [[graft.functions.Mp4Meta]]. The video dimension columns are
    * Matroska-family only for now (the MP4 walk reads mvhd, not tkhd).
    */
  def mediaMetaPlan(df: DataFrame, bytesCol: String = "content"): DataFrame = {
    val reserved = Seq("media_format", "audio_sample_rate_hz",
      "audio_channels", "audio_bits", "media_duration_ms",
      "media_video_width", "media_video_height",
      "__graft_wav", "__graft_mp4", "__graft_flac", "__graft_mp3",
      "__graft_opus", "__graft_mkv")
    val clashes = df.columns.toSet intersect reserved.toSet
    require(clashes.isEmpty,
      s"input columns collide with mediaMetaPlan outputs/internals: " +
        s"${clashes.mkString(", ")} — rename them first")
    // like imageDimsPlan's jpeg walk: evaluate each scan ONCE into a
    // column — CaseWhen branches sit outside codegen's subexpression
    // elimination, so inlining would re-walk the bytes per output column
    val wav = col("__graft_wav")
    val mp4 = col("__graft_mp4")
    val flac = col("__graft_flac")
    val mp3 = col("__graft_mp3")
    val opus = col("__graft_opus")
    val mkv = col("__graft_mkv")
    // the audio scanners share one output shape, so the audio columns are
    // a coalesce chain rather than a schema fork; the mp3 sniff only
    // counts when the strict mp4 parse didn't claim the asset (above).
    // mkv's walk returns the video-capable 6-field shape and is wired
    // per-field below instead
    // the mp3 frame sniffer yields to BOTH strict container parses: an
    // MKV whose lacing stores contiguous MPEG frames (or an MP4 whose
    // mdat embeds them) must take its audio columns from the container
    // walk, not the sniff — media_format and the audio columns may never
    // disagree about which parse won (review finding, round 13)
    val audio = coalesce(wav, flac, opus, when(mp4.isNull && mkv.isNull, mp3))
    val bytes = col(bytesCol)
    df.withColumn("__graft_wav", GraftFunctions.wavMeta(bytes))
      .withColumn("__graft_flac", GraftFunctions.flacMeta(bytes))
      .withColumn("__graft_opus", GraftFunctions.opusMeta(bytes))
      .withColumn("__graft_mp3", GraftFunctions.mp3Meta(bytes))
      .withColumn("__graft_mp4", GraftFunctions.mp4Meta(bytes))
      .withColumn("__graft_mkv", GraftFunctions.mkvMeta(bytes))
      // strict container parses (magic-anchored) outrank the mp3 frame
      // sniffer: an MP4 whose mdat embeds MPEG audio frames must still
      // classify as mp4
      .withColumn("media_format",
        when(wav.isNotNull, "wav").when(flac.isNotNull, "flac")
          .when(opus.isNotNull, "opus")
          .when(mkv.isNotNull,
            when(element_at(mkv, 6) === 2L, "webm").otherwise("mkv"))
          .when(mp4.isNotNull, "mp4").when(mp3.isNotNull, "mp3"))
      .withColumn("audio_sample_rate_hz",
        when(audio.isNotNull, element_at(audio, 1))
          .when(mkv.isNotNull, element_at(mkv, 2)))
      .withColumn("audio_channels",
        when(audio.isNotNull, element_at(audio, 2))
          .when(mkv.isNotNull, element_at(mkv, 3)))
      .withColumn("audio_bits",
        when(audio.isNotNull, element_at(audio, 3)))
      .withColumn("media_duration_ms",
        when(audio.isNotNull, element_at(audio, 4))
          .when(mkv.isNotNull, element_at(mkv, 1))
          .when(mp4.isNotNull, element_at(mp4, 1)))
      .withColumn("media_video_width",
        when(mkv.isNotNull, element_at(mkv, 4)))
      .withColumn("media_video_height",
        when(mkv.isNotNull, element_at(mkv, 5)))
      .drop("__graft_wav", "__graft_mp4", "__graft_flac", "__graft_mp3",
        "__graft_opus", "__graft_mkv")
  }

  /** Video frame sampling plan: for each asset, the timestamps (ms) at
    * which frames would be decoded, one row per frame — pure declarative
    * `sequence` + `explode`, so Catalyst prunes and parallelizes it like
    * any other plan. The actual frame decode would run through
    * [[extractFeatures]] on the per-frame byte slices.
    */
  def frameSamplePlan(df: DataFrame, everyMs: Long): DataFrame =
    df.filter(col("meta.kind") === "video" && col("meta.duration_ms") > 0)
      .select(col("asset_id"),
        explode(expr(s"sequence(0L, meta.duration_ms - 1, ${everyMs}L)"))
          .as("frame_ts_ms"))

  /** Resize planning as metadata arithmetic (the byte-level resize lives
    * behind the decode stub): scales width/height preserving aspect so the
    * longer side equals `target`, never upscaling.
    */
  def resizeMetaPlan(df: DataFrame, target: Int): DataFrame = {
    // greatest(..., 1) guards dimensionless (audio) rows — ANSI mode turns
    // a divide-by-zero into a job abort, not a null.
    val longSide = greatest(col("meta.width"), col("meta.height"), lit(1))
    val scale = least(lit(1.0), lit(target).cast("double") / longSide.cast("double"))
    df.withColumn("resized_width",
        floor(col("meta.width").cast("double") * scale).cast("int"))
      .withColumn("resized_height",
        floor(col("meta.height").cast("double") * scale).cast("int"))
  }
}
