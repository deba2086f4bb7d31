package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ExpressionColumn

/** graft's native expressions as typed Columns: each constructor wraps
  * its Catalyst case class over the argument Columns through
  * [[ExpressionColumn]], so a caller needs no session, no function
  * registry and no SQL string. Scalar parameters are plain Scala values,
  * range-checked by the case classes' own `require`s. The plan shows each
  * expression under its `prettyName` (`graft_cosine`, `graft_bmp_dhash`,
  * …).
  */
object GraftFunctions {

  /** Fixed seeded permutation constants for the 64-perm MinHash (a < 2³¹
    * keeps the affine product inside a long; see [[MinHashSignature]]).
    */
  val (minhashA, minhashB): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    (Seq.fill(64)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Seq.fill(64)(rnd.nextInt(Int.MaxValue).toLong))
  }

  // vectors and sketches
  def cosine(a: Column, b: Column): Column =
    ExpressionColumn.map(a, b)(CosineSimilarity(_, _))
  def nearestCentroid(v: Column, centroids: Column): Column =
    ExpressionColumn.map(v, centroids)(NearestCentroid(_, _))
  def minHash(hashes: Column): Column =
    ExpressionColumn.map(hashes)(MinHashSignature(_, minhashA, minhashB))
  def simHash32(weighted: Column): Column =
    ExpressionColumn.map(weighted)(SimHashSignature(_, 32))
  def lshKeys(v: Column, tables: Int, bits: Int): Column =
    ExpressionColumn.map(v)(HyperplaneLshKeys(_, tables, bits))
  def lshProbeKeys(v: Column, tables: Int, bits: Int, probes: Int): Column =
    ExpressionColumn.map(v)(HyperplaneLshProbeKeys(_, tables, bits, probes))
  def sigMatches(a: Column, b: Column): Column =
    ExpressionColumn.map(a, b)(SigMatchCount(_, _))
  def bloomContains(filter: Column, key: Column): Column =
    ExpressionColumn.map(filter, key)(BloomContains(_, _))
  def cmsCount(sketch: Column, key: Column): Column =
    ExpressionColumn.map(sketch, key)(CmsCount(_, _))

  // text
  def shingleHashes(text: Column): Column =
    ExpressionColumn.map(text)(ShingleHashes(_))
  def plainDouble(d: Column): Column =
    ExpressionColumn.map(d)(PlainDoubleString(_))

  // image containers
  def jpegDims(bytes: Column): Column = ExpressionColumn.map(bytes)(JpegDims(_))
  def jpegExifOrientation(bytes: Column): Column =
    ExpressionColumn.map(bytes)(JpegExifOrientation(_))
  def webpDims(bytes: Column): Column = ExpressionColumn.map(bytes)(WebpDims(_))
  def bmpDhash(bytes: Column): Column = ExpressionColumn.map(bytes)(BmpDhash(_))
  def pngDhash(bytes: Column): Column = ExpressionColumn.map(bytes)(PngDhash(_))
  def gifDhash(bytes: Column): Column = ExpressionColumn.map(bytes)(GifDhash(_))
  def bmpResize(bytes: Column, targetW: Int, targetH: Int): Column =
    ExpressionColumn.map(bytes)(BmpResize(_, targetW, targetH))
  def gridLuma(bytes: Column): Column =
    ExpressionColumn.map(bytes)(GridLumaCells(_))

  // audio and video containers
  def wavEnergyHash(bytes: Column): Column =
    ExpressionColumn.map(bytes)(WavEnergyHash(_))
  def y4mEnvelopeHash(bytes: Column): Column =
    ExpressionColumn.map(bytes)(Y4mEnvelopeHash(_))
  def mediaEnvelope(bytes: Column): Column =
    ExpressionColumn.map(bytes)(MediaEnvelope(_))
  def wavMeta(bytes: Column): Column = ExpressionColumn.map(bytes)(WavMeta(_))
  def mp4Meta(bytes: Column): Column = ExpressionColumn.map(bytes)(Mp4Meta(_))
  def flacMeta(bytes: Column): Column = ExpressionColumn.map(bytes)(FlacMeta(_))
  def mp3Meta(bytes: Column): Column = ExpressionColumn.map(bytes)(Mp3Meta(_))
  def opusMeta(bytes: Column): Column = ExpressionColumn.map(bytes)(OggOpusMeta(_))
  def mkvMeta(bytes: Column): Column = ExpressionColumn.map(bytes)(MkvMeta(_))
}
