package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.GraftShim

/** Column-API entry points for the custom Catalyst expressions. */
object GraftFunctions {

  private def col(e: Expression): Column = GraftShim.column(e)
  private def expr(c: Column): Expression = GraftShim.expression(c)

  def wordShingles(tokens: Column, n: Int): Column =
    col(WordShingles(expr(tokens), n))

  def maxTrigramCount(tokens: Column): Column =
    col(MaxTrigramCount(expr(tokens)))

  def minhashSig(shingles: Column, k: Int, p: Long): Column =
    col(MinHashSig(expr(shingles), k, p))

  def simhash64(tokens: Column): Column =
    col(SimHash64(expr(tokens)))

  def lowerTokens(text: Column): Column =
    col(LowerTokens(expr(text)))

  def md5Prefix32(bytes: Column): Column =
    col(Md5Prefix32(expr(bytes)))

  def md5Prefix60(bytes: Column): Column =
    col(Md5Prefix60(expr(bytes)))

  def dotDouble(a: Column, b: Column): Column =
    col(DotDouble(expr(a), expr(b)))

  def lshBucket(vec: Column, nPlanes: Int): Column =
    col(LshBucket(expr(vec), nPlanes))

  def sqDistDouble(a: Column, b: Column): Column =
    col(SqDistDouble(expr(a), expr(b)))

  def sumSqDouble(a: Column): Column =
    col(SumSqDouble(expr(a)))

  def deflateRatio(text: Column): Column =
    col(DeflateRatio(expr(text)))

  def nearestCentroid(vec: Column, centroids: Column): Column =
    col(NearestCentroid(expr(vec), expr(centroids)))

  def imageHeaderMeta(payload: Column): Column =
    col(ImageHeaderMeta(expr(payload)))

  def audioHeaderMeta(payload: Column): Column =
    col(AudioHeaderMeta(expr(payload)))

  def pcmFrameStats(payload: Column, frameSamples: Int): Column =
    col(PcmFrameStats(expr(payload), frameSamples))

  def pcmSpectral(payload: Column): Column =
    col(PcmSpectral(expr(payload)))

  def ppmPixelStats(payload: Column): Column =
    col(PpmPixelStats(expr(payload)))

  def byteEntropy(text: Column): Column =
    col(ByteEntropy(expr(text)))

  def ppmThumbnail(payload: Column, side: Int): Column =
    col(PpmThumbnail(expr(payload), side))

  def ppmDHash(payload: Column): Column =
    col(PpmDHash(expr(payload)))

  def pngEncode(text: Column, width: Column, height: Column,
                colorType: Column): Column =
    col(PngEncode(expr(text), expr(width), expr(height), expr(colorType)))

  def pngPixelStats(payload: Column): Column =
    col(PngPixelStats(expr(payload)))

  def jpegEncode(text: Column, width: Column, height: Column): Column =
    col(JpegEncode(expr(text), expr(width), expr(height)))

  def jpegEncodeProgressive(text: Column, width: Column, height: Column): Column =
    col(JpegEncode(expr(text), expr(width), expr(height), progressive = true))

  def ulawFrameStats(payload: Column, frameSamples: Int): Column =
    col(UlawFrameStats(expr(payload), frameSamples))

  def alawFrameStats(payload: Column, frameSamples: Int): Column =
    col(AlawFrameStats(expr(payload), frameSamples))

  def adpcmWavEncode(text: Column): Column =
    col(AdpcmWavEncode(expr(text)))

  def adpcmFrameStats(payload: Column, frameSamples: Int): Column =
    col(AdpcmFrameStats(expr(payload), frameSamples))

  def jpegPixelStats(payload: Column): Column =
    col(JpegPixelStats(expr(payload)))
}

/** SQL registration of the custom expressions, either at session build
  * time (`spark.sql.extensions=graft.functions.GraftExtensions`) or on a
  * live session (`GraftExtensions.register(spark)`), so pure-SQL pipelines
  * (`custom::sql` blocks) can call e.g.
  * `SELECT minhash_sig(word_shingles(tokens, 3), 64, 4294967311)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.entries.foreach(ext.injectFunction)
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  val entries: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => WordShingles(args(0), intArg(args(1), "n"))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) =>
        MinHashSig(args(0), intArg(args(1), "k"), longArg(args(2), "p"))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("lower_tokens"),
      new ExpressionInfo(classOf[LowerTokens].getName, "lower_tokens"),
      (args: Seq[Expression]) => LowerTokens(args(0))),
    (FunctionIdentifier("md5_prefix32"),
      new ExpressionInfo(classOf[Md5Prefix32].getName, "md5_prefix32"),
      (args: Seq[Expression]) => Md5Prefix32(args(0))),
    (FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      (args: Seq[Expression]) => Md5Prefix60(args(0))),
    (FunctionIdentifier("dot_double"),
      new ExpressionInfo(classOf[DotDouble].getName, "dot_double"),
      (args: Seq[Expression]) => DotDouble(args(0), args(1))),
    (FunctionIdentifier("lsh_bucket"),
      new ExpressionInfo(classOf[LshBucket].getName, "lsh_bucket"),
      (args: Seq[Expression]) => LshBucket(args(0), intArg(args(1), "nPlanes"))),
    (FunctionIdentifier("sq_dist"),
      new ExpressionInfo(classOf[SqDistDouble].getName, "sq_dist"),
      (args: Seq[Expression]) => SqDistDouble(args(0), args(1))),
    (FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
      (args: Seq[Expression]) => DeflateRatio(args(0))),
    (FunctionIdentifier("nearest_centroid"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "nearest_centroid"),
      (args: Seq[Expression]) => NearestCentroid(args(0), args(1))),
    (FunctionIdentifier("image_header_meta"),
      new ExpressionInfo(classOf[ImageHeaderMeta].getName, "image_header_meta"),
      (args: Seq[Expression]) => ImageHeaderMeta(args(0))),
    (FunctionIdentifier("audio_header_meta"),
      new ExpressionInfo(classOf[AudioHeaderMeta].getName, "audio_header_meta"),
      (args: Seq[Expression]) => AudioHeaderMeta(args(0))),
    (FunctionIdentifier("pcm_frame_stats"),
      new ExpressionInfo(classOf[PcmFrameStats].getName, "pcm_frame_stats"),
      (args: Seq[Expression]) => PcmFrameStats(args(0), intArg(args(1), "frameSamples"))),
    (FunctionIdentifier("pcm_spectral"),
      new ExpressionInfo(classOf[PcmSpectral].getName, "pcm_spectral"),
      (args: Seq[Expression]) => PcmSpectral(args(0))),
    (FunctionIdentifier("ppm_pixel_stats"),
      new ExpressionInfo(classOf[PpmPixelStats].getName, "ppm_pixel_stats"),
      (args: Seq[Expression]) => PpmPixelStats(args(0))),
    (FunctionIdentifier("byte_entropy"),
      new ExpressionInfo(classOf[ByteEntropy].getName, "byte_entropy"),
      (args: Seq[Expression]) => ByteEntropy(args(0))),
    (FunctionIdentifier("ppm_thumbnail"),
      new ExpressionInfo(classOf[PpmThumbnail].getName, "ppm_thumbnail"),
      (args: Seq[Expression]) => PpmThumbnail(args(0), intArg(args(1), "side"))),
    (FunctionIdentifier("ppm_dhash"),
      new ExpressionInfo(classOf[PpmDHash].getName, "ppm_dhash"),
      (args: Seq[Expression]) => PpmDHash(args(0))))

  /** Register on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    entries.foreach { case (id, info, b) =>
      org.apache.spark.sql.GraftShim.registerFunction(spark, id, info, b)
    }
}
