package graft

import scala.reflect.{ClassTag, classTag}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.IntegerType
import graft.functions._

/** SparkSessionExtensions entry point: every graft SQL function plus the
  * two plan rules (`RangeJoinRule`, `AsOfJoinStrategy`) in any session
  * configured with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `builder.withExtensions(new GraftExtensions)`), so a cluster picks
  * them up from config alone. The functions come from the one catalog in
  * the companion object.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

/** The function catalog: every graft SQL function, once. The config path
  * injects it (above); `install` registers the same entries on a session
  * built without the extension — `GraftSession`, `Tables.sessionClone`
  * and the `SparkEntry.queries` contract call it. Re-installing is one
  * registry put per function, so it needs no per-session memo. */
object GraftExtensions {

  /** The triple `SparkSessionExtensions.injectFunction` takes. */
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn[T <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => T): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  /** The window length binds into the generated code, so it must be a
    * literal int (same restriction Spark's own array functions place on
    * e.g. array_repeat counts used in codegen constants). */
  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"rolling_window_hashes window length must be an int literal, got $other")
  }

  /** The hyperplane matrix `lsh_bands` binds, flattened once. */
  private val lshPlanes: Array[Double] = graft.operators.Similarity.planes.flatten

  val functions: Seq[FunctionDescription] = Seq(
    // 1BRC line parse and the reference's Records struct as an aggregate
    fn("brc_station")(e => BrcStation(e.head)),
    fn("brc_tenths")(e => BrcTenths(e.head)),
    fn("brc_stats")(e => BrcStatsAgg(e.head)),
    // vectors and text
    fn("cosine_sim")(e => CosineSimilarity(e.head, e(1))),
    fn("lsh_bands")(e => LshBands(e.head, lshPlanes,
      graft.operators.Similarity.NBands, graft.operators.Similarity.BitsPerBand)),
    fn("rolling_hash")(e => RollingHash(e.head)),
    fn("rolling_window_hashes")(e => RollingWindowHashes(e.head, litInt(e(1)))),
    fn("nfc_normalize")(e => NfcNormalize(e.head)),
    fn("utf8_stats")(e => Utf8StatsExpr(e.head)),
    // sketches
    fn("kmv_sketch")(e => KmvSketchAgg(e.head)),
    fn("freq_sketch")(e => FreqSketchAgg(e.head)),
    fn("topk_rows")(e => TopKRowsAgg(e(0), e(1))),
    // Spark's own runtime-filter pair (InjectRuntimeFilter plants it in
    // shuffle joins), which Spark ships analyzer-only. As SQL it spells
    // the sketch prefilter explicitly:
    //   WHERE might_contain((SELECT bloom_agg(xxhash64(k)) FROM small),
    //                       xxhash64(k))
    // bloom_agg(v[, est_items[, num_bits]]) takes LONG values (hash first)
    // and defaults to the runtime-filter confs. might_contain's own type
    // check requires a foldable or scalar-subquery bloom side, so the
    // bitset is built once and shipped, never joined.
    fn[BloomFilterAggregate]("bloom_agg") {
      case Seq(v) => new BloomFilterAggregate(v)
      case Seq(v, est) => new BloomFilterAggregate(v, est)
      case Seq(v, est, bits) => new BloomFilterAggregate(v, est, bits)
      case e => throw new IllegalArgumentException(
        s"bloom_agg expects 1-3 arguments, got ${e.length}")
    },
    fn("might_contain")(e => BloomFilterMightContain(e.head, e(1))),
    // archives
    fn("tar_entries")(e => TarEntriesExpr(e.head)),
    fn("zip_entries")(e => ZipEntriesExpr(e.head)),
    fn("gzip_members")(e => GzipMembersExpr(e.head)),
    fn("warc_records")(e => WarcRecordsExpr(e.head)),
    // media decoders
    fn("png_ihdr")(e => PngIhdr(e.head)),
    fn("png_pixels")(e => PngPixels(e.head)),
    fn("png_ahash")(e => PngAhash(e.head)),
    fn("png_box2")(e => PngBox2(e.head)),
    fn("png_full")(e => PngFullExpr(e.head)),
    fn("jpeg_info")(e => JpegInfoExpr(e.head)),
    fn("jpeg_pixels")(e => JpegPixelsExpr(e.head)),
    fn("jpeg_exif")(e => JpegExifExpr(e.head)),
    fn("jpeg_rgb")(e => JpegRgbExpr(e.head)),
    fn("jpeg_prog_pixels")(e => JpegProgExpr(e.head)),
    fn("jpeg_prog_rgb")(e => JpegProgRgbExpr(e.head)),
    fn("gif_info")(e => GifInfoExpr(e.head)),
    fn("gif_pixels")(e => GifPixelsExpr(e.head)),
    fn("gif_frames")(e => GifFramesExpr(e.head)),
    fn("wav_fmt")(e => WavFmt(e.head)),
    fn("wav_pcm")(e => WavPcmStats(e.head)),
    fn("wav_fingerprint")(e => WavFingerprint(e.head)),
    fn("wav_samples")(e =>
      WavSamples(e(0), e(1).eval().asInstanceOf[Number].intValue())),
    fn("avi_hdr")(e => AviHdr(e.head)),
    fn("avi_sample_ahash")(e => AviSampleAhash(e.head)),
    fn("avi_frame_ahashes")(e => AviFrameAhashes(e.head)),
    fn("pdf_text")(e => PdfTextExpr(e.head)))

  /** Register the catalog on `s`: for sessions built without the
    * extension, and for `newSession()` clones, whose registry holds the
    * built-ins and extensions but none of the parent's registrations. */
  def install(s: SparkSession): Unit = {
    val registry = s.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      registry.registerFunction(id, info, build)
    }
  }
}
