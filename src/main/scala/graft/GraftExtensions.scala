package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BrcStation, BrcTenths, CosineSimilarity, RollingHash}

/** SparkSessionExtensions entry point: makes the custom expressions
  * first-class SQL functions in any session configured with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `builder.withExtensions(new GraftExtensions)`), so a cluster picks
  * them up from config alone — no per-session registration call. The
  * programmatic path (`VectorExpressions.register`) remains for ad-hoc
  * sessions; lsh_bands stays programmatic because it binds a concrete
  * hyperplane matrix.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    e.injectFunction((FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    e.injectFunction((FunctionIdentifier("rolling_window_hashes"),
      new ExpressionInfo(
        classOf[graft.functions.RollingWindowHashes].getName,
        "rolling_window_hashes"),
      (exprs: Seq[Expression]) =>
        graft.functions.VectorExpressions.rollingWindowHashesBuilder(exprs)))
    e.injectFunction((FunctionIdentifier("brc_station"),
      new ExpressionInfo(classOf[BrcStation].getName, "brc_station"),
      (exprs: Seq[Expression]) => BrcStation(exprs.head)))
    e.injectFunction((FunctionIdentifier("brc_tenths"),
      new ExpressionInfo(classOf[BrcTenths].getName, "brc_tenths"),
      (exprs: Seq[Expression]) => BrcTenths(exprs.head)))
    e.injectFunction((FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[graft.functions.KmvSketchAgg].getName, "kmv_sketch"),
      (exprs: Seq[Expression]) => graft.functions.KmvSketchAgg(exprs.head)))
    e.injectFunction((FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[graft.functions.FreqSketchAgg].getName, "freq_sketch"),
      (exprs: Seq[Expression]) => graft.functions.FreqSketchAgg(exprs.head)))
    e.injectFunction((FunctionIdentifier("png_ihdr"),
      new ExpressionInfo(classOf[graft.functions.PngIhdr].getName, "png_ihdr"),
      (exprs: Seq[Expression]) => graft.functions.PngIhdr(exprs.head)))
    e.injectFunction((FunctionIdentifier("png_pixels"),
      new ExpressionInfo(classOf[graft.functions.PngPixels].getName, "png_pixels"),
      (exprs: Seq[Expression]) => graft.functions.PngPixels(exprs.head)))
    e.injectFunction((FunctionIdentifier("wav_fmt"),
      new ExpressionInfo(classOf[graft.functions.WavFmt].getName, "wav_fmt"),
      (exprs: Seq[Expression]) => graft.functions.WavFmt(exprs.head)))
    e.injectFunction((FunctionIdentifier("wav_pcm"),
      new ExpressionInfo(classOf[graft.functions.WavPcmStats].getName, "wav_pcm"),
      (exprs: Seq[Expression]) => graft.functions.WavPcmStats(exprs.head)))
    e.injectFunction((FunctionIdentifier("topk_rows"),
      new ExpressionInfo(classOf[graft.functions.TopKRowsAgg].getName, "topk_rows"),
      (exprs: Seq[Expression]) => graft.functions.TopKRowsAgg(exprs(0), exprs(1))))
    // Spark's own runtime-filter bloom pair, exposed as SQL (see
    // graft.functions.BloomFunctions for why they aren't already)
    e.injectFunction((FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (exprs: Seq[Expression]) => graft.functions.BloomFunctions.bloomAggBuilder(exprs)))
    e.injectFunction((FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1))))
  }
}
