package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q316's blast radius + profile gate, pinned on the committed fixtures:
  * the planted AC-run-overflow bitstream voids (and only it does), and
  * files OUTSIDE the supported baseline-grayscale profile (q315's
  * 3-component / progressive / non-block-aligned segment fixtures) void
  * under jpeg_pixels while still decoding under jpeg_info — the decode
  * NEVER mis-reports an unsupported file as pixels. */
class JpegDecodeSpec extends SparkSpec {

  test("exactly the planted AC-run corruption decodes to null") {
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .load(graft.Fixtures.path("jpeg_decode"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_pixels(content)").as("j"))
      .collect()
    assert(rows.length == 8, s"expected 8 fixtures, saw ${rows.length}")
    val (bad, good) = rows.partition(_.isNullAt(1))
    assert(bad.map(_.getString(0)).toSeq == Seq("corrupt_acrun.jpg"),
      s"wrong malformed set: ${bad.map(_.getString(0)).mkString(",")}")
    assert(good.length == 7)
  }

  test("unsupported profiles void under jpeg_pixels but parse under jpeg_info") {
    // q315's segment fixtures are valid JPEGs structurally, but none is
    // baseline-grayscale-1x1 with block-aligned dims — jpeg_pixels must
    // refuse them all rather than emit wrong pixels
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "img_*.jpg")
      .load(graft.Fixtures.path("jpeg"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_info(content)").as("info"),
        expr("jpeg_pixels(content)").as("px"))
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(!r.isNullAt(1), s"${r.getString(0)}: segment walk must pass")
      assert(r.isNullAt(2), s"${r.getString(0)}: out-of-profile file " +
        "must void under jpeg_pixels")
    }
  }

  test("restart-marker file resets the DC predictor (manifest pins pixels)") {
    // gray_rst.jpg carries 3 RSTs; a decoder that failed to reset the
    // predictor would produce different pixels and a different CRC than
    // the manifest the q316 oracle already pinned — here we just pin the
    // rst count surfaced by the decode itself
    val r = spark.read.format("binaryFile")
      .option("pathGlobFilter", "gray_rst.jpg")
      .load(graft.Fixtures.path("jpeg_decode"))
      .select(expr("jpeg_pixels(content)").as("j"))
      .collect()(0)
    assert(r.getStruct(0).getLong(3) == 3L, "n_rst")
  }
}
