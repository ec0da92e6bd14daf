package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q325's profile gate, pinned both directions: color 4:2:0 files void
  * under the grayscale decoder and grayscale files void under the color
  * decoder — neither ever mis-decodes the other's profile — while the
  * segment walk (jpeg_info) accepts both. Plus the restart-marker
  * triple-predictor reset surfaced by the decode itself. */
class JpegColorSpec extends SparkSpec {

  test("color and grayscale profiles split exactly; segments accept both") {
    val color = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .load(graft.Fixtures.path("jpeg_color"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_info(content)").as("info"),
        expr("jpeg_pixels(content)").as("gray"),
        expr("jpeg_rgb(content)").as("rgb"))
      .collect()
    assert(color.length == 4)
    color.foreach { r =>
      assert(!r.isNullAt(1), s"${r.getString(0)}: segment walk must pass")
      assert(r.isNullAt(2), s"${r.getString(0)}: color must void under jpeg_pixels")
      assert(!r.isNullAt(3), s"${r.getString(0)}: color must decode under jpeg_rgb")
    }
    val gray = spark.read.format("binaryFile")
      .option("pathGlobFilter", "gray_*.jpg")
      .load(graft.Fixtures.path("jpeg_decode"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_rgb(content)").as("rgb"))
      .collect()
    assert(gray.length == 7)
    gray.foreach(r => assert(r.isNullAt(1),
      s"${r.getString(0)}: grayscale must void under jpeg_rgb"))
  }

  test("restart markers reset all three DC predictors") {
    val r = spark.read.format("binaryFile")
      .option("pathGlobFilter", "color_rst.jpg")
      .load(graft.Fixtures.path("jpeg_color"))
      .select(expr("jpeg_rgb(content)").as("j"))
      .collect()(0).getStruct(0)
    assert(r.getLong(3) == 1L, "n_rst") // 3 MCUs, DRI=2 -> one RST
    // pixel equality vs the manifest is the q325 oracle's job; a failed
    // triple reset would shift every post-RST DC and change the CRC
  }
}
