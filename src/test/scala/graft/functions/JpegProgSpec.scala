package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q326's laws: the progressive/baseline profile split is bidirectional,
  * the baseline TWIN (identical coefficients through the other entropy
  * layer) lands the identical pixel CRC, and corruption — truncation at
  * every byte boundary, a flipped SOS, trailing garbage — voids the file
  * rather than mis-decoding it. */
class JpegProgSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.path("jpeg_prog"), name))

  test("progressive and baseline profiles split exactly; segments accept both") {
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "prog_*.jpg")
      .load(graft.Fixtures.path("jpeg_prog"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_info(content)").as("info"),
        expr("jpeg_pixels(content)").as("base"),
        expr("jpeg_prog_pixels(content)").as("prog"))
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(!r.isNullAt(1), s"${r.getString(0)}: segment walk must pass")
      assert(r.isNullAt(2), s"${r.getString(0)}: progressive must void under jpeg_pixels")
      assert(!r.isNullAt(3), s"${r.getString(0)}: progressive must decode under jpeg_prog_pixels")
    }
    // the other direction, over the whole baseline fixture family
    val base = spark.read.format("binaryFile")
      .option("pathGlobFilter", "gray_*.jpg")
      .load(graft.Fixtures.path("jpeg_decode"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_prog_pixels(content)").as("prog"))
      .collect()
    assert(base.length == 7)
    base.foreach(r => assert(r.isNullAt(1),
      s"${r.getString(0)}: baseline must void under jpeg_prog_pixels"))
  }

  test("baseline twin: two entropy layers, one pixel surface") {
    val prog = JpegCodec.progPixels(fixture("prog_twin.jpg"))
    val base = JpegCodec.pixels(fixture("twin_base.jpg"))
    assert(prog != null && base != null)
    // struct: width, height, n_blocks, n_rst, px_min, px_max, px_sum,
    // px_sqsum, px_crc32 — everything but the byte-layout must agree
    (0 until 9).foreach { f =>
      assert(prog.getLong(f) == base.getLong(f),
        s"twin field $f: progressive ${prog.getLong(f)} != baseline ${base.getLong(f)}")
    }
  }

  test("truncation at every byte voids, never mis-decodes") {
    val good = fixture("prog_small.jpg")
    assert(JpegCodec.progPixels(good) != null)
    var cut = 2
    while (cut < good.length) {
      assert(JpegCodec.progPixels(java.util.Arrays.copyOf(good, cut)) == null,
        s"truncated at $cut must void")
      cut += 1
    }
  }

  test("flipped SOS marker and trailing garbage void") {
    val good = fixture("prog_eobrun.jpg")
    // find the first SOS (FF DA) and flip it to an invalid marker
    var i = 2
    while (!((good(i) & 0xFF) == 0xFF && (good(i + 1) & 0xFF) == 0xDA)) i += 1
    val flipped = good.clone()
    flipped(i + 1) = 0x7A.toByte // reserved range: walk must fail
    assert(JpegCodec.progPixels(flipped) == null)
    val trailing = java.util.Arrays.copyOf(good, good.length + 3)
    trailing(good.length) = 0x41
    assert(JpegCodec.progPixels(trailing) == null, "bytes after EOI must void")
    assert(JpegCodec.progPixels(fixture("corrupt_truncated.jpg")) == null,
      "the planted mid-scan truncation must void")
  }
}
