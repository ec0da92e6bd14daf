package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q315's corruption blast radius, pinned on the committed fixtures:
  * the three planted corruptions (mid-scan truncation, SOS marker
  * flipped to reserved 0x7A, trailing bytes after EOI) decode to null —
  * and ONLY they do, so one bad crawl image drops itself and never a
  * scan. Good-file structure is covered by the q315 manifest oracle and
  * JpegLawsSpec's random builder. */
class JpegSpec extends SparkSpec {

  test("exactly the three planted corruptions decode to null") {
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .load(graft.Fixtures.path("jpeg"))
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_info(content)").as("j"))
      .collect()
    assert(rows.length == 9, s"expected 9 fixtures, saw ${rows.length}")
    val (bad, good) = rows.partition(_.isNullAt(1))
    assert(bad.map(_.getString(0)).sorted.toSeq == Seq(
      "corrupt_marker.jpg", "corrupt_trail.jpg", "corrupt_trunc.jpg"),
      s"wrong malformed set: ${bad.map(_.getString(0)).mkString(",")}")
    assert(good.length == 6)
  }

  test("jpeg_info survives non-JPEG bytes without throwing") {
    assert(JpegInfo.decode(null) == null)
    assert(JpegInfo.decode(Array[Byte]()) == null)
    assert(JpegInfo.decode("not a jpeg at all".getBytes("ISO-8859-1")) == null)
    assert(JpegInfo.decode(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)) == null) // no SOF/SOS
  }
}
