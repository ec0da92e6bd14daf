package graft.onebrc

import graft.SparkSpec

class Run1BrcSpec extends SparkSpec {
  private val golden = graft.Fixtures.path("measurements_golden.csv")

  test("Run1Brc output equals the CSV reference's braced and per-station lines") {
    val ref = OneBrc.brcAgg(OneBrc.readMeasurements(spark, golden))
    val (braced, lines) = Run1Brc.run(spark, golden, print = true)
    assert(braced == OneBrc.bracedLine(ref).collect().head.getString(0))
    assert(lines == OneBrc.perLine(ref).collect().map(_.getString(1)).toSeq)
    assert(lines.nonEmpty)
  }

  test("Run1Brc: a malformed line is a hard error") {
    val bad = tempFile("run1brc", ".txt")
    java.nio.file.Files.writeString(bad, "Oslo;1.5\nOslo;not-a-number\nOslo;2.5\n")
    intercept[org.apache.spark.SparkException] {
      Run1Brc.run(spark, bad.toString, print = false)
    }
  }
}
