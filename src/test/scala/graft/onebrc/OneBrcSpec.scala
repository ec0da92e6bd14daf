package graft.onebrc

import graft.SparkSpec
import org.apache.spark.sql.Row

class OneBrcSpec extends SparkSpec {
  import OneBrc._

  private val golden = "/root/repo/fixtures/measurements_golden.csv"

  test("golden file: per-station min/mean/max, sorted by station") {
    val rows = brcAgg(readMeasurements(spark, golden)).collect()
    val expect = Seq(
      Row("A", 1.1, 1.1, 1.1),
      Row("Abha", -1.0, 1.0, 2.5),
      Row("Abéché", 10.0, 10.0, 10.0),
      Row("Almaty", 2.2, 2.3, 2.4),
      Row("St. John's", -99.9, 0.0, 99.9),
      // mean -5.25 rounds away from zero -> -5.3 (R1 semantics, SURVEY §7.4)
      Row("São Paulo", -5.3, -5.3, -5.2),
      // mean 7.25 rounds away from zero -> 7.3
      Row("Washington, D.C.", 7.2, 7.3, 7.3),
      Row("Zürich", 0.0, 0.0, 0.0))
    // binary/codepoint collation: "St. John's" < "São Paulo" (0x74 < 0xC3)
    assert(rows.toSeq == expect)
  }

  test("golden file: braced 1BRC output line") {
    val line = bracedLine(brcAgg(readMeasurements(spark, golden)))
      .collect().head.getString(0)
    assert(line.startsWith("{A=1.1/1.1/1.1, Abha=-1.0/1.0/2.5, "))
    assert(line.endsWith("Washington, D.C.=7.2/7.3/7.3, Zürich=0.0/0.0/0.0}"))
  }

  test("partition invariance: same result under repartition(1|4|16)") {
    // the law the reference's five engines all rely on (SURVEY §5)
    val base = readMeasurements(spark, golden)
    val r1 = brcAgg(base.repartition(1)).collect().toSeq
    val r4 = brcAgg(base.repartition(4)).collect().toSeq
    val r16 = brcAgg(base.repartition(16)).collect().toSeq
    assert(r1 == r4 && r4 == r16)
  }

  test("typed Aggregator matches declarative plan") {
    val df = readMeasurements(spark, golden)
    assert(typedAgg(spark, df).collect().toSeq == brcAgg(df).collect().toSeq)
  }

  test("malformed line is a hard error under FAILFAST, skipped under DROPMALFORMED") {
    // an unparsable measure is the malformed case both modes agree on
    // (a line with no ';' is padded with null, not dropped, by Spark's CSV)
    val bad = tempFile("brc", ".csv")
    java.nio.file.Files.writeString(bad, "Oslo;1.5\nOslo;not-a-number\nOslo;2.5\n")
    val strict = readMeasurements(spark, bad.toString)
    intercept[org.apache.spark.SparkException] { strict.collect() }
    val lax = readMeasurements(spark, bad.toString, mode = "DROPMALFORMED")
    // collect(), not count(): count() elides parsing entirely for CSV, so
    // malformed rows are never detected and would be counted anyway
    assert(lax.collect().length == 2)
  }

  test("generator: deterministic, stations from LUT, 1-decimal domain") {
    val g1 = generate(spark, 5000L).collect()
    val g2 = generate(spark, 5000L, seed = 42L).repartition(7).collect()
    assert(g1.map(_.toString).sorted.toSeq == g2.map(_.toString).sorted.toSeq)
    val names = stationLut.map(_._1).toSet
    assert(g1.forall(r => names.contains(r.getString(0))))
    assert(g1.forall { r =>
      val m = r.getDouble(1); (math.round(m * 10).toDouble / 10.0) == m
    })
    assert(stationLut.length == 413)
  }

  test("parseTenths: exhaustive over the full documented domain") {
    import graft.functions.BrcParse
    import org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    import org.apache.spark.unsafe.types.UTF8String
    // independent reference: the domain as a regex, the value as decimal
    // arithmetic; Long.MinValue marks a malformed line
    val domain = """-?\d{1,3}(\.\d)?""".r
    def expected(line: String): Long = line.indexOf(';') match {
      case -1 => Long.MinValue
      case i => line.substring(i + 1) match {
        case m @ domain(_*) => (BigDecimal(m) * 10).toLongExact
        case _ => Long.MinValue
      }
    }
    // the one parse body, reached the three ways its callers reach it:
    // a whole UTF8String, a UTF8String slice of a larger array, and a
    // byte[] window as the DataSource V2 reader passes its buffer; the
    // bytes around each window would change the answer if read
    def tenthsOf(line: String): Seq[Long] = {
      val bytes = line.getBytes("UTF-8")
      val arr = "9;".getBytes("UTF-8") ++ bytes ++ "7;".getBytes("UTF-8")
      val slice = UTF8String.fromBytes(arr, 2, bytes.length)
      assert(slice.toString == line)
      val from = BYTE_ARRAY_OFFSET + 2L; val until = from + bytes.length
      val sep = BrcParse.sepIndex(arr, from, until)
      val window = if (sep == until) Long.MinValue
        else BrcParse.parseTenths(arr, sep + 1, until)
      Seq(BrcParse.tenthsOfU(UTF8String.fromString(line)),
        BrcParse.tenthsOfU(slice), window)
    }
    def check(line: String): Long = {
      val want = expected(line)
      assert(tenthsOf(line) == Seq(want, want, want), s"line '$line'")
      want
    }
    // every representable measure -999.9 .. 999.9 round-trips exactly
    // (the generator's Normal tails exceed ±100 at 1e9 rows, so the domain
    // is 1-3 integer digits, wider than FIXTURES.md §1's 1-2-digit claim)
    for (t <- -9999L to 9999L) {
      val sign = if (t < 0) "-" else ""
      val a = math.abs(t)
      assert(check(s"X;$sign${a / 10}.${a % 10}") == t, s"tenths $t")
    }
    // integer form scales to tenths
    for (v <- -999L to 999L)
      assert(check(s"X;$v") == v * 10, s"int $v")
    // everything outside the domain nulls out (Long.MinValue sentinel)
    for (bad <- Seq("X;12.", "X;1234.5", "X;.5", "X;1..2", "X;1.23",
        "X;-", "X;", "X;a.b", "X;1a.2", "noseparator", "X;--1.0",
        "X;+1.0", "X; 1.0", "X;1.0 ", "X;1.2;3", "X;0005", "X;1.25", ""))
      assert(check(bad) == Long.MinValue, s"malformed '$bad'")
  }

  test("entry() smoke: flagship query returns rows on sf0.001") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
