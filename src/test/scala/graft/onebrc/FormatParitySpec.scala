package graft.onebrc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SURVEY §5 items 2/5: cross-format parity (the rebuild's analog of the
  * reference's N-engines-one-answer cross-validation) and the P1-vs-R2
  * schema split (Polars infers the measure dtype, the Rust engine declares
  * it — both must agree).
  */
class FormatParitySpec extends SparkSpec {

  private lazy val work = tempDir("graft_fmt").toString

  test("CSV scan and Parquet scan of the same rows aggregate identically") {
    val gen = OneBrc.generate(spark, 20000L)
    gen.write.mode("overwrite").option("sep", ";").option("header", "false")
      .csv(s"$work/m_csv")
    gen.write.mode("overwrite").parquet(s"$work/m_parquet")
    val fromCsv = OneBrc.brcAgg(
      OneBrc.readMeasurements(spark, s"$work/m_csv")).collect().toSeq
    val fromParquet = OneBrc.brcAgg(
      spark.read.parquet(s"$work/m_parquet")).collect().toSeq
    assert(fromCsv == fromParquet)
  }

  test("inferred-schema scan (P1 style) agrees with explicit schema (R2 style)") {
    val golden = "/root/repo/fixtures/measurements_golden.csv"
    val inferred = spark.read
      .option("sep", ";").option("header", "false").option("inferSchema", "true")
      .csv(golden)
      .toDF("station", "measure")
    assert(inferred.schema("measure").dataType ==
      org.apache.spark.sql.types.DoubleType) // inference lands on double
    val a = OneBrc.brcAgg(inferred).collect().toSeq
    val b = OneBrc.brcAgg(OneBrc.readMeasurements(spark, golden)).collect().toSeq
    assert(a == b)
  }

  test("split-expression tenths path agrees with the CSV datasource scan") {
    // q94's shape: text lines parsed by brc_station/brc_tenths
    def readTenths(path: String) = spark.read.text(path).select(
      expr("brc_station(value)").as("station"),
      expr("brc_tenths(value)").as("t"))
    val golden = "/root/repo/fixtures/measurements_golden.csv"
    assert(
      OneBrc.brcAggTenths(readTenths(golden)).collect().toSeq ==
        OneBrc.brcAgg(OneBrc.readMeasurements(spark, golden)).collect().toSeq)
    // malformed measures -> null tenths; missing ';' -> null station too
    val bad = tempFile("brcs", ".csv")
    java.nio.file.Files.writeString(bad,
      "Oslo;1.5\nnonsense\nOslo;x.y\nOslo;-12.3\nOslo;12.\nOslo;1234.5\nOslo;103.4\n")
    val parsed = readTenths(bad.toString).collect()
    assert(parsed.count(r => !r.isNullAt(1)) == 3)
    assert(parsed.count(r => r.isNullAt(0)) == 1, "only the ';'-less line")
    assert(parsed.exists(r => !r.isNullAt(1) && r.getLong(1) == -123L))
    assert(parsed.exists(r => !r.isNullAt(1) && r.getLong(1) == 1034L))
  }

  test("DataSource V2 brc scan agrees with the CSV datasource scan") {
    val golden = "/root/repo/fixtures/measurements_golden.csv"
    assert(
      OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(spark, golden))
        .collect().toSeq ==
        OneBrc.brcAgg(OneBrc.readMeasurements(spark, golden)).collect().toSeq)
  }

  test("DataSource V2 short name: spark.read.format(\"brc\") resolves") {
    val golden = "/root/repo/fixtures/measurements_golden.csv"
    assert(spark.read.format("brc").load(golden).count() ==
      OneBrc.readMeasurements(spark, golden).count())
  }

  test("DataSource V2 prunes columns: station-only scan emits a 1-column schema") {
    val golden = "/root/repo/fixtures/measurements_golden.csv"
    val df = OneBrc.readMeasurementsV2(spark, golden).select("station")
    val scanOutput = df.queryExecution.executedPlan.collectLeaves()
      .head.output.map(_.name)
    assert(scanOutput == Seq("station"),
      s"pruned scan must emit only the projected column, got $scanOutput")
    assert(df.distinct().count() ==
      OneBrc.readMeasurements(spark, golden).select("station").distinct().count())
    // count(*) never parses at all and still counts every line
    assert(OneBrc.readMeasurementsV2(spark, golden).count() ==
      OneBrc.readMeasurements(spark, golden).count())
  }

  test("DataSource V2 split boundaries: every line read exactly once at any split size") {
    // a file whose line boundaries hit every alignment case: split edge
    // mid-line, at a '\n', and exactly at a line start
    val f = tempFile("brcv2", ".csv")
    val lines = (0 until 1000).map(i => s"S${i % 7};${(i % 199) / 10.0}")
    java.nio.file.Files.writeString(f, lines.mkString("\n") + "\n")
    val total = lines.length
    for (split <- Seq(7L, 64L, 1024L, 1L << 20)) {
      val got = OneBrc.readMeasurementsV2(spark, f.toString, split)
      assert(got.count() == total, s"split=$split row count")
      // and values survive: per-station sums match a direct computation
      val sums = got.groupBy("station").sum("t").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = lines.map(_.split(";")).groupBy(_.head)
        .map { case (k, vs) =>
          k -> vs.map(v => math.round(v(1).toDouble * 10)).sum }
      assert(sums == expect, s"split=$split sums")
    }
  }

  test("integer-tenths aggregation (R4/R5) agrees with double path on 1-dp data") {
    // fixed-point and float paths coincide exactly when inputs are 1-decimal
    val gen = OneBrc.generate(spark, 20000L)
    val viaTenths = gen
      .select(col("station"), (graft.Tables.tenths(col("measure")) / 10.0)
        .cast("double").as("measure"))
    assert(OneBrc.brcAgg(viaTenths).collect().toSeq ==
      OneBrc.brcAgg(gen).collect().toSeq)
  }
}
