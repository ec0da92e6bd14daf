package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.onebrc.OneBrc

/** The `brc` scan's pushed partial aggregate: for `GROUP BY station` over
  * MIN/MAX/SUM/COUNT of `t` each split folds its lines into one row per
  * station, and the answer must equal the row path's at every split size.
  * Every other aggregate shape keeps the row scan.
  */
class BrcAggPushdownSpec extends SparkSpec {

  private type Stat = (String, Long, Long, Long, Long) // station, min, max, sum, count

  private def file(text: String): String = {
    val f = tempFile("brcfold", ".csv")
    java.nio.file.Files.write(f, text.getBytes("UTF-8"))
    f.toString
  }

  private def scanDescriptions(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.description()
    }

  /** The 1BRC partials through the pushed fold (asserted to be pushed). */
  private def pushed(path: String, split: Long): Seq[Stat] = {
    val df = OneBrc.tenthsPartials(OneBrc.readMeasurementsV2(spark, path, split))
    val scans = scanDescriptions(df)
    // t is non-nullable, so Spark offers count(t) as COUNT(*)
    assert(scans.nonEmpty && scans.forall(_.contains(
      "PushedAggregation: [MIN(t), MAX(t), SUM(t), COUNT(*)] PushedGroupBy: [station]")),
      s"the partials must fold in the scan: $scans")
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq.sorted
  }

  private def stats(rows: Seq[(String, Long)]): Seq[Stat] =
    rows.groupBy(_._1).map { case (st, vs) =>
      val ts = vs.map(_._2)
      (st, ts.min, ts.max, ts.sum, ts.length.toLong)
    }.toSeq.sorted

  /** The same partials aggregated driver-side from the row scan. */
  private def rowPath(path: String, split: Long): Seq[Stat] =
    stats(OneBrc.readMeasurementsV2(spark, path, split).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq)

  private def same(path: String, splits: Seq[Long]): Unit =
    for (split <- splits)
      assert(pushed(path, split) == rowPath(path, split), s"split=$split")

  test("a station line cut by a split boundary folds into one station") {
    // 9 + 13 + 9 bytes; every split size cuts some line, "Zürich"
    // included, at every offset
    val text = "Oslo;1.5\nZürich;-2.0\nOslo;3.5\n"
    val path = file(text)
    same(path, (1L to text.getBytes("UTF-8").length + 1L))
    assert(pushed(path, 11) == Seq(("Oslo", 15L, 35L, 50L, 2L),
      ("Zürich", -20L, -20L, -20L, 1L)))
  }

  test("a split that holds one line") {
    val path = file("AA;1.0\nBB;2.0\nAA;3.0\nCC;4.0\n")
    // every line is 7 bytes: split 7 gives each split exactly one line
    same(path, Seq(7L))
    assert(pushed(path, 7) == Seq(("AA", 10L, 30L, 40L, 2L),
      ("BB", 20L, 20L, 20L, 1L), ("CC", 40L, 40L, 40L, 1L)))
  }

  test("a split that owns no line start emits nothing") {
    val text = "Llanfairpwllgwyngyll;1.0\nB;2.0\n"
    val path = file(text)
    same(path, Seq(4L, 8L))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration())
    // (4, 8] lies inside the first line: the split skips to the line after
    // its first '\n', which starts past its end
    val reader = new BrcFoldReader(BrcInputPartition(
      new java.io.File(path).toURI.toString, 4, 8),
      Array(BrcDataSource.FoldMin, BrcDataSource.FoldCount), conf)
    try assert(!reader.next(), "a split with no line start must be empty")
    finally reader.close()
  }

  test("stations whose byte hashes collide stay apart") {
    // "Aa" and "BB" share the 31-polynomial hash the fold table keys on
    assert("Aa".hashCode == "BB".hashCode)
    val path = file("Aa;1.0\nBB;2.0\nAa;-1.0\nBB;5.5\nAa;0.5\n")
    same(path, Seq(5L, 1L << 20))
    assert(pushed(path, 1L << 20) == Seq(("Aa", -10L, 10L, 5L, 3L),
      ("BB", 20L, 55L, 75L, 2L)))
  }

  test("5,000 distinct stations grow the fold table") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 20000).map(i =>
      (f"S${i % 5000}%04d", (rnd.nextInt(1999) - 999).toLong))
    val text = rows.map { case (st, t) =>
      s"$st;${if (t < 0) "-" else ""}${math.abs(t) / 10}.${math.abs(t) % 10}"
    }.mkString("\n")
    val path = file(text)
    same(path, Seq(4096L, 1L << 20))
    assert(pushed(path, 1L << 20) == stats(rows))
  }

  test("property generator: pushed partials equal the row path at splits 3, 17, 101") {
    for (trial <- 0 until 6) {
      val (rows, text) = BrcSourcePropertySpec.corpus(trial)
      val path = file(text)
      same(path, Seq(3L, 17L, 101L))
      assert(pushed(path, 101) == stats(rows), s"trial=$trial")
    }
  }

  test("a malformed measure and a missing ';' still throw through the fold") {
    for (bad <- Seq("Bern;x.5", "Bern;12.", "Bern")) {
      val path = file(s"Oslo;1.5\n$bad\nOslo;2.5\n")
      val e = intercept[Exception](pushed(path, 1L << 20))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("malformed 1BRC line")),
        s"$bad: $e")
    }
    // COUNT(*) alone reads no measure, but the station still needs its ';'
    val counted = OneBrc.readMeasurementsV2(spark, file("Oslo;1.5\nBern\n"))
      .groupBy("station").count()
    assert(scanDescriptions(counted).forall(_.contains("PushedAggregation: [COUNT(*)]")))
    val e = intercept[Exception](counted.collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("missing ';'")), s"$e")
  }

  test("a long sum that overflows throws like Spark's Sum") {
    // a real overflow needs ~9.2e15 lines of 999.9, so drive the table
    // directly: a sum past Long.MaxValue must throw
    val conf = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration())
    val path = file("A;1.0\n")
    val reader = new BrcFoldReader(BrcInputPartition(
      new java.io.File(path).toURI.toString, 0, 6),
      Array(BrcDataSource.FoldSum), conf)
    try {
      val line = "A;1.0".getBytes("UTF-8")
      reader.add(line, 0, 1, Long.MaxValue)
      intercept[ArithmeticException](reader.add(line, 0, 1, 1L))
    } finally reader.close()
  }

  // --- fallbacks: anything but the partials keeps the row scan -----------

  private val fallbackText = "Oslo;1.5\nBern;-0.5\nOslo;2.5\nBern;-0.5\nRome;9.0\n"

  private def rowScan(df: DataFrame): DataFrame = {
    val scans = scanDescriptions(df)
    assert(scans.nonEmpty && scans.forall(!_.contains("PushedAggregation")),
      s"expected a row scan: $scans")
    df
  }

  private def v2 = OneBrc.readMeasurementsV2(spark, file(fallbackText), 7)

  test("fallback: avg(t) plans a row scan") {
    val got = rowScan(v2.groupBy("station").agg(avg("t"))).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted
    assert(got == Seq(("Bern", -5.0), ("Oslo", 20.0), ("Rome", 90.0)))
  }

  test("fallback: count(distinct t) plans a row scan") {
    val got = rowScan(v2.groupBy("station").agg(countDistinct("t"))).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq(("Bern", 1L), ("Oslo", 2L), ("Rome", 1L)))
  }

  test("fallback: a filter on t plans a row scan") {
    val got = rowScan(OneBrc.tenthsPartials(v2.filter(col("t") > 0))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(got == Seq(("Oslo", 15L, 25L, 40L, 2L), ("Rome", 90L, 90L, 90L, 1L)))
  }

  test("fallback: groupBy(station, t) plans a row scan") {
    val got = rowScan(v2.groupBy("station", "t").count()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == Seq(("Bern", -5L, 2L), ("Oslo", 15L, 1L), ("Oslo", 25L, 1L),
      ("Rome", 90L, 1L)))
  }

  test("fallback: a station-only count(*) plans a row scan") {
    val got = rowScan(v2.select("station").agg(count(lit(1)))).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(5L))
  }
}
