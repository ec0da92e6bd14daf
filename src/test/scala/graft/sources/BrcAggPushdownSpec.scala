package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.onebrc.OneBrc

/** The `brc` scan's pushed partial aggregate: for `GROUP BY station` over
  * MIN/MAX/SUM/COUNT of `t` each range folds its lines into one row per
  * station, and the answer must equal the row path's at every split size.
  * Every other aggregate shape keeps the row scan. The scan plans
  * byte-balanced ranges over all its files.
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
    // 9 + 13 + 9 bytes: split sizes 1..32 plan ceil(31 / split) balanced
    // ranges (31 down to 1), cutting lines, "Zürich" included, at many
    // offsets
    val text = "Oslo;1.5\nZürich;-2.0\nOslo;3.5\n"
    val path = file(text)
    same(path, (1L to text.getBytes("UTF-8").length + 1L))
    assert(pushed(path, 11) == Seq(("Oslo", 15L, 35L, 50L, 2L),
      ("Zürich", -20L, -20L, -20L, 1L)))
  }

  test("a split that holds one line") {
    val path = file("AA;1.0\nBB;2.0\nAA;3.0\nCC;4.0\n")
    // every line is 7 bytes: split 7 plans 4 ranges of 7 bytes, one line
    // each
    assert(ranges(OneBrc.readMeasurementsV2(spark, path, 7))
      .map(_.segments.map(g => (g.start, g.end))) ==
      Seq(0L, 7L, 14L, 21L).map(a => Seq((a, a + 7))))
    same(path, Seq(7L))
    assert(pushed(path, 7) == Seq(("AA", 10L, 30L, 40L, 2L),
      ("BB", 20L, 20L, 20L, 1L), ("CC", 40L, 40L, 40L, 1L)))
  }

  test("a split that owns no line start emits nothing") {
    val text = "Llanfairpwllgwyngyll;1.0\nB;2.0\n"
    val path = file(text)
    same(path, Seq(4L, 8L))
    val conf = new org.apache.hadoop.conf.Configuration()
    // (4, 8] lies inside the first line: the split skips to the line after
    // its first '\n', which starts past its end
    val reader = new BrcFoldReader(BrcInputPartition(Seq(BrcSegment(
      new java.io.File(path).toURI.toString, 4, 8))),
      Array(BrcDataSource.FoldMin, BrcDataSource.FoldCount), conf)
    try assert(!reader.next(), "a split with no line start must be empty")
    finally reader.close()
  }

  test("stations whose byte hashes collide stay apart") {
    // search for two stations with one 32-bit fold hash: one home slot and
    // one stored hash, so only the byte compare keeps them apart
    def hash(s: String) = { val b = s.getBytes("UTF-8"); BrcFoldReader.hash(b, 0, b.length) }
    val seen = scala.collection.mutable.HashMap.empty[Int, String]
    val (a, b) = Iterator.from(0).map(i => s"S$i").map(s => (seen.put(hash(s), s), s))
      .collectFirst { case (Some(prev), s) => (prev, s) }.get
    assert(a != b && hash(a) == hash(b))
    val path = file(s"$a;1.0\n$b;2.0\n$a;-1.0\n$b;5.5\n$a;0.5\n")
    same(path, Seq(5L, 1L << 20))
    assert(pushed(path, 1L << 20) == Seq((a, -10L, 10L, 5L, 3L),
      (b, 20L, 55L, 75L, 2L)).sorted)
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
    val conf = new org.apache.hadoop.conf.Configuration()
    val path = file("A;1.0\n")
    val reader = new BrcFoldReader(BrcInputPartition(Seq(BrcSegment(
      new java.io.File(path).toURI.toString, 0, 6))),
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

  // --- range planning: byte-balanced ranges over all files ---------------

  /** `body` under the session settings `kvs`, restored after. The scan
    * reads them when the plan is optimized, so `body` must plan inside. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The input partition count of every `BatchScan` in `df`'s plan. */
  private def scanTasks(df: DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.inputPartitions.length }

  private def ranges(df: DataFrame): Seq[BrcInputPartition] =
    df.queryExecution.optimizedPlan.collect { case r: DataSourceV2ScanRelation =>
      r.scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[BrcInputPartition])
    }.flatten

  // five files of unequal sizes; the fourth has no trailing '\n'
  private lazy val unequal: java.nio.file.Path = {
    val dir = tempDir("brcranges")
    Seq("Oslo;1.5\nZürich;-2.0\n", "A;0.1\n",
      "Bern;12.3\nOslo;-9.9\nRome;0.0\nAa;1.0\nBB;2.0\nOslo;99.9\n",
      "Zürich;45.6\nOslo;3.5", "Rome;-0.1\nA;-12.5\n").zipWithIndex.foreach {
      case (text, i) => java.nio.file.Files.write(dir.resolve(s"part-$i.csv"),
        text.getBytes("UTF-8"))
    }
    dir
  }

  private def bytesOf(uri: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(uri)))

  private val fewBytes = "spark.sql.files.openCostInBytes" -> "4"
  private def par(n: Int) = "spark.sql.leafNodeDefaultParallelism" -> n.toString

  test("ranges: one task per core over all files, byte-balanced") {
    val dir = unequal.toString
    for (p <- Seq(1, 3, 4)) withConf(fewBytes, par(p)) {
      val df = OneBrc.readMeasurementsV2(spark, dir)
      assert(scanTasks(df) == Seq(p), s"par=$p: one task per core, not per file")
      val rs = ranges(df)
      val sizes = rs.map(_.segments.map(s => s.end - s.start).sum)
      assert(sizes.max - sizes.min <= 1, s"par=$p: unbalanced $sizes")
      // every byte of every file lies in exactly one segment
      val segs = rs.flatMap(_.segments)
      val files = segs.map(_.path).distinct
      assert(files.length == 5)
      for (f <- files) {
        val tiles = segs.filter(_.path == f).sortBy(_.start)
        assert(tiles.head.start == 0 && tiles.last.end == bytesOf(f).length &&
          tiles.zip(tiles.tail).forall { case (a, b) => a.end == b.start },
          s"par=$p: $f is not tiled by $tiles")
      }
    }
  }

  test("ranges: pushed == row path == CSV datasource at splits 1..40") {
    val dir = unequal.toString
    val csv = stats(OneBrc.readMeasurements(spark, dir).collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 10))).toSeq)
    var endsAtFileEnd, beginsInLine = false
    for (p <- Seq(1, 3, 4); split <- 1L to 40L) withConf(fewBytes, par(p)) {
      assert(pushed(dir, split) == csv, s"par=$p split=$split")
      assert(rowPath(dir, split) == csv, s"par=$p split=$split")
      val rs = ranges(OneBrc.readMeasurementsV2(spark, dir, split))
      assert(rs.forall(_.segments.map(s => s.end - s.start).sum <= split))
      for (Seq(a, b) <- rs.sliding(2)) {
        val last = a.segments.last
        endsAtFileEnd ||= last.end == bytesOf(last.path).length &&
          b.segments.head.start == 0
      }
      beginsInLine ||= rs.exists(_.segments.exists(s =>
        s.start > 0 && bytesOf(s.path)(s.start.toInt - 1) != '\n'))
    }
    assert(endsAtFileEnd && beginsInLine, "the sweep must cut at a file end and inside a line")
  }

  test("ranges: empty inputs plan no task and answer no rows") {
    val emptyDir = tempDir("brcempty")
    for (i <- 0 until 3) java.nio.file.Files.write(emptyDir.resolve(s"e$i.csv"),
      Array.emptyByteArray)
    for (path <- Seq(file(""), emptyDir.toString)) {
      val v2 = OneBrc.readMeasurementsV2(spark, path)
      assert(scanTasks(v2) == Seq(0), path)
      assert(OneBrc.brcAggTenths(v2).collect().isEmpty, s"pushed: $path")
      assert(rowScan(OneBrc.brcAggTenths(v2.filter(col("t") > Long.MinValue)))
        .collect().isEmpty, s"row path: $path")
    }
  }

  test("ranges: an input under spark.sql.files.openCostInBytes is one task") {
    val path = file(fallbackText)
    for (p <- Seq(1, 4, 16)) withConf(par(p)) {
      assert(scanTasks(OneBrc.readMeasurementsV2(spark, path)) == Seq(1), s"par=$p")
    }
  }
}
