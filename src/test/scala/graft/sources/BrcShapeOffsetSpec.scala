package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.SparkSpec
import graft.onebrc.OneBrc

/** Every measure shape at every byte of a word, against the file's end and
  * the 4 MiB refill boundary. The pushed fold reads lines a word at a time
  * ([[BrcFoldReader.addLines]]) and leaves every line it cannot read that
  * way to the line loop; either way the answer must be the row path's and
  * the CSV datasource's, and a malformed line must throw the line loop's
  * error. Stations of 0–17 bytes put the ';' and the measure at every byte
  * of a word and across word boundaries.
  */
class BrcShapeOffsetSpec extends SparkSpec {
  import BrcDataSource._

  private type Stat = (String, Long, Long, Long, Long) // station, min, max, sum, count

  // in-domain: 1-3 integer digits with and without '-', -0.0, a leading
  // zero and the integer form
  private val measures = Seq("7.4", "-7.4", "38.0", "-38.9", "103.4", "-999.9",
    "-0.0", "05.3", "12")
  private val eols = Seq("\n", "\r\n")
  private val lengths = 0 to 17
  // trailing dot, 4 integer digits, two dots, empty, a non-digit, and
  // ':', the byte after '9'
  private val malformed = Seq("12.", "1234.5", "1.2.3", "", "x.5", "1:.5")

  /** A station of exactly `len` bytes; for odd `k` it holds a 2-byte 'ü'. */
  private def station(len: Int, k: Int): String = {
    val fill = s"${('A' + k % 26).toChar}abcdefghijklmnopq"
    if (len >= 3 && k % 2 == 1) "ü" + fill.take(len - 2) else fill.take(len)
  }

  /** The CSV reference's arithmetic: a DOUBLE, times 10, rounded. */
  private def csvTenths(m: String): Long = math.round(m.toDouble * 10)

  private def stats(rows: Seq[(String, Long)]): Seq[Stat] =
    rows.groupBy(_._1).map { case (st, vs) =>
      val ts = vs.map(_._2)
      (st, ts.min, ts.max, ts.sum, ts.length.toLong)
    }.toSeq.sorted

  // --- through Spark ------------------------------------------------------

  private def pushed(path: String): Seq[Stat] = {
    val df = OneBrc.tenthsPartials(OneBrc.readMeasurementsV2(spark, path))
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.description()
    }
    assert(scans.nonEmpty && scans.forall(_.contains("PushedAggregation")), s"$scans")
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq.sorted
  }

  private def rowPath(path: String): Seq[Stat] =
    stats(OneBrc.readMeasurementsV2(spark, path).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq)

  // the CSV datasource reads an empty station as null
  private def csv(path: String): Seq[Stat] =
    stats(OneBrc.readMeasurements(spark, path).collect()
      .map(r => (Option(r.getString(0)).getOrElse(""),
        math.round(r.getDouble(1) * 10))).toSeq)

  private def withPar[T](n: Int)(body: => T): T = {
    val k = "spark.sql.leafNodeDefaultParallelism"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, n.toString)
    try body
    finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  // --- one range, read directly ------------------------------------------

  private val conf = new org.apache.hadoop.conf.Configuration()

  private def range(f: Path, start: Long): BrcInputPartition =
    BrcInputPartition(Seq(BrcSegment(f.toUri.toString, start, Files.size(f))))

  /** The pushed fold of one range; a station must sit in one slot. */
  private def foldOf(p: BrcInputPartition): Seq[Stat] = {
    val r = new BrcFoldReader(p, Array(FoldMin, FoldMax, FoldSum, FoldCount), conf)
    try {
      val out = Iterator.continually(r).takeWhile(_.next()).map(_.get()).map(row =>
        (row.getUTF8String(0).toString, row.getLong(1), row.getLong(2),
          row.getLong(3), row.getLong(4))).toVector
      assert(out.map(_._1).distinct.length == out.length, s"a station in two slots: $out")
      out.sorted
    } finally r.close()
  }

  private def rowsOf(p: BrcInputPartition): Seq[Stat] = {
    val r = new BrcPartitionReader(p, Seq("station", "t"), conf)
    try stats(Iterator.continually(r).takeWhile(_.next()).map(_.get())
      .map(row => (row.getUTF8String(0).toString, row.getLong(1))).toVector)
    finally r.close()
  }

  private def countStarOf(p: BrcInputPartition): Unit = {
    val r = new BrcFoldReader(p, Array(FoldCountStar), conf)
    try while (r.next()) () finally r.close()
  }

  private def failsWith(msg: String, what: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(msg), s"$what: ${e.getMessage}")
  }

  /** The bad lines, each with a flag for "has no ';'". */
  private def badLines: Seq[(String, Boolean)] =
    for {
      len <- lengths
      (line, semiless) <- malformed.map(m => (s"${station(len, len)};$m", false)) ++
        // a 0-byte station without ';' is an empty line, which is legal
        (if (len > 0) Seq((station(len, len), true)) else Nil)
    } yield (line, semiless)

  /** A malformed line throws the line loop's error on every path. */
  private def assertRejected(p: BrcInputPartition, line: String, semiless: Boolean): Unit = {
    failsWith("malformed 1BRC line", s"pushed: $line")(foldOf(p))
    failsWith("malformed 1BRC line", s"row path: $line")(rowsOf(p))
    if (semiless) failsWith("missing ';'", s"count(*): $line")(countStarOf(p))
  }

  test("in-domain shapes mid-file and as a file's last bytes: pushed == row path == CSV") {
    val dir = tempDir("brcshapes")
    var k = 0
    var all = Vector.empty[(String, Long)]
    for (len <- lengths; m <- measures; eol <- eols) {
      val st = station(len, k)
      // the line mid-file (the word walk's), then as the last bytes
      // (the line loop's), with no final line end
      val text = s"Head;1.0$eol$st;$m${eol}Tail;2.0$eol$st;$m"
      val f = Files.write(dir.resolve(f"s$k%04d.txt"), text.getBytes(UTF_8))
      val rows = Seq(("Head", 10L), (st, csvTenths(m)), ("Tail", 20L), (st, csvTenths(m)))
      // one range over the file: both copies land in one slot
      assert(foldOf(range(f, 0)) == stats(rows), s"len=$len m=$m eol=${eol.length}")
      all ++= rows
      k += 1
    }
    val want = stats(all)
    val path = dir.toString
    assert(csv(path) == want, "the CSV reference")
    for (par <- Seq(1, 4)) withPar(par) {
      assert(pushed(path) == want, s"pushed, par=$par")
      assert(rowPath(path) == want, s"row path, par=$par")
    }
  }

  test("mixed shapes and line ends in one file: the walk and the loop take turns") {
    // runs of the walk's shapes between lines only the loop reads, so the
    // walk stops and starts again all through the file
    val rnd = new scala.util.Random(11)
    val f = tempFile("brcmixed", ".txt")
    val rows = Vector.tabulate(5000) { i =>
      (station(rnd.nextInt(18), i), measures(rnd.nextInt(measures.length)),
        eols(if (rnd.nextInt(4) == 0) 1 else 0))
    }
    Files.write(f, rows.map { case (st, m, eol) => s"$st;$m$eol" }.mkString.getBytes(UTF_8))
    val want = stats(rows.map { case (st, m, _) => (st, csvTenths(m)) })
    assert(foldOf(range(f, 0)) == want, "pushed")
    assert(rowsOf(range(f, 0)) == want, "row path")
  }

  test("malformed lines mid-file and as a file's last bytes throw the line loop's errors") {
    val f = tempFile("brcbad", ".txt")
    for ((line, semiless) <- badLines;
         text <- Seq(s"Head;1.0\n$line\nOslo;1.5\nOslo;2.5\n", s"Head;1.0\nOslo;1.5\n$line")) {
      Files.write(f, text.getBytes(UTF_8))
      assertRejected(range(f, 0), line, semiless)
    }
  }

  // --- across the refill boundary ------------------------------------------

  // BrcPartitionReader's buffer: a range's first read ends this many bytes
  // after its start
  private val Buffer = 4 * 1024 * 1024
  // padding: 4,097 lines of 1,024 bytes, then the line under test at `At`
  private val PadLine = "P" * 1019 + ";0.0\n"
  private val At = Buffer + 1024

  /** A file holding the padding, then `tail` from `At` on, rewritten in
    * place per case. A range starting at `At + cut - Buffer` first reads
    * up to `cut` bytes into `tail`: the line there is cut by the refill. */
  private class Refill {
    val f: Path = tempFile("brcrefill", ".txt")
    Files.write(f, (PadLine * (At / PadLine.length)).getBytes(UTF_8))
    def put(tail: String): Unit = {
      val raf = new java.io.RandomAccessFile(f.toFile, "rw")
      try {
        val b = tail.getBytes(UTF_8)
        raf.seek(At); raf.write(b); raf.setLength(At + b.length)
      } finally raf.close()
    }
    def cutAt(cut: Int): BrcInputPartition = range(f, At + cut - Buffer)
    /** The padding lines a range cut at `cut` owns: those starting after
      * its start. */
    def padding(cut: Int): Seq[(String, Long)] = {
      val start = At + cut - Buffer
      val owned = (0 until At / PadLine.length).count(i => i.toLong * PadLine.length > start)
      Seq.fill(owned)(("P" * 1019, 0L))
    }
  }

  test("in-domain shapes cut by the refill boundary: pushed == row path == CSV arithmetic") {
    // each case reads 4 MiB per path, so each takes one line end, '\n'
    // and "\r\n" in turn
    val r = new Refill
    var k = 0
    for (len <- lengths; m <- measures) {
      val st = station(len, k)
      val line = s"$st;$m${eols(k / 3 % 2)}"
      val n = line.getBytes(UTF_8).length
      // the same station again after it, for the word walk
      r.put(s"$line$st;1.0\nTail;2.0\n")
      // the cut moves through the line and the word after its ';' from
      // case to case, and every third case it falls on the measure's
      // first byte
      for (cut <- (k * 5 % (n + 9) +: (if (k % 3 == 0) Seq(len + 1) else Nil)).distinct) {
        val want = stats(r.padding(cut) ++
          Seq((st, csvTenths(m)), (st, 10L), ("Tail", 20L)))
        val what = s"len=$len m=$m eol=${k / 3 % 2 + 1} cut=$cut"
        assert(foldOf(r.cutAt(cut)) == want, s"pushed: $what")
        assert(rowsOf(r.cutAt(cut)) == want, s"row path: $what")
      }
      k += 1
    }
  }

  test("malformed lines cut by the refill boundary throw the line loop's errors") {
    val r = new Refill
    for (((line, semiless), k) <- badLines.zipWithIndex) {
      r.put(s"$line\nOslo;1.5\n")
      val cut = k * 3 % (line.getBytes(UTF_8).length + 10)
      assertRejected(r.cutAt(cut), line, semiless)
    }
  }
}
