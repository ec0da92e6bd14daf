package graft.sources

import graft.SparkSpec
import graft.onebrc.OneBrc
import org.scalacheck.Gen

/** Property test for the brc connector's split contract: for ANY corpus
  * content (unicode stations, boundary measures, CRLF, no trailing
  * newline) and ANY split size, the scan must yield the exact multiset of
  * (station, tenths) rows — every line read exactly once regardless of
  * where chunk boundaries fall. This is the invariant the reference's
  * hand-rolled CHUNK logic bets on and never tests.
  */
class BrcSourcePropertySpec extends SparkSpec {
  import BrcSourcePropertySpec._

  test("property: any content x any split size -> exact row multiset") {
    for (trial <- 0 until 6) {
      val (rows, text) = corpus(trial)
      val sep = if (trial % 3 == 2) "\r\n" else "\n"
      val n = rows.length
      val f = tempFile("brcprop", ".csv")
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      val fileLen = java.nio.file.Files.size(f)
      val expected = rows.groupBy(identity).view.mapValues(_.size).toMap
      for (split <- Seq(3L, 17L, 101L, fileLen.max(1), fileLen + 10)) {
        val got = OneBrc.readMeasurementsV2(spark, f.toString, split)
          .collect().map(r => (r.getString(0), r.getLong(1)))
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(got == expected,
          s"trial=$trial split=$split sep=${sep.length} n=$n")
      }
      java.nio.file.Files.delete(f)
    }
  }

  test("glob paths and case-insensitive options resolve like built-in sources") {
    val dir = tempDir("brcglob")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "Oslo;1.5\nOslo;-0.5\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("b.csv"),
      "Bern;3.0\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("notes.txt"),
      "not;a;measurement\n".getBytes("UTF-8"))
    val got = spark.read.format("brc")
      .option("BRC.SPLIT.BYTES", "7") // upper-cased key must still apply
      .load(s"$dir/*.csv")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq(("Bern", 30L), ("Oslo", -5L), ("Oslo", 15L)),
      "glob must match exactly the two csv files, split option applied")
  }

  test("connector is usable from SQL DDL: CREATE TEMPORARY VIEW USING brc") {
    // a SQL-first user never touches the DataFrame API: the V2 connector
    // must register through the USING clause and behave like any built-in
    // source from there
    val f = tempFile("brcddl", ".csv")
    java.nio.file.Files.write(f, "Oslo;1.5\nBern;-0.5\nOslo;2.5\n".getBytes("UTF-8"))
    try {
      spark.sql(
        s"CREATE OR REPLACE TEMPORARY VIEW brc_ddl USING brc OPTIONS (path '$f')")
      val got = spark.sql(
        """SELECT station, count(*) AS n, sum(t) AS sum_t
          |FROM brc_ddl GROUP BY station ORDER BY station""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("Bern", 1L, -5L), ("Oslo", 2L, 40L)))
    } finally {
      spark.sql("DROP VIEW IF EXISTS brc_ddl")
      java.nio.file.Files.delete(f)
    }
  }
}

object BrcSourcePropertySpec {
  private val stationGen = Gen.oneOf(
    "Oslo", "Zürich", "St. John's", "Washington, D.C.", "Abéché", "A")
  private val lineGen = for {
    st <- stationGen
    tenths <- Gen.chooseNum(-9999, 9999)
  } yield (st, tenths.toLong)

  /** Trial `trial`'s (station, tenths) rows and their text: 50-449 lines,
    * CRLF on every third trial, a final line break on every other. */
  def corpus(trial: Int): (List[(String, Long)], String) = {
    val rnd = new scala.util.Random(7)
    val n = 50 + (0 to trial).map(_ => rnd.nextInt(400)).last
    val seed = org.scalacheck.rng.Seed(trial * 977L + 13)
    val rows = Gen.listOfN(n, lineGen).apply(Gen.Parameters.default, seed).get
    val sep = if (trial % 3 == 2) "\r\n" else "\n"
    val trailing = if (trial % 2 == 0) sep else "" // with/without final EOL
    val text = rows.map { case (st, t) =>
      val a = math.abs(t)
      s"$st;${if (t < 0) "-" else ""}${a / 10}.${a % 10}"
    }.mkString(sep) + trailing
    (rows, text)
  }
}
