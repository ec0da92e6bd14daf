package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  /** Catalog names `s` cannot resolve, plus one evaluated call of a
    * function the config path once lacked. */
  private def unresolved(s: SparkSession): Seq[String] = {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.distinct.size == names.size, s"duplicate catalog names: $names")
    assert(names.contains("lsh_bands"), "q71/q74's LSH bander is a catalog entry")
    val missing = names.filterNot(s.catalog.functionExists)
    if (missing.isEmpty) {
      val nfc = s.sql("SELECT nfc_normalize('e\u0301') AS n").collect().head
      assert(nfc.getString(0) == "\u00e9")
    }
    missing
  }

  test("every catalog function resolves via the extension, install and a session clone") {
    val plain = SparkSpec.session.newSession()
    assert(!plain.catalog.functionExists("png_full"),
      "a bare newSession() starts without the graft catalog")
    assert(unresolved(Tables.sessionClone(plain)).isEmpty)
    GraftExtensions.install(plain)
    assert(unresolved(plain).isEmpty)
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(ext ne SparkSpec.session)
      assert(unresolved(ext).isEmpty)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }

  test("GraftExtensions injects cosine_sim/rolling_hash via session config") {
    // force a fresh session (same SparkContext) so extensions apply
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val h = s.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
      assert(h == 96354L)
      val c = s.sql(
        """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c"""
          .stripMargin).collect().head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      val brc = s.sql(
        "SELECT brc_station('Oslo;-3.7') AS st, brc_tenths('Oslo;-3.7') AS t")
        .collect().head
      assert(brc.getString(0) == "Oslo" && brc.getLong(1) == -37L)
      // kmv_sketch: injected, works on strings, REJECTS non-string input
      // at analysis time (hashing an internal value's toString would
      // silently disagree with any md5(CAST(x AS STRING)) oracle)
      val est = s.sql("SELECT kmv_sketch(CAST(id AS STRING)) AS e FROM range(10)")
        .collect().head.getDouble(0)
      assert(est == 10.0) // below k=64 -> exact
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        s.sql("SELECT kmv_sketch(id) FROM range(10)").collect()
      }
      assert(err.getMessage.contains("STRING"))
      // freq_sketch: injected; below K distinct the sketch is exact
      val fs = s.sql(
        "SELECT freq_sketch(CAST(id % 3 AS STRING)) AS m FROM range(9)")
        .collect().head.getMap[String, Long](0)
      assert(Seq("0", "1", "2").forall(k => fs.get(k).contains(3L)))
      val ferr = intercept[org.apache.spark.sql.AnalysisException] {
        s.sql("SELECT freq_sketch(id) FROM range(10)").collect()
      }
      assert(ferr.getMessage.contains("STRING"))
      // png_ihdr / wav_fmt: injected media-header decoders reject junk
      val media = s.sql(
        "SELECT png_ihdr(CAST('junk' AS BINARY)) AS p, " +
          "wav_fmt(CAST('junk' AS BINARY)) AS w").collect().head
      assert(media.isNullAt(0) && media.isNullAt(1))
      // bloom_agg/might_contain: Spark's runtime-filter pair, injected as
      // SQL — the bloom side must be a scalar subquery (or foldable), and
      // membership has no false negatives
      s.range(0, 100).createOrReplaceTempView("bloom_keys")
      val hits = s.sql(
        """SELECT count(*) AS n FROM range(200)
          |WHERE might_contain(
          |  (SELECT bloom_agg(xxhash64(id)) FROM bloom_keys),
          |  xxhash64(id))""".stripMargin).collect().head.getLong(0)
      assert(hits >= 100 && hits <= 110, // all members + bounded FPs
        s"bloom admitted $hits of 200 (100 true members)")
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }
}
