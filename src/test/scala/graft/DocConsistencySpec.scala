package graft

/** Docs-vs-code consistency: the README's suite count drifted two rounds
  * in a row when hand-written (round-6 fix #7, round-7 verdict #3). Now
  * the README carries a machine-checked `SUITE_COUNT: N` marker and this
  * spec fails the build whenever N != SparkEntry.queries.size — the only
  * way to add a query is to bump the README in the same change. It also
  * reads src/main so the session builder and the stage root each keep
  * exactly one home (GraftSession, Staging), SQL functions keep one
  * catalog (GraftExtensions), memoized frames stay Staging stages, the
  * JPEG and PNG codecs each keep one core, and the binary decoders share
  * one Malformed. */
class DocConsistencySpec extends SparkSpec {

  test("README SUITE_COUNT matches SparkEntry.queries.size") {
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get("README.md"))
    val m = "SUITE_COUNT: (\\d+)".r.findAllMatchIn(readme).toSeq
    assert(m.size == 1, "README must contain exactly one SUITE_COUNT marker")
    assert(m.head.group(1).toInt == SparkEntry.queries.size,
      s"README says ${m.head.group(1)} queries, " +
        s"SparkEntry.queries has ${SparkEntry.queries.size} — " +
        "update the README SUITE_COUNT in the same change")
  }

  test("every query id appears in a README table row") {
    // round-9 lesson (verdict #3): SUITE_COUNT pins only the count, so
    // per-query README rows silently drifted (q207/q208 shipped with no
    // row; q67/q138–q141 were missing for rounds). This walks every
    // SparkEntry.queries key and requires its qNNN id on some README
    // TABLE line (a `|` row), accepting the two referencing conventions
    // the README actually uses: a literal qNNN mention and a
    // `qAA`–`qBB` range.
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get("README.md"))
    val tableText = readme.linesIterator.filter(_.contains("|")).mkString("\n")
    val single = "q(\\d+)".r.findAllMatchIn(tableText)
      .map(_.group(1).toInt).toSet
    val ranged = "q(\\d+)`?\\s*[–-]\\s*`?q(\\d+)".r
      .findAllMatchIn(tableText)
      .flatMap(m => m.group(1).toInt to m.group(2).toInt).toSet
    val covered = single ++ ranged
    val missing = SparkEntry.queries.keySet.filter { k =>
      val id = "q(\\d+)".r.findFirstMatchIn(k).get.group(1).toInt
      !covered.contains(id)
    }
    assert(missing.isEmpty,
      s"queries with no README table row: ${missing.toSeq.sorted} — " +
        "add a coverage-table row in the same change")
  }

  test("every query has an oracle or a documented rows-only status") {
    // every queries entry should have oracleSql; the driver records a
    // weaker rows-only check for missing ones — keep that set empty
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without oracle SQL (rows-only fallback): $missing")
  }

  test("one session builder and one stage root in src/main") {
    // the copies this guards against: hand-built sessions in every main,
    // and private TrieMap + temp root + shutdown hook stage memos
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "src/main must be readable from the repo root")
    def offenders(needle: String, home: String): Seq[String] = files
      .filter(_.getFileName.toString != home)
      .filter(f => java.nio.file.Files.readString(f).contains(needle))
      .map(_.toString).sorted
    val stray = Seq(
      "SparkSession.builder()" -> offenders("SparkSession.builder()",
        "GraftSession.scala"),
      "createTempDirectory(" -> offenders("createTempDirectory(",
        "Staging.scala"),
      "addShutdownHook" -> offenders("addShutdownHook", "Staging.scala"))
      .filter(_._2.nonEmpty)
    assert(stray.isEmpty,
      s"build sessions with GraftSession, stage through Staging: $stray")
  }

  test("one function registration path in src/main: the GraftExtensions catalog") {
    // the copies this guards against: a register(spark) method per
    // function module beside the extension's own list, the two lists
    // drifting apart. lsh_bands is there too, bound to one hyperplane
    // matrix.
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "src/main must be readable from the repo root")
    def offenders(needle: String, home: String): Seq[String] = files
      .filter(_.getFileName.toString != home)
      .filter(f => java.nio.file.Files.readString(f).contains(needle))
      .map(_.toString).sorted
    val stray = Seq(
      "registerFunction(" -> offenders("registerFunction(",
        "GraftExtensions.scala"),
      "createOrReplaceTempFunction(" -> offenders(
        "createOrReplaceTempFunction(", "GraftExtensions.scala"))
      .filter(_._2.nonEmpty)
    assert(stray.isEmpty,
      s"add SQL functions to GraftExtensions.functions: $stray")
  }

  test("one JPEG codec core and one PNG decoder in src/main") {
    // the copies this guards against: a private Malformed class per binary
    // decoder, an IDCT per JPEG pixel decoder, and a second
    // chunk-walk/inflate path beside PngFull's
    val dir = java.nio.file.Paths.get("src/main/scala/graft/functions")
    def count(prefix: String, needle: String): Int =
      java.nio.file.Files.list(dir).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith(prefix))
        .map(f => java.nio.file.Files.readString(f)
          .split(java.util.regex.Pattern.quote(needle), -1).length - 1)
        .sum
    val counts = Seq(
      "" -> "class Malformed", "Jpeg" -> "(1L << 21)",
      "Png" -> "new java.util.zip.Inflater")
      .map { case (prefix, needle) => s"$prefix*: $needle" -> count(prefix, needle) }
    assert(counts.forall(_._2 == 1),
      s"each must appear exactly once — decode through JpegCodec / PngFull, " +
        s"fail through Malformed: $counts")
  }

  test("one memo of finished frames in src/main: Staging.frame") {
    // the second keyed memo beside Staging.once and its own corpus-forget
    // hooks: every memoized frame is a Staging stage, and
    // Staging.forgetCorpus is the one invalidation path
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => java.nio.file.Files.readString(f))
    assert(sources.nonEmpty, "src/main must be readable from the repo root")
    val gone = Seq("SessionMemo", "forgetDir(", "forgetAnnStages",
      "forgetLexStages", "GraftCacheProbe", "budgetBytes",
      "CacheRegistry.enforce").filter(n => sources.exists(_.contains(n)))
    assert(gone.isEmpty, s"memoize through Staging.frame, forget through " +
      s"Staging.forgetCorpus: $gone")
  }

  test("one 1BRC text reader and one tenths parse body in src/main") {
    // the copies this guards against: a second parse loop beside
    // BrcParse.parseTenths, and the slower text readers the brc
    // connector replaced
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.getFileName.toString -> java.nio.file.Files.readString(f))
    val sources = files.map(_._2)
    assert(sources.nonEmpty, "src/main must be readable from the repo root")
    def count(needle: String): Int = sources
      .map(_.split(java.util.regex.Pattern.quote(needle), -1).length - 1).sum
    assert(count("if (seenDot && frac == 0)") == 1,
      "parse 1BRC measures through BrcParse.parseTenths")
    // the word-shape parse: its '\n', '.', digit mask
    assert(count("0xFFF0FFF0F0L") == 1 &&
      files.filter(_._2.contains("0xFFF0FFF0F0L")).map(_._1) == Seq("BrcParse.scala"),
      "parse the fast 1BRC measure shapes through BrcParse.wordTenths")
    assert(count("System.arraycopy(buf, pos, buf, 0, limit - pos)") == 1,
      "walk 1BRC splits through BrcPartitionReader's one refill loop")
    val gone = Seq("readMeasurementsFast", "readMeasurementsTurbo",
      "readMeasurementsTenths", "\"brc_parse\"").filter(count(_) > 0)
    assert(gone.isEmpty, s"removed 1BRC text paths are back: $gone")
  }
}
