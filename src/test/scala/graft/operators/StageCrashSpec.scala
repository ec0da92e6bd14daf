package graft.operators

import graft.SparkSpec

/** Crash consistency of the durable Staging protocol (round-7 verdict
  * #4): the q151/q169 claim — "an index is built once, maintained by
  * deltas, and outlives every driver" — rests on marker files written
  * AFTER the stage data, so every crash window must replay safely:
  *
  *  - overwrite step, crash before marker → retry overwrites (clean);
  *  - APPEND step, crash between append and marker → without rollback
  *    the retry appends a second copy (silent double-admission): the
  *    `onceAppend` pre-manifest must delete the dead attempt's files;
  *  - stale marker (marker survives, data wiped) → rebuild, not serve.
  *
  * Each test runs on its OWN corpus dir (symlinked sf0.001 parquets) so
  * stage keys never collide with other suites' stages.
  */
class StageCrashSpec extends SparkSpec {

  /** Fresh corpus dir: symlinks to the sf0.001 tables → unique stage keys. */
  private def mkCorpus(tag: String,
      tables: Seq[String] = Seq("embeddings", "documents")): String = {
    val dir = tempDir(s"graft_crash_$tag")
    for (tbl <- tables)
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(s"$tbl.parquet"),
        java.nio.file.Paths.get(s"$sf0001/$tbl.parquet"))
    dir.toString
  }

  private def listParquet(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
  }

  test("ann delta: crash between append and marker replays to exactly-once") {
    val corpus = mkCorpus("annd")
    val codes = Similarity.annIncStageDir(corpus) + "/codes"
    Similarity.annIncBuild(spark, corpus)
    val baseFiles = graft.Staging.listFilesForTest(Seq(codes))
    val baseParquet = listParquet(codes)
    Similarity.annIncAdmit(spark, corpus)
    spark.catalog.refreshByPath(codes)
    val clean = spark.read.parquet(codes).count()
    assert(clean > 0 && listParquet(codes).size > baseParquet.size)

    // reconstruct the exact on-disk state of a writer that died between
    // the delta append and the marker write: appended files present,
    // pre-append manifest present, marker absent, memo gone (new JVM)
    val key = s"$codes@delta"
    assert(new java.io.File(key + ".staged").delete())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(key + ".pre"), baseFiles.mkString("\n"))
    graft.Staging.dropMemoForTest(key)

    Similarity.annIncAdmit(spark, corpus)
    spark.catalog.refreshByPath(codes)
    assert(spark.read.parquet(codes).count() == clean,
      "retry after crash must roll back the dead attempt, never double-admit")
    assert(new java.io.File(key + ".staged").isFile, "marker restored")
    assert(!new java.io.File(key + ".pre").isFile, "manifest cleaned up")
  }

  test("ann base: crash mid overwrite (no marker) rebuilds the full stage") {
    val corpus = mkCorpus("annb")
    val codes = Similarity.annIncStageDir(corpus) + "/codes"
    Similarity.annIncBuild(spark, corpus)
    spark.catalog.refreshByPath(codes)
    val clean = spark.read.parquet(codes).count()

    // crash simulation: some part files written, marker never created
    val key = s"$codes@base"
    assert(new java.io.File(key + ".staged").delete())
    graft.Staging.dropMemoForTest(key)
    val victim = new java.io.File(listParquet(codes).head)
    assert(victim.delete(), "simulate a half-written stage")

    Similarity.annIncBuild(spark, corpus)
    spark.catalog.refreshByPath(codes)
    assert(spark.read.parquet(codes).count() == clean,
      "missing marker must trigger a full overwrite rebuild")
  }

  test("lex delta: crash between postings append and marker replays clean") {
    val corpus = mkCorpus("lexd")
    val stage = TextAnalysis.lexIncStageDir(corpus)
    val dirs = Seq(s"$stage/postings", s"$stage/doclen")
    TextAnalysis.lexIncBuild(spark, corpus)
    val baseFiles = graft.Staging.listFilesForTest(dirs)
    TextAnalysis.lexIncAdmit(spark, corpus)
    dirs.foreach(spark.catalog.refreshByPath)
    val clean = dirs.map(p => spark.read.parquet(p).count())

    val key = s"$stage@delta"
    assert(new java.io.File(key + ".staged").delete())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(key + ".pre"), baseFiles.mkString("\n"))
    graft.Staging.dropMemoForTest(key)

    TextAnalysis.lexIncAdmit(spark, corpus)
    dirs.foreach(spark.catalog.refreshByPath)
    assert(dirs.map(p => spark.read.parquet(p).count()) == clean,
      "postings and doclen must come back exactly-once after the crash")
  }

  test("concurrent once() callers single-flight: one build, all observe it") {
    val dir = graft.Staging.dirFor("spec-race", mkCorpus("race"))
    val key = s"$dir/stage"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 8).map { _ =>
      new Thread(() => try {
        graft.Staging.once(key) {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          val f = new java.io.File(key)
          f.getParentFile.mkdirs()
          java.nio.file.Files.writeString(f.toPath, "data")
        }
        // after once() returns, the stage must be visible to this caller
        if (!new java.io.File(key).isFile)
          throw new AssertionError("once() returned before data visible")
      } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"racing callers failed: ${errors.peek()}")
    assert(builds.get() == 1,
      s"8 racing callers must produce exactly one build, got ${builds.get()}")
  }

  test("stale marker: marker without data rebuilds instead of serving") {
    val dir = graft.Staging.dirFor("spec-stale", mkCorpus("stale"))
    var builds = 0
    def build(): Unit = graft.Staging.once(dir) {
      builds += 1
      val d = new java.io.File(dir); d.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "part-0.parquet"), "x")
    }
    build()
    assert(builds == 1)
    // wipe the data, spare the marker (storage loss), restart the JVM
    new java.io.File(dir, "part-0.parquet").delete()
    new java.io.File(dir).delete()
    graft.Staging.dropMemoForTest(dir)
    build()
    assert(builds == 2,
      "a marker pointing at no data must be treated as stale → rebuild")
    assert(new java.io.File(dir, "part-0.parquet").isFile)
  }

  test("non-conforming once() key fails loudly instead of rebuilding forever") {
    val dir = graft.Staging.dirFor("spec-nonconf", mkCorpus("nonconf"))
    val key = s"$dir/declared"
    val elsewhere = s"$dir/actual"
    // write lands data at a path the key does NOT name: the derived-path
    // stale check would see "no data" on every new JVM and rebuild forever;
    // once() must reject the key instead of staging it quietly
    val ex = intercept[IllegalStateException] {
      graft.Staging.once(key) {
        val f = new java.io.File(elsewhere)
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath, "data")
      }
    }
    assert(ex.getMessage.contains(key))
    // the explicit-path overload is the conforming escape hatch
    var builds = 0
    graft.Staging.once(key, elsewhere) { builds += 1 }
    graft.Staging.once(key, elsewhere) { builds += 1 }
    assert(builds == 1, "explicit-path overload must stage exactly once")
  }

  test("forgetCorpus drops every key and marker of one corpus, no other") {
    val (a, b) = (mkCorpus("forgetA"), mkCorpus("forgetB"))
    def stage(key: String, data: String): Unit = graft.Staging.once(key) {
      val f = new java.io.File(data, "part-0.parquet")
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, "x")
    }
    val plain = graft.Staging.dirFor("spec-fc", a)
    val step = graft.Staging.dirFor("spec-fc2", a)
    val sub = graft.Staging.dirFor("ann-inc", a) + "/codes" // hyphenated ns
    val other = graft.Staging.dirFor("spec-fc", b)
    stage(plain, plain)
    stage(s"$step@step", step)
    stage(s"$sub@base", sub)
    stage(other, other)
    val ofA = Seq(plain, s"$step@step", s"$sub@base")
    // a crashed append's manifest is corpus state too
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$sub@delta.pre"), "")
    (ofA :+ other).foreach { k =>
      assert(graft.Staging.isStaged(k))
      assert(new java.io.File(k + ".staged").isFile)
    }

    graft.Staging.forgetCorpus(a)
    ofA.foreach { k =>
      assert(!graft.Staging.isStaged(k), s"$k still staged")
      assert(!new java.io.File(k + ".staged").exists, s"$k marker left")
    }
    assert(!new java.io.File(s"$sub@delta.pre").exists, "manifest left")
    assert(graft.Staging.isStaged(other), "corpus B must stay staged")
    assert(new java.io.File(other + ".staged").isFile, "B's marker must stay")
  }

  test("q132 served from a marker re-registers its bucketed tables") {
    val corpus = mkCorpus("bkt", Seq("orders", "customer"))
    val q132 = graft.sources.BucketedStage.queries("q132_bucketed_join")
    val clean = q132(spark, corpus).collect().toSeq
    val dir = graft.Staging.dirFor("bkt", corpus)
    def stamps = listParquet(dir).map(f => f -> new java.io.File(f).lastModified)
    val before = stamps
    assert(before.nonEmpty && new java.io.File(dir + ".staged").isFile)

    // restart: the in-memory catalog and the memo are gone, files and
    // marker stay (the tables are external, so DROP keeps their files)
    val db = graft.sources.BucketedStage.stage(spark, corpus)
    Seq("orders_b", "customer_b").foreach(t => spark.sql(s"DROP TABLE $db.$t"))
    graft.Staging.dropMemoForTest(dir)

    val df = q132(spark, corpus)
    assert(df.collect().toSeq == clean, "marker-served q132 must not change")
    assert(stamps == before, "a marker-served stage must not be rewritten")
    assert(df.queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount"), "re-registered tables stay bucketed")

    // invalidation rebuilds over the registered external tables
    graft.Staging.forgetCorpus(corpus)
    assert(q132(spark, corpus).collect().toSeq == clean)
    assert(stamps != before, "a forgotten stage must be rewritten")
  }
}
