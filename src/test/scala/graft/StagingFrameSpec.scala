package graft

/** The [[Staging.frame]] contract (the memo behind the trained ANN models,
  * the ranked lists, the verified dedup pairs and the CC labels): one
  * build per key under concurrency, a fresh value after
  * [[Staging.forgetCorpus]] + rewrite, and a kept marker serving the
  * staged frame after a restart without building it again. Each test keys
  * its own corpus dir, so no stage is shared with other suites.
  */
class StagingFrameSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("8 racing threads on one frame run build exactly once") {
    val dir = tempDir("graft_frame_race").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 8).map { _ =>
      new Thread(() => try {
        val df = Staging.frame(spark, "spec-race", dir) {
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window
          spark.range(20).toDF("id")
        }
        results.add(rows(df))
      } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"racing callers failed: ${errors.peek()}")
    assert(builds.get() == 1,
      s"8 racing callers must produce exactly one build, got ${builds.get()}")
    assert(results.size == 8 &&
      results.toArray.forall(_ == (0L until 20L)))
  }

  test("forgetCorpus followed by a rewrite serves the new value") {
    val dir = tempDir("graft_frame_forget").toString
    import spark.implicits._
    def write(v: Seq[Long]): Unit =
      v.toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    def get() = Staging.frame(spark, "spec-forget", dir) {
      spark.read.parquet(s"$dir/t.parquet")
    }
    write(Seq(1L, 2L))
    assert(rows(get()) == Seq(1L, 2L))
    write(Seq(7L, 8L, 9L))
    assert(rows(get()) == Seq(1L, 2L), "the frame serves the first build")
    Staging.forgetCorpus(dir)
    assert(rows(get()) == Seq(7L, 8L, 9L))
  }

  test("a kept marker serves the frame after a restart without a build") {
    val dir = tempDir("graft_frame_restart").toString
    var builds = 0
    def get() = Staging.frame(spark, "spec-restart", dir) {
      builds += 1
      spark.range(30).toDF("id")
    }
    assert(rows(get()) == (0L until 30L))
    // a new JVM: the in-memory memo is gone, the marker and data remain
    Staging.dropMemoForTest(Staging.dirFor("spec-restart", dir))
    assert(rows(get()) == (0L until 30L))
    assert(builds == 1, "a durable stage must be served, not rebuilt")
  }
}
