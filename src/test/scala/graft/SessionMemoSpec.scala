package graft

import org.apache.spark.sql.execution.LogicalRDD

/** The [[SessionMemo]] contract (it also carries the q69/q77 CC labels):
  * one build per key under concurrency, recompute after lost checkpoint
  * blocks, and a fresh value after [[SessionMemo.forgetDir]] + rewrite.
  * Each test keys its own corpus dir, so no entry is shared with other
  * suites.
  */
class SessionMemoSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("N threads on one key run build exactly once") {
    val dir = tempDir("graft_memo_race").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 8).map { _ =>
      new Thread(() => try {
        val df = SessionMemo.once(spark, "spec-race", dir) {
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

  test("lost checkpoint blocks: the next once recomputes the same rows") {
    val dir = tempDir("graft_memo_lost").toString
    var builds = 0
    def get() = SessionMemo.once(spark, "spec-lost", dir) {
      builds += 1
      spark.range(50).toDF("id")
    }
    val first = get()
    val expected = rows(first)
    // drop the checkpoint's blocks, as an executor loss would
    val ckpt = first.queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l.rdd }.get
    ckpt.unpersist(blocking = true)
    assert(scala.util.Try(first.head(1)).isFailure,
      "the memoized frame must be broken once its blocks are gone")
    val second = get()
    assert(builds == 2, "a dead frame must be rebuilt, not served")
    assert(rows(second) == expected)
  }

  test("forgetDir followed by a rewrite serves the new value") {
    val dir = tempDir("graft_memo_forget").toString
    import spark.implicits._
    def write(v: Seq[Long]): Unit =
      v.toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    def get() = SessionMemo.once(spark, "spec-forget", dir) {
      spark.read.parquet(s"$dir/t.parquet")
    }
    write(Seq(1L, 2L))
    assert(rows(get()) == Seq(1L, 2L))
    write(Seq(7L, 8L, 9L))
    assert(rows(get()) == Seq(1L, 2L), "memo serves the first build")
    SessionMemo.forgetDir(dir)
    assert(rows(get()) == Seq(7L, 8L, 9L))
  }
}
