package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming (SURVEY §7.4 "streaming state" /
  * flatMapGroupsWithState): a per-user running spend monitor that emits an
  * alert row the moment cumulative spend crosses a threshold — the kind of
  * arbitrary per-key state no windowed aggregate expresses.
  */
case class Spend(user_id: Long, value: Double)
case class Alert(user_id: Long, total: Double, n_events: Int)

class StatefulStreamingSpec extends SparkSpec {

  test("flatMapGroupsWithState: per-user threshold alerts over a stream") {
    import spark.implicits._
    val dir = tempDir("graft_state").toString
    Tables_events().select(col("user_id"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(dir)

    val threshold = 5000.0
    def track(user: Long, rows: Iterator[Spend],
        state: GroupState[(Double, Int)]): Iterator[Alert] = {
      var (total, n) = state.getOption.getOrElse((0.0, 0))
      val crossed = scala.collection.mutable.Buffer[Alert]()
      rows.foreach { r =>
        val before = total
        total += r.value; n += 1
        if (before < threshold && total >= threshold)
          crossed += Alert(user, total, n)
      }
      state.update((total, n))
      crossed.iterator
    }

    val name = "graft_alerts"
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .parquet(dir).as[Spend]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(track)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()

    val alerts = spark.table(name).as[Alert].collect()
    // every user whose total spend exceeds the threshold alerts exactly once
    val expected = Tables_events().groupBy("user_id")
      .agg(sum("value").as("t")).filter(col("t") >= threshold).count()
    assert(alerts.length == expected)
    assert(alerts.forall(_.total >= threshold))
    assert(alerts.map(_.user_id).distinct.length == alerts.length)
  }

  test("freq_sketch carries bounded state across micro-batches (multi-batch stream)") {
    // q107 runs single-batch at the test SFs (one parquet file), so the
    // cross-micro-batch path — complete-mode aggregate state restored,
    // merged with the new batch's partials, re-emitted — is pinned here:
    // the corpus is split into 3 files, maxFilesPerTrigger=1 forces 3
    // micro-batches, and the final sketch must satisfy the Misra-Gries
    // envelope against exact counts over ALL batches combined.
    import spark.implicits._
    val K = graft.functions.FreqSketchAgg.K
    val dir = tempDir("graft_mbsk").toString
    // char pairs, not words: 82 distinct values > K, so eviction fires
    // across batch boundaries, not just state restore
    val words = graft.operators.TextAnalysis.charPairs(spark, sf0001)
      .select(col("pair").as("w"))
    words.repartition(3).write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet")) == 3)
    val name = s"graft_mbsk_${System.nanoTime()}"
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .agg(expr("freq_sketch(w)").as("sk"), count(lit(1)).as("total"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    val row = spark.table(name).collect().last // last emitted = all batches
    spark.catalog.dropTempView(name)
    val sk = row.getMap[String, Long](0)
    val total = row.getLong(1)
    val exact = words.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(total == exact.values.sum)
    assert(sk.size <= K, "stream state must stay capped at K counters")
    sk.foreach { case (w, est) =>
      assert(est <= exact(w), s"sketch overcounts $w")
    }
    exact.foreach { case (w, n) =>
      assert(n - sk.getOrElse(w, 0L) <= total / (K + 1),
        s"envelope violated for $w across micro-batches")
    }
  }

  test("transformWithState: ValueState carries across micro-batches (RocksDB)") {
    // q126 runs single-batch at the test SFs (one parquet file); the whole
    // point of the state store — running values CONTINUING across
    // micro-batches — is pinned here: 3 files, maxFilesPerTrigger=1 ⇒ 3
    // batches, and each user's final running (n, cents) must equal the
    // batch aggregate over ALL files even though no single batch saw all
    // of the user's events.
    import spark.implicits._
    val s2 = graft.Tables.sessionClone(spark)
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = tempDir("graft_tws").toString
    val evs = Tables_events().select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      graft.Tables.cents(col("value")).as("cts"))
    evs.repartition(3).write.mode("overwrite").parquet(dir)
    val name = s"graft_tws_spec_${System.nanoTime()}"
    val q = s2.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_us",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cts",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir).as[SpendEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningSpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        "3 files @ maxFilesPerTrigger=1 must arrive as 3 micro-batches")
    } finally q.stop()
    val out = s2.table(name).as[SpendRun].collect()
    s2.catalog.dropTempView(name)
    assert(out.length == evs.count(), "one output row per input event")
    val lastPerUser = out.groupBy(_.user_id)
      .map { case (u, rs) => u -> rs.maxBy(_.run_n) }
    val exact = evs.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cts").as("c")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(lastPerUser.size == exact.size)
    lastPerUser.foreach { case (u, r) =>
      assert((r.run_n, r.run_cents) == exact(u),
        s"user $u: state did not accumulate across batches")
    }
  }

  test("q142: state source time-travels across micro-batch snapshots") {
    // the state data source's ops value is PER-BATCH snapshots: reading
    // batchId=k shows the store as of micro-batch k. 3 files @
    // maxFilesPerTrigger=1 ⇒ 3 commits; per-key counts must be
    // non-decreasing across snapshots and the last snapshot must equal
    // the batch aggregate over all files.
    val s2 = graft.Tables.sessionClone(spark)
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    val dir = tempDir("graft_ssrc").toString
    val evs = Tables_events().select(col("event_type"), col("value"))
    evs.repartition(3).write.mode("overwrite").parquet(dir)
    val ckpt = tempDir("graft_ssrc_ck").toString
    val name = s"graft_ssrc_${System.nanoTime()}"
    val q = s2.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    s2.catalog.dropTempView(name)
    def snapshot(batch: Long): Map[String, Long] =
      s2.read.format("statestore").option("batchId", batch).load(ckpt)
        .select(col("key.*"), col("value.*")).toDF("event_type", "n")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val snaps = (0L to 2L).map(snapshot)
    snaps.sliding(2).foreach { case Seq(a, b) =>
      a.foreach { case (k, n) =>
        assert(b.getOrElse(k, 0L) >= n, s"count for $k regressed across batches")
      }
    }
    val exact = evs.groupBy("event_type").agg(count(lit(1))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snaps.last == exact, "final snapshot must equal the batch answer")
    assert(snaps.head.values.sum < exact.values.sum,
      "batch-0 snapshot must predate the later commits")
  }

  private def Tables_events() = graft.Tables.events(spark, sf0001)

  test("q159: timer-driven sessions equal the batch session_window answer") {
    val timers = Streaming.queries("q159_stream_session_timers")(spark, sf0001)
      .collect().toSeq
    val batch = Streaming.queries("q96_session_window")(spark, sf0001)
      .collect().toSeq
    assert(timers.nonEmpty)
    assert(timers == batch,
      s"timer sessions != session_window: ${timers.take(3)} vs ${batch.take(3)}")
    // no sentinel leakage: every emitted key is a real user
    assert(timers.forall(_.getLong(1) >= 0))
  }
}
