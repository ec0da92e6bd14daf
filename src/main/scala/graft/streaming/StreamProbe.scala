package graft.streaming


/** Per-micro-batch cost probe for the streaming harnesses (round-7
  * verdict #6: "break down q159's 3.07 s — measure it"). Runs q159's
  * body and prints one JSON line per micro-batch from the progress
  * objects (trigger duration and its addBatch/walCommit/stateCommit
  * split), plus the end-to-end wall time. Usage:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.streaming.StreamProbe \
  *     /root/testdata/sf0.1"
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession()

    for (rep <- 1 to 3) {
      graft.Staging.forget(graft.Staging.dirFor("sessstream", d))
      val t0 = System.nanoTime()
      val (df, progress) = Streaming.sessionTimersWithProgress(spark, d)
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      progress.foreach { p =>
        val dm = p.durationMs
        def ms(k: String) = Option(dm.get(k)).map(_.longValue).getOrElse(-1L)
        println(s"""{"rep":$rep,"batch":${p.batchId},""" +
          s""""rows":${p.numInputRows},""" +
          s""""triggerMs":${ms("triggerExecution")},""" +
          s""""addBatchMs":${ms("addBatch")},""" +
          s""""queryPlanningMs":${ms("queryPlanning")},""" +
          s""""walCommitMs":${ms("walCommit")},""" +
          s""""stateCommitMs":${ms("commitOffsets")}}""")
      }
      println(f"""{"rep":$rep,"total_sec":$sec%.2f,"out_rows":$rows}""")
    }
    spark.stop()
  }
}
