package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark JVM: runs one workload for a fixed time on one Spark session
  * and writes every raw observation (operation times, set-up rounds,
  * per-pass JIT/GC, listener counts and, when traced, spans) to a JSON
  * record. `run.py` builds this, launches it, checks the suite answers in
  * DuckDB and turns the record into metrics.
  *
  * Protocol, one closed-loop client:
  *  1. set-up rounds: each starts a fresh SparkSession and runs one pass
  *     (the first round also prepares the inputs, untimed, and for the
  *     suite writes the cold answers for the DuckDB check); `setup_s` is
  *     the median round;
  *  2. settle passes in the last session until a pass compiles little
  *     (JIT), capped;
  *  3. the measured window: whole passes until `seconds` have elapsed.
  *     Traced runs measure half the window untraced, then half traced;
  *  4. untimed epilogue: the retained memory, the suite's warm answers
  *     (written on the window's session, with its memos and caches),
  *     plan fingerprints, the CPU and I/O calibrations and, when traced,
  *     the 1BRC layer ladder.
  *
  * Every query execution of every step is recorded with its outcome.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File, sfDir: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  /** Set-up rounds per run; `setup_s` is their median. */
  val Rounds = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      new File(get("work")), new File(get("out")), m.getOrElse("sf", ""))
  }

  def startSession(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "tmp").getAbsolutePath)
      // keep the status store small, so retained memory does not grow with
      // the number of executions a run fits in its window
      .config("spark.ui.retainedJobs", "16")
      .config("spark.ui.retainedStages", "32")
      .config("spark.sql.ui.retainedExecutions", "16")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session settings that decide plans, minus per-run identities and paths. */
  def effectiveConf(s: SparkSession): Map[String, String] = {
    val volatile = "(app\\.(id|name|startTime|submitTime)|driver\\.(host|port)|executor\\.id|\\.dir$|extraJavaOptions)".r
    scala.collection.immutable.TreeMap(s.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.") && volatile.findFirstIn(k).isEmpty }: _*)
  }

  private val compile = ManagementFactory.getCompilationMXBean
  def jitMs: Long = compile.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** One executed query. Times in ns from `System.nanoTime`, stamped with
    * wall-clock ms for matching listener events. */
  final case class OpRec(pass: Int, qi: Int, traced: Boolean, startNs: Long, builtNs: Long,
      endNs: Long, startMs: Double, builtMs: Double, endMs: Double,
      wrong: Option[String], failed: Option[String], dfPhases: Map[String, (Long, Long)])

  final case class PassRec(pass: Int, traced: Boolean, wallNs: Long, jitMs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.work, "tmp").mkdirs()
    val wl: Workload = o.workload match {
      case "brc_text" => new BrcWorkload(o.work, o.seed)
      case "suite_mix" => new SuiteWorkload(o.sfDir)
      case w => sys.error(s"unknown workload $w")
    }
    val epochNs0 = System.nanoTime()
    val epochMs0 = System.currentTimeMillis().toDouble
    def wallMs(ns: Long): Double = epochMs0 + (ns - epochNs0) / 1e6

    var spark: SparkSession = null
    var rec: Recorder = null
    var prepared: Map[String, Any] = Map.empty
    var oracles: Map[String, String] = Map.empty
    val setupOps = ArrayBuffer.empty[OpRec]
    val settleOps = ArrayBuffer.empty[OpRec]
    val ops = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[PassRec]

    def runOp(pass: Int, qi: Int, traced: Boolean): OpRec = {
      val q = wl.pass(qi)
      val t0 = System.nanoTime()
      var t1 = t0
      var df: DataFrame = null
      val (wrong, failed) =
        try {
          df = q.build(spark)
          t1 = System.nanoTime()
          (q.sink(df), None)
        } catch { case e: Throwable =>
          (None, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val phases =
        if (traced && df != null)
          df.queryExecution.tracker.phases.map { case (k, s) => k -> (s.startTimeMs, s.endTimeMs) }
        else Map.empty[String, (Long, Long)]
      val r = OpRec(pass, qi, traced, t0, t1, t2, wallMs(t0), wallMs(t1), wallMs(t2),
        wrong, failed, phases)
      (wrong ++ failed).foreach(m => System.err.println(s"[perfbench] ${q.name}: $m"))
      r
    }

    def runPass(pass: Int, traced: Boolean, into: ArrayBuffer[OpRec]): PassRec = {
      val (j0, g0, t0) = (jitMs, gcMs, System.nanoTime())
      wl.pass.indices.foreach(qi => into += runOp(pass, qi, traced))
      PassRec(pass, traced, System.nanoTime() - t0, jitMs - j0, gcMs - g0)
    }

    val answersDir = new File(o.work, "answers")

    // 1. set-up rounds
    val rounds = (1 to Rounds).map { r =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession(o)
      rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      val p0 = System.nanoTime()
      if (r == 1) prepared = wl.prepare(spark)
      val prepNs = System.nanoTime() - p0
      wl match {
        case s: SuiteWorkload if r == 1 =>
          // the first round doubles as the cold answer check
          // (setup_s is the median round, never this cold one)
          oracles = s.writeAnswers(spark, new File(answersDir, "cold"))
        case _ => runPass(r, traced = false, setupOps)
      }
      (System.nanoTime() - t0 - prepNs) / 1e9
    }

    // 2. settle: stop once a pass spends under a tenth of its wall time
    //    compiling (summed over compiler threads), or at the cap
    val settle = ArrayBuffer.empty[PassRec]
    var settled = false
    while (!settled && settle.size < wl.settleCap) {
      val p = runPass(-1 - settle.size, traced = false, settleOps)
      settle += p
      settled = p.jitMs <= math.max(100L, p.wallNs / 1e6 / 10)
    }

    // 3. measured window
    def window(seconds: Double, traced: Boolean): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var first = true
      while (first || System.nanoTime() < deadline) {
        passes += runPass(passes.size, traced, ops)
        first = false
      }
    }
    if (o.trace) {
      window(o.seconds / 2, traced = false)
      spark.listenerManager.register(rec.phaseListener)
      window(o.seconds / 2, traced = true)
    } else window(o.seconds, traced = false)
    BusAccess.drain(spark.sparkContext)
    val peakRssMb = Plans.peakRssMb

    // 4. untimed epilogue
    val retainedMb = Plans.retainedMb
    wl match {
      case s: SuiteWorkload => s.writeAnswers(spark, new File(answersDir, "warm"))
      case _ =>
    }
    val fingerprints = wl.pass.map(q => q.name -> Plans.fingerprint(q.build(spark), o.work)).toMap
    val layers = Layers.calibrate(o, wl) ++
      (if (o.trace) Layers.ladder(spark, o) else ListMap.empty[String, Any])
    val storageMb = graft.CacheRegistry.storageBytes(spark) / 1e6
    BusAccess.drain(spark.sparkContext)

    val opJson = ops.map { r =>
      val q = wl.pass(r.qi)
      val from = math.floor(r.startMs).toLong
      val to = math.ceil(r.endMs).toLong
      val jobs = rec.jobsIn(from, to)
      val st = jobs.flatMap(_.stageIds).distinct.flatMap(rec.stages.get).filter(_.tasks > 0)
      val (maps, reduces) = st.partition(_.isMap)
      val base = ListMap[String, Any](
        "q" -> q.name, "module" -> q.module, "pass" -> r.pass, "traced" -> r.traced,
        "wall_s" -> (r.endNs - r.startNs) / 1e9, "construct_ms" -> (r.builtNs - r.startNs) / 1e6,
        "ok" -> (r.wrong.isEmpty && r.failed.isEmpty), "wrong" -> r.wrong, "failed" -> r.failed,
        "rows_in" -> wl.inputRows(q),
        "jobs" -> jobs.size, "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "busy_ms" -> st.map(_.taskMs.sum).sum,
        "map_wall_ms" -> maps.map(_.wallMs).sum, "map_busy_ms" -> maps.map(_.taskMs.sum).sum,
        "map_cpu_ms" -> maps.map(_.cpuNs).sum / 1e6, "map_gc_ms" -> maps.map(_.gcMs).sum,
        "map_tasks" -> maps.map(_.tasks).sum,
        "map_task_skew" -> Plans.skew(maps),
        "reduce_wall_ms" -> reduces.map(_.wallMs).sum,
        "shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum,
        "shuffle_write_records" -> st.map(_.shuffleWriteRecords).sum,
        "spill_bytes" -> st.map(_.spillBytes).sum)
      if (!r.traced) base
      else {
        val phases = Plans.phasesOf(r.dfPhases, rec.phasesIn(from, to))
        base ++ ListMap[String, Any](
          "analysis_ms" -> phases.filter(_._1 == "analysis").map(p => p._3 - p._2).sum,
          "optimization_ms" -> phases.filter(_._1 == "optimization").map(p => p._3 - p._2).sum,
          "planning_ms" -> phases.filter(_._1 == "planning").map(p => p._3 - p._2).sum,
          "spans" -> Plans.spans(r.startMs, r.builtMs, r.endMs, phases, jobs, rec))
      }
    }

    val record = ListMap[String, Any](
      "workload" -> wl.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cpus" -> o.cpus, "prepared" -> prepared,
      "config" -> effectiveConf(spark),
      "setup_rounds_s" -> rounds,
      "executions" -> Seq("setup" -> setupOps, "settle" -> settleOps, "window" -> ops).flatMap {
        case (step, rs) => rs.map(r => ListMap("step" -> step, "pass" -> r.pass,
          "q" -> wl.pass(r.qi).name, "traced" -> r.traced, "wall_s" -> (r.endNs - r.startNs) / 1e9,
          "ok" -> (r.wrong.isEmpty && r.failed.isEmpty), "reason" -> r.wrong.orElse(r.failed)))
      },
      "settle" -> ListMap("settled" -> settled, "passes" -> settle.map(p =>
        ListMap("wall_s" -> p.wallNs / 1e9, "jit_ms" -> p.jitMs, "gc_ms" -> p.gcMs))),
      "passes" -> passes.map(p => ListMap("pass" -> p.pass, "traced" -> p.traced,
        "wall_s" -> p.wallNs / 1e9, "jit_ms" -> p.jitMs, "gc_ms" -> p.gcMs)),
      "ops" -> opJson,
      "plan_fp" -> fingerprints,
      "oracles" -> oracles,
      "storage_mb" -> storageMb,
      "block_drops" -> rec.drops.get(),
      "peak_rss_mb" -> peakRssMb,
      "retained_mb" -> retainedMb,
      "layers" -> layers)
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(o.out, record)
  }
}
