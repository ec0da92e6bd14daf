package perfbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption.READ
import java.util.concurrent.{Callable, Executors}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.onebrc.OneBrc

/** Untimed per-layer probes of a traced run, the same on every workload:
  * two environment calibrations and the 1BRC layer ladder on the seed's
  * generated data set (text and parquet). */
object Layers {
  private def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def medianOf(reps: Int)(body: => Unit): Double =
    Plans.median((1 to reps).map(_ => secs(body)))

  /** A fixed integer loop: moves only when the CPU does. */
  def cpuCalib(): Double = medianOf(5) {
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42L) println(acc) // keeps the loop live
  }

  /** Raw bytes of `files` read on `threads` threads, no Spark. */
  def readFloor(files: Seq[File], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try medianOf(3) {
      val tasks = files.grouped(math.max(1, (files.size + threads - 1) / threads)).map { group =>
        new Callable[Long] {
          def call(): Long = {
            val buf = ByteBuffer.allocateDirect(1 << 20)
            group.map { f =>
              val ch = FileChannel.open(f.toPath, READ)
              try {
                var n = 0L
                var r = 0
                while ({ r = ch.read(buf); r } >= 0) { n += r; buf.clear() }
                n
              } finally ch.close()
            }.sum
          }
        }
      }.toSeq
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
  }

  /** The two environment calibrations, recorded by every run. */
  def calibrate(o: Main.Opts, wl: Workload): ListMap[String, Any] = ListMap(
    "env.cpu_calib_s" -> cpuCalib(),
    "io.read_floor_s" -> readFloor(wl.inputFiles, o.cpus),
    "io.read_floor_bytes" -> wl.inputFiles.map(_.length).sum)

  /** The 1BRC layer ladder (traced runs): scan rungs and the full query. */
  def ladder(spark: SparkSession, o: Main.Opts): ListMap[String, Any] = {
    val (d, ref, paid) = BrcData.ensure(spark, o.work, BrcWorkload.Rows, o.seed, Seq("text", "parquet"))
    val text = d.text.getPath
    val parquet = d.parquet.getPath
    def v2Scan(): Unit = OneBrc.readMeasurementsV2(spark, text).write.format("noop").mode("overwrite").save()
    def pqScan(): Unit = spark.read.parquet(parquet).write.format("noop").mode("overwrite").save()
    def full(): Unit = {
      val got = OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(spark, text)).collect().toSeq
      BrcData.diff(got, ref).foreach(m => sys.error(s"layer ladder answer wrong: $m"))
    }
    def fullParquet(): Unit = {
      val got = OneBrc.brcAggTenths(spark.read.parquet(parquet)).collect().toSeq
      BrcData.diff(got, ref).foreach(m => sys.error(s"layer ladder parquet answer wrong: $m"))
    }
    v2Scan(); pqScan(); full(); fullParquet() // warm the plans, check both formats
    val scan = medianOf(7)(v2Scan())
    val pq = medianOf(7)(pqScan())
    val whole = medianOf(7)(full())
    ListMap(
      "sources.BrcDataSource.scan_s" -> scan,
      "sources.parquet.scan_s" -> pq,
      "onebrc.OneBrc.query_s" -> whole,
      "onebrc.OneBrc.agg_self_s" -> (whole - scan),
      "onebrc.generate_s" -> BrcData.generateSeconds(d, Seq("text", "parquet")),
      "onebrc.generate_s_paid" -> paid,
      "ladder_rows" -> BrcWorkload.Rows)
  }
}
