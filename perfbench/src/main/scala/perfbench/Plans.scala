package perfbench

import java.io.File
import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Plan fingerprints, span trees and small statistics for the run record. */
object Plans {
  private val rewrites = Seq(
    "#\\d+L?" -> "#",                             // exprIds
    "\\b(plan_id|id|rdd|RDD)([=\\[ ]#?)\\d+" -> "$1$2", // plan, RDD and exchange ids
    "@[0-9a-f]{5,}" -> "@",                       // object identity hashes
    "0x[0-9a-f]+" -> "0x",
    "\\$\\$Lambda\\$?[0-9/]*" -> "\\$\\$Lambda",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>",
    "\\d{9,}" -> "<n>",                           // timestamps, temp-dir suffixes
    "brc-n\\d+-s\\d+" -> "brc-data")                // the seed's generated data set

  /** Hash of the optimized logical plan with exprIds, RDD ids, identity
    * hashes and the checkout's own paths stripped, so that the same plan
    * hashes the same in any checkout and any run. */
  def fingerprint(df: DataFrame, work: File): String = {
    val root = work.getAbsoluteFile.getParentFile.getAbsolutePath
    var s = df.queryExecution.optimizedPlan.treeString
      .replace(work.getAbsolutePath, "<work>").replace(root, "<root>")
      .replace(System.getProperty("java.io.tmpdir"), "<tmp>")
    rewrites.foreach { case (re, to) => s = s.replaceAll(re, to) }
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Longest task over the median task, worst stage of the group. */
  def skew(stages: Seq[StageAgg]): Double = {
    val r = stages.filter(_.taskMs.size >= 2).map { s =>
      val t = s.taskMs.sorted
      t.last.toDouble / math.max(1L, t(t.size / 2))
    }
    if (r.isEmpty) 1.0 else r.max
  }

  /** Planning phases of one operation: its own DataFrame's tracker plus
    * every query execution the listener saw in its window, each phase once. */
  def phasesOf(own: Map[String, (Long, Long)], seen: Seq[PhaseRec]): Seq[(String, Long, Long)] =
    (own.toSeq ++ seen.flatMap(_.phases.toSeq))
      .map { case (k, (a, b)) => (k, a, b) }.distinct.sortBy(_._2)

  /** Span tree of one traced operation: op -> construct | execution ->
    * planning phases and jobs -> stages. A child goes under construct when
    * it starts before the DataFrame was built, else under execution. */
  def spans(startMs: Double, builtMs: Double, endMs: Double,
      phases: Seq[(String, Long, Long)], jobs: Seq[JobRec], rec: Recorder): Seq[ListMap[String, Any]] = {
    val out = Seq.newBuilder[ListMap[String, Any]]
    var next = 0
    def span(name: String, layer: String, parent: Int, a: Double, b: Double): Int = {
      val id = next
      next += 1
      out += ListMap("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
        "start_ms" -> a, "end_ms" -> math.max(a, b))
      id
    }
    val op = span("operation", "perfbench", -1, startMs, endMs)
    val construct = span("construct", "SparkEntry", op, startMs, builtMs)
    val execution = span("execution", "runtime", op, builtMs, endMs)
    def under(t: Double): Int = if (t < builtMs) construct else execution
    phases.foreach { case (k, a, b) => span(k, "plans", under(a.toDouble), a.toDouble, b.toDouble) }
    jobs.foreach { j =>
      val end = if (j.endMs >= j.startMs) j.endMs.toDouble else endMs
      val jid = span(s"job", "runtime", under(j.startMs.toDouble), j.startMs.toDouble, end)
      j.stageIds.flatMap(rec.stages.get).filter(_.tasks > 0).foreach { s =>
        span(if (s.isMap) "stage.map" else "stage.reduce", if (s.isMap) "runtime" else "exchange",
          jid, s.submitMs.toDouble, s.completeMs.toDouble)
      }
    }
    out.result()
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .split("\n").find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)
  }

  /** Memory this JVM still holds after a full collection, in MB: live
    * heap, metaspace and NIO buffers. Unlike the resident size, which
    * follows the fixed heap, it moves with what the program keeps:
    * caches, memos, generated classes, leaks. The JIT's code cache is
    * recorded but left out of the total: it follows compile timing. */
  def retainedMb: ListMap[String, Double] = {
    // collect until the heap stops shrinking: Spark's ContextCleaner frees
    // broadcasts and shuffles only after a collection has found them dead
    val heap = ManagementFactory.getMemoryMXBean
    var before = Long.MaxValue
    var rounds = 0
    while (rounds < 5 && before - heap.getHeapMemoryUsage.getUsed > (1L << 20)) {
      before = heap.getHeapMemoryUsage.getUsed
      System.gc()
      Thread.sleep(200)
      rounds += 1
    }
    val mb = 1048576.0
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.NON_HEAP)
    val (code, meta) = pools.partition(_.getName.startsWith("CodeHeap"))
    val parts = ListMap(
      "heap" -> heap.getHeapMemoryUsage.getUsed / mb,
      "metaspace" -> meta.map(_.getUsage.getUsed).sum / mb,
      "buffers" -> ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
        .map(_.getMemoryUsed).sum / mb)
    parts ++ ListMap("total" -> parts.values.sum, "code_cache" -> code.map(_.getUsage.getUsed).sum / mb)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
