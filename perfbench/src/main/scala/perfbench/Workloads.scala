package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.onebrc.OneBrc

/** One query of a workload. `build` constructs the DataFrame (the
  * construct span); `sink` executes it and checks the answer, returning
  * `Some(reason)` when the answer is wrong. */
final case class Query(name: String, module: String,
    build: SparkSession => DataFrame, sink: DataFrame => Option[String])

trait Workload {
  def name: String
  /** Untimed input preparation; returns facts for the run record. */
  def prepare(spark: SparkSession): Map[String, Any]
  /** One pass: every query once, in this order. */
  def pass: IndexedSeq[Query]
  /** Files whose raw bytes are the workload's input (the I/O floor). */
  def inputFiles: Seq[File]
  /** Input rows of one execution of `q`: a fixed count that does not
    * depend on how the engine runs the query. */
  def inputRows(q: Query): Long
  /** Most warm-up passes after the set-up rounds (stopped early once the
    * JIT settles). */
  def settleCap: Int
}

/** The 1BRC answer for one generated data set, and its on-disk forms. */
final case class BrcData(dir: File, rows: Long, seed: Long) {
  def text: File = new File(dir, "text")
  def parquet: File = new File(dir, "parquet")
  def reference: File = new File(dir, "reference.tsv")
  def meta(format: String): File = new File(dir, s"$format.generate_s")
}

object BrcData {
  val FilesPerFormat = 16 // several splits per core

  /** Reference answer, built from the generator alone (never reads files). */
  def referenceRows(spark: SparkSession, rows: Long, seed: Long): Seq[String] =
    OneBrc.brcAgg(OneBrc.generate(spark, rows, seed)).collect().toSeq.map(render)

  def render(r: Row): String =
    Seq(r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)).mkString("\t")

  /** Exact comparison of an answer against the reference lines. Doubles
    * compare numerically (so -0.0 equals 0.0), stations byte for byte. */
  def diff(got: Seq[Row], ref: Seq[String]): Option[String] = {
    if (got.length != ref.length) return Some(s"${got.length} rows, expected ${ref.length}")
    got.iterator.zip(ref.iterator).zipWithIndex.collectFirst {
      case ((g, r), i) if !same(g, r.split("\t")) => s"row $i: got ${render(g)} expected $r"
    }
  }

  private def same(g: Row, r: Array[String]): Boolean =
    g.getString(0) == r(0) && (1 to 3).forall(k => g.getDouble(k) == r(k).toDouble)

  /** A copy of the reference with one value moved by a tenth: the checker
    * must reject it (run on every execution as the checker's self-test). */
  def perturbed(ref: Seq[String]): Seq[Row] = ref.zipWithIndex.map { case (l, i) =>
    val f = l.split("\t")
    val bump = if (i == ref.length / 2) 0.1 else 0.0
    Row(f(0), f(1).toDouble, f(2).toDouble + bump, f(3).toDouble)
  }

  /** Make (or reuse) the data set for (seed, rows) in `formats`. A cached
    * format is reused only when its generation completed (its timing file
    * exists); its answers are still checked against the reference before
    * any timed operation. Returns the generation seconds paid by this call. */
  def ensure(spark: SparkSession, work: File, rows: Long, seed: Long,
      formats: Seq[String]): (BrcData, Seq[String], Double) = {
    val d = BrcData(new File(work, s"data/brc-n$rows-s$seed"), rows, seed)
    d.dir.mkdirs()
    d.dir.setLastModified(System.currentTimeMillis()) // most recently used
    if (!d.reference.isFile) {
      val tmp = new File(d.dir, "reference.tsv.tmp")
      Files.write(tmp.toPath, referenceRows(spark, rows, seed).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp.toPath, d.reference.toPath)
    }
    val ref = Files.readAllLines(d.reference.toPath, UTF_8).asScala.toSeq.filter(_.nonEmpty)
    var paid = 0.0
    formats.filterNot(f => d.meta(f).isFile).foreach { f =>
      val t0 = System.nanoTime()
      val gen = OneBrc.generate(spark, rows, seed).repartition(FilesPerFormat)
      f match {
        case "text" =>
          gen.write.mode("overwrite").option("sep", ";").option("header", "false")
            .csv(d.text.getPath)
        case "parquet" =>
          gen.select(col("station"), round(col("measure") * 10).cast("long").as("t"))
            .write.mode("overwrite").parquet(d.parquet.getPath)
      }
      val s = (System.nanoTime() - t0) / 1e9
      Files.write(d.meta(f).toPath, s.toString.getBytes(UTF_8))
      paid += s
    }
    (d, ref, paid)
  }

  def generateSeconds(d: BrcData, formats: Seq[String]): Double =
    formats.map(f => new String(Files.readAllBytes(d.meta(f).toPath), UTF_8).trim.toDouble).sum

  def dataFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(f => f.isFile && f.getName.startsWith("part-"))
}

/** `brc_text`: the paper's query over generated `station;d.d` text. */
final class BrcWorkload(work: File, seed: Long) extends Workload {
  val name = "brc_text"
  private val rows = BrcWorkload.Rows
  // passes keep getting faster for ~10 passes after set-up (JIT); settle
  // through most of that so the window measures the plateau
  val settleCap = 8
  @volatile private var data: BrcData = _
  @volatile private var ref: Seq[String] = Nil

  def prepare(spark: SparkSession): Map[String, Any] = {
    val (d, r, paid) = BrcData.ensure(spark, work, rows, seed, Seq("text"))
    data = d; ref = r
    require(BrcData.diff(BrcData.perturbed(ref), ref).isDefined,
      "answer checker accepted a perturbed answer")
    Map("rows" -> rows, "stations" -> ref.length, "generate_s_paid" -> paid,
      "cached" -> (paid == 0.0))
  }

  private def check(df: DataFrame): Option[String] = BrcData.diff(df.collect().toSeq, ref)

  lazy val pass: IndexedSeq[Query] = IndexedSeq(Query("brc_text", "onebrc.OneBrc",
    s => OneBrc.brcAggTenths(OneBrc.readMeasurementsV2(s, data.text.getPath)), check))

  def inputFiles: Seq[File] = BrcData.dataFiles(data.text)

  def inputRows(q: Query): Long = rows
}

object BrcWorkload {
  /** Rows per generated data set: an operation takes well under a second
    * here, so a run fits the benchmark's time budget with enough samples. */
  val Rows = 2000000L
}

/** `suite_mix`: a fixed set of `SparkEntry.queries` over the test tables
  * under `sfDir`, each written to the `noop` sink. Answers are checked
  * twice per run against the DuckDB oracles (see oracle.py): once in a
  * fresh session and once after the measured window. */
final class SuiteWorkload(sfDir: String) extends Workload {
  val name = "suite_mix"
  // the set-up rounds are already three passes; the JIT does not settle
  // within the time budget, so further passes would only delay the window
  val settleCap = 0
  /** One cheap query per engine module (short ids of SparkEntry.queries).
    * SqlEntry and streaming queries cost 1-1.5 s a pass each and do not
    * fit the run time budget. */
  private val mix = Seq("q01", "q20", "q212", "q292", "q115", "q204", "q283")
  private lazy val all = graft.SparkEntry.queries

  /** Module that owns each query, from the per-module query maps. */
  private lazy val owners: Map[String, String] = Seq(
    "onebrc.OneBrc" -> graft.onebrc.OneBrc.queries.keySet,
    "operators.Relational" -> graft.operators.Relational.queries.keySet,
    "operators.SqlEntry" -> graft.operators.SqlEntry.queries.keySet,
    "operators.Dedup" -> graft.operators.Dedup.queries.keySet,
    "operators.Graph" -> graft.operators.Graph.queries.keySet,
    "operators.Similarity" -> graft.operators.Similarity.queries.keySet,
    "operators.TextAnalysis" -> graft.operators.TextAnalysis.queries.keySet,
    "operators.Multimodal" -> graft.operators.Multimodal.queries.keySet,
  ).flatMap { case (m, ks) => ks.map(_ -> m) }.toMap

  /** Full query names for the short ids (q01 -> q01_onebrc_events). */
  lazy val names: Seq[String] = mix.map { id =>
    val hit = all.keys.filter(_.startsWith(id + "_")).toSeq
    require(hit.size == 1, s"suite query $id matches ${hit.size} names")
    hit.head
  }

  @volatile private var rowsOf: Map[String, Long] = Map.empty

  def prepare(spark: SparkSession): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    val missing = names.filterNot(oracle.contains)
    require(missing.isEmpty, s"suite queries without an oracle: ${missing.mkString(",")}")
    val tables = tableFiles.map(f => f.getName.stripSuffix(".parquet") -> f).toMap
    require(tables.nonEmpty, s"no test tables under $sfDir")
    val conf = spark.sparkContext.hadoopConfiguration
    val counts = tables.map { case (t, f) =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toURI), conf))
      try t -> r.getRecordCount finally r.close()
    }
    // a query's input rows: those of the tables its oracle SQL names
    rowsOf = names.map { n =>
      val words = "[a-z_]+".r.findAllIn(oracle(n).toLowerCase).toSet
      n -> counts.filter { case (t, _) => words(t) }.values.sum
    }.toMap
    Map("sf_dir" -> new File(sfDir).getName, "queries" -> names, "input_rows" -> rowsOf)
  }

  private def tableFiles: Seq[File] =
    Option(new File(sfDir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  lazy val pass: IndexedSeq[Query] = names.toIndexedSeq.map { n =>
    Query(n, owners.getOrElse(n, "other"), s => all(n)(s, sfDir), df => {
      df.write.format("noop").mode("overwrite").save(); None
    })
  }

  def inputFiles: Seq[File] = tableFiles

  def inputRows(q: Query): Long = rowsOf(q.name)

  /** The answer check: each query's output as parquet under `dir` plus
    * its oracle SQL, for oracle.py to compare in DuckDB. A query that
    * fails here has no answer file, which the check reports as wrong. */
  def writeAnswers(spark: SparkSession, dir: File): Map[String, String] = {
    val oracle = graft.SparkEntry.oracleSql
    pass.map { q =>
      try q.build(spark).coalesce(1).write.mode("overwrite").parquet(new File(dir, q.name).getPath)
      catch { case e: Exception => System.err.println(s"[perfbench] ${q.name}: $e") }
      q.name -> oracle(q.name)
    }.toMap
  }
}
