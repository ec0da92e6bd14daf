package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.functions.BrcParse

/** DataSource V2 for the 1BRC text format (`station;d?d.d` lines): the
  * reference's chunk-aligned byte scanner (rust_1brc/src/main.rs:174-198,
  * thebracket.rs:112-150) re-expressed as a Spark connector.
  *
  * The generic path (`spark.read.text` + parse expressions) materializes a
  * Hadoop `Text` and a line `UTF8String` per row before parsing. This
  * reader fuses line splitting and parsing into one pass over a reused
  * 4 MiB buffer: per row it allocates exactly the station key slice and
  * writes the measure as a primitive long (integer tenths, R4/R5
  * semantics) into a reused mutable row — nothing else.
  *
  * Ranges: the scan cuts the concatenated input files into byte-balanced
  * ranges, one task each (the reference's `size / NUM_CPUS` chunks,
  * thebracket.rs:121-131). The range size is
  * `min(brc.split.bytes, max(floor, ceil(total / par)))`, where `par` is
  * `spark.sql.leafNodeDefaultParallelism` (else the context's default
  * parallelism), `floor` is `spark.sql.files.openCostInBytes`, and
  * "brc.split.bytes" (128 MiB by default) is the most bytes one task
  * reads. A range that crosses a file boundary is one segment per file.
  *
  * Segment semantics are the standard chunk-aligned contract (identical to
  * LineRecordReader, and to the reference's CHUNK boundary rule at
  * rust_1brc/src/main.rs:177-186): a segment owns every line that STARTS
  * in (start, end] — plus offset 0 of its file — because a segment
  * starting at `start > 0` unconditionally skips forward past its first
  * '\n'.
  *
  * Usage: `spark.read.format("brc").load(paths...)` → schema
  * `(station STRING, t LONG)`. Malformed measures are hard errors
  * (the reference's error-not-skip semantics, main.rs:141-150) whenever
  * `t` is projected; a pruned scan (count(*), station-only) validates
  * only line structure, not the measure bytes it never reads.
  *
  * Pushed aggregate: for `GROUP BY station` over MIN, MAX, SUM and COUNT
  * of `t` (no DISTINCT) or COUNT(*) — `OneBrc.tenthsPartials` — the scan
  * folds each range into one row per station ([[BrcFoldReader]], the
  * reference's per-chunk station table) and Spark keeps the final merge.
  * Anything else, or a filter left above the scan, keeps row output. A
  * fold that reads `t` walks each line once, a word at a time (R4's one
  * pass per line, R5's word-wide separator search and loop-free measure
  * parse); the lines that walk cannot read take the line loop.
  *
  * Hadoop conf: the scan and the sink read and write through the Hadoop
  * `Configuration` of the session that built the plan (its
  * `spark.hadoop.*` settings, `fs.*.impl` schemes, credentials), captured
  * in `newScanBuilder` / `newWriteBuilder` while that session is active.
  * The conf (~110 KB serialized) reaches the tasks as one broadcast — one
  * per scan, made on its first `createReaderFactory`, and one per write
  * job — so the reader and writer factories in every task binary hold
  * only the broadcast handle, as Spark's own file scans do.
  */
class BrcDataSource extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "brc" // spark.read.format("brc")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BrcDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // DataFrameReader stores one load() path under "path", several under
    // "paths" as a JSON array
    val paths = (Option(properties.get("path")).map(Seq(_)) orElse
      Option(properties.get("paths")).map { js =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(js, classOf[Array[String]]).toSeq
      }).getOrElse(Seq.empty)
    require(paths.nonEmpty,
      "brc source requires at least one path: spark.read.format(\"brc\").load(path, ...)")
    // option names are case-insensitive, like every built-in source
    val opts = new CaseInsensitiveStringMap(properties)
    val splitBytes = opts.getLong("brc.split.bytes", 128L * 1024 * 1024)
    require(splitBytes > 0, s"brc.split.bytes must be positive, got $splitBytes")
    new BrcTable(paths, splitBytes)
  }
}

object BrcDataSource {
  val schema: StructType = StructType(Seq(
    StructField("station", StringType, nullable = false),
    StructField("t", LongType, nullable = false)))

  // the per-station value each pushed aggregate emits (BrcFoldReader
  // keeps min, max, sum and count of a station at these offsets)
  val FoldMin = 0
  val FoldMax = 1
  val FoldSum = 2
  val FoldCount = 3     // COUNT(t): reads and validates `t`
  val FoldCountStar = 4 // COUNT(*): the count again, station only

  /** One fold code per aggregate of `a`, in pushed order, when `a` is
    * `GROUP BY station` over MIN, MAX, SUM and COUNT of `t` (no DISTINCT)
    * or COUNT(*) — the set `OneBrc.tenthsPartials` asks for. None for
    * anything else: the scan keeps row output. */
  def foldKinds(a: Aggregation): Option[Array[Int]] = {
    def isCol(e: org.apache.spark.sql.connector.expressions.Expression,
        name: String): Boolean = e match {
      case r: NamedReference => r.fieldNames.sameElements(Array(name))
      case _ => false
    }
    val kinds = a.aggregateExpressions.map {
      case m: Min if isCol(m.column, "t") => FoldMin
      case m: Max if isCol(m.column, "t") => FoldMax
      case s: Sum if !s.isDistinct && isCol(s.column, "t") => FoldSum
      case c: Count if !c.isDistinct && isCol(c.column, "t") => FoldCount
      case _: CountStar => FoldCountStar
      case _ => -1
    }
    val byStation = a.groupByExpressions.length == 1 &&
      isCol(a.groupByExpressions()(0), "station")
    if (byStation && kinds.nonEmpty && !kinds.contains(-1)) Some(kinds)
    else None
  }
}

class BrcTable(paths: Seq[String], splitBytes: Long)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"brc(${paths.mkString(",")})"
  override def schema(): StructType = BrcDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  /** The WRITE half of the connector (q176): rows (station, t-tenths)
    * serialize back to `station;d?dd.d` lines — the same wire format the
    * scan parses, so write→read round-trips bit-exactly. Each task
    * streams its partition through one buffered output (no row
    * materialization beyond the line bytes); files are task-unique
    * (partitionId-taskId), so retries/speculation never clobber, commit
    * is a no-op and abort best-effort deletes. Overwrite mode arrives as
    * SupportsTruncate — existing data files are cleared once,
    * driver-side, before the factory ships. The building session's Hadoop
    * conf is captured here; each job broadcasts it once, and the factory
    * carries only the handle. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(paths.length == 1,
      s"brc sink writes to exactly one directory, got $paths")
    require(info.schema().map(f => (f.name, f.dataType)) ==
      BrcDataSource.schema.map(f => (f.name, f.dataType)),
      s"brc sink requires schema (station STRING, t LONG), got ${info.schema()}")
    val session = org.apache.spark.sql.SparkSession.active
    val conf = session.sessionState.newHadoopConf()
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var doTruncate = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        doTruncate = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            new BrcBatchWrite(paths.head, doTruncate, conf, session.sparkContext)
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // capture the BUILDING session's Hadoop conf (spark.hadoop.* creds,
    // fs.defaultFS) here, while that session is active on this thread —
    // resolving SparkSession.active later, at plan/execute time, can pick a
    // different session's conf (or none) in multi-session apps
    val session = org.apache.spark.sql.SparkSession.active
    val conf = session.sessionState.newHadoopConf()
    // the numbers Spark's own file sources split by
    val sql = session.sessionState.conf
    val par = sql.getConf(
      org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(session.sparkContext.defaultParallelism)
    val floor = sql.filesOpenCostInBytes
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownAggregates {
      private var pruned = BrcDataSource.schema
      private var pushed: Option[Aggregation] = None
      private var offeredAvg = false
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      // Spark offers avg(t) first as AVG, then again rewritten to SUM and
      // COUNT. avg of a long sums in double and never overflows; a pushed
      // long sum would throw, so a query that asked for avg keeps rows.
      override def supportCompletePushDown(a: Aggregation): Boolean = {
        offeredAvg ||= a.aggregateExpressions.exists(_.isInstanceOf[Avg])
        false // Spark keeps the final merge
      }
      override def pushAggregation(a: Aggregation): Boolean = {
        pushed = Some(a).filter(_ =>
          !offeredAvg && BrcDataSource.foldKinds(a).isDefined)
        pushed.isDefined
      }
      override def build(): Scan =
        new BrcScanV2(paths, splitBytes, par, floor, pruned, pushed, conf,
          session.sparkContext)
    }
  }
}

case class BrcCommitMessage(path: String)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** One write job into `dir`, through `conf` (driver side) and one
  * broadcast of it (tasks). */
class BrcBatchWrite(dir: String, truncate: Boolean, conf: Configuration,
    sc: SparkContext)
  extends org.apache.spark.sql.connector.write.BatchWrite {

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    // driver-side, once per job: prepare the target dir
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (truncate && fs.exists(p))
      fs.listStatus(p).filter(s =>
        !(s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith(".")) ||
          s.getPath.getName.endsWith(".inprogress")) // crashed-writer orphans
        .foreach(s => fs.delete(s.getPath, false))
    fs.mkdirs(p)
    BrcWriterFactory(dir, sc.broadcast(new SerializableConfiguration(conf)))
  }
  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {} // task files are final already
  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    messages.collect { case BrcCommitMessage(p) =>
      fs.delete(new Path(p), false)
    }
    ()
  }
}

/** Ships to every write task: the target dir and the conf's broadcast. */
case class BrcWriterFactory(dir: String,
    conf: Broadcast[SerializableConfiguration])
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new BrcDataWriter(s"$dir/part-$partitionId-$taskId.brc", conf.value.value)
}

/** Serializes (station UTF8String, t tenths) to `station;d?dd.d\n` —
  * digit arithmetic, no String/format allocation per row. */
class BrcDataWriter(path: String, conf: Configuration)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val p = new Path(path)
  // COMMIT PROTOCOL: bytes go to a dot-prefixed staging name and the
  // task COMMIT renames it to the final name (an atomic same-dir rename
  // on posix/HDFS). Readers — this connector and every built-in file
  // source — skip hidden names, so a writer that dies mid-write (its
  // abort() never runs: executor loss) leaves only an invisible orphan,
  // never a partial file that a later read silently unions with the
  // retry's output. Double-commit of one partition is excluded by
  // Spark's output commit coordinator (BatchWrite.useCommitCoordinator
  // defaults true); truncate-mode job setup sweeps old orphans.
  private val fs = p.getFileSystem(conf)
  private val staging = new Path(p.getParent, s".${p.getName}.inprogress")
  private val out = new java.io.BufferedOutputStream(
    fs.create(staging, true), 1 << 20)

  override def write(row: InternalRow): Unit = {
    out.write(row.getUTF8String(0).getBytes)
    out.write(';')
    var t = row.getLong(1)
    if (t < 0) { out.write('-'); t = -t }
    val ip = t / 10
    if (ip > 999) // the read side's honest 1-3-digit domain, enforced
      throw new IllegalArgumentException(
        s"brc sink: |t| = $t tenths exceeds the 1BRC 999.9 domain")
    if (ip >= 100) out.write('0' + (ip / 100).toInt)
    if (ip >= 10) out.write('0' + (ip / 10 % 10).toInt)
    out.write('0' + (ip % 10).toInt)
    out.write('.')
    out.write('0' + (t % 10).toInt)
    out.write('\n')
  }
  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    if (!fs.rename(staging, p))
      throw new java.io.IOException(
        s"brc sink: failed to publish $staging as $p")
    BrcCommitMessage(path)
  }
  override def abort(): Unit = {
    out.close()
    fs.delete(staging, false)
    ()
  }
  override def close(): Unit = {}
}

/** The `brc` scan: one row per line of `pruned`, or with a pushed
  * aggregate `agg` one row per station and range (`station`, then one
  * LONG per aggregate). The driver lists files through `conf`; the tasks
  * get it from one broadcast, made on the first `createReaderFactory`
  * and shared by every plan copy that holds this scan. */
class BrcScanV2(paths: Seq[String], splitBytes: Long, par: Int, floor: Long,
    pruned: StructType, agg: Option[Aggregation], conf: Configuration,
    sc: SparkContext)
  extends Scan with Batch {
  private val kinds = agg.flatMap(BrcDataSource.foldKinds)
  private lazy val confBroadcast = sc.broadcast(new SerializableConfiguration(conf))
  override def readSchema(): StructType = agg.fold(pruned) { a =>
    StructType(BrcDataSource.schema("station") +:
      a.aggregateExpressions.toSeq.map(f =>
        StructField(f.describe, LongType, nullable = false)))
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"BrcScan ${paths.mkString(",")} " + agg.fold(pruned.fieldNames.mkString(",")) {
      a => a.aggregateExpressions.map(_.describe)
        .mkString("PushedAggregation: [", ", ", "] PushedGroupBy: [station]")
    }

  /** Every input file, in order. */
  private def inputFiles(): Seq[FileStatus] =
    paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      def files(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filterNot(s => s.getPath.getName.startsWith("_") ||
              s.getPath.getName.startsWith("."))
            .flatMap(files)
        else Seq(st)
      // globStatus expands dir/*.csv like every built-in file source;
      // for a non-glob path it returns the plain status (or null when the
      // path does not exist — fall back to getFileStatus for its
      // FileNotFoundException message). Glob matches exclude hidden /
      // metadata names (_SUCCESS, .crc) just like the directory-listing
      // branch and the built-in sources; an explicitly named literal path
      // is honored even if hidden (the user asked for that exact file).
      val isGlob = path.exists("{}[]*?\\".contains(_))
      val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
        .filterNot(s => isGlob &&
          (s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")))
      val roots = if (matched.nonEmpty) matched else Seq(fs.getFileStatus(p))
      roots.flatMap(files)
    }

  /** Byte-balanced ranges over the concatenated files (sizes differ by at
    * most one byte), each a list of per-file segments. */
  override def planInputPartitions(): Array[InputPartition] = {
    val inputs = inputFiles().filter(_.getLen > 0)
    val total = inputs.map(_.getLen).sum
    if (total == 0) return Array.empty
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    // never more ranges than bytes: splitBytes > 0 and floor >= 1
    val n = math.max(ceilDiv(total, splitBytes),
      math.min(par.toLong, ceilDiv(total, math.max(floor, 1L))))
    // range i starts at i * q + min(i, r): the first r ranges get one more byte
    val (q, r) = (total / n, total % n)
    def at(i: Long): Long = i * q + math.min(i, r)
    val offsets = inputs.scanLeft(0L)(_ + _.getLen)
    (0L until n).map { i =>
      val (a, b) = (at(i), at(i + 1))
      BrcInputPartition(inputs.zip(offsets).collect {
        case (st, off) if off < b && off + st.getLen > a =>
          BrcSegment(st.getPath.toString, math.max(a - off, 0L),
            math.min(b - off, st.getLen))
      })
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    BrcReaderFactory(pruned.fieldNames.toSeq, kinds, confBroadcast)
}

/** Ships to every scan task: the projected fields, the fold codes of a
  * pushed aggregate, and the conf's broadcast. */
case class BrcReaderFactory(fields: Seq[String], kinds: Option[Array[Int]],
    conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BrcInputPartition]
    kinds.fold[PartitionReader[InternalRow]](
      new BrcPartitionReader(p, fields, conf.value.value))(
      new BrcFoldReader(p, _, conf.value.value))
  }
}

/** One file's bytes [start, end) of a range. */
case class BrcSegment(path: String, start: Long, end: Long)

/** One task's range: its segments, in file order. */
case class BrcInputPartition(segments: Seq[BrcSegment]) extends InputPartition

/** One pass over a range's segments, one after another, through one
  * 4 MiB buffer and one reused mutable row.
  * Lines span buffer refills via compaction (the tail fragment is moved to
  * the buffer head before the next read — the CHUNK_EXCESS carry-over,
  * rust_1brc/src/main.rs:22-25, without the bounded-line-length bet).
  * With a `fold` sink each line goes to [[BrcFoldReader.add]] instead of
  * the row, and one `next()` folds the whole range. Keeping the line
  * loop inside `next()` matters on a cold JVM: with a call per line, the
  * first segment to end mid-file deoptimized `next()` late in the job,
  * and the other tasks' compiled drain loops kept calling it in the
  * interpreter (1e7 rows after a CSV pass: 2.8–7.5 s instead of 1.6 s).
  * A fold that reads `t` on a little-endian host hands the buffer to
  * [[BrcFoldReader.addLines]] after each line the loop reads whose measure
  * [[BrcParse.wordTenths]] reads: that word walk, its own loop, folds the
  * owned lines after it and stops at the first one it cannot read (cut by
  * `limit`, `\r\n`, 3 integer digits, the integer form, malformed), which
  * the loop below reads as before — one refill, one ownership rule, one
  * set of errors. The loop reads on by itself after a line of any other
  * shape, so `\r\n` or integer-form input is read by the loop alone, not
  * by a walk that fails on every line. The row path and a COUNT(*)-only
  * fold never take the walk. */
class BrcPartitionReader(p: BrcInputPartition, fields: Seq[String],
    conf: Configuration, fold: BrcFoldReader = null)
  extends PartitionReader[InternalRow] {

  // column pruning: parse work is proportional to the projected columns —
  // a count(*) scan only splits lines, a station-only scan never parses
  // the measure (so measure malformation surfaces only when `t` is read)
  private val stationOrd = fields.indexOf("station")
  private val tOrd = fields.indexOf("t")
  // a fold that reads `t` walks its lines a word at a time
  private val words = fold != null && tOrd >= 0 && BrcFoldReader.wordWalk

  private val segments = p.segments.iterator
  private var seg: BrcSegment = null
  private var in: org.apache.hadoop.fs.FSDataInputStream = null
  private val buf = new Array[Byte](4 * 1024 * 1024)
  private var limit = 0           // valid bytes in buf
  private var pos = 0             // cursor within buf
  private var filePos = 0L        // file offset of buf(0)
  private var exhausted = true    // the open segment's file is read out
  private val row = new SpecificInternalRow(
    StructType(fields.map(BrcDataSource.schema(_))))

  /** Open the range's next segment. @return false when none is left */
  private def nextSegment(): Boolean = {
    close()
    in = null
    if (!segments.hasNext) return false
    seg = segments.next()
    val hp = new Path(seg.path)
    in = hp.getFileSystem(conf).open(hp)
    in.seek(seg.start)
    limit = 0; pos = 0; filePos = seg.start; exhausted = false
    // a segment starting mid-file begins at the first line AFTER the next
    // '\n' (that partial line belongs to the previous range)
    if (seg.start > 0) { fill(); skipPastNewline() }
    true
  }

  /** refill buf, compacting [pos, limit) to the front. @return got bytes */
  private def fill(): Boolean = {
    if (pos > 0) {
      System.arraycopy(buf, pos, buf, 0, limit - pos)
      filePos += pos; limit -= pos; pos = 0
    }
    var n = 0
    while (limit < buf.length && n >= 0) {
      n = in.read(buf, limit, buf.length - limit)
      if (n > 0) limit += n
    }
    if (n < 0 && limit == pos) { exhausted = true; false } else limit > pos
  }

  private def skipPastNewline(): Unit = {
    while (true) {
      while (pos < limit) {
        if (buf(pos) == '\n') { pos += 1; return }
        pos += 1
      }
      if (!fill()) return
    }
  }

  override def next(): Boolean = {
    // own lines that START in (start, end] — a line starting exactly at
    // `end` is ours, because the next range (seeking to `end` mid-line or
    // at its start) unconditionally skips past its first '\n'
    while (true) {
      while (exhausted || filePos + pos > seg.end)
        if (!nextSegment()) return false
      // find the line terminator; refill (compacting) if it's cut off
      var nl = pos
      while (nl < limit && buf(nl) != '\n') nl += 1
      if (nl >= limit) {
        val before = limit - pos
        if (!fill()) nl = limit // end of file, nothing left (pos == limit)
        else {
          nl = before // resume scan after compaction (pos is now 0)
          while (nl < limit && buf(nl) != '\n') nl += 1
          if (nl >= limit && limit == buf.length)
            throw new IllegalStateException(
              s"line longer than ${buf.length} bytes in ${seg.path}")
        }
      }
      val lineStart = pos
      val lineEnd = if (nl > lineStart && buf(nl - 1) == '\r') nl - 1 else nl
      pos = math.min(nl + 1, limit)
      if (lineEnd > lineStart) {
        if (stationOrd >= 0 || tOrd >= 0) {
          val sep = (BrcParse.sepIndex(buf, BYTE_ARRAY_OFFSET + lineStart,
            BYTE_ARRAY_OFFSET + lineEnd) - BYTE_ARRAY_OFFSET).toInt
          var t = 0L
          if (tOrd >= 0) {
            t = if (sep < lineEnd) BrcParse.parseTenths(buf,
              BYTE_ARRAY_OFFSET + sep + 1, BYTE_ARRAY_OFFSET + lineEnd)
            else Long.MinValue
            if (t == Long.MinValue)
              throw new IllegalArgumentException("malformed 1BRC line: " +
                new String(buf, lineStart, lineEnd - lineStart, "UTF-8"))
          }
          if (stationOrd >= 0 && sep >= lineEnd)
            throw new IllegalArgumentException("missing ';' in 1BRC line: " +
              new String(buf, lineStart, lineEnd - lineStart, "UTF-8"))
          if (fold != null) {
            fold.add(buf, lineStart, sep, t)
            // after a line of a shape it reads, the word walk folds the
            // owned lines that follow; after any other line the loop
            // reads on, so input of other shapes pays no walk per line
            if (words && sep + 9 <= limit && BrcParse.wordTenths(
                Platform.getLong(buf, BYTE_ARRAY_OFFSET + sep + 1)) != Long.MinValue)
              pos = fold.addLines(buf, pos, limit,
                math.min(seg.end - filePos, limit.toLong).toInt)
          } else {
            if (tOrd >= 0) row.setLong(tOrd, t)
            if (stationOrd >= 0) row.update(stationOrd, UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(buf, lineStart, sep)))
          }
        }
        if (fold == null) return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (in != null) in.close()
}

/** The pushed partial aggregate of one range (R4/R5's per-chunk station
  * table, PAPER.md §0). [[BrcPartitionReader]] hands every line of every
  * segment to [[addLines]], the word walk, or to [[add]], which fold it
  * into an open-addressing table keyed on the station bytes (413 keys in
  * the 1BRC data, at most 10,000 by its spec). The table's hash mixes the
  * station's 8-byte words and then its tail bytes (a 64-bit multiply per
  * word, [[BrcFoldReader.hash]]); the walk mixes the same words as it
  * passes them, so a station lands in one slot whichever of the two read
  * its line. Once the walk is drained, the reader emits one row per
  * station: `station`, then one LONG per pushed aggregate, in pushed
  * order. The sum uses `Math.addExact`, so overflow throws as Spark's
  * ANSI `Sum` does. */
class BrcFoldReader(p: BrcInputPartition, kinds: Array[Int], conf: Configuration)
  extends PartitionReader[InternalRow] {
  import BrcDataSource._

  private val walk = new BrcPartitionReader(p,
    if (kinds.forall(_ == FoldCountStar)) Seq("station") else Seq("station", "t"),
    conf, this)
  private var keys = new Array[Array[Byte]](1024)
  private var hashes = new Array[Int](keys.length)
  // per slot: min, max, sum, count — a fold code is its value's offset
  private var acc = new Array[Long](4 * keys.length)
  private var size = 0
  private var drained = false
  private var slot = -1
  private val row = new SpecificInternalRow(
    StringType +: kinds.toSeq.map(_ => LongType))

  private def home(h: Int): Int = (h ^ (h >>> 16)) & (keys.length - 1)

  /** Fold every line from `from` on that the word walk can read, while
    * the line starts at or before `last` (the range owns it). Per line:
    * the words from its start are matched for ';' and '\n' and mixed into
    * the station hash, the last one masked below the ';'; then the word
    * after the ';' goes to [[BrcParse.wordTenths]], and the next line
    * starts after its '\n'. @return the start of the first line not
    * folded: past `last`, or one for the line loop — a '\n' before the
    * ';', a word past `limit`, or a measure outside the fast shapes. */
  private[sources] def addLines(buf: Array[Byte], from: Int, limit: Int,
      last: Int): Int = {
    import BrcFoldReader._
    var p = from
    while (p <= last) {
      var i = p
      var h = 0L
      var w = 0L
      var semi = 0L
      while (semi == 0) {
        if (i + 8 > limit) return p
        w = Platform.getLong(buf, BYTE_ARRAY_OFFSET + i)
        semi = bytesEqual(w, Semis)
        if (semi == 0) {
          if (bytesEqual(w, Newlines) != 0) return p
          h = mix(h, w)
          i += 8
        }
      }
      val at = java.lang.Long.numberOfTrailingZeros(semi) // 8 × index + 7
      if (java.lang.Long.numberOfTrailingZeros(bytesEqual(w, Newlines)) < at) return p
      val sep = i + (at >>> 3)
      if (sep + 9 > limit) return p
      val m = Platform.getLong(buf, BYTE_ARRAY_OFFSET + sep + 1)
      val t = BrcParse.wordTenths(m)
      if (t == Long.MinValue) return p
      val tail = w & ((1L << (at - 7)) - 1) // the bytes below the ';'
      add(buf, p, sep, finish(mix(h, tail)), t)
      p = sep + 2 + (java.lang.Long.numberOfTrailingZeros(bytesEqual(m, Newlines)) >>> 3)
    }
    p
  }

  /** Fold the line whose station is `buf[from, sep)` and measure `t`. */
  private[sources] def add(buf: Array[Byte], from: Int, sep: Int, t: Long): Unit =
    add(buf, from, sep, BrcFoldReader.hash(buf, from, sep), t)

  private def add(buf: Array[Byte], from: Int, sep: Int, h: Int, t: Long): Unit = {
    var s = home(h)
    while (true) {
      val k = keys(s)
      val a = 4 * s
      if (k == null) {
        keys(s) = java.util.Arrays.copyOfRange(buf, from, sep)
        hashes(s) = h
        acc(a) = t; acc(a + 1) = t; acc(a + 2) = t; acc(a + 3) = 1
        size += 1
        if (2 * size > keys.length) grow()
        return
      }
      if (hashes(s) == h &&
          java.util.Arrays.equals(k, 0, k.length, buf, from, sep)) {
        if (t < acc(a)) acc(a) = t
        if (t > acc(a + 1)) acc(a + 1) = t
        acc(a + 2) = Math.addExact(acc(a + 2), t)
        acc(a + 3) += 1
        return
      }
      s = (s + 1) & (keys.length - 1)
    }
  }

  /** Double the table, keeping the load at most one half. */
  private def grow(): Unit = {
    val (ok, oh, oa) = (keys, hashes, acc)
    keys = new Array(2 * ok.length)
    hashes = new Array(keys.length)
    acc = new Array(4 * keys.length)
    for (j <- ok.indices if ok(j) != null) {
      var s = home(oh(j))
      while (keys(s) != null) s = (s + 1) & (keys.length - 1)
      keys(s) = ok(j)
      hashes(s) = oh(j)
      System.arraycopy(oa, 4 * j, acc, 4 * s, 4)
    }
  }

  override def next(): Boolean = {
    if (!drained) { walk.next(); drained = true } // folds the whole range
    slot += 1
    while (slot < keys.length && keys(slot) == null) slot += 1
    slot < keys.length
  }

  override def get(): InternalRow = {
    row.update(0, UTF8String.fromBytes(keys(slot)))
    var j = 0
    while (j < kinds.length) {
      row.setLong(j + 1, acc(4 * slot + math.min(kinds(j), FoldCount)))
      j += 1
    }
    row
  }

  override def close(): Unit = walk.close()
}

object BrcFoldReader {
  /** The word walk reads words in the byte order it masks them in. */
  private[sources] val wordWalk: Boolean =
    java.nio.ByteOrder.nativeOrder == java.nio.ByteOrder.LITTLE_ENDIAN

  private val Semis = 0x3B3B3B3B3B3B3B3BL
  private val Newlines = 0x0A0A0A0A0A0A0A0AL

  /** The high bit of each byte of `w` equal to the byte of `bytes`: the
    * lowest set bit is exact; bits above a match may be false. */
  private def bytesEqual(w: Long, bytes: Long): Long = {
    val x = w ^ bytes
    (x - 0x0101010101010101L) & ~x & 0x8080808080808080L
  }

  private def mix(h: Long, w: Long): Long = (h ^ w) * 0x9E3779B97F4A7C15L

  private def finish(h: Long): Int = (h ^ (h >>> 32)).toInt

  /** The station hash of `buf[from, until)`: its full 8-byte words, then
    * the tail bytes assembled little-endian (0 for none), each mixed in —
    * the words the walk mixes, so one station hashes the same on either
    * path. */
  private[sources] def hash(buf: Array[Byte], from: Int, until: Int): Int = {
    var h = 0L
    var i = from
    while (i + 8 <= until) {
      h = mix(h, Platform.getLong(buf, BYTE_ARRAY_OFFSET + i))
      i += 8
    }
    var tail = 0L
    var j = until
    while (j > i) { j -= 1; tail = tail << 8 | (buf(j) & 0xFF) }
    finish(mix(h, tail))
  }
}
