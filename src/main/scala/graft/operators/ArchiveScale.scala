package graft.operators

import org.apache.spark.sql.functions._

/** Full-scale proof for the archive-ingestion family (q283–q286/q300)
  * — the DedupScale/TriScale/EditScale analog for the wire formats:
  * generate a few hundred MB of WARC and warc.gz files with PLANTED,
  * arithmetically-known structure, decode them through the IDENTICAL
  * production expressions ([[graft.functions.ArchiveBytes]] via the
  * registered SQL functions over a binaryFile scan — never a
  * reimplementation), and gate exact claims:
  *
  *  (a) COMPLETENESS — every record of every intact file surfaces:
  *      record and member counts, Σ Content-Length and Σ inflated
  *      bytes must equal the generator's closed-form totals exactly.
  *  (b) TILING — per gz file, member (offset, csize) spans must
  *      partition the file byte range exactly (joined against the
  *      binaryFile `length` column — zero mismatching files).
  *  (c) MALFORMED ISOLATION — the one truncated .warc and the one
  *      trailer-corrupted .warc.gz decode to null and drop; every
  *      OTHER file is unaffected (the DROPMALFORMED blast radius is
  *      one file, never a scan failure).
  *
  * File contents are deterministic in (fileIdx, recIdx) — bodies are
  * runs of a hash-chosen letter with arithmetic lengths — so expected
  * totals recompute cheaply in the gate without a manifest, even with
  * --skip-gen. Writers are JDK-only (string framing +
  * GZIPOutputStream-per-record for the Common Crawl member layout),
  * independent of both the Python fixture generator and the Scala
  * decoders.
  *
  * Usage: runMain graft.operators.ArchiveScale [nFiles] [recsPerFile]
  *   [workDir] [--skip-gen]   (defaults 256 × 512 ≈ 190 MB plain+gz;
  *   ~1 min end to end at local[32]).
  */
object ArchiveScale {

  private val Iso = java.nio.charset.StandardCharsets.ISO_8859_1

  /** Deterministic record: response with a letter-run HTML body. */
  private[operators] def recordBytes(i: Long, j: Int): Array[Byte] = {
    val bodyLen = 200 + ((i * 131 + j * 17) % 800).toInt
    val ch = ('a' + ((i + j) % 26)).toChar
    val body = "<html><body><p>" + (ch.toString * bodyLen) +
      "</p></body></html>"
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      body).getBytes(Iso)
    val hdr = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: http://scale.test/$i/$j\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(Iso)
    hdr ++ payload ++ "\r\n\r\n".getBytes(Iso)
  }

  private def gzMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(data)
    gz.close()
    bos.toByteArray
  }

  /** plain files take even indices, gz files odd; one of each corrupt. */
  private def isPlain(i: Long): Boolean = i % 2 == 0
  private val CorruptPlain = 2L
  private val CorruptGz = 3L

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val nFiles = pos.headOption.map(_.toLong).getOrElse(256L)
    val recsPerFile = pos.drop(1).headOption.map(_.toInt).getOrElse(512)
    val work = pos.drop(2).headOption.getOrElse("/tmp/graft_archive_scale")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()
    spark.conf.set("spark.sql.shuffle.partitions", "64")

    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"phase":"$phase","sec":$sec%.2f,"n_files":$nFiles,"recs_per_file":$recsPerFile}""")
      r
    }

    if (!skipGen) timed("gen") {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      val k = recsPerFile
      spark.range(nFiles).repartition(64).foreach { i =>
        val records = (0 until k).map(j => recordBytes(i, j))
        val (name, bytesRaw) =
          if (isPlain(i)) (f"part-$i%05d.warc", records.flatten.toArray)
          else (f"part-$i%05d.warc.gz",
            records.flatMap(gzMember(_)).toArray)
        val bytes =
          if (i == CorruptPlain) bytesRaw.dropRight(3)
          else if (i == CorruptGz) {
            val b = bytesRaw.clone()
            b(b.length - 1) = (b(b.length - 1) ^ 0x01).toByte
            b
          } else bytesRaw
        java.nio.file.Files.write(
          java.nio.file.Paths.get(work, name), bytes)
        ()
      }
    }

    // closed-form expected totals (lengths only — no payloads built)
    def payloadLen(i: Long, j: Int): Long = {
      val bodyLen = 200 + ((i * 131 + j * 17) % 800)
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".length +
        "<html><body><p>".length + bodyLen + "</p></body></html>".length
    }
    var expPlainRecs = 0L; var expPlainContent = 0L
    var expGzMembers = 0L; var expGzUsize = 0L
    var i = 0L
    while (i < nFiles) {
      var j = 0
      while (j < recsPerFile) {
        val pl = payloadLen(i, j)
        val recLen = pl +
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Target-URI: http://scale.test/$i/$j\r\n" +
            s"Content-Length: $pl\r\n\r\n").length + 4
        if (isPlain(i) && i != CorruptPlain) {
          expPlainRecs += 1; expPlainContent += pl
        } else if (!isPlain(i) && i != CorruptGz) {
          expGzMembers += 1; expGzUsize += recLen
        }
        j += 1
      }
      i += 1
    }

    // ---- plain leg: warc_records over every *.warc ----
    val plain = timed("warc_decode") {
      val df = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc").load(work)
        .select(col("path"), expr("warc_records(content)").as("rs"))
      val okFiles = df.where(col("rs").isNotNull)
      val agg = okFiles.select(explode(col("rs")).as("r"))
        .agg(count(lit(1)), sum(col("r.content_length")),
          sum(when(col("r.http_status") === 200, 0L).otherwise(1L)))
        .collect()(0)
      (df.count(), okFiles.count(), agg.getLong(0), agg.getLong(1),
        agg.getLong(2))
    }
    val (nPlainFiles, nPlainOk, nRecs, sumContent, nBadStatus) = plain
    println(s"""{"check":"warc_complete","files":$nPlainFiles,"files_ok":$nPlainOk,"records":$nRecs,"expected_records":$expPlainRecs,"sum_content":$sumContent,"expected_content":$expPlainContent}""")
    require(nPlainOk == nPlainFiles - 1,
      s"exactly the one truncated .warc must drop: $nPlainOk of $nPlainFiles")
    require(nRecs == expPlainRecs && sumContent == expPlainContent,
      s"plain-leg totals broke: $nRecs/$expPlainRecs recs, " +
        s"$sumContent/$expPlainContent content bytes")
    require(nBadStatus == 0, s"$nBadStatus records parsed a non-200 status")

    // ---- gz leg: gzip_members over every *.warc.gz ----
    val gz = timed("gz_decode") {
      val df = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz").load(work)
        .select(col("path"), col("length"),
          expr("gzip_members(content)").as("ms"))
      val okFiles = df.where(col("ms").isNotNull)
      val m = okFiles.select(col("path"), col("length"),
        explode(col("ms")).as("m"))
      val agg = m.agg(count(lit(1)), sum(col("m.usize"))).collect()(0)
      // tiling: per file, member csizes must sum to the file length
      val badTiling = m.groupBy(col("path"), col("length"))
        .agg(sum(col("m.csize")).as("csum"))
        .where(col("csum") =!= col("length")).count()
      (df.count(), okFiles.count(), agg.getLong(0), agg.getLong(1),
        badTiling)
    }
    val (nGzFiles, nGzOk, nMembers, sumUsize, badTiling) = gz
    println(s"""{"check":"warcgz_complete","files":$nGzFiles,"files_ok":$nGzOk,"members":$nMembers,"expected_members":$expGzMembers,"sum_usize":$sumUsize,"expected_usize":$expGzUsize,"bad_tiling_files":$badTiling}""")
    require(nGzOk == nGzFiles - 1,
      s"exactly the one trailer-corrupt .warc.gz must drop: $nGzOk of $nGzFiles")
    require(nMembers == expGzMembers && sumUsize == expGzUsize,
      s"gz-leg totals broke: $nMembers/$expGzMembers members, " +
        s"$sumUsize/$expGzUsize inflated bytes")
    require(badTiling == 0,
      s"$badTiling gz files whose member spans fail to tile the file")

    spark.stop()
  }
}
