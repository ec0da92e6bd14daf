package graft.operators

import org.apache.spark.sql.functions._

/** Full-scale proof for the JPEG family (q315/q316) — the ArchiveScale
  * analog for the image wire format: generate thousands of baseline
  * JPEGs with PLANTED, arithmetically-known structure, decode them
  * through the IDENTICAL production expressions (`jpeg_info` +
  * `jpeg_pixels` over a binaryFile scan — never a reimplementation),
  * and gate exact claims:
  *
  *  (a) COMPLETENESS — every intact file decodes: file counts,
  *      Σ n_blocks, Σ scan_bytes (segment layer) and Σ px_sum /
  *      Σ px_sqsum (pixel layer) must equal the generator's recomputed
  *      totals EXACTLY — at this corpus size a single wrong pixel
  *      anywhere moves Σ px_sqsum.
  *  (b) CROSS-EXPRESSION CONSISTENCY — for every good file the segment
  *      walk and the full decode must agree on (width, height): two
  *      independent parsers of the same bytes, joined per file.
  *  (c) MALFORMED ISOLATION — exactly the three planted corruptions
  *      (mid-scan truncation, SOS marker flipped to reserved 0x7A, an
  *      AC run past index 63) void, each only its own file.
  *
  * The writer is JDK-only Scala (bit-level Huffman encoder, canonical
  * tables, byte stuffing) — independent of both the Python fixture
  * generator and the DECODE direction of the production expressions.
  * The expected pixel totals recompute with Spark-parallel per-file
  * formula math sharing only [[graft.functions.JpegCodec.K]]/ZZ (the
  * fixed-point IDCT constants are the contract, already 3-way validated
  * at fixture scale); the Huffman/entropy layer is genuinely round-
  * tripped: the gate's bytes were ENCODED by this writer and DECODED by
  * the production expression.
  *
  * Usage: runMain graft.operators.JpegScale [nFiles] [workDir]
  *   [--skip-gen]   (default 4096 files of 128×128 px ≈ 35 MB,
  *   ~268M pixels decoded; ~1 min end to end at local[32]).
  */
object JpegScale {

  private val Dim = 128 // px per side -> 16x16 = 256 blocks per file
  private val BlocksPerFile = (Dim / 8) * (Dim / 8)

  private val CorruptTrunc = 3L
  private val CorruptFlip = 5L
  private val CorruptAcRun = 7L
  private val Corrupt = Set(CorruptTrunc, CorruptFlip, CorruptAcRun)

  // --- canonical fixed-length Huffman tables (carried in DHT) -----------
  private val DcSyms: Array[Int] = (0 until 12).toArray
  private val AcSyms: Array[Int] =
    Array(0x00, 0xF0) ++ (for (r <- 0 until 16; s <- 1 to 10) yield (r << 4) | s)
  private val DcBits: Array[Int] = Array(0, 0, 0, 12) ++ Array.fill(12)(0)
  private val AcBits: Array[Int] = Array.fill(7)(0) ++ Array(AcSyms.length) ++ Array.fill(8)(0)
  // progressive AC table adds the EOBn symbols (r<<4, r 0..14)
  private val ProgAcSyms: Array[Int] =
    (0 until 15).map(_ << 4).toArray ++ Array(0xF0) ++
      (for (r <- 0 until 16; s <- 1 to 10) yield (r << 4) | s)
  private val ProgAcBits: Array[Int] =
    Array.fill(7)(0) ++ Array(ProgAcSyms.length) ++ Array.fill(8)(0)

  private def canonical(bits: Array[Int], syms: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val m = Map.newBuilder[Int, (Int, Int)]
    var ln = 1
    while (ln <= 16) {
      var c = 0
      while (c < bits(ln - 1)) {
        m += syms(k) -> (ln, code)
        code += 1; k += 1; c += 1
      }
      code <<= 1
      ln += 1
    }
    m.result()
  }
  private val DcCodes = canonical(DcBits, DcSyms)
  private val AcCodes = canonical(AcBits, AcSyms)
  private val ProgAcCodes = canonical(ProgAcBits, ProgAcSyms)

  /** Files ≡ 1 (mod 4) are written PROGRESSIVE (SOF2, the 4-scan
    * DC-first → DC-refine → AC-first(Al=1) → AC-refine script) from the
    * SAME coefficients — the pixel-total closed forms are layer-
    * independent, so the gate's Σ px_sum / Σ px_sqsum pin both entropy
    * layers at once. */
  private def isProg(i: Long): Boolean = i % 4 == 1
  private val ProgScript: Array[(Int, Int, Int, Int)] =
    Array((0, 0, 0, 1), (0, 0, 1, 0), (1, 63, 0, 1), (1, 63, 1, 0))

  private final class BitWriter {
    val out = new java.io.ByteArrayOutputStream
    private var acc = 0
    private var nb = 0
    def put(value: Int, nbits: Int): Unit = {
      var i = nbits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((value >> i) & 1)
        nb += 1
        if (nb == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00)
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    def align(): Unit = while (nb != 0) put(1, 1)
  }

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    Array(0xFF.toByte, marker.toByte) ++ be16(payload.length + 2) ++ payload

  private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Deterministic per-file quant table (zigzag order). */
  private def qzz(i: Long): Array[Int] =
    Array.tabulate(64)(k => 1 + ((i * 7 + k * 5) % 24).toInt)

  /** Deterministic sparse zigzag coefficients for (file i, block bi). */
  private def coefs(i: Long, bi: Int): Array[Int] = {
    val c = new Array[Int](64)
    c(0) = (((i * 31 + bi * 37) % 81) - 40).toInt
    c(1) = (((i + bi * 11) % 21) - 10).toInt
    c(5) = (((i * 3 + bi * 7) % 15) - 7).toInt
    c(17) = (((i + bi * 13) % 9) - 4).toInt
    if (bi % 5 == 0) c(40) = ((bi % 7) - 3).toInt
    c
  }

  private def encodeBlock(bw: BitWriter, c: Array[Int], pred: Int): Int = {
    val diff = c(0) - pred
    val s = category(diff)
    val (ln, code) = DcCodes(s)
    bw.put(code, ln)
    if (s > 0) bw.put(if (diff > 0) diff else diff + (1 << s) - 1, s)
    var k = 1
    var done = false
    while (k < 64 && !done) {
      var run = 0
      while (k < 64 && c(k) == 0) { run += 1; k += 1 }
      if (k == 64) {
        val (l2, c2) = AcCodes(0x00); bw.put(c2, l2)
        done = true
      } else {
        while (run >= 16) {
          val (l2, c2) = AcCodes(0xF0); bw.put(c2, l2); run -= 16
        }
        val v = c(k)
        val sz = category(v)
        val (l2, c2) = AcCodes((run << 4) | sz)
        bw.put(c2, l2)
        bw.put(if (v > 0) v else v + (1 << sz) - 1, sz)
        k += 1
      }
    }
    c(0)
  }

  // --- progressive entropy encoder (mirrors jcphuff.c; the decode side
  // is the PRODUCTION jpeg_prog_pixels expression) ----------------------
  private final class ProgScanSt {
    var eobrun = 0
    val be = scala.collection.mutable.ArrayBuffer.empty[Int]
  }

  private def progEmitEobrun(bw: BitWriter, st: ProgScanSt): Unit =
    if (st.eobrun > 0) {
      val r = 31 - Integer.numberOfLeadingZeros(st.eobrun)
      val (ln, code) = ProgAcCodes(r << 4)
      bw.put(code, ln)
      if (r > 0) bw.put(st.eobrun & ((1 << r) - 1), r)
      st.eobrun = 0
      st.be.foreach(bit => bw.put(bit, 1))
      st.be.clear()
    }

  private def progEncDcFirst(bw: BitWriter, c0: Int, pred: Int, al: Int): Int = {
    val sh = c0 >> al
    val diff = sh - pred
    val s = category(diff)
    val (ln, code) = DcCodes(s)
    bw.put(code, ln)
    if (s > 0) bw.put(if (diff > 0) diff else diff + (1 << s) - 1, s)
    sh
  }

  private def progEncAcFirst(bw: BitWriter, st: ProgScanSt, c: Array[Int],
      ss: Int, se: Int, al: Int): Unit = {
    var r = 0
    var k = ss
    while (k <= se) {
      val v = c(k)
      val t = math.abs(v) >> al
      if (t == 0) r += 1
      else {
        progEmitEobrun(bw, st)
        while (r > 15) {
          val (lz, cz) = ProgAcCodes(0xF0); bw.put(cz, lz); r -= 16
        }
        val nbits = 32 - Integer.numberOfLeadingZeros(t)
        val (ln, code) = ProgAcCodes((r << 4) | nbits)
        bw.put(code, ln)
        val vt = if (v > 0) t else -t
        bw.put(if (vt > 0) vt else vt + (1 << nbits) - 1, nbits)
        r = 0
      }
      k += 1
    }
    if (r > 0) {
      st.eobrun += 1
      if (st.eobrun == 0x7FFF) progEmitEobrun(bw, st)
    }
  }

  private def progEncAcRefine(bw: BitWriter, st: ProgScanSt, c: Array[Int],
      ss: Int, se: Int, al: Int): Unit = {
    var eob = ss - 1
    val absv = new Array[Int](se + 1)
    var k = ss
    while (k <= se) {
      val t = math.abs(c(k)) >> al
      absv(k) = t
      if (t == 1) eob = k
      k += 1
    }
    var r = 0
    val br = scala.collection.mutable.ArrayBuffer.empty[Int]
    k = ss
    while (k <= se) {
      val t = absv(k)
      if (t == 0) r += 1
      else {
        // the ZRL fold runs for ANY nonzero temp — BEFORE the
        // already-significant branch buffers its correction bit
        // (jcphuff.c ordering; an earlier cut folded only at
        // newly-significant positions and a correction bit buffered
        // before a ≥16-zero-history gap flushed after the WRONG ZRL —
        // 20 of 4096 gate files diverged, both independent decoders
        // rejecting the stream)
        while (r > 15 && k <= eob) {
          progEmitEobrun(bw, st)
          r -= 16
          val (lz, cz) = ProgAcCodes(0xF0); bw.put(cz, lz)
          br.foreach(bit => bw.put(bit, 1)); br.clear()
        }
        if (t > 1) br += (t & 1)
        else {
          progEmitEobrun(bw, st)
          val (ln, code) = ProgAcCodes((r << 4) | 1)
          bw.put(code, ln)
          bw.put(if (c(k) > 0) 1 else 0, 1)
          br.foreach(bit => bw.put(bit, 1)); br.clear()
          r = 0
        }
      }
      k += 1
    }
    if (r > 0 || br.nonEmpty) {
      st.eobrun += 1
      st.be ++= br
      if (st.eobrun == 0x7FFF) progEmitEobrun(bw, st)
    }
  }

  /** All scans' entropy bytes for a progressive file (scan-by-scan, for
    * both the writer and the expected-side scan_bytes accounting). */
  private def progScans(i: Long): Array[Array[Byte]] =
    ProgScript.map { case (ss, se, ah, al) =>
      val bw = new BitWriter
      val st = new ProgScanSt
      var pred = 0
      var bi = 0
      while (bi < BlocksPerFile) {
        val c = coefs(i, bi)
        if (ss == 0) {
          if (ah == 0) pred = progEncDcFirst(bw, c(0), pred, al)
          else bw.put((c(0) >> al) & 1, 1)
        } else if (ah == 0) progEncAcFirst(bw, st, c, ss, se, al)
        else progEncAcRefine(bw, st, c, ss, se, al)
        bi += 1
      }
      progEmitEobrun(bw, st)
      bw.align()
      bw.out.toByteArray
    }

  private def progFileBytes(i: Long): Array[Byte] = {
    val head = new java.io.ByteArrayOutputStream
    head.write(Array(0xFF.toByte, 0xD8.toByte), 0, 2)
    def emit(a: Array[Byte]): Unit = head.write(a, 0, a.length)
    emit(seg(0xDB, Array(0x00.toByte) ++ qzz(i).map(_.toByte)))
    emit(seg(0xC2, Array(8.toByte) ++ be16(Dim) ++ be16(Dim) ++
      Array[Byte](1, 1, 0x11, 0)))
    val dht = {
      val dc = Array(0x00.toByte) ++ DcBits.map(_.toByte) ++ DcSyms.map(_.toByte)
      val ac = Array(0x10.toByte) ++ ProgAcBits.map(_.toByte) ++
        ProgAcSyms.map(_.toByte)
      seg(0xC4, dc ++ ac)
    }
    emit(dht)
    val scans = progScans(i)
    var s = 0
    while (s < scans.length) {
      val (ss, se, ah, al) = ProgScript(s)
      emit(seg(0xDA, Array[Byte](1, 1, 0x00, ss.toByte, se.toByte,
        ((ah << 4) | al).toByte)))
      head.write(scans(s), 0, scans(s).length)
      s += 1
    }
    head.write(Array(0xFF.toByte, 0xD9.toByte), 0, 2)
    head.toByteArray
  }

  /** The complete file bytes for index i (before corruption). */
  private def fileBytes(i: Long): Array[Byte] = {
    if (isProg(i)) return progFileBytes(i)
    val head = new java.io.ByteArrayOutputStream
    head.write(Array(0xFF.toByte, 0xD8.toByte), 0, 2)
    def emit(a: Array[Byte]): Unit = head.write(a, 0, a.length)
    emit(seg(0xDB, Array(0x00.toByte) ++ qzz(i).map(_.toByte)))
    emit(seg(0xC0, Array(8.toByte) ++ be16(Dim) ++ be16(Dim) ++
      Array[Byte](1, 1, 0x11, 0)))
    val dht = {
      val dc = Array(0x00.toByte) ++ DcBits.map(_.toByte) ++ DcSyms.map(_.toByte)
      val ac = Array(0x10.toByte) ++ AcBits.map(_.toByte) ++ AcSyms.map(_.toByte)
      seg(0xC4, dc ++ ac)
    }
    emit(dht)
    emit(seg(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0)))
    val bw = new BitWriter
    var pred = 0
    var bi = 0
    while (bi < BlocksPerFile) {
      pred = encodeBlock(bw, coefs(i, bi), pred)
      bi += 1
    }
    bw.align()
    head.write(bw.out.toByteArray, 0, bw.out.size())
    head.write(Array(0xFF.toByte, 0xD9.toByte), 0, 2)
    head.toByteArray
  }

  /** Per-file expected (scan_bytes, px_sum, px_sqsum) from the formulas —
    * scan_bytes from the writer's own bit accounting, pixels via the
    * shared fixed-point IDCT constants. */
  private[operators] def expected(i: Long): (Long, Long, Long) = {
    // scan_bytes: re-run the LAYER'S OWN encoder bit math (baseline one
    // scan, progressive the 4-scan script) without building segments
    val bw = new BitWriter
    var pred = 0
    var bi = 0
    var pSum = 0L
    var pSq = 0L
    val K = graft.functions.JpegCodec.K
    val ZZ = graft.functions.JpegCodec.ZZ
    val q = qzz(i)
    val m = Array.ofDim[Long](8, 8)
    while (bi < BlocksPerFile) {
      val c = coefs(i, bi)
      pred = encodeBlock(bw, c, pred)
      var r = 0
      while (r < 8) { java.util.Arrays.fill(m(r), 0L); r += 1 }
      var k = 0
      while (k < 64) {
        if (c(k) != 0) m(ZZ(k) / 8)(ZZ(k) % 8) = c(k).toLong * q(k)
        k += 1
      }
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0L
          var a = 0
          while (a < 8) {
            var inner = 0L
            var cc = 0
            while (cc < 8) { inner += K(x)(cc) * m(a)(cc); cc += 1 }
            acc += K(y)(a) * inner
            a += 1
          }
          var v = 128L + ((acc + (1L << 21)) >> 22)
          if (v < 0) v = 0
          if (v > 255) v = 255
          pSum += v
          pSq += v * v
          x += 1
        }
        y += 1
      }
      bi += 1
    }
    bw.align()
    val scanBytes =
      if (isProg(i)) progScans(i).map(_.length.toLong).sum
      else bw.out.size().toLong
    (scanBytes, pSum, pSq)
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val nFiles = pos.headOption.map(_.toLong).getOrElse(4096L)
    val work = pos.drop(1).headOption.getOrElse("/tmp/graft_jpeg_scale")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()
    import spark.implicits._
    require(nFiles > CorruptAcRun, s"need > $CorruptAcRun files")

    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"""{"phase":"$phase","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"n_files":$nFiles}""")
      r
    }

    if (!skipGen) timed("gen") {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      spark.range(nFiles).repartition(64).foreach { i =>
        val raw = fileBytes(i)
        val bytes =
          if (i == CorruptTrunc) raw.dropRight(40)
          else if (i == CorruptFlip) {
            val b = raw.clone()
            var j = 2
            var sos = -1
            while (sos < 0) {
              if ((b(j) & 0xFF) == 0xFF && (b(j + 1) & 0xFF) == 0xDA) sos = j + 1
              else j += 1
            }
            b(sos) = 0x7A.toByte
            b
          } else if (i == CorruptAcRun) {
            // splice a hand-built overrun scan: DC 0, then 4x ZRL -> k=65
            val b = raw.clone()
            var j = 2
            var sos = -1
            while (sos < 0) {
              if ((b(j) & 0xFF) == 0xFF && (b(j + 1) & 0xFF) == 0xDA) sos = j + 1
              else j += 1
            }
            val bw = new BitWriter
            val (l0, c0) = DcCodes(0)
            bw.put(c0, l0)
            (1 to 4).foreach { _ =>
              val (lz, cz) = AcCodes(0xF0); bw.put(cz, lz)
            }
            bw.align()
            // keep everything through the 6-byte SOS payload: FF at
            // sos-1, DA at sos, 2 length bytes, 6 payload -> first
            // entropy byte sits at index sos+9
            b.take(sos + 9) ++ bw.out.toByteArray ++
              Array(0xFF.toByte, 0xD9.toByte)
          } else raw
        java.nio.file.Files.write(
          java.nio.file.Paths.get(work, f"img-$i%06d.jpg"), bytes)
        ()
      }
    }

    // expected totals over the intact files — Spark-parallel formula math
    val exp = timed("expected") {
      spark.range(nFiles).filter(!col("id").isin(Corrupt.toSeq: _*))
        .map(i => JpegScale.expected(i))
        .toDF("scan_bytes", "px_sum", "px_sqsum")
        .agg(count(lit(1)), sum($"scan_bytes"), sum($"px_sum"), sum($"px_sqsum"))
        .as[(Long, Long, Long, Long)].collect()(0)
    }
    val (expOk, expScan, expSum, expSq) = exp

    // BOTH entropy decoders run per file; exactly one may land (the
    // q316/q326 profile split) — `both` counts any file that decoded
    // under the wrong layer too, and must stay zero
    val decoded = graft.CacheRegistry.cached(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg").load(work)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("jpeg_info(content)").as("info"),
        expr("jpeg_pixels(content)").as("pxb"),
        expr("jpeg_prog_pixels(content)").as("pxp"))
      .select(col("name"), col("info"),
        coalesce(col("pxb"), col("pxp")).as("px"),
        (col("pxb").isNotNull && col("pxp").isNotNull).as("both"),
        col("pxp").isNotNull.as("via_prog")))
    // the cached frame is lazy — the timed block materializes it, so the
    // reported decode time is the real entropy+IDCT work
    val agg = timed("decode")(decoded.agg(
      count(lit(1)).as("n"),
      sum(when(col("info").isNotNull, 1L).otherwise(0L)).as("info_ok"),
      sum(when(col("px").isNotNull, 1L).otherwise(0L)).as("px_ok"),
      sum(col("info.scan_bytes")).as("scan_bytes"),
      sum(col("px.n_blocks")).as("blocks"),
      sum(col("px.px_sum")).as("px_sum"),
      sum(col("px.px_sqsum")).as("px_sqsum"),
      sum(when(col("info").isNotNull && col("px").isNotNull &&
        (col("info.width") =!= col("px.width") ||
          col("info.height") =!= col("px.height")), 1L).otherwise(0L))
        .as("dim_disagree"),
      sum(when(col("both"), 1L).otherwise(0L)).as("both_layers"),
      sum(when(col("via_prog"), 1L).otherwise(0L)).as("prog_ok"))
      .collect()(0))

    val badNames = decoded.where(col("px").isNull)
      .select(col("name")).orderBy("name").as[String].collect()

    println(s"""{"check":"jpeg_complete","files":${agg.getAs[Long]("n")},"info_ok":${agg.getAs[Long]("info_ok")},"px_ok":${agg.getAs[Long]("px_ok")},"expected_ok":$expOk,"blocks":${agg.getAs[Long]("blocks")},"expected_blocks":${expOk * BlocksPerFile}}""")
    require(agg.getAs[Long]("n") == nFiles, "file count")
    require(agg.getAs[Long]("info_ok") == expOk + 1 &&
      agg.getAs[Long]("px_ok") == expOk,
      s"ok counts: info=${agg.getAs[Long]("info_ok")} px=${agg.getAs[Long]("px_ok")} " +
        s"expected ${expOk + 1}/${expOk} (the AC-overrun file is segment-valid " +
        "but entropy-corrupt — jpeg_info passes it, jpeg_pixels must not)")
    require(agg.getAs[Long]("blocks") == expOk * BlocksPerFile, "Σ n_blocks")
    println(s"""{"check":"jpeg_totals","scan_bytes":${agg.getAs[Long]("scan_bytes")},"expected_scan_bytes":$expScan,"px_sum":${agg.getAs[Long]("px_sum")},"expected_px_sum":$expSum,"px_sqsum":${agg.getAs[Long]("px_sqsum")},"expected_px_sqsum":$expSq}""")
    // the AC-overrun file is the only px-null whose info.scan_bytes still
    // counts — subtract its segment-layer contribution analytically? No:
    // its spliced scan differs from expected(i), so compare against the
    // decoded sum over px-OK files only
    val scanOk = decoded.where(col("px").isNotNull)
      .agg(sum(col("info.scan_bytes"))).as[Long].collect()(0)
    require(scanOk == expScan,
      s"Σ scan_bytes over intact files: $scanOk != $expScan")
    require(agg.getAs[Long]("px_sum") == expSum &&
      agg.getAs[Long]("px_sqsum") == expSq,
      "pixel totals diverged — a single wrong pixel anywhere moves px_sqsum")
    require(agg.getAs[Long]("dim_disagree") == 0,
      "jpeg_info and jpeg_pixels disagreed on dimensions")
    // progressive coverage: every intact ≡1 (mod 4) file decoded via the
    // PROGRESSIVE expression and no file decoded under both layers
    val expProg = (0L until nFiles)
      .count(i => isProg(i) && !Corrupt(i)).toLong
    require(agg.getAs[Long]("both_layers") == 0L,
      "a file decoded under BOTH entropy layers — the profile split broke")
    require(agg.getAs[Long]("prog_ok") == expProg,
      s"progressive decodes ${agg.getAs[Long]("prog_ok")} != planted $expProg")
    println(s"""{"check":"jpeg_progressive","prog_files":$expProg,"both_layers":0}""")
    println(s"""{"check":"jpeg_malformed_isolation","px_null":${badNames.length},"names":"${badNames.mkString(",")}"}""")
    require(badNames.toSeq == Corrupt.toSeq.sorted.map(i => f"img-$i%06d.jpg"),
      s"wrong malformed set: ${badNames.mkString(",")}")
    spark.stop()
  }
}
