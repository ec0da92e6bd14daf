package graft.operators

import org.apache.spark.sql.functions._

/** Full-scale proof for the GIF family (q330/q331) — the JpegScale
  * analog for the LZW wire format: generate thousands of GIFs with
  * PLANTED, arithmetically-known surfaces, decode them through the
  * IDENTICAL production expressions (`gif_info` + `gif_pixels` over a
  * binaryFile scan — never a reimplementation), and gate exact claims:
  *
  *  (a) COMPLETENESS — file counts, Σ px_sum / Σ px_sqsum over every
  *      intact file's RGB surface EXACTLY (one wrong subpixel anywhere
  *      moves the square sum), plus Σ n_clears (the dictionary-reset
  *      machinery pinned at scale: every 16th file is a 128×128 8-bit
  *      noise image that FILLS the 4096-entry dictionary repeatedly).
  *  (b) CROSS-EXPRESSION CONSISTENCY — the walk and the decode agree
  *      on (width, height) for every decodable file.
  *  (c) MALFORMED ISOLATION — exactly the three planted corruptions
  *      void (mid-stream truncation and trailing garbage void BOTH
  *      layers; a rotten LZW stream with valid structure voids ONLY
  *      the pixel layer — the q330/q331 split holds per file at scale).
  *
  * The writer is JDK-only Scala (variable-width LSB-first LZW with the
  * DECODER-TIMED width schedule — the width-sync subtlety documented in
  * tools/gen_gif_fixtures.py — plus 4096-dict CLEAR resets), fully
  * independent of the Python fixture generator; the expected pixel
  * totals recompute with Spark-parallel per-file formula math that
  * never touches LZW at all.
  *
  * Usage: runMain graft.operators.GifScale [nFiles] [workDir]
  *   [--skip-gen]   (default 4096 files ≈ 30 MB; ~30 s end to end at
  *   local[32]).
  */
object GifScale {

  private val CorruptTrunc = 3L
  private val CorruptCode = 5L
  private val CorruptTrail = 7L
  private val Corrupt = Set(CorruptTrunc, CorruptCode, CorruptTrail)

  private def dims(i: Long): (Int, Int) =
    if (i % 16 == 0) (128, 128) else (64, 64)
  private def palBits(i: Long): Int =
    if (i % 16 == 0) 8 else 2 + (i % 7).toInt
  // 0 = runs, 1 = noise; the 128×128 dictionary-filler files are ALWAYS
  // noise (a runs surface compresses too well to ever reach 4096)
  private def kind(i: Long): Int =
    if (i % 16 == 0) 1 else (i % 2).toInt

  private def palette(bits: Int, seed: Long): Array[Int] = {
    val n = 1 << bits
    val p = new Array[Int](3 * n)
    var k = 0
    while (k < n) {
      p(3 * k) = ((k * 7 + seed) % 256).toInt
      p(3 * k + 1) = ((k * 13 + 2 * seed) % 256).toInt
      p(3 * k + 2) = ((k * 29 + 3 * seed) % 256).toInt
      k += 1
    }
    p
  }

  private def indexAt(x: Int, y: Int, nidx: Int, kd: Int, seed: Long): Int =
    if (kd == 0) (((x / 7) + (y / 5) + seed) % nidx).toInt
    else ((x * 31L + y * 17L + (x.toLong * y + seed) / 3) % nidx).toInt

  // --- LZW encoder (decoder-timed width schedule; see the Python
  // generator's LzwEncoder doc for the sync rationale) -----------------
  private final class Lzw(minCode: Int) {
    val clear = 1 << minCode
    val endCode = clear + 1
    val out = new java.io.ByteArrayOutputStream
    private var acc = 0
    private var nb = 0
    private var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    private var nextFree = 0
    private var w = 0
    private var decFree = 0
    private var decStarted = false
    var nClears = 0L
    reset()
    private def reset(): Unit = {
      dict = scala.collection.mutable.HashMap.empty
      var k = 0
      while (k < clear) { dict((-1, k)) = k; k += 1 }
      nextFree = endCode + 1
      w = minCode + 1
      decFree = endCode + 1
      decStarted = false
    }
    private def put(code: Int): Unit = {
      acc |= code << nb
      nb += w
      while (nb >= 8) { out.write(acc & 0xFF); acc >>>= 8; nb -= 8 }
    }
    private def putData(code: Int): Unit = {
      put(code)
      if (decStarted) {
        decFree += 1
        if (decFree == (1 << w) && w < 12) w += 1
      } else decStarted = true
    }
    def encode(px: Array[Int]): Unit = {
      put(clear); nClears += 1
      var prev = -1
      var i = 0
      while (i < px.length) {
        val k = px(i)
        dict.get((prev, k)) match {
          case Some(c) => prev = c
          case None =>
            putData(prev)
            dict((prev, k)) = nextFree
            nextFree += 1
            if (nextFree == 4096) { put(clear); nClears += 1; reset() }
            prev = dict((-1, k))
        }
        i += 1
      }
      if (prev != -1) putData(prev)
      put(endCode)
      if (nb > 0) { out.write(acc & 0xFF); acc = 0; nb = 0 }
    }
  }

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private def subBlocks(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < data.length) {
      val len = math.min(255, data.length - i)
      out.write(len)
      out.write(data, i, len)
      i += len
    }
    out.write(0)
    out.toByteArray
  }

  /** The complete file bytes for index i (before corruption) + clears. */
  private def fileBytes(i: Long): (Array[Byte], Long) = {
    val (w, h) = dims(i)
    val bits = palBits(i)
    val nidx = 1 << bits
    val pal = palette(bits, i)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = indexAt(x, y, nidx, kind(i), i); x += 1 }
      y += 1
    }
    val mc = math.max(2, bits)
    val enc = new Lzw(mc)
    enc.encode(px)
    val out = new java.io.ByteArrayOutputStream
    out.write("GIF89a".getBytes("ISO-8859-1"))
    out.write(le16(w), 0, 2); out.write(le16(h), 0, 2)
    out.write(0x80 | (bits - 1)); out.write(0); out.write(0)
    pal.foreach(out.write)
    out.write(0x2C)
    out.write(le16(0), 0, 2); out.write(le16(0), 0, 2)
    out.write(le16(w), 0, 2); out.write(le16(h), 0, 2)
    out.write(0)
    out.write(mc)
    val sb = subBlocks(enc.out.toByteArray)
    out.write(sb, 0, sb.length)
    out.write(0x3B)
    (out.toByteArray, enc.nClears)
  }

  /** Per-file expected (px_sum, px_sqsum, n_clears) — pixel math never
    * touches LZW; clears from the writer's own accounting. */
  private[operators] def expected(i: Long): (Long, Long, Long) = {
    val (w, h) = dims(i)
    val bits = palBits(i)
    val nidx = 1 << bits
    val pal = palette(bits, i)
    var pSum = 0L; var pSq = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = indexAt(x, y, nidx, kind(i), i)
        var c = 0
        while (c < 3) {
          val v = pal(3 * idx + c).toLong
          pSum += v; pSq += v * v
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val (_, clears) = fileBytes(i)
    (pSum, pSq, clears)
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val nFiles = pos.headOption.map(_.toLong).getOrElse(4096L)
    val work = pos.drop(1).headOption.getOrElse("/tmp/graft_gif_scale")
    val skipGen = args.contains("--skip-gen")
    val spark = graft.GraftSession()
    import spark.implicits._
    require(nFiles > CorruptTrail, s"need > $CorruptTrail files")

    def timed[T](phase: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"""{"phase":"$phase","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"n_files":$nFiles}""")
      r
    }

    if (!skipGen) timed("gen") {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
      spark.range(nFiles).repartition(64).foreach { i =>
        val (raw, _) = fileBytes(i)
        val bytes =
          if (i == CorruptTrunc) raw.dropRight(12)
          else if (i == CorruptCode) {
            // stomp data payload bytes mid-stream: structure stays
            // valid, the LZW stream rots — q330 passes, q331 voids
            val b = raw.clone()
            var j = 13 + 3 * (1 << palBits(i)) // header+LSD+GCT
            j += 10 // image descriptor
            j += 1  // min code byte
            // first sub-block: length byte at j, payload follows
            var k = 0
            while (k < 6) { b(j + 3 + k) = 0xFF.toByte; k += 1 }
            b
          } else if (i == CorruptTrail) raw ++ Array[Byte](0x41, 0x42)
          else raw
        java.nio.file.Files.write(
          java.nio.file.Paths.get(work, f"img-$i%06d.gif"), bytes)
        ()
      }
    }

    val exp = timed("expected") {
      spark.range(nFiles).filter(!col("id").isin(Corrupt.toSeq: _*))
        .map(i => GifScale.expected(i))
        .toDF("px_sum", "px_sqsum", "n_clears")
        .agg(count(lit(1)), sum($"px_sum"), sum($"px_sqsum"), sum($"n_clears"))
        .as[(Long, Long, Long, Long)].collect()(0)
    }
    val (expOk, expSum, expSq, expClears) = exp

    val decoded = graft.CacheRegistry.cached(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.gif").load(work)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        expr("gif_info(content)").as("info"),
        expr("gif_pixels(content)").as("px")))
    val agg = timed("decode")(decoded.agg(
      count(lit(1)).as("n"),
      sum(when(col("info").isNotNull, 1L).otherwise(0L)).as("info_ok"),
      sum(when(col("px").isNotNull, 1L).otherwise(0L)).as("px_ok"),
      sum(col("px.px_sum")).as("px_sum"),
      sum(col("px.px_sqsum")).as("px_sqsum"),
      sum(col("px.n_clears")).as("n_clears"),
      sum(when(col("info").isNotNull && col("px").isNotNull &&
        (col("info.width") =!= col("px.width") ||
          col("info.height") =!= col("px.height")), 1L).otherwise(0L))
        .as("dim_disagree"))
      .collect()(0))

    val badNames = decoded.where(col("px").isNull)
      .select(col("name")).orderBy("name").as[String].collect()

    println(s"""{"check":"gif_complete","files":${agg.getAs[Long]("n")},"info_ok":${agg.getAs[Long]("info_ok")},"px_ok":${agg.getAs[Long]("px_ok")},"expected_ok":$expOk}""")
    require(agg.getAs[Long]("n") == nFiles, "file count")
    require(agg.getAs[Long]("info_ok") == expOk + 1 &&
      agg.getAs[Long]("px_ok") == expOk,
      s"ok counts: info=${agg.getAs[Long]("info_ok")} px=${agg.getAs[Long]("px_ok")} " +
        s"expected ${expOk + 1}/$expOk (the rotten-LZW file is structure-valid " +
        "— gif_info passes it, gif_pixels must not)")
    println(s"""{"check":"gif_totals","px_sum":${agg.getAs[Long]("px_sum")},"expected_px_sum":$expSum,"px_sqsum":${agg.getAs[Long]("px_sqsum")},"expected_px_sqsum":$expSq,"n_clears":${agg.getAs[Long]("n_clears")},"expected_n_clears":$expClears}""")
    require(agg.getAs[Long]("px_sum") == expSum &&
      agg.getAs[Long]("px_sqsum") == expSq,
      "pixel totals diverged — a single wrong subpixel anywhere moves px_sqsum")
    require(agg.getAs[Long]("n_clears") == expClears,
      s"Σ n_clears ${agg.getAs[Long]("n_clears")} != writer accounting $expClears")
    require(agg.getAs[Long]("dim_disagree") == 0,
      "gif_info and gif_pixels disagreed on dimensions")
    println(s"""{"check":"gif_malformed_isolation","px_null":${badNames.length},"names":"${badNames.mkString(",")}"}""")
    require(badNames.toSeq == Corrupt.toSeq.sorted.map(i => f"img-$i%06d.gif"),
      s"wrong malformed set: ${badNames.mkString(",")}")
    spark.stop()
  }
}
