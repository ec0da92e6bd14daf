package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** png_ihdr must decode real bytes correctly and refuse non-PNG bytes. */
class PngSpec extends SparkSpec {

  test("q144: IHDR decode matches the generation manifest, null on junk") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("q144_png_ingest")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val manifest = scala.io.Source
      .fromFile(graft.Fixtures.path("png/manifest.csv")).getLines().drop(1)
      .map { l =>
        val f = l.split(",")
        (f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong, f(5).toLong)
      }.toArray.sortBy(_._1)
    assert(got.toSeq == manifest.toSeq,
      s"decode != manifest:\n got=${got.toSeq}\n exp=${manifest.toSeq}")

    // adversarial bytes: short, wrong signature, signature but bad tag —
    // all must decode to null, never garbage
    val junk = Seq(
      Array.empty[Byte],
      "not a png at all, just text bytes".getBytes("UTF-8"),
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
        Array.fill[Byte](30)(7)
    ).toDF("content")
    val decoded = junk.select(expr("png_ihdr(content)").as("h")).collect()
    assert(decoded.forall(_.isNullAt(0)),
      "non-PNG bytes must decode to null")

    // interpreted path agrees with codegen (nullSafeEval vs doGenCode)
    val bytes = java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(graft.Fixtures.path("png/img_e.png")))
    val row = PngHeader.ihdr(bytes)
    assert(row.getLong(0) == 64 && row.getLong(1) == 48 &&
      row.getLong(2) == 8 && row.getLong(3) == 2)
  }

  test("q167: hostile IHDR dims decode to null — no overflow, no huge alloc") {
    // a syntactically valid PNG skeleton whose IHDR claims giant
    // dimensions: height*(1+width*nchan) overflows Int (the pre-fix
    // NegativeArraySizeException path) or demands a multi-GB buffer —
    // both must decode to null like any other malformed input
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def fakePng(w: Long, h: Long): Array[Byte] = {
      val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)
      val ihdr = be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++
        Array[Byte](8, 2, 0, 0, 0) ++ be32(0) // depth8, RGB, crc ignored
      val idat = be32(4) ++ "IDAT".getBytes ++
        Array(0x78, 0x9c, 3, 0).map(_.toByte) ++ be32(0)
      val iend = be32(0) ++ "IEND".getBytes ++ be32(0)
      sig ++ ihdr ++ idat ++ iend
    }
    for ((w, h) <- Seq((70000L, 70000L), (0x7FFFFFFFL, 3L),
        (50000L, 50000L), (1L, 0x80000000L))) {
      assert(PngHeader.pixelStats(fakePng(w, h)) == null,
        s"hostile dims ${w}x$h must decode to null")
    }
    // a zlib stream that inflates to ZERO bytes against a nonzero
    // expectation must return null (stall guard), not loop forever
    assert(PngHeader.pixelStats(fakePng(2, 2)) == null)
  }

  test("q200: ahash matches the generator manifest bit-for-bit; planted structure holds") {
    val dir = graft.Fixtures.path("png_dedup")
    val manifest = scala.io.Source.fromFile(s"$dir/ahash.csv").getLines()
      .drop(1).map { l =>
        val f = l.split(","); f(0) -> f(1).toLong
      }.toMap
    val got = manifest.keys.map { n =>
      val bytes = java.nio.file.Files
        .readAllBytes(java.nio.file.Paths.get(s"$dir/$n"))
      n -> PngHeader.ahash64(bytes)
    }.toMap
    manifest.foreach { case (n, expected) =>
      assert(got(n) != null && got(n).longValue == expected,
        s"$n: scala ahash ${got(n)} != generator $expected")
    }
    // planted clusters sit within the banding guarantee, strangers far out
    def ham(a: String, b: String) =
      java.lang.Long.bitCount(manifest(a) ^ manifest(b))
    assert(ham("dup_a0.png", "dup_a1.png") <= 3)
    assert(ham("dup_b0.png", "dup_b1.png") <= 3)
    assert(ham("dup_a0.png", "dup_b0.png") >= 10)
    assert(ham("solo_c.png", "solo_d.png") >= 10)
    // below the 8x8 grid → null, not a degenerate hash
    val tiny = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      graft.Fixtures.path("png") + "/img_a.png")) // 3x2
    assert(PngHeader.ahash64(tiny) == null)
  }

  test("q167: pixel decode matches javax.imageio — an INDEPENDENT decoder — on every fixture") {
    import spark.implicits._
    // ImageIO ships in the JDK and implements PNG from the spec on its
    // own: agreeing with it on every fixture (including the img_g/img_h
    // filter schedules that exercise Sub/Up/Average/Paeth) certifies the
    // inflate+unfilter, not just self-consistency with the generator.
    val dir = new java.io.File(graft.Fixtures.path("png"))
    val fixtures = dir.listFiles.filter(_.getName.endsWith(".png")).sortBy(_.getName)
    assert(fixtures.length >= 8)
    val expected = fixtures.map { f =>
      val img = javax.imageio.ImageIO.read(f)
      val hasAlpha = img.getColorModel.hasAlpha
      var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
      var sum = 0L; var sumsq = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val argb = img.getRGB(x, y)
        val chans = Seq((argb >> 16) & 0xFF, (argb >> 8) & 0xFF, argb & 0xFF) ++
          (if (hasAlpha) Seq((argb >> 24) & 0xFF) else Nil)
        chans.foreach { v =>
          val vl = v.toLong
          if (vl < mn) mn = vl
          if (vl > mx) mx = vl
          sum += vl; sumsq += vl * vl; n += 1
        }
      }
      (f.getName, n, mn, mx, sum, sumsq)
    }
    val got = graft.SparkEntry.queries("q167_png_pixels")(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expected.toSeq,
      s"png_pixels != ImageIO:\n got=${got.toSeq}\n exp=${expected.toSeq}")

    // truncated IDAT and oversize-claim chunks must decode to null
    val whole = java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(graft.Fixtures.path("png/img_g.png")))
    val junk = Seq(
      whole.take(whole.length - 20), // IDAT cut mid-stream
      whole.take(40) // header only
    ).toDF("content")
    val decoded = junk.select(expr("png_pixels(content)").as("p")).collect()
    assert(decoded.forall(_.isNullAt(0)),
      "malformed PNG bytes must decode to null")
  }

  test("q167: truecolor functions void without IEND or with surplus scanline data") {
    // png_pixels / png_ahash / png_box2 share png_full's well-formedness
    // rule: IEND is required, and an IDAT stream that inflates to more
    // scanlines than the IHDR geometry demands voids the file
    val good = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.path("png/img_c.png"))) // 16x16 RGB
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      crc.update(tag.getBytes("ISO-8859-1")); crc.update(data)
      be32(data.length) ++ tag.getBytes("ISO-8859-1") ++ data ++ be32(crc.getValue)
    }
    val iendAt = good.length - 12
    assert(new String(good, iendAt + 4, 4, "ISO-8859-1") == "IEND")
    assert(new String(good, 37, 4, "ISO-8859-1") == "IDAT") // the only IDAT
    val idatLen = ((good(33) & 0xFF) << 24) | ((good(34) & 0xFF) << 16) |
      ((good(35) & 0xFF) << 8) | (good(36) & 0xFF)
    val inf = new java.util.zip.Inflater()
    inf.setInput(good, 41, idatLen)
    val scanlines = new Array[Byte](16 * (1 + 16 * 3))
    assert(inf.inflate(scanlines) == scanlines.length && inf.finished())
    inf.end()
    def rebuilt(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = d.deflate(buf)
      assert(d.finished()); d.end()
      good.take(33) ++ chunk("IDAT", buf.take(n)) ++ chunk("IEND", Array.emptyByteArray)
    }
    val exact = rebuilt(scanlines)
    val surplus = rebuilt(scanlines ++ new Array[Byte](1 + 16 * 3))
    val noIend = good.take(iendAt)
    val fns: Seq[(String, Array[Byte] => Any)] = Seq(
      "png_pixels" -> PngHeader.pixelStats, "png_ahash" -> (b => PngHeader.ahash64(b)),
      "png_box2" -> PngHeader.box2Stats)
    fns.foreach { case (fn, f) =>
      assert(f(good) != null && f(exact) != null, s"$fn must decode the intact file")
      assert(String.valueOf(f(exact)) == String.valueOf(f(good)),
        s"$fn: re-deflating the same scanlines must not move the result")
      assert(f(noIend) == null, s"$fn must void a file without IEND")
      assert(f(surplus) == null, s"$fn must void a surplus scanline")
    }
  }
}
