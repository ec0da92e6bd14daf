package graft.functions

import graft.SparkSpec

/** q332's laws: the four-way JPEG profile split (baseline/progressive ×
  * gray/color) holds in every direction, the baseline color twin lands
  * the identical RGB CRC through the other entropy layer, truncation
  * anywhere voids, and an out-of-range table selector voids its own row
  * without failing the scan. */
class JpegProgColorSpec extends SparkSpec {

  private def fx(dir: String, name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.path(dir), name))

  test("four-way profile split: each decoder accepts exactly its own") {
    val progColor = fx("jpeg_prog_color", "prog_color_multi.jpg")
    val baseColor = fx("jpeg_color", "color_multi.jpg")
    val progGray = fx("jpeg_prog", "prog_multi.jpg")
    val baseGray = fx("jpeg_decode", "gray_multi.jpg")
    // rows: (bytes, expected-accepting decoder index)
    val decoders: Seq[(String, Array[Byte] => AnyRef)] = Seq(
      "jpeg_pixels" -> (b => JpegCodec.pixels(b)),
      "jpeg_rgb" -> (b => JpegCodec.rgb(b)),
      "jpeg_prog_pixels" -> (b => JpegCodec.progPixels(b)),
      "jpeg_prog_rgb" -> (b => JpegCodec.progRgb(b)))
    val files = Seq(
      ("baseline gray", baseGray, "jpeg_pixels"),
      ("baseline color", baseColor, "jpeg_rgb"),
      ("progressive gray", progGray, "jpeg_prog_pixels"),
      ("progressive color", progColor, "jpeg_prog_rgb"))
    files.foreach { case (label, bytes, accepts) =>
      decoders.foreach { case (dn, dec) =>
        val got = dec(bytes)
        if (dn == accepts)
          assert(got != null, s"$label must decode under $dn")
        else
          assert(got == null, s"$label must VOID under $dn")
      }
    }
  }

  /** (marker, payload offset) of every segment; entropy data skipped. */
  private def segments(b: Array[Byte]): Seq[(Int, Int)] = {
    def u8(k: Int) = b(k) & 0xFF
    val out = Seq.newBuilder[(Int, Int)]
    var i = 2
    while (u8(i + 1) != 0xD9) {
      val m = u8(i + 1)
      out += ((m, i + 4))
      i += 2 + ((u8(i + 2) << 8) | u8(i + 3))
      if (m == 0xDA) // to the next marker that is neither stuffing nor RST
        while (u8(i) != 0xFF || u8(i + 1) == 0 ||
          (u8(i + 1) >= 0xD0 && u8(i + 1) <= 0xD7)) i += 1
    }
    out.result()
  }

  test("out-of-range Td/Ta/Tq selectors void the row, never fail the scan") {
    val intact = Seq(
      "gray_multi.jpg" -> fx("jpeg_decode", "gray_multi.jpg"),
      "color_multi.jpg" -> fx("jpeg_color", "color_multi.jpg"),
      "prog_multi.jpg" -> fx("jpeg_prog", "prog_multi.jpg"),
      "prog_color_multi.jpg" -> fx("jpeg_prog_color", "prog_color_multi.jpg"))
    def planted(b: Array[Byte], at: Int, v: Int): Array[Byte] = {
      val c = b.clone(); c(at) = v.toByte; c
    }
    val plants = intact.flatMap { case (name, b) =>
      val segs = segments(b)
      val sos = segs.filter(_._1 == 0xDA).map(_._2)
      val sof = segs.find(s => s._1 == 0xC0 || s._1 == 0xC2).get._2
      // the first scan decodes DC; the first scan whose band reaches past
      // 0 decodes AC — selector byte of its first component either way
      val acScan = sos.find(p => b(p + 2 + 2 * b(p)) != 0).get
      Seq(
        s"td9_$name" -> planted(b, sos.head + 2, 0x90 | (b(sos.head + 2) & 0x0F)),
        s"ta7_$name" -> planted(b, acScan + 2, (b(acScan + 2) & 0xF0) | 7),
        s"tq9_$name" -> planted(b, sof + 8, 9))
    }
    assert(plants.length == 12)
    val decoders: Seq[Array[Byte] => AnyRef] = Seq(
      JpegCodec.pixels, JpegCodec.rgb, JpegCodec.progPixels, JpegCodec.progRgb)
    plants.foreach { case (name, b) =>
      decoders.zipWithIndex.foreach { case (dec, k) =>
        assert(dec(b) == null, s"$name must void under decoder $k")
      }
    }
    // one binaryFile scan over intact + planted files: the job succeeds,
    // nulls land exactly on the planted rows
    val dir = SparkSpec.cleanOnExit(java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/tmp"), "graft_jpeg_selectors"))
    (intact ++ plants).foreach { case (name, b) =>
      java.nio.file.Files.write(dir.resolve(name), b)
    }
    val rows = spark.read.format("binaryFile").load(dir.toString)
      .selectExpr("element_at(split(path, '/'), -1) AS name",
        "jpeg_pixels(content)", "jpeg_rgb(content)",
        "jpeg_prog_pixels(content)", "jpeg_prog_rgb(content)")
      .collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val decoded = (1 to 4).count(k => !r.isNullAt(k))
      val expected = if (intact.exists(_._1 == r.getString(0))) 1 else 0
      assert(decoded == expected, s"${r.getString(0)}: $decoded decoders accept")
    }
  }

  test("baseline color twin: two entropy layers, one RGB surface") {
    val prog = JpegCodec.progRgb(fx("jpeg_prog_color", "prog_color_twin.jpg"))
    val base = JpegCodec.rgb(fx("jpeg_prog_color", "twin_base_color.jpg"))
    assert(prog != null && base != null)
    (0 until 9).foreach { f =>
      assert(prog.getLong(f) == base.getLong(f),
        s"twin field $f: progressive ${prog.getLong(f)} != baseline ${base.getLong(f)}")
    }
  }

  test("truncation at every byte voids, never mis-decodes") {
    val good = fx("jpeg_prog_color", "prog_color_small.jpg")
    assert(JpegCodec.progRgb(good) != null)
    var cut = 2
    while (cut < good.length) {
      assert(JpegCodec.progRgb(java.util.Arrays.copyOf(good, cut)) == null,
        s"truncated at $cut must void")
      cut += 1
    }
    assert(JpegCodec.progRgb(fx("jpeg_prog_color", "corrupt_truncated.jpg")) == null)
  }
}
