package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** The PNG decoder (q333's png_full, and the core under q167's
  * png_pixels, q200's png_ahash and q266's png_box2): chunk walk, zlib
  * INFLATE (java.util.zip.Inflater — in the JDK, not an imaging
  * library) and scanline unfiltering (all five filter types:
  * None/Sub/Up/Average/Paeth) for every 8-bit profile:
  *
  *  - color type 0 (grayscale, 1 channel) and 3 (PALETTE — the most
  *    common web-icon profile: indexes mapped through the PLTE chunk,
  *    ≤256 3-byte entries, an index past the palette VOIDS the file),
  *    alongside 2/6 (RGB/RGBA);
  *  - ADAM7 INTERLACE: seven passes, each an independent sub-image
  *    with its own scanline filters (all five types) and its own
  *    filter neighborhood, empty passes carrying NO bytes, the pass
  *    pixels scattered back to (xStart + i·xStep, yStart + j·yStep) —
  *    so the output surface — and its CRC — is the LOGICAL image.
  *
  * Well-formedness is the PNG spec's: IEND is required, PLTE must
  * precede IDAT, and an IDAT stream that inflates to MORE scanline data
  * than the geometry demands voids the file, as does a short one.
  *
  * png_full's output is stats + CRC32 over the row-major RECONSTRUCTED
  * surface (palette expanded to its RGB triples — decode means pixels,
  * not indexes; gray stays 1 channel, RGB(A) as stored), every sample
  * pinned, none shuffled. Profile: 8-bit depth; anything else — 16-bit,
  * 1/2/4-bit packed, gray+alpha — voids rather than mis-decodes. The
  * truecolor functions gate the same decoder to their historical
  * profile ([[truecolor]]: types 2/6, non-interlaced): PngFullSpec pins
  * that the other profiles void there and decode here — the q316/q326
  * layer discipline applied within one format. Ground truth: the
  * committed generator (tools/gen_png_full_fixtures.py) writes every
  * profile × filter-type combination with zlib and per-row filter
  * choices, and the manifest carries stats computed from the planted
  * sample formulas, never from a decoder.
  */
object PngFull {

  /** png_full's allocation cap on the inflated scanline stream. */
  private val MaxDecodedBytes = 64L * 1024 * 1024

  // Adam7 pass geometry: xStart, yStart, xStep, yStep
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** A decoded 8-bit image: sample c of pixel (x, y) is
    * `px(at(x, y) + c)`. A non-interlaced image is reconstructed IN
    * PLACE in the inflated scanline buffer (each row keeps its filter
    * tag in front); an Adam7 image is scattered into its own surface. */
  private[functions] final class Image(val width: Int, val height: Int,
      val colorType: Int, val nchan: Int, val plte: Array[Byte],
      val interlaced: Boolean, val nPasses: Int, val px: Array[Byte]) {
    private val pitch = if (interlaced) width * nchan else 1 + width * nchan
    private val skip = if (interlaced) 0 else 1
    def at(x: Int, y: Int): Int = y * pitch + skip + x * nchan
  }

  /** png_pixels / png_ahash / png_box2's profile: color type 2 or 6,
    * non-interlaced, with a 256 MiB cap on the inflated stream (≈ a
    * 9k×9k RGBA frame); null for anything else or malformed bytes. */
  private[functions] def truecolor(b: Array[Byte]): Image =
    image(b, 256L * 1024 * 1024, truecolorOnly = true)

  /** Chunk walk + inflate + unfilter; null for malformed or
    * out-of-profile bytes, and for geometry whose inflated stream would
    * pass `maxBytes` (decode-to-null, never decode-to-OOM). */
  private def image(b: Array[Byte], maxBytes: Long,
      truecolorOnly: Boolean): Image = {
    if (b == null || b.length < 33 || PngHeader.ihdr(b) == null) return null
    val width = PngHeader.be32(b, 16).toInt
    val height = PngHeader.be32(b, 20).toInt
    val colorType = b(25) & 0xFF
    val interlace = b(28) & 0xFF
    // depth(24)=8, compression(26)=deflate, filter(27)=adaptive
    if (b(24) != 8 || b(26) != 0 || b(27) != 0) return null
    if (interlace > (if (truecolorOnly) 0 else 1)) return null
    val nchan = colorType match {
      case 0 if !truecolorOnly => 1
      case 2 => 3
      case 3 if !truecolorOnly => 1
      case 6 => 4
      case _ => return null
    }
    if (width <= 0 || height <= 0) return null
    // chunk walk: PLTE (required for type 3, before IDAT) + IDATs + IEND
    var pos = 33
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var ended = false
    while (!ended && pos + 8 <= b.length) {
      val size = PngHeader.be32(b, pos)
      if (size < 0 || pos + 12 + size > b.length) return null
      val tag = new String(b, pos + 4, 4, "ISO-8859-1")
      tag match {
        case "PLTE" =>
          if (size % 3 != 0 || size == 0 || size > 768) return null
          if (idat.size() > 0) return null // PLTE must precede IDAT
          plte = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + size.toInt)
        case "IDAT" => idat.write(b, pos + 8, size.toInt)
        case "IEND" => ended = true
        case _ => ()
      }
      pos += 12 + size.toInt // length + tag + payload + crc
    }
    if (!ended || idat.size() == 0) return null
    if (colorType == 3 && plte == null) return null

    // (passIdx, pw, ph) of every data-carrying pass, or the single image
    val passes: Array[(Int, Int, Int)] =
      if (interlace == 0) Array((-1, width, height))
      else (0 until 7).map { p =>
        val (x0, y0, dx, dy) = Adam7(p)
        (p, ((width - x0 + dx - 1) / dx) max 0, ((height - y0 + dy - 1) / dy) max 0)
      }.filter(t => t._2 > 0 && t._3 > 0).toArray
    // size the scanline buffer in LONG first: a hostile IHDR with large
    // 32-bit dims would overflow an Int product (negative allocation or a
    // wrong-but-positive size) — and even a valid product must clear the
    // cap before we allocate multi-GB for what claims to be an image
    val expectedL = passes.map { case (_, pw, ph) =>
      ph.toLong * (1L + pw.toLong * nchan)
    }.sum
    if (expectedL <= 0L || expectedL > maxBytes) return null
    val expected = expectedL.toInt
    val raw = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < expected && !inf.finished()) {
        val n = inf.inflate(raw, off, expected - off)
        // zero progress while unfinished = truncated input, a
        // preset-dictionary stream (needsDictionary — inflate would
        // return 0 forever), or a stall: all decode to null
        if (n == 0 && !inf.finished()) return null
        off += n
      }
      if (off != expected) return null
      // a stream with MORE scanlines than the geometry demands is
      // malformed: drain one probe byte
      if (!inf.finished()) {
        val probe = new Array[Byte](1)
        if (inf.inflate(probe, 0, 1) > 0) return null
      }
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()

    val passAt = passes.scanLeft(0) { case (o, (_, pw, ph)) =>
      o + ph * (1 + pw * nchan)
    }
    val unfiltered = passes.indices.forall { k =>
      unfilter(raw, passAt(k), passes(k)._2 * nchan, passes(k)._3, nchan)
    }
    if (!unfiltered) return null
    val px =
      if (interlace == 0) raw
      else { // scatter every pass into the logical surface
        val surface = new Array[Byte](width * height * nchan)
        for (((p, pw, ph), rawOff) <- passes.zip(passAt)) {
          val (x0, y0, dx, dy) = Adam7(p)
          var y = 0
          while (y < ph) {
            val src = rawOff + y * (1 + pw * nchan) + 1
            var x = 0
            while (x < pw) {
              System.arraycopy(raw, src + x * nchan, surface,
                ((y0 + y * dy) * width + x0 + x * dx) * nchan, nchan)
              x += 1
            }
            y += 1
          }
        }
        surface
      }
    new Image(width, height, colorType, nchan, plte, interlace == 1,
      passes.length, px)
  }

  /** Reverse the per-scanline filters of `rows` scanlines of `stride`
    * sample bytes (each behind its filter tag) starting at `off`, IN
    * PLACE; false on an unknown filter type. bpp = nchan for 8-bit. */
  private def unfilter(raw: Array[Byte], off: Int, stride: Int, rows: Int,
      bpp: Int): Boolean = {
    var y = 0
    while (y < rows) {
      val base = off + y * (1 + stride) + 1
      val prior = base - 1 - stride // the previous row's first sample
      val f = raw(base - 1) & 0xFF
      if (f > 4) return false
      var i = 0
      while (i < stride) {
        val left = if (i >= bpp) raw(base + i - bpp) & 0xFF else 0
        val up = if (y > 0) raw(prior + i) & 0xFF else 0
        val upLeft = if (y > 0 && i >= bpp) raw(prior + i - bpp) & 0xFF else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => // Paeth
            val p = left + up - upLeft
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft
        }
        raw(base + i) = (raw(base + i) + pred).toByte
        i += 1
      }
      y += 1
    }
    true
  }

  /** (px_min, px_max, px_sum, px_sqsum, px_crc32) over the row-major
    * surface, palette expanded; null when an index overruns the PLTE. */
  private[functions] def stats(im: Image): Array[Long] = {
    var pMin = 255L; var pMax = 0L; var pSum = 0L; var pSq = 0L
    def add(v: Long): Unit = {
      if (v < pMin) pMin = v
      if (v > pMax) pMax = v
      pSum += v; pSq += v * v
    }
    val crc = new java.util.zip.CRC32
    val row = new Array[Byte](im.width * 3)
    var y = 0
    while (y < im.height) {
      val o = im.at(0, y)
      if (im.colorType == 3) {
        var x = 0
        while (x < im.width) {
          val idx = im.px(o + x) & 0xFF
          if (3 * idx >= im.plte.length) return null
          var c = 0
          while (c < 3) {
            row(3 * x + c) = im.plte(3 * idx + c)
            add(im.plte(3 * idx + c) & 0xFFL)
            c += 1
          }
          x += 1
        }
        crc.update(row)
      } else {
        var k = 0
        while (k < im.width * im.nchan) { add(im.px(o + k) & 0xFFL); k += 1 }
        crc.update(im.px, o, im.width * im.nchan)
      }
      y += 1
    }
    Array(pMin, pMax, pSum, pSq, crc.getValue)
  }

  /** struct(width, height, color_type, palette_size, interlaced,
    * n_passes, px_min, px_max, px_sum, px_sqsum, px_crc32) or null. */
  def decode(b: Array[Byte]): InternalRow = {
    val im = image(b, MaxDecodedBytes, truecolorOnly = false)
    if (im == null) return null
    val s = stats(im)
    if (s == null) return null
    InternalRow(im.width.toLong, im.height.toLong, im.colorType.toLong,
      (if (im.plte == null) 0 else im.plte.length / 3).toLong, im.interlaced,
      im.nPasses.toLong, s(0), s(1), s(2), s(3), s(4))
  }
}

/** png_full(content) -> struct<...> or null (see [[PngFull.decode]]). */
case class PngFullExpr(child: Expression) extends DecodeExpr("png_full",
    StructType(Seq(
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("color_type", LongType, nullable = false),
      StructField("palette_size", LongType, nullable = false),
      StructField("interlaced", BooleanType, nullable = false),
      StructField("n_passes", LongType, nullable = false),
      StructField("px_min", LongType, nullable = false),
      StructField("px_max", LongType, nullable = false),
      StructField("px_sum", LongType, nullable = false),
      StructField("px_sqsum", LongType, nullable = false),
      StructField("px_crc32", LongType, nullable = false))),
    "graft.functions.PngFull.decode") {
  def decode(b: Array[Byte]): Any = PngFull.decode(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
