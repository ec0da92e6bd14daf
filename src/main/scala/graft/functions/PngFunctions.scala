package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Real-bytes decode for the multimodal ingest story (q144): extract the
  * IHDR header fields from a PNG `binary` column in one bounds-checked
  * pass over the first 26 bytes — no imaging library, no UDF, a codegen
  * Catalyst expression like every other custom function in the repo. The
  * PNG wire format is public and fixed: 8-byte signature, then the IHDR
  * chunk (4-byte length=13, 4-byte tag, 4-byte big-endian width, 4-byte
  * big-endian height, 1-byte bit depth, 1-byte color type). Anything that
  * fails the signature/tag/length checks decodes to null, never garbage —
  * the DROPMALFORMED discipline of the 1BRC parsers applied to binary.
  */
object PngHeader {
  private val Sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  private[functions] def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  /** struct(width, height, bit_depth, color_type) or null when the bytes
    * are not a PNG (short buffer, bad signature, IHDR not first or not
    * 13 bytes — the spec-mandated layout). */
  def ihdr(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 26) return null
    var i = 0
    while (i < 8) { if (b(i) != Sig(i)) return null; i += 1 }
    if (be32(b, 8) != 13L) return null
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return null
    InternalRow(be32(b, 16), be32(b, 20),
      (b(24) & 0xFF).toLong, (b(25) & 0xFF).toLong)
  }

  /** Full pixel-stream decode (q167) — the step PAST the header: the
    * truecolor profile of [[PngFull]]'s decoder (chunk walk, zlib
    * inflate, all five scanline filters — the committed fixture set
    * exercises each), the reconstructed channel samples reduced to
    * struct(n_samples, px_min, px_max, px_sum, px_sumsq) — the
    * 1BRC-style mergeable state, exact BIGINTs (sumsq ≤ 2^16 per 8-bit
    * sample). The payload never leaves the scan as rows: ~40 bytes per
    * image cross the shuffle, never the pixels. Scope: 8-bit depth,
    * truecolor RGB(A) (color types 2/6), non-interlaced — null for
    * anything else or any malformed byte (bad chunk length walk, no
    * IEND, short or surplus inflate, bad filter tag), never garbage. */
  def pixelStats(b: Array[Byte]): InternalRow = {
    val im = PngFull.truecolor(b)
    if (im == null) return null
    val s = PngFull.stats(im)
    InternalRow(im.width.toLong * im.height * im.nchan, s(0), s(1), s(2), s(3))
  }

  /** 64-bit average-hash (q200): integer luma (299R+587G+114B)/1000 per
    * pixel, box-averaged into an 8×8 grid (cell of pixel (x,y) is
    * (y·8 div h, x·8 div w) — exact integer geometry, no resampling
    * library), bit k = gy·8+gx set iff the cell average exceeds the
    * integer mean of the 64 cell averages. Every step is integer
    * division, so the committed fixture generator reproduces the hash
    * bit-for-bit — ground truth by construction, the q144/q167
    * contract. Null below 8×8 (a grid cell would be empty) or for any
    * malformed input. Alpha is ignored: perceptual identity lives in
    * the color channels. */
  def ahash64(b: Array[Byte]): java.lang.Long = {
    val im = PngFull.truecolor(b)
    if (im == null || im.width < 8 || im.height < 8) return null
    val w = im.width; val h = im.height
    val csum = new Array[Long](64)
    val ccnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val o = im.at(x, y)
        val r = im.px(o) & 0xFF
        val g = im.px(o + 1) & 0xFF
        val bl = im.px(o + 2) & 0xFF
        val c = (gy << 3) | (x * 8 / w)
        csum(c) += (299 * r + 587 * g + 114 * bl) / 1000
        ccnt(c) += 1
        x += 1
      }
      y += 1
    }
    val avg = new Array[Long](64)
    var mean = 0L
    var c = 0
    while (c < 64) { avg(c) = csum(c) / ccnt(c); mean += avg(c); c += 1 }
    mean /= 64
    var hh = 0L
    c = 0
    while (c < 64) { if (avg(c) > mean) hh |= 1L << c; c += 1 }
    java.lang.Long.valueOf(hh)
  }

  /** q266: 2×2 box-downsample of the integer-luma grid — the thumbnail
    * step every multimodal ingest runs, kept exact: per-pixel luma is
    * q200's (299R+587G+114B)/1000, each output pixel the floor-mean of
    * its 2×2 block (odd edge rows/columns truncate — out dims w/2 ×
    * h/2), and the thumbnail reduces IN-EXPRESSION to the mergeable
    * stats plus a POSITION-WEIGHTED checksum Σ v·(idx+1) (row-major
    * idx), which pins every output pixel's value AND position — two
    * thumbnails with permuted pixels share sums but never the
    * checksum. Null for anything [[pixelStats]] rejects or smaller
    * than 2×2 (an empty block must not fabricate pixels). */
  def box2Stats(b: Array[Byte]): InternalRow = {
    val im = PngFull.truecolor(b)
    if (im == null || im.width < 2 || im.height < 2) return null
    val w = im.width; val h = im.height
    def luma(x: Int, y: Int): Long = {
      val o = im.at(x, y)
      (299L * (im.px(o) & 0xFF) + 587L * (im.px(o + 1) & 0xFF) +
        114L * (im.px(o + 2) & 0xFF)) / 1000L
    }
    val ow = w / 2; val oh = h / 2
    var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
    var sum = 0L; var sumsq = 0L; var chk = 0L
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        val v = (luma(2 * ox, 2 * oy) + luma(2 * ox + 1, 2 * oy) +
          luma(2 * ox, 2 * oy + 1) + luma(2 * ox + 1, 2 * oy + 1)) / 4L
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v; sumsq += v * v
        chk += v * (oy.toLong * ow + ox + 1)
        n += 1
        ox += 1
      }
      oy += 1
    }
    InternalRow(ow.toLong, oh.toLong, n, mn, mx, sum, sumsq, chk)
  }
}

/** png_ihdr(content) -> struct<width, height, bit_depth, color_type: long>,
  * null for non-PNG bytes. */
case class PngIhdr(child: Expression) extends DecodeExpr("png_ihdr",
    StructType(Seq(
      StructField("width", LongType), StructField("height", LongType),
      StructField("bit_depth", LongType), StructField("color_type", LongType))),
    "graft.functions.PngHeader.ihdr") {
  def decode(b: Array[Byte]): Any = PngHeader.ihdr(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** png_pixels(content) -> struct<n_samples, px_min, px_max, px_sum,
  * px_sumsq: long>, null for non-PNG bytes or unsupported layouts
  * (see [[PngHeader.pixelStats]]). */
case class PngPixels(child: Expression) extends DecodeExpr("png_pixels",
    StructType(Seq(
      StructField("n_samples", LongType), StructField("px_min", LongType),
      StructField("px_max", LongType), StructField("px_sum", LongType),
      StructField("px_sumsq", LongType))),
    "graft.functions.PngHeader.pixelStats") {
  def decode(b: Array[Byte]): Any = PngHeader.pixelStats(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** png_ahash(content) -> 64-bit perceptual average-hash (long), null for
  * malformed bytes or images below the 8×8 grid. */
case class PngAhash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "png_ahash"

  override def nullSafeEval(v: Any): Any =
    PngHeader.ahash64(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |java.lang.Long ah = graft.functions.PngHeader.ahash64($b);
         |${ev.isNull} = (ah == null);
         |if (!${ev.isNull}) ${ev.value} = ah.longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** png_box2(content) -> struct<out_w, out_h, n_px, px_min, px_max,
  * px_sum, px_sumsq, checksum: long> — the 2×2 luma box-downsample
  * reduced in-expression (q266), null for non-decodable bytes or
  * images under 2×2. */
case class PngBox2(child: Expression) extends DecodeExpr("png_box2",
    StructType(Seq(
      StructField("out_w", LongType), StructField("out_h", LongType),
      StructField("n_px", LongType), StructField("px_min", LongType),
      StructField("px_max", LongType), StructField("px_sum", LongType),
      StructField("px_sumsq", LongType), StructField("checksum", LongType))),
    "graft.functions.PngHeader.box2Stats") {
  def decode(b: Array[Byte]): Any = PngHeader.box2Stats(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
