package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** GIF ingest (q330/q331) — the remaining exactly-specifiable legacy
  * crawl image format (round-12 verdict #3), done with the q283/q315
  * wire-format discipline: structure, tiling and checksums at the
  * segment layer; a full LZW decode to an exact pixel surface at the
  * pixel layer; planted truncation/corruption voids per file.
  *
  * [[GifInfo]] walks GIF87a/89a block structure: header + Logical
  * Screen Descriptor (width/height/flags — the GCT size is 2^(N+1)),
  * optional Global Color Table (CRC'd so the oracle pins palette BYTES),
  * extension blocks (0x21 label + sub-block chain, each length byte
  * consuming its payload EXACTLY), image descriptors (left/top/dims/
  * flags, optional Local Color Table, LZW min code size + data
  * sub-block chain), and the 0x3B trailer which must close the file
  * exactly — truncation mid-chain, a dangling sub-block, bytes after
  * the trailer or an unknown block introducer all void the file
  * (DROPMALFORMED blast radius = one file, never a scan failure).
  *
  * [[GifPixels]] is the decode layer: variable-width LZW (GIF's
  * LSB-first bitstream, CLEAR/END codes, dictionary to 4096 entries,
  * code width growing at each 2^w boundary to 12 bits, CLEAR-reset
  * mid-stream) over the concatenated data sub-blocks, indexes mapped
  * through the active palette (local over global) to an RGB surface —
  * stats + CRC32 over row-major (r,g,b) bytes, every subpixel pinned,
  * none shuffled (the q325 contract). Interlaced images decode too:
  * the 4-pass row order (8k, 8k+4, 4k+2, 2k+1) is undone before
  * rendering, so the surface — and its CRC — is the LOGICAL image.
  * Supported profile: ONE full-frame image; frame offsets or animation
  * VOID the pixel layer while gif_info still walks them — the
  * q315/q316 layer split. Ground truth: the committed generator
  * (tools/gen_gif_fixtures.py) chooses index surfaces and palettes by
  * formula, its independent Python re-decoder proves every LZW stream
  * round-trips, and the manifest carries the expected stats/CRC.
  *
  * At 100 TB both run inside the scan projection over a binaryFile
  * source: ~80 bytes of structure/stats per image cross the shuffle.
  */
object GifInfo {

  import Malformed.fail

  /** struct(width, height, gif89a, gct_size, gct_crc32, bg_index,
    * n_images, n_extensions, n_gce, n_lct, n_interlaced, data_bytes,
    * n_sub_blocks) or null. */
  def decode(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 13) return null
    val n = b.length
    def u8(k: Int): Int = { if (k >= n) fail(); b(k) & 0xFF }
    def le16(k: Int): Int = { if (k + 1 >= n) fail(); u8(k) | (u8(k + 1) << 8) }
    val hdr = new String(b, 0, math.min(6, n), "ISO-8859-1")
    val gif89a = hdr == "GIF89a"
    if (!gif89a && hdr != "GIF87a") return null
    try {
      val width = le16(6); val height = le16(8)
      if (width < 1 || height < 1) fail()
      val flags = u8(10)
      val bg = u8(11)
      var i = 13
      var gctSize = 0L
      val gctCrc = new java.util.zip.CRC32
      if ((flags & 0x80) != 0) {
        gctSize = 1L << ((flags & 0x07) + 1)
        val bytes = 3 * gctSize.toInt
        if (i + bytes > n) fail()
        gctCrc.update(b, i, bytes)
        i += bytes
      }
      var nImages = 0L; var nExt = 0L; var nGce = 0L
      var nLct = 0L; var nInterlaced = 0L
      var dataBytes = 0L; var nSub = 0L
      var trailer = false
      def subChain(): Unit = {
        var len = u8(i); i += 1
        while (len != 0) {
          if (i + len > n) fail()
          dataBytes += len; nSub += 1
          i += len
          len = u8(i); i += 1
        }
      }
      while (!trailer) {
        u8(i) match {
          case 0x3B =>
            i += 1
            if (i != n) fail() // trailer must close the file exactly
            trailer = true
          case 0x21 =>
            val label = u8(i + 1)
            if (label == 0xF9) nGce += 1
            else if (label != 0xFE && label != 0xFF && label != 0x01) fail()
            nExt += 1
            i += 2
            subChain()
          case 0x2C =>
            nImages += 1
            val iflags = u8(i + 9)
            if ((iflags & 0x80) != 0) {
              nLct += 1
              val bytes = 3 * (1 << ((iflags & 0x07) + 1))
              if (i + 10 + bytes > n) fail()
              i += 10 + bytes
            } else i += 10
            if ((iflags & 0x40) != 0) nInterlaced += 1
            val minCode = u8(i); i += 1
            if (minCode < 2 || minCode > 8) fail()
            subChain()
          case _ => fail()
        }
      }
      if (nImages < 1) fail()
      InternalRow(width.toLong, height.toLong, gif89a, gctSize,
        gctCrc.getValue, bg.toLong, nImages, nExt, nGce, nLct,
        nInterlaced, dataBytes, nSub)
    } catch { case _: Malformed => null }
  }
}

object GifPixels {

  import Malformed.fail

  private val MaxPixels = 4L * 1024 * 1024

  /** LSB-first bit reader over a GIF data sub-block chain. */
  private final class SubBlockBits(b: Array[Byte], var i: Int, n: Int) {
    private var remaining = 0
    private var acc = 0
    private var nb = 0
    private def nextByte(): Int = {
      if (remaining == 0) {
        if (i >= n) fail()
        remaining = b(i) & 0xFF; i += 1
        if (remaining == 0) fail() // data exhausted before END code
      }
      if (i >= n) fail()
      val v = b(i) & 0xFF; i += 1; remaining -= 1
      v
    }
    def code(width: Int): Int = {
      while (nb < width) { acc |= nextByte() << nb; nb += 8 }
      val v = acc & ((1 << width) - 1)
      acc >>>= width; nb -= width
      v
    }
    /** After END: the strict profile requires the encoder to have ended
      * flush with the sub-block, so only the 0 terminator may follow. */
    def finish(): Int = {
      if (remaining != 0) fail()
      if (i >= n || (b(i) & 0xFF) != 0) fail()
      i + 1
    }
  }

  /** struct(width, height, palette_size, interlaced, n_clears, px_min,
    * px_max, px_sum, px_sqsum, px_crc32) or null — stats over row-major
    * (r,g,b) bytes of the decoded (de-interlaced) surface. The q331
    * contract: exactly ONE image (animation voids here; gif_frames is
    * the multi-frame surface). */
  def decode(b: Array[Byte]): InternalRow = {
    val frames = decodeFrames(b, maxFrames = 1)
    if (frames == null || frames.length != 1) return null
    val f = frames(0)
    InternalRow(f.getLong(1), f.getLong(2), f.getLong(3), f.getBoolean(4),
      f.getLong(5), f.getLong(6), f.getLong(7), f.getLong(8), f.getLong(9),
      f.getLong(10))
  }

  /** All frames decoded in sequence (q334): per-frame struct(frame,
    * width, height, palette_size, interlaced, n_clears, px_min, px_max,
    * px_sum, px_sqsum, px_crc32) — q331's semantics applied to every
    * full-frame image; null for malformed/out-of-profile bytes. */
  private[functions] def decodeFrames(b: Array[Byte],
      maxFrames: Int = 1024): Array[InternalRow] = {
    if (b == null || b.length < 13) return null
    val n = b.length
    def u8(k: Int): Int = { if (k >= n) fail(); b(k) & 0xFF }
    def le16(k: Int): Int = { if (k + 1 >= n) fail(); u8(k) | (u8(k + 1) << 8) }
    val hdr = new String(b, 0, math.min(6, n), "ISO-8859-1")
    if (hdr != "GIF89a" && hdr != "GIF87a") return null
    try {
      val width = le16(6); val height = le16(8)
      if (width < 1 || height < 1) fail()
      if (width.toLong * height > MaxPixels) fail()
      val flags = u8(10)
      var i = 13
      var gct: Array[Byte] = null
      var gctEntries = 0
      if ((flags & 0x80) != 0) {
        gctEntries = 1 << ((flags & 0x07) + 1)
        if (i + 3 * gctEntries > n) fail()
        gct = java.util.Arrays.copyOfRange(b, i, i + 3 * gctEntries)
        i += 3 * gctEntries
      }
      val frames = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val px = new Array[Byte](width * height) // palette indexes
      var trailer = false
      while (!trailer) {
        u8(i) match {
          case 0x3B =>
            i += 1
            if (i != n) fail()
            trailer = true
          case 0x21 =>
            val label = u8(i + 1)
            if (label != 0xF9 && label != 0xFE && label != 0xFF &&
              label != 0x01) fail()
            i += 2
            var len = u8(i); i += 1
            while (len != 0) {
              if (i + len > n) fail()
              i += len
              len = u8(i); i += 1
            }
          case 0x2C =>
            if (frames.length >= maxFrames) fail()
            if (le16(i + 1) != 0 || le16(i + 3) != 0) fail() // full frame
            if (le16(i + 5) != width || le16(i + 7) != height) fail()
            val iflags = u8(i + 9)
            val interlaced = (iflags & 0x40) != 0
            var nClears = 0L
            i += 10
            var pal = gct
            var palEntries = gctEntries
            if ((iflags & 0x80) != 0) {
              palEntries = 1 << ((iflags & 0x07) + 1)
              if (i + 3 * palEntries > n) fail()
              pal = java.util.Arrays.copyOfRange(b, i, i + 3 * palEntries)
              i += 3 * palEntries
            }
            if (pal == null) fail()
            val minCode = u8(i); i += 1
            if (minCode < 2 || minCode > 8) fail()
            // ---- variable-width LZW over the sub-block chain ----------
            val clear = 1 << minCode
            val endCode = clear + 1
            val prefix = new Array[Int](4096)
            val suffix = new Array[Byte](4096)
            var nextFree = endCode + 1
            var w = minCode + 1
            val bits = new SubBlockBits(b, i, n)
            var prev = -1
            var out = 0
            val stack = new Array[Byte](4096)
            def first(code0: Int): Byte = {
              var c = code0
              while (c >= clear) c = prefix(c)
              c.toByte
            }
            def emit(code0: Int, extra: Int): Unit = {
              var sp = 0
              var c = code0
              while (c >= clear) { // clear (2^min) > any root index
                if (sp >= 4096) fail()
                stack(sp) = suffix(c); sp += 1; c = prefix(c)
              }
              if (c >= palEntries) fail() // index outside the palette
              val total = sp + 1 + (if (extra >= 0) 1 else 0)
              if (out + total > px.length) fail()
              px(out) = c.toByte; out += 1
              while (sp > 0) { sp -= 1; px(out) = stack(sp); out += 1 }
              if (extra >= 0) { px(out) = extra.toByte; out += 1 }
            }
            var ended = false
            while (!ended) {
              val code = bits.code(w)
              if (code == clear) {
                nextFree = endCode + 1; w = minCode + 1; prev = -1
                nClears += 1
              } else if (code == endCode) {
                if (out != px.length) fail() // wrong pixel count
                ended = true
              } else if (prev == -1) {
                if (code >= clear) fail()
                if (code >= palEntries) fail()
                if (out >= px.length) fail()
                px(out) = code.toByte; out += 1
                prev = code
              } else if (nextFree >= 4096) {
                // dict full, no CLEAR: deferred-clear mode — decode
                // existing codes at width 12 without growing
                if (code >= nextFree) fail()
                emit(code, -1)
                prev = code
              } else {
                if (code > nextFree) fail()
                if (code < nextFree) emit(code, -1)
                else emit(prev, first(prev) & 0xFF) // the KwKwK case
                suffix(nextFree) = if (code < nextFree) first(code) else first(prev)
                prefix(nextFree) = prev
                nextFree += 1
                if (nextFree == (1 << w) && w < 12) w += 1
                prev = code
              }
            }
            i = bits.finish()
            // ---- de-interlace (4-pass row order: 8k, 8k+4, 4k+2, 2k+1)
            if (interlaced) {
              val ordered = new Array[Byte](px.length)
              var src = 0
              def pass(start: Int, step: Int): Unit = {
                var row = start
                while (row < height) {
                  System.arraycopy(px, src * width, ordered, row * width, width)
                  src += 1
                  row += step
                }
              }
              pass(0, 8); pass(4, 8); pass(2, 4); pass(1, 2)
              System.arraycopy(ordered, 0, px, 0, px.length)
            }
            // ---- render this frame through ITS active palette ---------
            var pMin = 255L; var pMax = 0L; var pSum = 0L; var pSq = 0L
            val crc = new java.util.zip.CRC32
            val row = new Array[Byte](width * 3)
            var y = 0
            while (y < height) {
              var x = 0
              while (x < width) {
                val idx = px(y * width + x) & 0xFF
                var c = 0
                while (c < 3) {
                  val v = (pal(3 * idx + c) & 0xFF).toLong
                  row(3 * x + c) = pal(3 * idx + c)
                  if (v < pMin) pMin = v
                  if (v > pMax) pMax = v
                  pSum += v
                  pSq += v * v
                  c += 1
                }
                x += 1
              }
              crc.update(row)
              y += 1
            }
            frames += InternalRow(frames.length.toLong, width.toLong,
              height.toLong, palEntries.toLong, interlaced, nClears,
              pMin, pMax, pSum, pSq, crc.getValue)
          case _ => fail()
        }
      }
      if (frames.isEmpty) fail()
      frames.toArray
    } catch { case _: Malformed => null }
  }
}

object GifFrames {

  /** ANIMATION decode (q334): every full-frame image in the file
    * decoded in sequence — the frame-census shape a crawl pipeline
    * samples animated GIFs with. Each frame owns its LZW stream, its
    * palette (local over global) and its interlace flag; per-frame
    * output is (frame, palette_size, interlaced, n_clears, px stats,
    * crc) — q331's contract per frame. Frames with offsets or
    * sub-frame dims void the file (compositing/disposal is a rendering
    * policy, not a wire format — the honest-boundary rule); a single-
    * frame file is the 1-element array, so gif_pixels and gif_frames
    * agree by construction on every q331 fixture (GifSpec pins it). */
  def decode(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val rows = GifPixels.decodeFrames(b)
    if (rows == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      rows.asInstanceOf[Array[Any]])
  }
}

/** gif_info(content) -> struct<...> or null (see [[GifInfo.decode]]). */
case class GifInfoExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("gif89a", BooleanType, nullable = false),
    StructField("gct_size", LongType, nullable = false),
    StructField("gct_crc32", LongType, nullable = false),
    StructField("bg_index", LongType, nullable = false),
    StructField("n_images", LongType, nullable = false),
    StructField("n_extensions", LongType, nullable = false),
    StructField("n_gce", LongType, nullable = false),
    StructField("n_lct", LongType, nullable = false),
    StructField("n_interlaced", LongType, nullable = false),
    StructField("data_bytes", LongType, nullable = false),
    StructField("n_sub_blocks", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "gif_info"
  override def nullSafeEval(v: Any): Any =
    GifInfo.decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.GifInfo.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** gif_pixels(content) -> struct<...> or null (see [[GifPixels.decode]]). */
case class GifPixelsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("palette_size", LongType, nullable = false),
    StructField("interlaced", BooleanType, nullable = false),
    StructField("n_clears", LongType, nullable = false),
    StructField("px_min", LongType, nullable = false),
    StructField("px_max", LongType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_sqsum", LongType, nullable = false),
    StructField("px_crc32", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "gif_pixels"
  override def nullSafeEval(v: Any): Any =
    GifPixels.decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.GifPixels.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** gif_frames(content) -> array<struct<...>> or null (see
  * [[GifFrames.decode]]): one element per full-frame image. */
case class GifFramesExpr(child: Expression) extends UnaryExpression {
  private val frameType = StructType(Seq(
    StructField("frame", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("palette_size", LongType, nullable = false),
    StructField("interlaced", BooleanType, nullable = false),
    StructField("n_clears", LongType, nullable = false),
    StructField("px_min", LongType, nullable = false),
    StructField("px_max", LongType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_sqsum", LongType, nullable = false),
    StructField("px_crc32", LongType, nullable = false)))
  override def dataType: DataType = ArrayType(frameType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gif_frames"
  override def nullSafeEval(v: Any): Any =
    GifFrames.decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.GifFrames.decode($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
