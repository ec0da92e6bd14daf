package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** Real-bytes VIDEO ingest (q206): decode the AVI main header from a
  * `binary` column — the video leg of the multimodal family next to
  * png_ihdr (image) and wav_fmt (audio). AVI is a RIFF container (the
  * same envelope as WAV), so this is one bounds-checked chunk walk: the
  * outer RIFF/`AVI ` signature, a LIST(`hdrl`) found by walking the
  * top-level chunks (never assumed at a fixed offset — fixtures plant
  * JUNK before it), and the `avih` chunk inside it (again walked —
  * fixtures plant padding first), whose little-endian fields carry
  * microseconds-per-frame, total frames, width, height. Anything
  * malformed decodes to null, never garbage — the DROPMALFORMED
  * discipline of every decoder in the repo. The CODEC payload is out of
  * scope by design (the container has no codecs; SURVEY's multimodal
  * stance): header metadata + frame-sample planning are the real
  * Spark-side plumbing, the per-frame decode is the one stubbed step.
  */
object AviHeader {
  private[functions] def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
  private[functions] def tag(b: Array[Byte], o: Int, t: String): Boolean =
    b(o) == t(0).toByte && b(o + 1) == t(1).toByte &&
      b(o + 2) == t(2).toByte && b(o + 3) == t(3).toByte

  /** struct(us_per_frame, total_frames, width, height) or null. */
  def hdr(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "AVI ")) return null
    var pos = 12
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (tag(b, pos, "LIST") && size >= 4 &&
          tag(b, pos + 8, "hdrl")) {
        // walk the hdrl list body for the avih chunk
        var ip = pos + 12
        val end = pos + 8 + size.toInt
        while (ip + 8 <= end) {
          val isize = le32(b, ip + 4)
          if (isize < 0 || ip + 8 + isize > end) return null
          if (tag(b, ip, "avih") && isize >= 40) {
            val o = ip + 8
            val us = le32(b, o)
            val frames = le32(b, o + 16)
            val w = le32(b, o + 32)
            val h = le32(b, o + 36)
            // frames == 0 rejected too: a zero-frame header would make
            // downstream sequence(0, total_frames - 1) step backwards
            // and emit bogus sample rows; malformed ⇒ null, like the rest.
            if (us <= 0 || frames <= 0 || w <= 0 || h <= 0) return null
            return InternalRow(us, frames, w, h)
          }
          ip += 8 + isize.toInt + (isize.toInt & 1) // word-aligned
        }
        return null // hdrl without avih
      }
      pos += 8 + size.toInt + (size.toInt & 1)
    }
    null
  }
}

/** avi_hdr(content) -> struct<us_per_frame, total_frames, width,
  * height: long>, null for non-AVI bytes. */
case class AviHdr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("us_per_frame", LongType),
    StructField("total_frames", LongType),
    StructField("width", LongType), StructField("height", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "avi_hdr"

  override def nullSafeEval(v: Any): Any =
    AviHeader.hdr(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.AviHeader.hdr($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-frame perceptual hashing for q207 video dedup: ONE pass over the
  * blob consumes the q206 sample plan — header walk gives (frames, w, h),
  * stride = max(1, frames div 8) picks the uniform-8 sample indices, and
  * only those frames' REAL luma bytes (16x16 single-channel `00db` chunks
  * in LIST(movi) — the uncompressed-DIB frame layout; the fixture
  * generator writes exactly this) are reduced to the q200 64-bit
  * average-hash (8x8 box cells, integer luma means, bit iff cell avg >
  * global mean — the shared aHash formula, here on a 1-channel grid).
  * Payload bytes never leave the scan: ~16 bytes per sampled frame cross
  * the shuffle. Anything malformed — wrong chunk count, frame payload not
  * w*h bytes, missing movi — decodes to null, never garbage. */
object AviFrames {
  import AviHeader.{le32, tag}

  /** array of struct(sample_idx, h) for the q206 uniform-8 plan, or null. */
  def sampleAhash(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (b == null || b.length < 12) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "AVI ")) return null
    // pass 1: the header walk (same discipline as AviHeader.hdr)
    val hdr = AviHeader.hdr(b)
    if (hdr == null) return null
    val frames = hdr.getLong(1)
    val w = hdr.getLong(2).toInt
    val h = hdr.getLong(3).toInt
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return null
    val stride = math.max(1L, frames / 8)
    val nSamples = ((frames - 1) / stride + 1).toInt
    val out = new Array[Any](nSamples)
    // pass 2: walk to LIST(movi), hash the planned frames in chunk order
    var pos = 12
    var frameIdx = 0L
    var got = 0
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (tag(b, pos, "LIST") && size >= 4 && tag(b, pos + 8, "movi")) {
        var ip = pos + 12
        val end = pos + 8 + size.toInt
        while (ip + 8 <= end) {
          val isize = le32(b, ip + 4)
          if (isize < 0 || ip + 8 + isize > end) return null
          if (tag(b, ip, "00db") || tag(b, ip, "00dc")) {
            // EVERY frame chunk must be a raw w*h luma grid, sampled or
            // not — a malformed unsampled frame is still a malformed file
            // (the Scaladoc's "payload not w*h bytes ⇒ null" contract).
            if (isize != w.toLong * h) return null
            if (frameIdx % stride == 0 && frameIdx / stride < nSamples) {
              val hash = ahashLuma(b, ip + 8, w, h)
              out(got) = InternalRow(frameIdx, hash)
              got += 1
            }
            frameIdx += 1
          }
          ip += 8 + isize.toInt + (isize.toInt & 1) // word-aligned
        }
      }
      pos += 8 + size.toInt + (size.toInt & 1)
    }
    if (frameIdx != frames || got != nSamples) return null // header lied
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** EVERY frame's hash for q210's order-free (trim/shift-robust) leg:
    * array of 64-bit aHashes in frame order, or null for malformed
    * bytes — the same walk and validation as [[sampleAhash]] with the
    * sample plan replaced by rate-1 hashing. At fixture scale every
    * frame is hashed; a production ingest sets a FIXED temporal rate
    * (e.g. 1 hash/second), which — unlike q206's proportional stride —
    * keeps the hash SET stable under trimming, the property q210's
    * set-Jaccard matching rests on. ~8 bytes/frame cross the shuffle,
    * never payloads. */
  def allAhash(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (b == null || b.length < 12) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "AVI ")) return null
    val hdr = AviHeader.hdr(b)
    if (hdr == null) return null
    val frames = hdr.getLong(1)
    val w = hdr.getLong(2).toInt
    val h = hdr.getLong(3).toInt
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 24)) return null
    if (frames > (1L << 20)) return null // allocation sanity cap
    val out = new Array[Any](frames.toInt)
    var pos = 12
    var frameIdx = 0L
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (tag(b, pos, "LIST") && size >= 4 && tag(b, pos + 8, "movi")) {
        var ip = pos + 12
        val end = pos + 8 + size.toInt
        while (ip + 8 <= end) {
          val isize = le32(b, ip + 4)
          if (isize < 0 || ip + 8 + isize > end) return null
          if (tag(b, ip, "00db") || tag(b, ip, "00dc")) {
            if (isize != w.toLong * h) return null
            if (frameIdx >= frames) return null // more frames than header
            out(frameIdx.toInt) = ahashLuma(b, ip + 8, w, h)
            frameIdx += 1
          }
          ip += 8 + isize.toInt + (isize.toInt & 1)
        }
      }
      pos += 8 + size.toInt + (size.toInt & 1)
    }
    if (frameIdx != frames) return null // header lied
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** q200's integer aHash on a w*h single-channel luma grid at `off`. */
  private def ahashLuma(b: Array[Byte], off: Int, w: Int, h: Int): Long = {
    val csum = new Array[Long](64)
    val ccnt = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      val base = off + y * w
      var x = 0
      while (x < w) {
        val c = (gy << 3) | (x * 8 / w)
        csum(c) += (b(base + x) & 0xFF)
        ccnt(c) += 1
        x += 1
      }
      y += 1
    }
    val avg = new Array[Long](64)
    var mean = 0L
    var c = 0
    while (c < 64) {
      avg(c) = if (ccnt(c) == 0) 0 else csum(c) / ccnt(c)
      mean += avg(c); c += 1
    }
    mean /= 64
    var hh = 0L
    c = 0
    while (c < 64) { if (avg(c) > mean) hh |= 1L << c; c += 1 }
    hh
  }
}

/** avi_sample_ahash(content) -> array<struct<sample_idx: long, h: long>>,
  * one entry per q206-plan sampled frame; null for malformed bytes. */
case class AviSampleAhash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sample_idx", LongType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "avi_sample_ahash"

  override def nullSafeEval(v: Any): Any =
    AviFrames.sampleAhash(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.AviFrames.sampleAhash($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** avi_frame_ahashes(content) -> array<long>, one 64-bit aHash per frame
  * in frame order; null for malformed bytes (see [[AviFrames.allAhash]]). */
case class AviFrameAhashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "avi_frame_ahashes"

  override def nullSafeEval(v: Any): Any =
    AviFrames.allAhash(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.AviFrames.allAhash($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
