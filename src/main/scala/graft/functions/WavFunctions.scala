package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** RIFF/WAVE header decode for q146 — the audio leg of the real-bytes
  * multimodal ingest story (the PNG decoders are the image leg). Unlike PNG's
  * fixed-position IHDR, WAV metadata lives in a CHUNK LIST (`fmt ` and
  * `data` chunks after the 12-byte RIFF/WAVE preamble, each 8-byte
  * tagged+sized, word-aligned), so the decoder walks the list rather than
  * assuming the canonical layout — a fixture with a leading junk chunk
  * pins that. Little-endian fields, bounds-checked, null for anything
  * that is not a well-formed PCM WAV. */
object WavHeader {
  private def le16(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
  private def tag(b: Array[Byte], o: Int, t: String): Boolean =
    b(o) == t(0).toByte && b(o + 1) == t(1).toByte &&
      b(o + 2) == t(2).toByte && b(o + 3) == t(3).toByte

  /** struct(channels, sample_rate, bits_per_sample, n_frames) or null. */
  def fmt(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    var pos = 12
    var channels = -1L; var rate = -1L; var bits = -1L; var block = -1L
    var dataBytes = -1L
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (tag(b, pos, "fmt ") && size >= 16) {
        if (le16(b, pos + 8) != 1L) return null // PCM only
        channels = le16(b, pos + 10)
        rate = le32(b, pos + 12)
        block = le16(b, pos + 20)
        bits = le16(b, pos + 22)
      } else if (tag(b, pos, "data")) {
        dataBytes = size
      }
      pos += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    if (channels <= 0 || rate <= 0 || bits <= 0 || block <= 0 ||
      dataBytes < 0) return null
    InternalRow(channels, rate, bits, dataBytes / block)
  }

  /** PCM sample statistics over the data chunk — the feature-extraction
    * step past q146's header decode: the amplitude stream actually parsed
    * from the payload bytes (8-bit WAV is UNSIGNED with midpoint 128, so
    * amp = v - 128; 16-bit is signed little-endian), reduced to
    * struct(n_samples, amp_min, amp_max, amp_sum, amp_sumsq) — count/
    * min/max/sum/sum-of-squares are the 1BRC-style mergeable state, and
    * sumsq stays exact in a BIGINT (≤ 2^30 per 16-bit sample). Null for
    * anything wav_fmt would reject, and for PCM widths other than 8/16. */
  /** (bytesPerSample, dataPos, nSamples) of the PCM data chunk, or null
    * for anything malformed — the shared walk of [[pcmStats]] and
    * [[fingerprint64]]. */
  private def pcmData(b: Array[Byte]): Array[Int] = {
    if (b == null || b.length < 12) return null
    if (!tag(b, 0, "RIFF") || !tag(b, 8, "WAVE")) return null
    var pos = 12
    var bits = -1L; var dataPos = -1; var dataBytes = -1
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (tag(b, pos, "fmt ") && size >= 16) {
        if (le16(b, pos + 8) != 1L) return null // PCM only
        bits = le16(b, pos + 22)
      } else if (tag(b, pos, "data")) {
        dataPos = pos + 8; dataBytes = size.toInt
      }
      pos += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    if (dataPos < 0 || (bits != 8L && bits != 16L)) return null
    val bytesPer = (bits / 8).toInt
    Array(bytesPer, dataPos, dataBytes / bytesPer)
  }

  private def ampAt(b: Array[Byte], bytesPer: Int, dataPos: Int,
      i: Int): Long =
    if (bytesPer == 1) (b(dataPos + i) & 0xFF).toLong - 128L
    else (((b(dataPos + 2 * i) & 0xFF) |
      (b(dataPos + 2 * i + 1) << 8)).toShort).toLong

  def pcmStats(b: Array[Byte]): InternalRow = {
    val d = pcmData(b)
    if (d == null) return null
    val bytesPer = d(0); val dataPos = d(1); val n = d(2)
    var i = 0
    var mn = Long.MaxValue; var mx = Long.MinValue
    var sum = 0L; var sumsq = 0L
    while (i < n) {
      val amp = ampAt(b, bytesPer, dataPos, i)
      if (amp < mn) mn = amp
      if (amp > mx) mx = amp
      sum += amp; sumsq += amp * amp
      i += 1
    }
    if (n == 0) InternalRow(0L, null, null, 0L, 0L)
    else InternalRow(n.toLong, mn, mx, sum, sumsq)
  }

  /** 64-bit audio fingerprint (q201) — png_ahash's above-mean trick on
    * the LOUDNESS ENVELOPE: the amplitude stream cut into 64 equal
    * windows (window w covers samples [w·n div 64, (w+1)·n div 64)),
    * per-window mean |amplitude| by integer division, bit w set iff the
    * window mean exceeds the integer mean of the 64 window means.
    * Additive noise and re-encodes barely move window means, so
    * perceptual near-dups land within a few bits while unrelated
    * material sits ~32 away; the envelope-relative compare also shrugs
    * off uniform gain changes. Pure integer arithmetic — the committed
    * fixture generator reproduces the hash bit-for-bit. Null for
    * anything [[pcmStats]] rejects or under 64 samples (empty window). */
  def fingerprint64(b: Array[Byte]): java.lang.Long = {
    val d = pcmData(b)
    if (d == null) return null
    val bytesPer = d(0); val dataPos = d(1); val n = d(2)
    if (n < 64) return null
    val wsum = new Array[Long](64)
    val wcnt = new Array[Long](64)
    var i = 0
    while (i < n) {
      val amp = ampAt(b, bytesPer, dataPos, i)
      val w = (i.toLong * 64L / n).toInt
      wsum(w) += math.abs(amp)
      wcnt(w) += 1
      i += 1
    }
    val avg = new Array[Long](64)
    var mean = 0L
    var w = 0
    while (w < 64) { avg(w) = wsum(w) / wcnt(w); mean += avg(w); w += 1 }
    mean /= 64
    var hh = 0L
    w = 0
    while (w < 64) { if (avg(w) > mean) hh |= 1L << w; w += 1 }
    java.lang.Long.valueOf(hh)
  }

  /** First n amplitudes of the PCM stream (q262's Haar input) — the
    * same channel-interleaved amplitude formula as [[pcmStats]], so a
    * stereo file contributes L/R alternating. Null for anything
    * [[pcmStats]] rejects or with fewer than n samples (a short file
    * must not silently zero-pad into fake band energies). */
  def samples(b: Array[Byte], n: Int): ArrayData = {
    val d = pcmData(b)
    if (d == null) return null
    val bytesPer = d(0); val dataPos = d(1); val total = d(2)
    if (total < n) return null
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = ampAt(b, bytesPer, dataPos, i); i += 1 }
    ArrayData.toArrayData(out)
  }
}

/** wav_fmt(content) -> struct<channels, sample_rate, bits_per_sample,
  * n_frames: long>, null for non-WAV bytes. */
case class WavFmt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("channels", LongType), StructField("sample_rate", LongType),
    StructField("bits_per_sample", LongType),
    StructField("n_frames", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "wav_fmt"

  override def nullSafeEval(v: Any): Any =
    WavHeader.fmt(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.WavHeader.fmt($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** wav_pcm(content) -> struct<n_samples, amp_min, amp_max, amp_sum,
  * amp_sumsq: long>, null for non-PCM-WAV bytes (amp_min/amp_max null
  * when the data chunk is empty). */
case class WavPcmStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_samples", LongType), StructField("amp_min", LongType),
    StructField("amp_max", LongType), StructField("amp_sum", LongType),
    StructField("amp_sumsq", LongType)))
  override def nullable: Boolean = true
  override def prettyName: String = "wav_pcm"

  override def nullSafeEval(v: Any): Any =
    WavHeader.pcmStats(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.WavHeader.pcmStats($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** wav_fingerprint(content) -> 64-bit loudness-envelope fingerprint
  * (long), null for non-PCM-WAV bytes or under 64 samples. */
case class WavFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "wav_fingerprint"

  override def nullSafeEval(v: Any): Any =
    WavHeader.fingerprint64(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |java.lang.Long wf = graft.functions.WavHeader.fingerprint64($b);
         |${ev.isNull} = (wf == null);
         |if (!${ev.isNull}) ${ev.value} = wf.longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** wav_samples(content, n) -> array<bigint> of the first n PCM
  * amplitudes, null for non-PCM-WAV bytes or fewer than n samples —
  * the decode step that hands the payload to DECLARATIVE array
  * algebra (q262 runs the Haar transform with higher-order functions
  * on this array, keeping the wavelet visible to codegen instead of
  * burying it in the expression). */
case class WavSamples(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "wav_samples"

  override def nullSafeEval(v: Any): Any =
    WavHeader.samples(v.asInstanceOf[Array[Byte]], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.WavHeader.samples($b, $n);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
