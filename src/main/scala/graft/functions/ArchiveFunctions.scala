package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Archive-container ingestion (round 11, q283–q286) — the WIRE formats
  * a crawl corpus actually arrives in, decoded with the same codegen
  * byte-walk discipline as PNG/WAV/AVI/PDF (q144/q146/q206/q209): tar
  * member walk (ustar, checksum-validated), zip central-directory walk
  * (stored + deflate, per-entry CRC32 verdicts), multi-member gzip walk
  * (the Common Crawl `warc.gz` convention: one member per record,
  * trailer CRC32+ISIZE verified), and WARC/1.0 record parse (headers,
  * Content-Length payloads, HTTP status/body split for responses).
  *
  * Contracts shared by all four decoders:
  *   - structural damage (bad magic/checksum/overrun/failed inflate)
  *     voids the WHOLE file to null, never garbage (the DROPMALFORMED
  *     discipline of every decoder in the repo);
  *   - DATA damage a container makes per-entry detectable stays a ROW:
  *     a zip entry whose payload fails its stored CRC32 emits
  *     `crc_ok = false` (a real pipeline quarantines bad entries, it
  *     does not drop the archive);
  *   - payload bytes never leave the scan: each member is reduced to
  *     (metadata, md5) inside the projection, ~100 bytes per entry
  *     cross the shuffle — at 100 TB of archives, the shape that works.
  *
  * Ground truth: tools/gen_archive_fixtures.py BUILDS the fixtures with
  * stdlib writers (tarfile/zipfile/zlib), RE-WALKS them with independent
  * struct-level parsers (assert-checked planted structure), and the
  * manifests record the independent walk — builder, Python walker and
  * these decoders must all agree.
  */
object ArchiveBytes {

  /** Inflated-allocation cap per entry/member (the PdfText discipline):
    * a payload claiming to inflate past this is malformed, not
    * allocated. */
  private val MaxInflated = 64 * 1024 * 1024

  import Malformed.fail

  private[functions] def md5hex(b: Array[Byte], off: Int, len: Int): UTF8String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update(b, off, len)
    val h = d.digest()
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((h(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(h(i) & 0xF, 16))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private def le16(b: Array[Byte], i: Int): Int = {
    if (i < 0 || i + 2 > b.length) fail()
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  }
  private def le32(b: Array[Byte], i: Int): Long = {
    if (i < 0 || i + 4 > b.length) fail()
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  }
  private def sig(b: Array[Byte], i: Int, s: String): Boolean = {
    if (i < 0 || i + s.length > b.length) return false
    var k = 0
    while (k < s.length) {
      if (b(i + k) != s.charAt(k).toByte) return false
      k += 1
    }
    true
  }

  /** Raw-deflate inflate of b[off, off+len); returns the decoded bytes.
    * `nowrap = false` for zlib-wrapped streams. */
  private def inflate(b: Array[Byte], off: Int, len: Int,
      nowrap: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(math.max(64, len * 3))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) fail()
        out.write(buf, 0, n)
        if (out.size() > MaxInflated) fail()
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => fail()
    } finally inf.end()
  }

  // ------------------------------------------------------------- tar ----

  /** Strict octal field: [0-7]+ terminated by NUL/space (leading spaces
    * allowed) — tarfile's USTAR writer emits exactly this; anything
    * else (GNU base-256 sizes included) is out of scope and malformed. */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && b(i) == ' ') i += 1
    var v = 0L
    var got = false
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0'); got = true; i += 1
    }
    if (!got) fail()
    while (i < end && (b(i) == 0 || b(i) == ' ')) i += 1
    if (i != end) fail()
    v
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var n = 0
    while (n < len && b(off + n) != 0) n += 1
    new String(b, off, n, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** tar_entries: array of (name, size, typeflag, offset, payload_md5)
    * in archive order, or null for malformed bytes. Stops at the first
    * all-zero block (the ustar end marker). */
  def tarEntries(b: Array[Byte]): GenericArrayData = {
    if (b == null || b.length < 1024 || b.length % 512 != 0) return null
    val out = new java.util.ArrayList[Any]()
    var pos = 0
    try {
      var done = false
      while (!done && pos + 512 <= b.length) {
        var allZero = true
        var z = pos
        while (allZero && z < pos + 512) { if (b(z) != 0) allZero = false; z += 1 }
        if (allZero) done = true
        else {
          if (!sig(b, pos + 257, "ustar")) fail()
          val stored = octal(b, pos + 148, 8)
          var calc = 8L * 0x20
          var k = pos
          while (k < pos + 148) { calc += b(k) & 0xFF; k += 1 }
          k = pos + 156
          while (k < pos + 512) { calc += b(k) & 0xFF; k += 1 }
          if (stored != calc) fail()
          var name = cstr(b, pos, 100)
          val prefix = cstr(b, pos + 345, 155)
          if (prefix.nonEmpty) name = prefix + "/" + name
          val size = octal(b, pos + 124, 12)
          if (size < 0 || pos + 512 + size > b.length) fail()
          val tfl = if (b(pos + 156) == 0) "0" else (b(pos + 156) & 0xFF).toChar.toString
          out.add(InternalRow(UTF8String.fromString(name), size,
            UTF8String.fromString(tfl), pos.toLong,
            md5hex(b, pos + 512, size.toInt)))
          pos += 512 + (((size + 511) / 512) * 512).toInt
        }
      }
    } catch { case _: Malformed => return null }
    new GenericArrayData(out.toArray)
  }

  // ------------------------------------------------------------- zip ----

  /** zip_entries: array of (idx, name, method, csize, usize, crc_ok,
    * payload_md5) in CENTRAL-DIRECTORY order, or null for structurally
    * malformed bytes. Methods: 0 stored, 8 deflate (anything else is
    * malformed); crc_ok verifies CRC32 AND usize over the decoded
    * payload. */
  def zipEntries(b: Array[Byte]): GenericArrayData = {
    if (b == null || b.length < 22) return null
    try {
      var eocd = -1
      var i = b.length - 22
      val floor = math.max(0, b.length - 22 - 65535)
      while (eocd < 0 && i >= floor) {
        if (sig(b, i, "PK\u0005\u0006")) eocd = i else i -= 1
      }
      if (eocd < 0) fail()
      val n = le16(b, eocd + 10)
      var pos = le32(b, eocd + 16)
      if (pos < 0 || pos > b.length) fail()
      val out = new Array[Any](n)
      var e = 0
      while (e < n) {
        val p = pos.toInt
        if (!sig(b, p, "PK\u0001\u0002")) fail()
        val method = le16(b, p + 10)
        val crc = le32(b, p + 16)
        val csize = le32(b, p + 20)
        val usize = le32(b, p + 24)
        val nlen = le16(b, p + 28)
        val xlen = le16(b, p + 30)
        val clen = le16(b, p + 32)
        val lho = le32(b, p + 42)
        if (p + 46 + nlen > b.length) fail()
        val name = new String(b, p + 46, nlen,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val lp = lho.toInt
        if (!sig(b, lp, "PK\u0003\u0004")) fail()
        val lnlen = le16(b, lp + 26)
        val lxlen = le16(b, lp + 28)
        val dstart = lp + 30 + lnlen + lxlen
        if (csize > Int.MaxValue || dstart + csize > b.length) fail()
        val decoded: Array[Byte] =
          if (method == 0) {
            if (csize != usize) fail()
            java.util.Arrays.copyOfRange(b, dstart, dstart + csize.toInt)
          } else if (method == 8) {
            inflate(b, dstart, csize.toInt, nowrap = true)
          } else fail()
        val c = new java.util.zip.CRC32
        c.update(decoded)
        val ok = c.getValue == crc && decoded.length.toLong == usize
        out(e) = InternalRow(e.toLong, UTF8String.fromString(name),
          method.toLong, csize, usize, ok,
          md5hex(decoded, 0, decoded.length))
        pos = p + 46 + nlen + xlen + clen
        e += 1
      }
      new GenericArrayData(out)
    } catch { case _: Malformed => null }
  }

  // ------------------------------------------------------------ gzip ----

  /** gzip_members: array of (seq, offset, csize, usize, payload_md5),
    * one per gzip member to EOF, or null for malformed bytes. Header
    * flags (FEXTRA/FNAME/FCOMMENT/FHCRC) honored; trailer CRC32 and
    * ISIZE (mod 2^32) both verified — a member that inflates but lies
    * about its payload voids the file. */
  def gzipMembers(b: Array[Byte]): GenericArrayData = {
    if (b == null || b.length < 18) return null
    val out = new java.util.ArrayList[Any]()
    try {
      var pos = 0
      var seq = 0L
      while (pos < b.length) {
        if (pos + 10 > b.length || (b(pos) & 0xFF) != 0x1F ||
          (b(pos + 1) & 0xFF) != 0x8B || b(pos + 2) != 8) fail()
        val flg = b(pos + 3) & 0xFF
        var p = pos + 10
        if ((flg & 4) != 0) { val xl = le16(b, p); p += 2 + xl }
        if ((flg & 8) != 0) { while (p < b.length && b(p) != 0) p += 1; p += 1 }
        if ((flg & 16) != 0) { while (p < b.length && b(p) != 0) p += 1; p += 1 }
        if ((flg & 2) != 0) p += 2
        if (p >= b.length) fail()
        val inf = new java.util.zip.Inflater(true)
        try {
          inf.setInput(b, p, b.length - p)
          val o = new java.io.ByteArrayOutputStream(8192)
          val buf = new Array[Byte](8192)
          while (!inf.finished()) {
            val k = inf.inflate(buf)
            if (k == 0 && !inf.finished()) fail()
            o.write(buf, 0, k)
            if (o.size() > MaxInflated) fail()
          }
          val consumed = inf.getBytesRead.toInt
          val crc = le32(b, p + consumed)
          val isize = le32(b, p + consumed + 4)
          val arr = o.toByteArray
          val c = new java.util.zip.CRC32
          c.update(arr)
          if (c.getValue != crc) fail()
          if ((arr.length.toLong & 0xFFFFFFFFL) != isize) fail()
          val end = p + consumed + 8
          seq += 1
          out.add(InternalRow(seq, pos.toLong, (end - pos).toLong,
            arr.length.toLong, md5hex(arr, 0, arr.length)))
          pos = end
        } catch {
          case _: java.util.zip.DataFormatException => fail()
        } finally inf.end()
      }
    } catch { case _: Malformed => return null }
    new GenericArrayData(out.toArray)
  }

  // ------------------------------------------------------------ warc ----

  private def indexOf(b: Array[Byte], from: Int, s: String): Int = {
    var i = from
    val last = b.length - s.length
    while (i <= last) {
      if (sig(b, i, s)) return i
      i += 1
    }
    -1
  }

  /** warc_records: array of (seq, rec_type, target_uri, content_length,
    * http_status, payload_md5, body) in record order, or null for
    * malformed bytes. For `response` records the HTTP payload splits
    * into a parsed status and the body text; other record types carry
    * http_status = -1 and an empty body. */
  def warcRecords(b: Array[Byte]): GenericArrayData = {
    if (b == null || !sig(b, 0, "WARC/")) return null
    val out = new java.util.ArrayList[Any]()
    try {
      var pos = 0
      var seq = 0L
      while (pos < b.length) {
        if (!sig(b, pos, "WARC/1.0\r\n")) fail()
        val he = indexOf(b, pos, "\r\n\r\n")
        if (he < 0) fail()
        val head = new String(b, pos, he - pos,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        var recType: String = null
        var uri = ""
        var cl = -1L
        head.split("\r\n").iterator.drop(1).foreach { line =>
          val ci = line.indexOf(": ")
          if (ci < 0) fail()
          val k = line.substring(0, ci)
          val v = line.substring(ci + 2)
          if (k == "WARC-Type") recType = v
          else if (k == "WARC-Target-URI") uri = v
          else if (k == "Content-Length") {
            try cl = java.lang.Long.parseLong(v)
            catch { case _: NumberFormatException => fail() }
          }
        }
        if (recType == null || cl < 0) fail()
        val ps = he + 4
        if (cl > Int.MaxValue || ps + cl + 4 > b.length) fail()
        val pe = ps + cl.toInt
        if (!sig(b, pe, "\r\n\r\n")) fail()
        seq += 1
        var status = -1L
        var body = ""
        if (recType == "response") {
          val sl = indexOf(b, ps, "\r\n")
          if (sl < 0 || sl >= pe) fail()
          val statusLine = new String(b, ps, sl - ps,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val parts = statusLine.split(" ")
          if (parts.length < 2 || !parts(0).startsWith("HTTP/")) fail()
          try status = java.lang.Long.parseLong(parts(1))
          catch { case _: NumberFormatException => fail() }
          val be = indexOf(b, ps, "\r\n\r\n")
          if (be < 0 || be + 4 > pe) fail()
          body = new String(b, be + 4, pe - (be + 4),
            java.nio.charset.StandardCharsets.UTF_8)
        }
        out.add(InternalRow(seq, UTF8String.fromString(recType),
          UTF8String.fromString(uri), cl, status,
          md5hex(b, ps, cl.toInt), UTF8String.fromString(body)))
        pos = pe + 4
      }
    } catch { case _: Malformed => return null }
    new GenericArrayData(out.toArray)
  }
}

/** tar_entries(content) -> array<struct<name, size, typeflag, offset,
  * payload_md5>>, null for malformed bytes (see [[ArchiveBytes.tarEntries]]). */
case class TarEntriesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("typeflag", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("payload_md5", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "tar_entries"
  override def nullSafeEval(v: Any): Any =
    ArchiveBytes.tarEntries(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.ArchiveBytes.tarEntries($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** zip_entries(content) -> array<struct<idx, name, method, csize, usize,
  * crc_ok, payload_md5>>, null for structurally malformed bytes
  * (see [[ArchiveBytes.zipEntries]]). */
case class ZipEntriesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("idx", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("method", LongType, nullable = false),
    StructField("csize", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("crc_ok", BooleanType, nullable = false),
    StructField("payload_md5", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "zip_entries"
  override def nullSafeEval(v: Any): Any =
    ArchiveBytes.zipEntries(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.ArchiveBytes.zipEntries($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** gzip_members(content) -> array<struct<seq, offset, csize, usize,
  * payload_md5>>, null for malformed bytes (see [[ArchiveBytes.gzipMembers]]). */
case class GzipMembersExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("csize", LongType, nullable = false),
    StructField("usize", LongType, nullable = false),
    StructField("payload_md5", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gzip_members"
  override def nullSafeEval(v: Any): Any =
    ArchiveBytes.gzipMembers(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.ArchiveBytes.gzipMembers($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** warc_records(content) -> array<struct<seq, rec_type, target_uri,
  * content_length, http_status, payload_md5, body>>, null for malformed
  * bytes (see [[ArchiveBytes.warcRecords]]). */
case class WarcRecordsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("rec_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", LongType, nullable = false),
    StructField("payload_md5", StringType, nullable = false),
    StructField("body", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "warc_records"
  override def nullSafeEval(v: Any): Any =
    ArchiveBytes.warcRecords(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.ArchiveBytes.warcRecords($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
