package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** JPEG segment walk (q315) — the missing crawl image format (round-11
  * verdict #4): PNG/WAV/AVI/PDF are decoded by this family already, but
  * >70% of real crawl images are JPEG. Scope is the exactly-specifiable
  * SEGMENT layer of ISO/IEC 10918-1 + JFIF/EXIF app markers (the q283
  * wire-format discipline — structure, tiling and checksums; no DCT):
  *
  *  - SOI → EOI marker tiling: the byte range must START with SOI, every
  *    segment's 2-byte big-endian length must land inside the file, the
  *    walk must reach EOI, and NOTHING may follow it — truncation and
  *    trailing garbage both void the file (DROPMALFORMED blast radius =
  *    one file, never a scan failure).
  *  - SOF0 (baseline) / SOF2 (progressive): precision, height, width,
  *    component count (1–4) with per-component quant-table refs ≤ 3 and
  *    the exact 8+3·n segment length. Any OTHER SOF type (arithmetic,
  *    lossless, differential — C1/C3/C5–CB/CD–CF) is out of scope and
  *    voids the file rather than mis-reporting it.
  *  - DQT/DHT INTERNAL tiling: quant segments must tile into (Pq,Tq)+64
  *    or +128-byte entries (Pq ≤ 1, Tq ≤ 3), Huffman segments into
  *    (Tc,Th)+16 counts+Σcounts symbols (Tc ≤ 1, Th ≤ 3), each consuming
  *    its payload EXACTLY; table payloads fold into per-kind CRC32s so
  *    the oracle pins table BYTES, not just counts.
  *  - SOS entropy walk: 0xFF is stuffed as FF 00, RST0–7 pass through
  *    (counted), FF-fill before a marker is legal; the scan ends at the
  *    first real marker. Multi-scan progressive files walk DHT/SOS
  *    sequences until EOI. RST outside a scan, a second SOI, or any
  *    reserved marker (0x02–0xBF) voids the file.
  *  - APP0 "JFIF\0" and APP1 "Exif\0\0" signatures surface as booleans.
  *
  * Ground truth: the committed fixture set's manifest records what the
  * files were BUILT with (tools/gen_jpeg_fixtures.py), re-validated by
  * the generator's own independent segment parser; JpegLawsSpec
  * round-trips an independent Scala builder against this decoder with
  * truncation/flip/trailing corruption properties. At 100 TB the walk
  * runs inside the scan projection over a binaryFile source: ~100 bytes
  * of dimensions/counts/CRCs per image cross the shuffle, never pixels.
  */
object JpegInfo {

  import Malformed.fail

  /** struct(width, height, precision, n_components, progressive,
    * n_segments, n_dqt, dqt_crc32, n_dht, dht_crc32, jfif, exif,
    * n_scans, scan_bytes, n_rst) or null for malformed bytes (keep in
    * sync with tools/gen_jpeg_fixtures.py `walk`). */
  def decode(b: Array[Byte]): InternalRow = {
    val mk = JpegCodec.markers(b)
    if (mk == null) return null
    import mk.{be16, u8}
    var nSegments = 1L // SOI
    var nDqt = 0L; var nDht = 0L; var nScans = 0L
    var scanBytes = 0L; var nRst = 0L
    var width = -1L; var height = -1L; var precision = -1L; var nComp = -1L
    var progressive = false
    var jfif = false; var exif = false
    var sofSeen = false
    var eoi = false
    val dqtCrc = new java.util.zip.CRC32
    val dhtCrc = new java.util.zip.CRC32
    try {
      while (!eoi) {
        val m = mk.next()
        m match {
          case 0xD9 =>
            nSegments += 1; eoi = true
          case 0xD8 => fail() // second SOI
          case x if x <= 0xBF || (x >= 0xD0 && x <= 0xD7) =>
            fail() // TEM/reserved marker range, or RST outside a scan
          case _ =>
            val len = mk.segment()
            val p = mk.i + 2
            val plen = len - 2
            mk.i += len
            m match {
              case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
                if (sofSeen) fail()
                sofSeen = true
                progressive = m == 0xC2
                if (plen < 6) fail()
                precision = u8(p)
                height = be16(p + 1)
                width = be16(p + 3)
                nComp = u8(p + 5)
                if (width < 1 || height < 1 || nComp < 1 || nComp > 4) fail()
                if (plen != 6 + 3 * nComp) fail()
                var c = 0
                while (c < nComp) {
                  if ((u8(p + 6 + 3 * c + 2) & 0xFF) > 3) fail() // Tq ref
                  c += 1
                }
              case 0xC4 => // DHT: (Tc,Th) + 16 counts + symbols, exact tile
                var off = 0
                while (off < plen) {
                  val tcth = u8(p + off)
                  if ((tcth >> 4) > 1 || (tcth & 0x0F) > 3) fail()
                  if (off + 17 > plen) fail()
                  var sum = 0
                  var k = 0
                  while (k < 16) { sum += u8(p + off + 1 + k); k += 1 }
                  if (off + 17 + sum > plen) fail()
                  nDht += 1
                  off += 17 + sum
                }
                if (off != plen) fail()
                dhtCrc.update(b, p, plen)
              case 0xDB => // DQT: (Pq,Tq) + 64/128 bytes, exact tile
                var off = 0
                while (off < plen) {
                  val pqtq = u8(p + off)
                  val pq = pqtq >> 4
                  if (pq > 1 || (pqtq & 0x0F) > 3) fail()
                  val sz = 1 + 64 * (pq + 1)
                  if (off + sz > plen) fail()
                  nDqt += 1
                  off += sz
                }
                if (off != plen) fail()
                dqtCrc.update(b, p, plen)
              case 0xDD => // DRI
                if (plen != 2) fail()
              case 0xDA => // SOS header, then the entropy-coded walk
                if (!sofSeen) fail()
                if (plen < 1) fail()
                val ns = u8(p)
                if (ns < 1 || ns > 4 || plen != 1 + 2 * ns + 3) fail()
                nScans += 1
                var j = mk.i
                var done = false
                while (!done) {
                  if (j >= mk.n) fail() // truncated mid-scan
                  if (u8(j) != 0xFF) { scanBytes += 1; j += 1 }
                  else {
                    val nx = u8(j + 1) // u8 bounds-checks
                    if (nx == 0x00) { scanBytes += 2; j += 2 }
                    else if (nx >= 0xD0 && nx <= 0xD7) {
                      nRst += 1; scanBytes += 2; j += 2
                    } else if (nx == 0xFF) { scanBytes += 1; j += 1 } // fill
                    else done = true
                  }
                }
                mk.i = j
              case x if x >= 0xE0 && x <= 0xEF => // APPn
                if (x == 0xE0 && plen >= 5 &&
                    u8(p) == 'J' && u8(p + 1) == 'F' && u8(p + 2) == 'I' &&
                    u8(p + 3) == 'F' && u8(p + 4) == 0x00) jfif = true
                if (x == 0xE1 && plen >= 6 &&
                    u8(p) == 'E' && u8(p + 1) == 'x' && u8(p + 2) == 'i' &&
                    u8(p + 3) == 'f' && u8(p + 4) == 0x00 &&
                    u8(p + 5) == 0x00) exif = true
              case 0xFE => () // COM
              case _ => fail()
            }
            nSegments += 1
        }
      }
      if (mk.i != mk.n) fail() // trailing bytes after EOI break the tiling
      if (!sofSeen || nScans < 1) fail()
    } catch { case _: Malformed => return null }
    InternalRow(width, height, precision, nComp, progressive, nSegments,
      nDqt, dqtCrc.getValue, nDht, dhtCrc.getValue, jfif, exif,
      nScans, scanBytes, nRst)
  }
}

/** EXIF IFD walk (q319) — the metadata layer crawl pipelines actually
  * consult before pixels (orientation decides whether width/height swap
  * at render): locate the APP1 "Exif\0\0" segment with a light marker
  * walk, then parse the embedded TIFF structure — byte order (II/MM —
  * every multi-byte field swaps with it), magic 42, IFD0 entry walk
  * (tag, type, count, value-or-offset with the ≤4-bytes-inline rule),
  * extracting Orientation (0x0112 SHORT), ImageWidth/ImageLength
  * (0x0100/0x0101 SHORT or LONG) and Make (0x010F ASCII, offset-stored
  * when longer than 4 bytes, trailing NUL stripped). All offsets are
  * TIFF-header-relative and bounds-checked against the SEGMENT — a
  * malformed IFD voids the result, it can never read past the APP1
  * payload. Missing tags surface as null FIELDS (an IFD without an
  * orientation is common and valid); a file without a valid Exif APP1
  * returns null. Oracle = the generator's builder-intent manifest
  * (manifest_exif.csv), both byte orders committed. */
object JpegExif {

  import Malformed.fail

  def decode(b: Array[Byte]): InternalRow = {
    val mk = JpegCodec.markers(b)
    if (mk == null) return null
    try {
      // light marker walk to the APP1 Exif segment (stop at SOS/EOI)
      var p0 = -1
      var plen = -1
      while (p0 < 0) {
        val m = mk.next()
        if (m == 0xD9 || m == 0xDA) return null // no EXIF before scan
        if (m == 0xD8 || m <= 0xBF) fail()
        val len = mk.segment()
        val i = mk.i
        if (m == 0xE1 && len >= 8 + 6 &&
            mk.u8(i + 2) == 'E' && mk.u8(i + 3) == 'x' && mk.u8(i + 4) == 'i' &&
            mk.u8(i + 5) == 'f' && mk.u8(i + 6) == 0 && mk.u8(i + 7) == 0) {
          p0 = i + 8 // TIFF header start
          plen = len - 2 - 6
        }
        mk.i += len
      }
      // TIFF parse, all offsets relative to p0, bounded by plen
      def tu8(k: Int): Int = { if (k < 0 || k + 1 > plen) fail(); b(p0 + k) & 0xFF }
      val little = (tu8(0), tu8(1)) match {
        case (0x49, 0x49) => true
        case (0x4D, 0x4D) => false
        case _ => fail()
      }
      def u16(k: Int): Int =
        if (little) tu8(k) | (tu8(k + 1) << 8) else (tu8(k) << 8) | tu8(k + 1)
      def u32(k: Int): Long =
        if (little)
          tu8(k).toLong | (tu8(k + 1).toLong << 8) |
            (tu8(k + 2).toLong << 16) | (tu8(k + 3).toLong << 24)
        else
          (tu8(k).toLong << 24) | (tu8(k + 1).toLong << 16) |
            (tu8(k + 2).toLong << 8) | tu8(k + 3).toLong
      if (u16(2) != 42) fail()
      val ifd = u32(4)
      if (ifd < 8 || ifd + 2 > plen) fail()
      val cnt = u16(ifd.toInt)
      if (ifd + 2 + 12L * cnt + 4 > plen) fail()
      var orientation: java.lang.Long = null
      var widthTag: java.lang.Long = null
      var heightTag: java.lang.Long = null
      var make: org.apache.spark.unsafe.types.UTF8String = null
      var e = 0
      while (e < cnt) {
        val at = ifd.toInt + 2 + 12 * e
        val tag = u16(at)
        val typ = u16(at + 2)
        val c = u32(at + 4)
        val f = at + 8
        def intVal(): java.lang.Long =
          if (typ == 3 && c == 1) java.lang.Long.valueOf(u16(f).toLong)
          else if (typ == 4 && c == 1) java.lang.Long.valueOf(u32(f))
          else null
        tag match {
          case 0x0100 => widthTag = intVal()
          case 0x0101 => heightTag = intVal()
          case 0x0112 => orientation = intVal()
          case 0x010F if typ == 2 && c >= 1 && c <= 4096 =>
            val off = if (c <= 4) f.toLong else u32(f)
            if (off + c > plen) fail()
            var len = c.toInt
            while (len > 0 && tu8((off + len - 1).toInt) == 0) len -= 1
            val s = new Array[Byte](len)
            var k = 0
            while (k < len) { s(k) = b(p0 + off.toInt + k); k += 1 }
            make = org.apache.spark.unsafe.types.UTF8String.fromBytes(s)
          case _ => ()
        }
        e += 1
      }
      InternalRow(
        org.apache.spark.unsafe.types.UTF8String
          .fromString(if (little) "II" else "MM"),
        cnt.toLong, orientation, widthTag, heightTag, make)
    } catch { case _: Malformed => null }
  }
}

/** jpeg_info(content) -> struct<...> or null (see [[JpegInfo.decode]]). */
case class JpegInfoExpr(child: Expression) extends DecodeExpr("jpeg_info",
    StructType(Seq(
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("precision", LongType, nullable = false),
      StructField("n_components", LongType, nullable = false),
      StructField("progressive", BooleanType, nullable = false),
      StructField("n_segments", LongType, nullable = false),
      StructField("n_dqt", LongType, nullable = false),
      StructField("dqt_crc32", LongType, nullable = false),
      StructField("n_dht", LongType, nullable = false),
      StructField("dht_crc32", LongType, nullable = false),
      StructField("jfif", BooleanType, nullable = false),
      StructField("exif", BooleanType, nullable = false),
      StructField("n_scans", LongType, nullable = false),
      StructField("scan_bytes", LongType, nullable = false),
      StructField("n_rst", LongType, nullable = false))),
    "graft.functions.JpegInfo.decode") {
  def decode(b: Array[Byte]): Any = JpegInfo.decode(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_exif(content) -> struct<byte_order, n_entries, orientation,
  * width_tag, height_tag, make> or null (see [[JpegExif.decode]]). */
case class JpegExifExpr(child: Expression) extends DecodeExpr("jpeg_exif",
    StructType(Seq(
      StructField("byte_order", StringType, nullable = false),
      StructField("n_entries", LongType, nullable = false),
      StructField("orientation", LongType, nullable = true),
      StructField("width_tag", LongType, nullable = true),
      StructField("height_tag", LongType, nullable = true),
      StructField("make", StringType, nullable = true))),
    "graft.functions.JpegExif.decode") {
  def decode(b: Array[Byte]): Any = JpegExif.decode(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_pixels(content) -> [[JpegCodec.GraySchema]] or null: the
  * baseline gray profile of [[JpegCodec]]. */
case class JpegPixelsExpr(child: Expression) extends DecodeExpr("jpeg_pixels",
    JpegCodec.GraySchema, "graft.functions.JpegCodec.pixels") {
  def decode(b: Array[Byte]): Any = JpegCodec.pixels(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_rgb(content) -> [[JpegCodec.RgbSchema]] or null: the baseline
  * color profile of [[JpegCodec]]. */
case class JpegRgbExpr(child: Expression) extends DecodeExpr("jpeg_rgb",
    JpegCodec.RgbSchema, "graft.functions.JpegCodec.rgb") {
  def decode(b: Array[Byte]): Any = JpegCodec.rgb(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_prog_pixels(content) -> [[JpegCodec.GraySchema]] or null: the
  * progressive gray profile of [[JpegCodec]]. */
case class JpegProgExpr(child: Expression) extends DecodeExpr(
    "jpeg_prog_pixels", JpegCodec.GraySchema,
    "graft.functions.JpegCodec.progPixels") {
  def decode(b: Array[Byte]): Any = JpegCodec.progPixels(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_prog_rgb(content) -> [[JpegCodec.RgbSchema]] or null: the
  * progressive color profile of [[JpegCodec]]. */
case class JpegProgRgbExpr(child: Expression) extends DecodeExpr(
    "jpeg_prog_rgb", JpegCodec.RgbSchema, "graft.functions.JpegCodec.progRgb") {
  def decode(b: Array[Byte]): Any = JpegCodec.progRgb(b)
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
