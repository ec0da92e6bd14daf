package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The JPEG pixel codec: ONE decoder behind jpeg_pixels (q316), jpeg_rgb
  * (q325), jpeg_prog_pixels (q326) and jpeg_prog_rgb (q332). Each
  * function accepts exactly one ISO/IEC 10918-1 profile and voids every
  * other file — the four-way split holds in every direction
  * (JpegProgColorSpec), so no file ever decodes under two functions:
  *
  *  - baseline gray (jpeg_pixels): SOF0, one component, 1×1 sampling,
  *    dimensions in whole 8×8 blocks, optional DRI; ≤ 16 Mi px.
  *  - baseline color (jpeg_rgb): SOF0, YCbCr 4:2:0 — Y 2×2, Cb 1×1,
  *    Cr 1×1 — in one interleaved scan (an MCU is 4 Y blocks in 2×2
  *    raster, then Cb, then Cr), dimensions in whole 16×16 MCUs,
  *    optional DRI; ≤ 16 Mi px.
  *  - progressive gray (jpeg_prog_pixels): SOF2, the gray frame rules,
  *    any legal scan script; ≤ 4 Mi px (one Int coefficient per pixel).
  *  - progressive color (jpeg_prog_rgb): SOF2, the 4:2:0 frame rules
  *    with component ids 1–3, no DRI (a progressive restart interval
  *    voids rather than risk a mis-decode); ≤ 2 Mi px.
  *
  * All four: 8-bit precision, 8-bit quant tables, Huffman coding. The
  * layers of the decode:
  *
  *  - [[Markers]]: the SOI → EOI marker walk, shared with jpeg_info and
  *    jpeg_exif. EOI must close the file exactly — nothing may follow.
  *  - [[Decoder]] frame/table parse: SOF, DHT (Annex C canonical tables),
  *    DQT, DRI, SOS. Every Tq/Td/Ta selector is range-checked where it is
  *    looked up, so a bad selector voids its row instead of failing the
  *    `binaryFile` scan. DQT/DHT may arrive between scans; a scan uses
  *    the tables in force at its SOS, the render the quant tables in
  *    force when it starts.
  *  - [[Huff]], [[BitReader]] (FF00 unstuffing; any other marker inside
  *    entropy data is malformed) and [[extend]].
  *  - block entropy decode: sequential (baseline DC difference + AC
  *    run/size, ZRL, EOB) and the four Annex G progressive modes — DC
  *    first over the point-transformed value; DC refinement, one raw bit
  *    ORed in at Al (two's-complement OR reconstructs negative DCs
  *    exactly); AC first with End-Of-Band runs of `(1 << r) + receive(r)`
  *    blocks; AC refinement, the correction-bit walk of libjpeg's
  *    decode_mcu_AC_refine (the de-facto reading of G.1.2.3).
  *  - scan loop: blocks in interleaved MCU order, or — for a one-
  *    component scan of a color frame, which Annex G requires for AC —
  *    in that component's own raster; restart markers (sequence-checked
  *    RST0–7) reset the bit reader, every DC predictor and the EOB run.
  *  - render tail: dequantize, the fixed-point integer IDCT, then a gray
  *    surface or nearest-neighbour 4:2:0 upsampling and integer JFIF
  *    YCbCr → RGB, reduced to exact statistics + CRC32 over the row-major
  *    bytes, so the oracle pins every pixel and none crosses the shuffle.
  *
  * Baseline renders each MCU as soon as it is decoded and keeps no
  * coefficient buffer; progressive buffers coefficients until EOI.
  * Malformed input of any kind — a Huffman code outside its table, an AC
  * run past index 63, a restart marker out of sequence, EOF mid-block —
  * voids the file (DROPMALFORMED: the blast radius is one row).
  *
  * The arithmetic is integer-only end to end. The cosine matrix [[K]],
  * the zigzag order [[ZZ]] and the 2^16-scaled JFIF constants are
  * literals shared with tools/gen_jpeg_decode_fixtures.py and with
  * JpegScale's expected side, so decoder, generator and gate cannot drift
  * by a ULP — keep them byte-identical. Ground truth: the generator
  * chooses quantized coefficients by formula, re-decodes every scan with
  * an independent Python decoder, and builds a baseline TWIN of each
  * progressive file from the same coefficients; both entropy layers must
  * land the same px_crc32 (JpegProgSpec, JpegProgColorSpec).
  */
object JpegCodec {
  import Malformed.fail

  /** round(1024·c(u)·cos((2x+1)uπ/16)), c(0)=1/√2. `private[graft]` so
    * JpegScale's expected-side pixel math provably uses the SAME matrix
    * (its entropy/Huffman layer stays fully independent). */
  private[graft] val K: Array[Array[Int]] = Array(
    Array(724, 1004, 946, 851, 724, 569, 392, 200),
    Array(724, 851, 392, -200, -724, -1004, -946, -569),
    Array(724, 569, -392, -1004, -724, 200, 946, 851),
    Array(724, 200, -946, -569, 724, 851, -392, -1004),
    Array(724, -200, -946, 569, 724, -851, -392, 1004),
    Array(724, -569, -392, 1004, -724, -200, 946, -851),
    Array(724, -851, 392, 200, -724, 1004, -946, 569),
    Array(724, -1004, 946, -851, 724, -569, 392, -200))

  private[graft] val ZZ: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5, 12, 19, 26,
    33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42, 49, 56,
    57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52, 45, 38,
    31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // JFIF YCbCr→RGB in 2^16 fixed point: round(1.402 / 0.344136 /
  // 0.714136 / 1.772 · 65536)
  private val CrR = 91881
  private val CbG = 22554
  private val CrG = 46802
  private val CbB = 116130

  /** struct(width, height, <count>, n_rst, px_min, px_max, px_sum,
    * px_sqsum, px_crc32): `n_blocks` for the gray functions, `n_mcus`
    * for the color ones (keep in sync with the generator). */
  private def pixelSchema(count: String): StructType = StructType(
    Seq("width", "height", count, "n_rst", "px_min", "px_max", "px_sum",
      "px_sqsum", "px_crc32").map(StructField(_, LongType, nullable = false)))
  val GraySchema: StructType = pixelSchema("n_blocks")
  val RgbSchema: StructType = pixelSchema("n_mcus")

  /** Marker-segment cursor over a file that starts with SOI: `i` sits on
    * the next marker; every read is bounds-checked (past-EOF = malformed). */
  private[functions] final class Markers(val b: Array[Byte]) {
    val n: Int = b.length
    var i = 2
    def u8(k: Int): Int = { if (k < 0 || k >= n) fail(); b(k) & 0xFF }
    def be16(k: Int): Int = (u8(k) << 8) | u8(k + 1)
    /** 0xFF, optional 0xFF fill, the marker code; leaves `i` past it. */
    def next(): Int = {
      if (u8(i) != 0xFF) fail()
      while (u8(i) == 0xFF) i += 1
      val m = u8(i)
      i += 1
      m
    }
    /** The length field of the segment at `i` (payload `i + 2` until
      * `i + len`), checked to fit in the file. */
    def segment(): Int = {
      val len = be16(i)
      if (len < 2 || i + len > n) fail()
      len
    }
  }

  /** A cursor just past SOI, or null when `b` does not start with one. */
  private[functions] def markers(b: Array[Byte]): Markers =
    if (b == null || b.length < 4 || (b(0) & 0xFF) != 0xFF ||
      (b(1) & 0xFF) != 0xD8) null
    else new Markers(b)

  /** Canonical Huffman decode table (Annex C/F): symbol by (len, code). */
  private[functions] final class Huff(counts: Array[Int], syms: Array[Int]) {
    // mincode/maxcode/valptr per code length 1..16 (Annex F.2.2.3)
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var ln = 1
      while (ln <= 16) {
        if (counts(ln - 1) == 0) maxCode(ln) = -1
        else {
          valPtr(ln) = k
          minCode(ln) = code
          code += counts(ln - 1)
          k += counts(ln - 1)
          maxCode(ln) = code - 1
        }
        code <<= 1
        ln += 1
      }
    }
    def decode(br: BitReader): Int = {
      var ln = 1
      var code = br.bit()
      while (ln <= 16 && (maxCode(ln) < 0 || code > maxCode(ln))) {
        code = (code << 1) | br.bit()
        ln += 1
      }
      if (ln > 16) fail()
      syms(valPtr(ln) + code - minCode(ln))
    }
  }

  /** MSB-first bit reader over the entropy-coded segment with FF00
    * unstuffing; any other marker inside bit-reading is malformed. `i`
    * is the next unread byte: after a scan (or before a restart marker)
    * the partial byte is dropped and `i` sits on the marker. */
  private[functions] final class BitReader(b: Array[Byte], var i: Int, n: Int) {
    private var acc = 0
    private var nb = 0
    def restart(at: Int): Unit = { i = at; acc = 0; nb = 0 }
    def bit(): Int = {
      if (nb == 0) {
        if (i >= n) fail()
        val v = b(i) & 0xFF
        i += 1
        if (v == 0xFF) {
          if (i >= n || (b(i) & 0xFF) != 0x00) fail()
          i += 1
        }
        acc = v
        nb = 8
      }
      nb -= 1
      (acc >> nb) & 1
    }
    def bits(k: Int): Int = {
      var v = 0
      var j = 0
      while (j < k) { v = (v << 1) | bit(); j += 1 }
      v
    }
  }

  private[functions] def extend(r: Int, s: Int): Int =
    if (s == 0) 0 else if (r >= (1 << (s - 1))) r else r - (1 << s) + 1

  private final class Profile(val progressive: Boolean, val color: Boolean,
      val maxPixels: Long)
  private val BaselineGray = new Profile(false, false, 16L << 20)
  private val BaselineColor = new Profile(false, true, 16L << 20)
  private val ProgressiveGray = new Profile(true, false, 4L << 20)
  private val ProgressiveColor = new Profile(true, true, 2L << 20)

  /** jpeg_pixels: [[GraySchema]] row or null. */
  def pixels(b: Array[Byte]): InternalRow = decode(b, BaselineGray)
  /** jpeg_rgb: [[RgbSchema]] row or null. */
  def rgb(b: Array[Byte]): InternalRow = decode(b, BaselineColor)
  /** jpeg_prog_pixels: [[GraySchema]] row or null. */
  def progPixels(b: Array[Byte]): InternalRow = decode(b, ProgressiveGray)
  /** jpeg_prog_rgb: [[RgbSchema]] row or null. */
  def progRgb(b: Array[Byte]): InternalRow = decode(b, ProgressiveColor)

  private def decode(b: Array[Byte], p: Profile): InternalRow = {
    val mk = markers(b)
    if (mk == null) return null
    try new Decoder(mk, p).run()
    catch { case _: Malformed => null }
  }

  /** Per-file decode state: frame geometry, tables, the current scan. */
  private final class Decoder(mk: Markers, p: Profile) {
    private val nc = if (p.color) 3 else 1
    // MCU layout, block t: component, then block row/column inside the
    // component's sampling box (Y is 2×2 in a color frame)
    private val mcuComp = if (p.color) Array(0, 0, 0, 0, 1, 2) else Array(0)
    private val mcuDy = if (p.color) Array(0, 0, 1, 1, 0, 0) else Array(0)
    private val mcuDx = if (p.color) Array(0, 1, 0, 1, 0, 0) else Array(0)
    private val samp = if (p.color) 2 else 1 // component 0's H = V
    // progressive color names its one-component scans by id: the frame
    // pins ids 1..3, and the profile has no DRI
    private val byId = p.progressive && p.color
    private val quant = new Array[Array[Int]](4)
    private val dcTabs = new Array[Huff](4)
    private val acTabs = new Array[Huff](4)
    private val tq = new Array[Int](nc)
    private var width = 0
    private var height = 0
    private var mcuW = 0
    private var mcuH = 0
    private var blocksW: Array[Int] = null // per component
    private var blocksH: Array[Int] = null
    private var coefs: Array[Array[Int]] = null // progressive, zigzag
    private var rstInterval = 0
    private var nRst = 0L
    // the scan being decoded
    private var br: BitReader = null
    private val dcH = new Array[Huff](nc)
    private val acH = new Array[Huff](nc)
    private val pred = new Array[Int](nc)
    private var eobrun = 0
    private var scanComp = 0 // the component of a one-component scan
    private var ss = 0
    private var se = 0
    private var ah = 0
    private var al = 0
    private var out: Render = null

    def run(): InternalRow = {
      var sof = false
      var scanned = false
      var eoi = false
      while (!eoi) {
        val m = mk.next()
        if (m == 0xD9) {
          // baseline: EOI only after its one scan; progressive: after SOF
          if (mk.i != mk.n || !(if (p.progressive) sof else scanned)) fail()
          eoi = true
        } else if (m == 0xD8 || m <= 0xBF || (scanned && !p.progressive)) fail()
        else {
          val len = mk.segment()
          val at = mk.i + 2
          val plen = len - 2
          mk.i += len
          m match {
            case 0xC0 | 0xC2 if (m == 0xC2) == p.progressive =>
              if (sof) fail()
              sof = true
              frame(at, plen)
            case 0xC4 => dht(at, plen)
            case 0xDB => dqt(at, plen)
            case 0xDD if !byId =>
              if (plen != 2) fail()
              rstInterval = mk.be16(at)
            case 0xDA =>
              if (!sof) fail()
              scan(at, plen)
              scanned = true
            case x if x >= 0xE0 && x <= 0xEF => () // APPn
            case 0xFE => () // COM
            case _ => fail()
          }
        }
      }
      if (p.progressive) {
        startRender()
        var u = 0
        while (u < mcuW * mcuH) {
          var t = 0
          while (t < mcuComp.length) {
            val c = mcuComp(t)
            out.idct(t, coefs(c), blockAt(t, u) * 64, quant(tq(c)))
            t += 1
          }
          out.flush(u / mcuW, u % mcuW)
          u += 1
        }
      }
      InternalRow(width.toLong, height.toLong, (mcuW * mcuH).toLong, nRst,
        out.pMin, out.pMax, out.pSum, out.pSq, out.crc32)
    }

    /** Raster index, in its component's block grid, of MCU `u`'s block `t`. */
    private def blockAt(t: Int, u: Int): Int = {
      val c = mcuComp(t)
      val s = if (c == 0) samp else 1
      ((u / mcuW) * s + mcuDy(t)) * blocksW(c) + (u % mcuW) * s + mcuDx(t)
    }

    private def frame(at: Int, plen: Int): Unit = {
      if (plen != 6 + 3 * nc || mk.u8(at) != 8 || mk.u8(at + 5) != nc) fail()
      height = mk.be16(at + 1)
      width = mk.be16(at + 3)
      var c = 0
      while (c < nc) {
        val o = at + 6 + 3 * c
        if (byId && mk.u8(o) != c + 1) fail()
        if (mk.u8(o + 1) != (if (c == 0) samp * 0x11 else 0x11)) fail()
        tq(c) = mk.u8(o + 2)
        if (tq(c) > 3) fail()
        c += 1
      }
      val mcuPx = 8 * samp
      if (width < 1 || height < 1 || width % mcuPx != 0 ||
        height % mcuPx != 0) fail()
      if (width.toLong * height > p.maxPixels) fail()
      mcuW = width / mcuPx
      mcuH = height / mcuPx
      blocksW = Array.tabulate(nc)(c => if (c == 0) mcuW * samp else mcuW)
      blocksH = Array.tabulate(nc)(c => if (c == 0) mcuH * samp else mcuH)
      if (p.progressive)
        coefs = Array.tabulate(nc)(c => new Array[Int](blocksW(c) * blocksH(c) * 64))
    }

    /** DHT: (Tc,Th) + 16 counts + Σcounts symbols, tiling the payload. */
    private def dht(at: Int, plen: Int): Unit = {
      var off = 0
      while (off < plen) {
        val tcth = mk.u8(at + off)
        val tc = tcth >> 4
        val th = tcth & 0x0F
        if (tc > 1 || th > 3 || off + 17 > plen) fail()
        val counts = Array.tabulate(16)(k => mk.u8(at + off + 1 + k))
        val sum = counts.sum
        if (off + 17 + sum > plen) fail()
        val syms = Array.tabulate(sum)(k => mk.u8(at + off + 17 + k))
        (if (tc == 0) dcTabs else acTabs)(th) = new Huff(counts, syms)
        off += 17 + sum
      }
      if (off != plen) fail()
    }

    /** DQT: (Pq,Tq) + 64 or 128 bytes, tiling the payload. 16-bit tables
      * are legal but out of profile: skipped, so a later reference voids. */
    private def dqt(at: Int, plen: Int): Unit = {
      var off = 0
      while (off < plen) {
        val pqtq = mk.u8(at + off)
        val pq = pqtq >> 4
        if (pq > 1 || (pqtq & 0x0F) > 3) fail()
        if (off + 1 + 64 * (pq + 1) > plen) fail()
        if (pq == 0)
          quant(pqtq & 0x0F) = Array.tabulate(64)(k => mk.u8(at + off + 1 + k))
        off += 1 + 64 * (pq + 1)
      }
      if (off != plen) fail()
    }

    private def table(tabs: Array[Huff], sel: Int): Huff = {
      if (sel > 3 || tabs(sel) == null) fail()
      tabs(sel)
    }

    /** Baseline: the render starts with its one scan. Progressive: at EOI. */
    private def startRender(): Unit = {
      var c = 0
      while (c < nc) { if (quant(tq(c)) == null) fail(); c += 1 }
      out = new Render(width, height, p.color)
    }

    /** SOS header, then the scan's entropy data; leaves the walk on the
      * marker after it. */
    private def scan(at: Int, plen: Int): Unit = {
      val ns = mk.u8(at)
      if (plen != 4 + 2 * ns) fail()
      ss = mk.u8(at + 1 + 2 * ns)
      se = mk.u8(at + 2 + 2 * ns)
      ah = mk.u8(at + 3 + 2 * ns) >> 4
      al = mk.u8(at + 3 + 2 * ns) & 0x0F
      if (p.progressive) {
        // G.1.1.1.1: a DC scan is the single (0,0) band, AC bands live in
        // 1..63, refinement steps one bit, Al keeps `<< al` inside Int
        if (ss == 0) { if (se != 0) fail() }
        else if (se < ss || se > 63) fail()
        if (ah != 0 && al != ah - 1) fail()
        if (al > 13 || ah > 13) fail()
      } else if (ss != 0 || se != 63 || ah != 0 || al != 0) fail()
      // every component in MCU order, or (progressive color) one
      // component in its own raster; Annex G never interleaves AC
      val all = ns == nc
      if (!all && !(byId && ns == 1)) fail()
      if (byId && all && ss != 0) fail()
      var j = 0
      while (j < ns) {
        val id = mk.u8(at + 1 + 2 * j)
        val c = if (!byId) j
          else if (all) { if (id != j + 1) fail(); j }
          else { if (id < 1 || id > 3) fail(); id - 1 }
        val sel = mk.u8(at + 2 + 2 * j)
        if (ss == 0 && ah == 0) dcH(c) = table(dcTabs, sel >> 4)
        if (se > 0) acH(c) = table(acTabs, sel & 0x0F)
        if (j == 0) scanComp = c
        j += 1
      }
      if (!p.progressive) startRender()
      br = new BitReader(mk.b, mk.i, mk.n)
      java.util.Arrays.fill(pred, 0)
      eobrun = 0
      val units = if (all) mcuW * mcuH else blocksW(scanComp) * blocksH(scanComp)
      val block = if (p.progressive) null else new Array[Int](64)
      var u = 0
      while (u < units) {
        if (rstInterval > 0 && u > 0 && u % rstInterval == 0) restart()
        if (!all) decodeBlock(coefs(scanComp), u * 64, scanComp)
        else {
          var t = 0
          while (t < mcuComp.length) {
            val c = mcuComp(t)
            if (p.progressive) decodeBlock(coefs(c), blockAt(t, u) * 64, c)
            else {
              java.util.Arrays.fill(block, 0)
              decodeBlock(block, 0, c)
              out.idct(t, block, 0, quant(tq(c)))
            }
            t += 1
          }
          if (!p.progressive) out.flush(u / mcuW, u % mcuW)
        }
        u += 1
      }
      mk.i = br.i
    }

    private def restart(): Unit = {
      val at = br.i
      if (mk.u8(at) != 0xFF || mk.u8(at + 1) != 0xD0 + (nRst % 8).toInt) fail()
      br.restart(at + 2)
      nRst += 1
      java.util.Arrays.fill(pred, 0)
      eobrun = 0
    }

    /** One block of the current scan into `co(base ..< base + 64)`
      * (zigzag order): the DC part when the band starts at 0, then the AC
      * part when it reaches past 0 — a sequential block is both. */
    private def decodeBlock(co: Array[Int], base: Int, c: Int): Unit = {
      if (ss == 0) {
        if (ah == 0) {
          val s = dcH(c).decode(br)
          if (s > 11) fail()
          pred(c) += extend(br.bits(s), s)
          // a legal 8-bit DC never leaves this range; keeping it bounded
          // keeps the IDCT accumulator far from Long range
          if (pred(c) < -65536 || pred(c) > 65536) fail()
          co(base) = pred(c) << al
        } else if (br.bit() != 0) co(base) |= 1 << al
      }
      if (se > 0) {
        if (ah == 0) acFirst(co, base, acH(c)) else acRefine(co, base, acH(c))
      }
    }

    /** Sequential AC, or a progressive AC-first band (G.1.2.2). Sequential
      * has no EOB runs: only EOB (0x00) and ZRL (0xF0) carry no value. */
    private def acFirst(co: Array[Int], base: Int, h: Huff): Unit =
      if (eobrun > 0) eobrun -= 1
      else {
        var k = if (ss == 0) 1 else ss
        var done = false
        while (k <= se && !done) {
          val sym = h.decode(br)
          val r = sym >> 4
          val s = sym & 0x0F
          if (s != 0) {
            k += r
            if (k > se) fail()
            co(base + k) = extend(br.bits(s), s) << al
            k += 1
          } else if (r == 15) {
            k += 16 // ZRL
            if (!p.progressive && k > 64) fail()
          } else if (!p.progressive) {
            if (r != 0) fail()
            done = true
          } else {
            eobrun = (1 << r) + (if (r > 0) br.bits(r) else 0) - 1
            done = true
          }
        }
      }

    /** AC refinement (G.1.2.3, libjpeg decode_mcu_AC_refine). */
    private def acRefine(co: Array[Int], base: Int, h: Huff): Unit = {
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var done = false
        while (k <= se && !done) {
          val sym = h.decode(br)
          var r = sym >> 4
          val s0 = sym & 0x0F
          var newval = 0
          if (s0 != 0) {
            if (s0 != 1) fail() // refinement carries only ±1 at this bit
            newval = if (br.bit() != 0) p1 else m1
          } else if (r != 15) {
            eobrun = 1 << r
            if (r > 0) eobrun += br.bits(r)
            done = true
          }
          if (!done) {
            // advance over r zero-HISTORY coefficients, emitting a
            // correction bit for every nonzero-history one passed; stop
            // AT the (r+1)-th zero (the placement slot)
            var atSlot = false
            while (k <= se && !atSlot) {
              val c = co(base + k)
              if (c != 0) {
                if (br.bit() != 0 && (c & p1) == 0)
                  co(base + k) = c + (if (c >= 0) p1 else m1)
                k += 1
              } else {
                r -= 1
                if (r < 0) atSlot = true else k += 1
              }
            }
            if (newval != 0) {
              if (!atSlot) fail() // band ended before the target zero
              co(base + k) = newval
            }
            k += 1 // past the placement slot / consumed zero
          }
        }
      }
      if (eobrun > 0) {
        // correction bits for the remainder of the band
        while (k <= se) {
          val c = co(base + k)
          if (c != 0 && br.bit() != 0 && (c & p1) == 0)
            co(base + k) = c + (if (c >= 0) p1 else m1)
          k += 1
        }
        eobrun -= 1
      }
    }
  }

  /** Render tail: blocks of one MCU are IDCT'd into its tile (block t of
    * a color MCU: Y at (t / 2, t % 2), then Cb, then Cr), then [[flush]]
    * writes the tile — gray, or upsampled and JFIF-converted — into the
    * surface and folds it into the statistics. */
  private final class Render(width: Int, height: Int, color: Boolean) {
    private val px = new Array[Byte](width * height * (if (color) 3 else 1))
    private val yTile = new Array[Int](256) // 16×16, gray uses 8×8
    private val cbTile = new Array[Int](64)
    private val crTile = new Array[Int](64)
    private val m = new Array[Long](64)
    private val inner = new Array[Long](64)
    var pMin = 255L
    var pMax = 0L
    var pSum = 0L
    var pSq = 0L

    /** Dequantize zigzag block `co(base ..)` with `q` and run the
      * fixed-point IDCT into tile slot `t`. */
    def idct(t: Int, co: Array[Int], base: Int, q: Array[Int]): Unit = {
      java.util.Arrays.fill(m, 0L)
      var k = 0
      while (k < 64) {
        val v = co(base + k)
        if (v != 0) m(ZZ(k)) = v.toLong * q(k)
        k += 1
      }
      // inner(a, x) = Σc K(x)(c)·m(a, c): independent of y, so computed
      // once per block — the same integer sums as the direct form
      var a = 0
      while (a < 8) {
        var x = 0
        while (x < 8) {
          var s = 0L
          var c = 0
          while (c < 8) { s += K(x)(c) * m(a * 8 + c); c += 1 }
          inner(a * 8 + x) = s
          x += 1
        }
        a += 1
      }
      val dst = if (t < 4) yTile else if (t == 4) cbTile else crTile
      val off = if (t < 4) (t / 2) * 128 + (t % 2) * 8 else 0
      val stride = if (t < 4) 16 else 8
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0L
          a = 0
          while (a < 8) { acc += K(y)(a) * inner(a * 8 + x); a += 1 }
          var v = 128L + ((acc + (1L << 21)) >> 22)
          if (v < 0) v = 0
          if (v > 255) v = 255
          dst(off + y * stride + x) = v.toInt
          x += 1
        }
        y += 1
      }
    }

    private def put(at: Int, v: Int): Unit = {
      px(at) = v.toByte
      if (v < pMin) pMin = v
      if (v > pMax) pMax = v
      pSum += v
      pSq += v.toLong * v
    }

    /** Write the tile of MCU (my, mx) into the surface. */
    def flush(my: Int, mx: Int): Unit =
      if (!color) {
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            put((my * 8 + y) * width + mx * 8 + x, yTile(y * 16 + x))
            x += 1
          }
          y += 1
        }
      } else {
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val yv = yTile(y * 16 + x)
            val cb = cbTile((y / 2) * 8 + x / 2) - 128
            val cr = crTile((y / 2) * 8 + x / 2) - 128
            val at = ((my * 16 + y) * width + mx * 16 + x) * 3
            put(at, clamp(yv + ((CrR * cr + 32768) >> 16)))
            put(at + 1, clamp(yv - ((CbG * cb + CrG * cr + 32768) >> 16)))
            put(at + 2, clamp(yv + ((CbB * cb + 32768) >> 16)))
            x += 1
          }
          y += 1
        }
      }

    private def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

    def crc32: Long = {
      val c = new java.util.zip.CRC32
      c.update(px)
      c.getValue
    }
  }
}
