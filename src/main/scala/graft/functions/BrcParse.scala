package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The 1BRC line tokenizer for `station;d?d.d`: one ';' search and one
  * fixed-point digit parse — the reference's byte tokenizers
  * (rust_1brc/src/thebracket.rs:46-110, rangnargrootkeorkamp.rs:80-107)
  * as plain functions shared by every text path.
  *
  * Both read through `Platform.getByte(base, offset)`, the way UTF8String
  * reads its own bytes, so one body serves the DataSource V2 reader's
  * buffer (`base` = the array, offsets from `Platform.BYTE_ARRAY_OFFSET`)
  * and a UTF8String in place (`getBaseObject`/`getBaseOffset`, no copy).
  *
  * [[wordTenths]] sits in front of [[parseTenths]]: it parses the two
  * common measure shapes from one 8-byte word with masks and no loop (the
  * word-wide form of R5's fixed-shape parse, rangnargrootkeorkamp.rs:80-107).
  * It accepts a subset of what `parseTenths` accepts and agrees with it
  * there; everything else is left to `parseTenths`.
  *
  * Value domain: `-?\d{1,3}(\.\d)?`. FIXTURES.md §1 documents 1-2
  * integer digits, but the generator's Normal tails genuinely exceed
  * ±100 (e.g. "Chittagong;103.4" at 1e9 rows — mean up to ~31 plus a
  * ~17-sd tail), so the honest domain is |v| < 1000; R5's 2-digit byte
  * shapes (rangnargrootkeorkamp.rs:29-31) are a known reference bet, not
  * the contract.
  */
object BrcParse {
  /** Offset of the first ';' in [from, until), or `until` when absent. */
  def sepIndex(base: AnyRef, from: Long, until: Long): Long = {
    var i = from
    while (i < until && Platform.getByte(base, i) != ';') i += 1
    i
  }

  /** The measure in [from, until) as integer tenths, or Long.MinValue if
    * malformed: optional '-', 1-3 integer digits, then either nothing
    * (integer form, scaled ×10) or '.' plus exactly one decimal digit. A
    * trailing dot ("12.") and 4+ integer digits are malformed — they'd
    * otherwise coerce silently. */
  def parseTenths(base: AnyRef, from: Long, until: Long): Long = {
    var i = from
    if (i >= until) return Long.MinValue
    var neg = false
    if (Platform.getByte(base, i) == '-') { neg = true; i += 1 }
    var v = 0L; var digits = 0; var seenDot = false; var frac = 0
    while (i < until) {
      val b = Platform.getByte(base, i)
      if (b >= '0' && b <= '9') {
        v = v * 10 + (b - '0'); digits += 1
        if (seenDot) frac += 1
      } else if (b == '.' && !seenDot) seenDot = true
      else return Long.MinValue
      i += 1
    }
    if (digits == 0 || frac > 1) return Long.MinValue
    if (seenDot && frac == 0) return Long.MinValue
    if (digits - frac < 1 || digits - frac > 3) return Long.MinValue
    if (!seenDot) v *= 10
    if (neg) -v else v
  }

  /** The measure at the start of the little-endian word `w` (its first
    * byte lowest) as integer tenths, when the word starts with the shape
    * `-?d.d\n` or `-?dd.d\n`; Long.MinValue for any other bytes — 3
    * integer digits, the integer form, `\r\n` and every malformed
    * measure — which the caller hands to [[parseTenths]]. A hit's first
    * '\n' ends the measure. */
  def wordTenths(w: Long): Long = {
    val neg = (w & 0xFF) == '-'
    val s = if (neg) w >>> 8 else w
    val short = (s & 0xFF00L) == 0x2E00L      // "d.d\n": the '.' second
    val d = if (short) (s << 8) | '0' else s // as "0d.d\n"
    // bytes 4..0: '\n', a digit, '.', two digits (the digits' high nibble)
    if ((d & 0xFFF0FFF0F0L) != 0x0A302E3030L) return Long.MinValue
    val nib = d & 0x0F000F0FL
    if (((nib + 0x06000606L) & 0x10001010L) != 0) return Long.MinValue // > 9
    val v = (nib & 0xF) * 100 + (nib >>> 8 & 0xF) * 10 + (nib >>> 24)
    if (neg) -v else v
  }

  /** station prefix as an exact-size single copy (the ONE allocation a
    * hash-agg key fundamentally needs — the reference borrows slices,
    * rust_1brc/src/rangnargrootkeorkamp.rs:92-99; Spark's agg map copies
    * keys into its own memory, so a transient exact-size copy is the
    * Spark-safe equivalent). null when no ';' is present. */
  def stationOfU(s: UTF8String): UTF8String = {
    val from = s.getBaseOffset; val until = from + s.numBytes
    val sep = sepIndex(s.getBaseObject, from, until)
    if (sep == until) return null
    val dst = new Array[Byte]((sep - from).toInt)
    Platform.copyMemory(s.getBaseObject, from, dst, Platform.BYTE_ARRAY_OFFSET,
      sep - from)
    UTF8String.fromBytes(dst)
  }

  /** measure in integer tenths after the first ';', or Long.MinValue. */
  def tenthsOfU(s: UTF8String): Long = {
    val from = s.getBaseOffset; val until = from + s.numBytes
    val sep = sepIndex(s.getBaseObject, from, until)
    if (sep == until) Long.MinValue
    else parseTenths(s.getBaseObject, sep + 1, until)
  }
}

/** brc_station(line) -> string: the key slice, one exact-size allocation
  * and no full-line byte copy; the measure side allocates nothing at all
  * (see BrcTenths). With brc_tenths it parses `spark.read.text` and
  * `readStream.text` lines (q94). */
case class BrcStation(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "brc_station"

  override def nullSafeEval(v: Any): Any =
    BrcParse.stationOfU(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.functions.BrcParse.stationOfU($s);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** brc_tenths(line) -> long: the measure in integer tenths (R4/R5
  * fixed-point semantics) as a PRIMITIVE — zero allocation, no boxing, no
  * intermediate struct, reading the UTF8String bytes in place; null when
  * the line is malformed. Feeds the pure-integer aggregation path
  * (OneBrc.brcAggTenths). */
case class BrcTenths(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "brc_tenths"

  override def nullSafeEval(v: Any): Any = {
    val t = BrcParse.tenthsOfU(v.asInstanceOf[UTF8String])
    if (t == Long.MinValue) null else t
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""
         |${ev.value} = graft.functions.BrcParse.tenthsOfU($s);
         |${ev.isNull} = (${ev.value} == Long.MIN_VALUE);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
