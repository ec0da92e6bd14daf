package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** UTF-8 validation + repair (q306) — the charset gate a crawl ingest
  * runs before any text stage: one bounds-checked pass over a binary
  * column classifying every byte sequence, with invalid sequences
  * repaired to U+FFFD under the WHATWG/CPython MAXIMAL-SUBPART policy
  * (one replacement per maximal prefix that could have begun a valid
  * sequence — a lone continuation or invalid lead consumes one byte; a
  * lead with k valid continuations but an invalid next byte consumes
  * lead + those continuations). Strict range checks reject overlongs
  * (E0 A0.., F0 90..), surrogates (ED 80–9F) and > U+10FFFF (F4 90..)
  * exactly as the spec tables demand.
  *
  * Ground truth: tools/gen_utf8_fixtures.py writes the fixture bytes,
  * walks them with an INDEPENDENT Python implementation of the same
  * policy, and asserts CPython's own `errors='replace'` codec agrees on
  * every fixture — three implementations, one manifest. At 100 TB this
  * runs inside the scan projection: ~50 bytes of stats per document
  * cross the shuffle, never the raw bytes. */
object Utf8Bytes {

  /** struct(n_bytes, n_chars, n_bad, text_md5) — never null: every
    * byte string decodes under the replacement policy. */
  def stats(b: Array[Byte]): InternalRow = {
    if (b == null) return null
    val sb = new java.lang.StringBuilder(b.length)
    var bad = 0L
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xFF
      if (c < 0x80) { sb.append(c.toChar); i += 1 }
      else {
        var need = -1; var lo = 0x80; var hi = 0xBF
        if (c >= 0xC2 && c <= 0xDF) need = 1
        else if (c == 0xE0) { need = 2; lo = 0xA0 }
        else if ((c >= 0xE1 && c <= 0xEC) || c == 0xEE || c == 0xEF) need = 2
        else if (c == 0xED) { need = 2; hi = 0x9F }
        else if (c == 0xF0) { need = 3; lo = 0x90 }
        else if (c >= 0xF1 && c <= 0xF3) need = 3
        else if (c == 0xF4) { need = 3; hi = 0x8F }
        if (need < 0) { sb.append('\uFFFD'); bad += 1; i += 1 }
        else {
          var j = i + 1
          var k = 0
          var okRun = true
          while (okRun && k < need && j < n) {
            val rl = if (k == 0) lo else 0x80
            val rh = if (k == 0) hi else 0xBF
            val cb = b(j) & 0xFF
            if (cb >= rl && cb <= rh) { j += 1; k += 1 } else okRun = false
          }
          if (k == need) {
            var cp = 0
            if (need == 1) cp = ((c & 0x1F) << 6) | (b(i + 1) & 0x3F)
            else if (need == 2)
              cp = ((c & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) |
                (b(i + 2) & 0x3F)
            else
              cp = ((c & 0x07) << 18) | ((b(i + 1) & 0x3F) << 12) |
                ((b(i + 2) & 0x3F) << 6) | (b(i + 3) & 0x3F)
            sb.appendCodePoint(cp)
            i = j
          } else { sb.append('\uFFFD'); bad += 1; i = j }
        }
      }
    }
    val s = sb.toString
    InternalRow(n.toLong, s.codePointCount(0, s.length).toLong, bad,
      {
        val enc = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ArchiveBytes.md5hex(enc, 0, enc.length)
      })
  }
}

/** utf8_stats(content) -> struct<n_bytes, n_chars, n_bad, text_md5>
  * (see [[Utf8Bytes.stats]]). */
case class Utf8StatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_bad", LongType, nullable = false),
    StructField("text_md5", StringType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "utf8_stats"
  override def nullSafeEval(v: Any): Any =
    Utf8Bytes.stats(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.Utf8Bytes.stats($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
