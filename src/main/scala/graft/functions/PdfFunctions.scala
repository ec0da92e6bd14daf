package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** PDF text extraction (q209) — the last major crawl modality of the
  * real-bytes family after HTML (q204), PNG (q144/q167/q200), WAV
  * (q146/q156/q201) and AVI (q206/q207): pull the shown text out of a
  * PDF `binary` column in one bounds-checked pass, no PDF library, a
  * codegen Catalyst expression like every other decoder in the repo.
  *
  * Scope is the exactly-specifiable core (the q204 reduction): every
  * `<< .. >> stream .. endstream` object is walked in FILE ORDER (direct
  * integer `/Length` only — indirect lengths are out of scope and decode
  * to null), `/Subtype /Image` streams count toward `n_streams` but are
  * never scanned for text, `/FlateDecode` payloads are zlib-inflated
  * with the q167 JDK-`Inflater` discipline, and each decoded content
  * stream is tokenized for `BT..ET` text objects: `( .. ) Tj` appends
  * the literal string, `[ .. ] TJ` appends the array's string elements
  * in order (kerning numbers ignored), and `Td`/`TD`/`T*`/`ET` append
  * one '\n' iff text was already emitted and doesn't end with one.
  * Literal-string escapes follow PDF 32000-1 §7.3.4.2: \n \r \t \b \f,
  * \( \) \\, 1-3 digit octal \ooo, backslash-EOL line continuation,
  * unknown escapes drop the backslash; raw EOLs inside a string
  * normalize to '\n'; unescaped balanced parentheses nest. Anything
  * malformed — bad or overrunning /Length, missing `endstream`, failed
  * inflate, unbalanced BT/ET, unterminated string — voids the WHOLE
  * file to null, never garbage (the DROPMALFORMED discipline).
  *
  * Ground truth: the committed fixture set's manifest is declared-text
  * by construction AND re-validated by an INDEPENDENT Python mini-parser
  * inside the generator (tools/gen_pdf_fixtures.py), so this decoder,
  * the builder, and that parser must all agree. At 100 TB the decode
  * runs inside the scan projection over a binaryFile source: ~100 bytes
  * of counts/digest per document cross the shuffle, never the PDF.
  */
object PdfText {
  import Malformed.fail

  /** Inflated-content allocation cap: a content stream claiming to
    * inflate past this is treated as malformed, not allocated. */
  private val MaxInflated = 64 * 1024 * 1024

  private def isWs(c: Byte): Boolean =
    c == 0x00 || c == 0x09 || c == 0x0A || c == 0x0C || c == 0x0D || c == 0x20
  private def isDelim(c: Byte): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isAlpha(c: Byte): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')

  private def startsWith(b: Array[Byte], i: Int, s: String): Boolean = {
    if (i < 0 || i + s.length > b.length) return false
    var k = 0
    while (k < s.length) {
      if (b(i + k) != s.charAt(k).toByte) return false
      k += 1
    }
    true
  }

  /** Parse one literal string starting at `(`; returns next index,
    * appends decoded chars to `out` (PDF §7.3.4.2 — keep in sync with
    * tools/gen_pdf_fixtures.py `_parse_string`). */
  private def parseString(d: Array[Byte], start: Int,
      out: java.lang.StringBuilder): Int = {
    var i = start + 1
    var depth = 1
    while (depth > 0) {
      if (i >= d.length) fail()
      val c = d(i)
      if (c == '\\') {
        i += 1
        if (i >= d.length) fail()
        val e = (d(i) & 0xFF).toChar
        if (e == 'n') { out.append('\n'); i += 1 }
        else if (e == 'r') { out.append('\r'); i += 1 }
        else if (e == 't') { out.append('\t'); i += 1 }
        else if (e == 'b') { out.append('\b'); i += 1 }
        else if (e == 'f') { out.append('\f'); i += 1 }
        else if (e == '(' || e == ')' || e == '\\') { out.append(e); i += 1 }
        else if (e >= '0' && e <= '7') {
          var v = 0; var k = 0
          while (k < 3 && i < d.length && d(i) >= '0' && d(i) <= '7') {
            v = v * 8 + (d(i) - '0'); i += 1; k += 1
          }
          out.append((v & 0xFF).toChar)
        } else if (e == 0x0D) { // backslash-EOL continuation
          i += 1
          if (i < d.length && d(i) == 0x0A) i += 1
        } else if (e == 0x0A) i += 1
        else { out.append(e); i += 1 }
      } else if (c == '(') { depth += 1; out.append('('); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) out.append(')')
        i += 1
      } else if (c == 0x0D) {
        out.append('\n'); i += 1
        if (i < d.length && d(i) == 0x0A) i += 1
      } else { out.append((c & 0xFF).toChar); i += 1 }
    }
    i
  }

  /** Tokenize one decoded content stream, appending shown text into
    * `sb`; returns the number of BT blocks (keep in sync with
    * `_scan_content`). */
  private def scanContent(d: Array[Byte], sb: java.lang.StringBuilder): Long = {
    var i = 0
    var blocks = 0L
    var inText = false
    var lastStr: String = null
    var arr = new java.lang.StringBuilder
    var inArray = false
    def nl(): Unit =
      if (sb.length > 0 && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
    while (i < d.length) {
      val c = d(i)
      if (isWs(c)) i += 1
      else if (c == '%') {
        while (i < d.length && d(i) != 0x0D && d(i) != 0x0A) i += 1
      } else if (c == '(') {
        val tmp = new java.lang.StringBuilder
        i = parseString(d, i, tmp)
        if (inArray) arr.append(tmp) else lastStr = tmp.toString
      } else if (c == '[') { inArray = true; arr = new java.lang.StringBuilder; i += 1 }
      else if (c == ']') { inArray = false; i += 1 }
      else if (c == '/') {
        i += 1
        while (i < d.length && !isWs(d(i)) && !isDelim(d(i))) i += 1
      } else if (c == '+' || c == '-' || c == '.' || isDigit(c)) {
        i += 1
        while (i < d.length && (d(i) == '+' || d(i) == '-' || d(i) == '.' ||
          isDigit(d(i)))) i += 1
      } else if (c == '<') {
        // hex string or inline dict: skipped opaquely, never text
        if (startsWith(d, i, "<<")) {
          var depth = 1; i += 2
          while (depth > 0) {
            if (i >= d.length - 1) fail()
            if (startsWith(d, i, "<<")) { depth += 1; i += 2 }
            else if (startsWith(d, i, ">>")) { depth -= 1; i += 2 }
            else i += 1
          }
        } else {
          while (i < d.length && d(i) != '>') i += 1
          if (i >= d.length) fail()
          i += 1
        }
      } else if (isAlpha(c) || c == '*' || c == '\'' || c == '"') {
        val j0 = i
        while (i < d.length && (isAlpha(d(i)) || d(i) == '*' ||
          d(i) == '\'' || d(i) == '"')) i += 1
        val op = new String(d, j0, i - j0,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        op match {
          case "BT" =>
            if (inText) fail()
            inText = true; blocks += 1
          case "ET" =>
            if (!inText) fail()
            nl(); inText = false
          case "Td" | "TD" | "T*" => if (inText) nl()
          case "Tj" => if (inText && lastStr != null) sb.append(lastStr)
          case "TJ" => if (inText) sb.append(arr)
          case _ => ()
        }
        lastStr = null; arr = new java.lang.StringBuilder; inArray = false
      } else fail()
    }
    if (inText) fail()
    blocks
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        // zero progress while unfinished = truncated/stalled/preset-dict
        if (n == 0 && !inf.finished()) fail()
        out.write(buf, 0, n)
        if (out.size() > MaxInflated) fail()
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => fail()
    } finally inf.end()
  }

  /** struct(n_streams, n_text_blocks, text) or null for malformed bytes
    * (keep in sync with `extract` in tools/gen_pdf_fixtures.py). */
  def extract(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 8 || !startsWith(b, 0, "%PDF-")) return null
    val n = b.length
    var i = 0
    var nStreams = 0L
    var nBlocks = 0L
    val sb = new java.lang.StringBuilder
    try {
      while (i < n - 1) {
        if (!startsWith(b, i, "<<")) { i += 1 }
        else {
          val start = i
          var depth = 0
          var j = i
          var end = -1
          while (end < 0) {
            if (j >= n - 1) fail()
            if (startsWith(b, j, "<<")) { depth += 1; j += 2 }
            else if (startsWith(b, j, ">>")) {
              depth -= 1; j += 2
              if (depth == 0) end = j
            } else j += 1
          }
          var k = end
          while (k < n && isWs(b(k))) k += 1
          if (!startsWith(b, k, "stream")) { i = end }
          else {
            k += 6
            if (k < n && b(k) == 0x0D) k += 1
            if (k >= n || b(k) != 0x0A) fail()
            k += 1
            // direct integer /Length inside the dict span
            var li = start
            var lpos = -1
            while (lpos < 0 && li + 7 <= end) {
              if (startsWith(b, li, "/Length")) lpos = li + 7 else li += 1
            }
            if (lpos < 0) fail()
            li = lpos
            while (li < end && isWs(b(li))) li += 1
            var len = 0L
            var got = false
            while (li < end && isDigit(b(li))) {
              len = len * 10 + (b(li) - '0'); got = true; li += 1
              if (len > Int.MaxValue) fail()
            }
            if (!got) fail()
            while (li < end && isWs(b(li))) li += 1
            if (li < end && isDigit(b(li))) fail() // indirect: "N 0 R"
            if (k + len > n) fail()
            val data = java.util.Arrays.copyOfRange(b, k, k + len.toInt)
            k += len.toInt
            if (k < n && b(k) == 0x0D) k += 1
            if (k < n && b(k) == 0x0A) k += 1
            if (!startsWith(b, k, "endstream")) fail()
            i = k + 9
            nStreams += 1
            val dictHas = (s: String) => {
              var p = start; var hit = false
              while (!hit && p + s.length <= end) {
                if (startsWith(b, p, s)) hit = true else p += 1
              }
              hit
            }
            if (!dictHas("/Image")) {
              val decoded =
                if (dictHas("/FlateDecode")) inflate(data) else data
              nBlocks += scanContent(decoded, sb)
            }
          }
        }
      }
    } catch { case _: Malformed => return null }
    InternalRow(nStreams, nBlocks, UTF8String.fromString(sb.toString))
  }
}

/** pdf_text(content) -> struct<n_streams: long, n_text_blocks: long,
  * text: string>, null for malformed bytes (see [[PdfText.extract]]). */
case class PdfTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_streams", LongType, nullable = false),
    StructField("n_text_blocks", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "pdf_text"

  override def nullSafeEval(v: Any): Any =
    PdfText.extract(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.functions.PdfText.extract($b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
