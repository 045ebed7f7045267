package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass crawl-plant word wrapping (t41/t45, r17).
  *
  * The planted page body is `array_join(transform(split(txt, " "),
  * (w, i) => ...), "")` — an interpreted per-word lambda (~20
  * expression nodes × rlike per word) that the r17 profile measured
  * as t41's single largest stage (1.6 s of 2.8 s at sf0.1; t45 pays
  * it TWICE, for the wrap and the expected round-trip text). This
  * kernel computes the identical string in one byte-level pass:
  *
  *   mode 0 (t41 wrap):  hyphen-break word i when i%5==2, len>=4 and
  *     chars 2-3 (1-based) are [a-z]; separator "\n" when i%6==0
  *     else " ".
  *   mode 1 (t45 wrap):  t41's hyphen rule, plus abbreviation prefix
  *     abbrevs[(i/11)%3] when i%11==3; separator terms[(i/7)%3] when
  *     i%7==0, else "\n" when i%6==0, else " ".
  *   mode 2 (t45 expected): abbreviation prefix as mode 1, NO hyphen
  *     break; separator terms[(i/7)%3] when i%7==0 else " ".
  *
  * Split semantics replicate Spark's split(txt, " ") with limit -1:
  * every 0x20 byte is a separator (0x20 never occurs inside a UTF-8
  * multi-byte sequence) and empty words are kept; malformed UTF-8 is
  * first decoded the way split decodes it. Char positions are
  * CODE POINTS (lead-byte counting), exactly like substr/length;
  * the [a-z]{2} test is ASCII-only, like the regex it replaces.
  * CrawlPlantKernelSpec pins byte equality against the expression
  * form on the real corpus; the DuckDB oracle is untouched. */
object CrawlPlantKernel {
  final val T41Wrap = 0
  final val T45Wrap = 1
  final val T45Expected = 2

  private val Terms = Array(". ", "! ", "? ").map(
    _.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private val Abbrevs = Array("Dr. ", "No. ", "St. ").map(
    _.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def wrap(text: UTF8String, mode: Int): UTF8String = {
    // split(txt, " ") splits the decoded Java String, so malformed
    // UTF-8 reaches its words with each invalid sequence as U+FFFD
    val bytes = (if (text.isValid) text
      else UTF8String.fromString(text.toString)).getBytes
    val len = bytes.length
    // word boundaries: split on every 0x20, keeping empties
    var nWords = 1
    var b = 0
    while (b < len) { if (bytes(b) == ' ') nWords += 1; b += 1 }
    val out = new java.io.ByteArrayOutputStream(len + (len >> 3) + 16)
    var s = 0
    var i = 0 // 1-based word index, set at loop head
    var w = 0
    while (w < nWords) {
      i = w + 1
      var e = s
      while (e < len && bytes(e) != ' ') e += 1
      // abbreviation prefix (t45 modes)
      if (mode != T41Wrap && i % 11 == 3)
        out.write(Abbrevs((i / 11) % 3))
      // hyphen break (wrap modes): needs >= 4 chars and chars 2-3
      // (1-based) both ASCII [a-z]
      var broke = false
      if (mode != T45Expected && i % 5 == 2) {
        // char count of the word
        var nc = 0
        var p = s
        while (p < e) {
          p += UTF8String.numBytesForFirstByte(bytes(p))
          nc += 1
        }
        if (nc >= 4) {
          val off1 = s + UTF8String.numBytesForFirstByte(bytes(s))
          if (off1 + 1 < e &&
              bytes(off1) >= 'a' && bytes(off1) <= 'z' &&
              bytes(off1 + 1) >= 'a' && bytes(off1 + 1) <= 'z') {
            val off2 = off1 + 1 // byte offset of char index 2
            out.write(bytes, s, off2 - s)
            out.write('-')
            out.write('\n')
            out.write(bytes, off2, e - off2)
            broke = true
          }
        }
      }
      if (!broke) out.write(bytes, s, e - s)
      // separator
      if (i < nWords) {
        if (mode != T41Wrap && i % 7 == 0) out.write(Terms((i / 7) % 3))
        else if (mode != T45Expected && i % 6 == 0) out.write('\n')
        else if (mode == T45Expected && i % 7 != 0) out.write(' ')
        else if (mode != T45Expected) out.write(' ')
      }
      s = e + 1
      w += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  def wrapCol(text: Column, mode: Int): Column =
    GraftShim.column(CrawlPlantWrap(GraftShim.expression(text), mode))
}

case class CrawlPlantWrap(child: Expression, mode: Int)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    CrawlPlantKernel.wrap(v.asInstanceOf[UTF8String], mode)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CrawlPlantKernel.wrap($c, $mode)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
