package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass character-bigram entropy statistics (t26).
  *
  * Computes, per document, EXACTLY the `[n, n_distinct,
  * neg_ln_ni_sum]` triple of t26's exploded-gram formulation:
  *
  *   bg(i)         = substring(t, i, 2)        (i = 1 .. length(t)−1)
  *   ni            = COUNT(*) per DISTINCT (doc, bg)
  *   n             = Σ ni = length(t) − 1
  *   n_distinct    = COUNT(DISTINCT bg)
  *   neg_ln_ni_sum = Σ ni · CAST(round(ln(ni) · −1e6, 0) AS BIGINT)
  *
  * but in ONE kernel call instead of n explode rows through an
  * interpreted `transform` lambda plus two shuffled aggregates: a
  * bigram's identity is its UTF-8 byte window (≤ 2 chars · 4 bytes =
  * 8 bytes, packed big-endian into one long — zero-padding cannot
  * collide two valid bigrams, because stripping a leading 0x00 byte
  * always drops the NUL first CHARACTER and a single character is
  * never a bigram), so per doc the kernel packs n keys, sorts, and
  * counts runs — no per-gram string materialization, no hash map, no
  * shuffle at all until the one-row-per-doc relation t26
  * fundamentally needs. ln/round/cast reproduce Spark's own
  * expression semantics (Math.log; BigDecimal.valueOf half-up — the
  * RoundBase double path), so values are bit-identical to the
  * expression chain (EntropyKernelSpec pins the equivalence) and the
  * DuckDB oracle is untouched.
  */
object EntropyKernel {

  /** round(ln(ni) · −1e6, 0) cast long, Spark expression semantics. */
  private def negLnMicro(ni: Long): Long =
    if (ni == 1L) 0L
    else java.math.BigDecimal.valueOf(Math.log(ni.toDouble) * -1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** `[n, n_distinct, neg_ln_ni_sum]` over the character bigrams of
    * `text`. Caller guarantees ≥ 2 characters (t26's length gate). */
  def bigramStats(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    val n = nChars - 1
    if (n < 1) return new GenericArrayData(Array(0L, 0L, 0L))
    // char → byte offset map, stepping exactly as numChars/substring
    // do (invalid lead bytes count as 1-byte chars)
    val offs = new Array[Int](nChars + 1)
    var b = 0
    var c = 0
    while (b < bytes.length) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(nChars) = bytes.length
    // each bigram's byte window packed big-endian into one long
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      var k = 0L
      var p = offs(i)
      val end = offs(i + 2)
      while (p < end) {
        k = (k << 8) | (bytes(p) & 0xFFL)
        p += 1
      }
      keys(i) = k
      i += 1
    }
    java.util.Arrays.sort(keys)
    // run-length pass: distinct count + quantized-ln sum
    var nd = 0L
    var neg = 0L
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && keys(j) == keys(i)) j += 1
      val ni = (j - i).toLong
      nd += 1
      neg += ni * negLnMicro(ni)
      i = j
    }
    new GenericArrayData(Array(n.toLong, nd, neg))
  }

  def bigramStatsCol(text: Column): Column =
    GraftShim.column(BigramStats(GraftShim.expression(text)))
}

case class BigramStats(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    EntropyKernel.bigramStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.EntropyKernel.bigramStats($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
