package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass winnowing fingerprints (SURVEY.md §2d, d93).
  *
  * Computes, per document, EXACTLY the fingerprint set of the
  * exploded-gram formulation d93 registered through r16:
  *
  *   h(p)   = pmod(conv(substring(md5(substr(t,p,k)::binary),1,8),
  *                      16, 10)::long, hashSpace)
  *   comb(p)= h(p)·posSpace + (posSpace − p)
  *   sel(p) = min(comb[p .. min(p+w−1, np)])       (p ≤ max(np−w+1, 1))
  *   fph    = sel div posSpace,  DISTINCT per doc
  *
  * but in ONE kernel call instead of np explode rows + a per-doc
  * window exchange + sort: the first 8 md5 hex chars parsed by conv()
  * are just the first 4 digest BYTES read big-endian, so the kernel
  * feeds each gram's UTF-8 byte range straight into a thread-local
  * MessageDigest and never materialises hex strings, per-gram
  * substrings, or gram rows. Values are bit-identical to the
  * expression chain (WinnowKernelSpec pins the equivalence), so the
  * DuckDB oracle is untouched. The ~np·w sliding min runs in-row;
  * the output array is the doc's sorted distinct fingerprint hashes
  * — corpus-size-independent work per row, no shuffle at all until
  * the (doc_id, fph) relation that d93 fundamentally needs.
  */
object WinnowKernel {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Distinct winnowing fingerprint hashes of `text`, sorted. */
  def fingerprints(text: UTF8String, k: Int, w: Int,
      hashSpace: Long, posSpace: Long): ArrayData = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    val np = nChars - k + 1
    if (np < 1) return new GenericArrayData(Array.empty[Long])
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
    val digest = md5.get()
    val buf = new Array[Byte](16)
    // comb(p) for p = 1..np, stored 0-based
    val comb = new Array[Long](np)
    var p = 0
    while (p < np) {
      digest.reset()
      digest.update(bytes, offs(p), offs(p + k) - offs(p))
      digest.digest(buf, 0, 16)
      val h = (((buf(0) & 0xFFL) << 24) | ((buf(1) & 0xFFL) << 16) |
        ((buf(2) & 0xFFL) << 8) | (buf(3) & 0xFFL)) % hashSpace
      comb(p) = h * posSpace + (posSpace - (p + 1))
      p += 1
    }
    // sliding-window min, fph = sel div posSpace, dedup
    val set = new java.util.HashSet[java.lang.Long]()
    val last = math.max(np - w + 1, 1)
    p = 0
    while (p < last) {
      var sel = comb(p)
      var q = p + 1
      val end = math.min(p + w, np)
      while (q < end) {
        if (comb(q) < sel) sel = comb(q)
        q += 1
      }
      set.add(sel / posSpace)
      p += 1
    }
    val out = new Array[Long](set.size())
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  def fingerprintsCol(text: Column, k: Int, w: Int,
      hashSpace: Long, posSpace: Long): Column =
    GraftShim.column(WinnowFps(GraftShim.expression(text), k, w,
      hashSpace, posSpace))
}

case class WinnowFps(child: Expression, k: Int, w: Int,
    hashSpace: Long, posSpace: Long) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WinnowKernel.fingerprints(v.asInstanceOf[UTF8String], k, w,
      hashSpace, posSpace)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowKernel.fingerprints($c, $k, $w, " +
        s"${hashSpace}L, ${posSpace}L)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
