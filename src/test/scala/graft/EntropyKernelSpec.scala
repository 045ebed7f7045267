package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.EntropyKernel

/** The reference chain and the kernel form, shared with the
  * KernelPropertySpec property over malformed UTF-8. */
object EntropyKernelSpec {
  /** The pre-r17 expression formulation; its one addition is the
    * `.cast("long")` on `n` (a no-op on a sum of counts, kept so both
    * sides compare as longs). */
  def reference(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), trim(col("text")).as("t"))
    .filter(length(col("t")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, length(t) - 1), " +
        "i -> substring(t, i, 2))")).as("bg"))
    .groupBy(col("doc_id"), col("bg"))
    .agg(count(lit(1)).as("ni"))
    .groupBy(col("doc_id"))
    .agg(sum(col("ni")).cast("long").as("n"),
      count(lit(1)).as("n_distinct"),
      sum(col("ni") *
        round(log(col("ni").cast("double")) * lit(-1e6), 0)
          .cast("long")).as("neg_ln_ni_sum"))

  def kernel(docs: org.apache.spark.sql.DataFrame) = docs
    .select(col("doc_id"), trim(col("text")).as("t"))
    .filter(length(col("t")) >= 2)
    .select(col("doc_id"),
      EntropyKernel.bigramStatsCol(col("t")).as("k"))
    .select(col("doc_id"), col("k").getItem(0).as("n"),
      col("k").getItem(1).as("n_distinct"),
      col("k").getItem(2).as("neg_ln_ni_sum"))
}

/** Pin for the r17 t26 kernel move: EntropyKernel.bigramStats must
  * reproduce the explode + two-aggregate bigram-entropy chain
  * BIT-FOR-BIT on the real corpus (the registered query's oracle hash
  * depends on every ni count and every quantized ln), including
  * multi-byte UTF-8 where the packed byte-window keys must not
  * collide and NUL-bearing text where the zero-padding argument is
  * load-bearing. */
class EntropyKernelSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import EntropyKernelSpec.{kernel, reference}

  test("kernel equals the explode chain on the corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val ref = reference(docs)
    val got = kernel(docs)
    assert(ref.count() > 0)
    assert(ref.exceptAll(got).count() == 0)
    assert(got.exceptAll(ref).count() == 0)
  }

  test("kernel equals the chain on multi-byte and edge-case text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "café au lait — déjà vu, naïve"),
      (2L, "日本語のテキストです。繰り返し繰り返し"),
      (3L, "ab"), // single bigram (filter boundary)
      (4L, "aaaaaaaa"), // one distinct bigram, ni = 7
      (5L, "😀😁😂 emoji bigrams 😀😁"), // 4-byte chars: 8-byte keys
      (6L, "a\u0000b\u0000\u0000c"), // NULs: zero-padding soundness
      (7L, "  padded  "), // trim interaction
      (8L, "xy".repeat(2000))) // long doc, heavy repetition
      .toDF("doc_id", "text")
    val ref = reference(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = kernel(docs).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(ref == got)
    assert(ref.nonEmpty)
  }
}
