package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.WinnowKernel
import graft.operators.{DataSelection, Dedup}

/** The reference chain and the kernel form, shared with the
  * KernelPropertySpec property over malformed UTF-8. */
object WinnowKernelSpec {
  import DataSelection.{GramK, HashSpace, PosSpace, TextCap, WinW}

  /** The pre-r17 expression formulation, verbatim. */
  def referenceFp(base: org.apache.spark.sql.DataFrame) = {
    val grams = base
      .select(col("doc_id"), col("np"),
        explode(sequence(lit(1L), col("np"))).as("p"),
        col("t"))
      .withColumn("h",
        pmod(conv(substring(md5(col("t").substr(col("p"), lit(GramK))
          .cast("binary")), 1, 8), 16, 10).cast("long"),
          lit(HashSpace)))
      .withColumn("combined",
        col("h") * PosSpace + (lit(PosSpace) - col("p")))
      .drop("t")
    val winFrame = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(0, WinW - 1)
    grams
      .withColumn("sel", min(col("combined")).over(winFrame))
      .filter(col("p") <= greatest(col("np") - WinW + 1, lit(1L)))
      .select(col("doc_id"), col("np"),
        (col("sel").cast("long") / PosSpace).cast("long").as("fph"))
      .distinct()
  }

  def kernelFp(base: org.apache.spark.sql.DataFrame) =
    base.select(col("doc_id"), col("np"),
      explode(WinnowKernel.fingerprintsCol(
        col("t"), GramK, WinW, HashSpace, PosSpace)).as("fph"))

  def baseOf(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"),
      substring(trim(col("text")), 1, TextCap).as("t"))
    .withColumn("np", (length(col("t")) - GramK + 1).cast("long"))
    .filter(col("np") >= 1)
}

/** Pin for the r17 d93 kernel move: WinnowKernel.fingerprints must
  * reproduce the r16 exploded-gram md5 expression chain BIT-FOR-BIT
  * on the real corpus (the registered query's oracle hash depends on
  * every fingerprint value), including multi-byte UTF-8 text where
  * character and byte offsets diverge. */
class WinnowKernelSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import WinnowKernelSpec.{baseOf, kernelFp, referenceFp}

  test("kernel equals the md5 expression chain on the corpus") {
    val base = baseOf(Dedup.corpusWithPlants(spark,
      "/root/testdata/sf0.001"))
    val ref = referenceFp(base)
    val got = kernelFp(base)
    assert(ref.count() > 0)
    assert(ref.exceptAll(got).count() == 0)
    assert(got.exceptAll(ref).count() == 0)
  }

  test("kernel equals the chain on multi-byte and edge-case text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "café au lait — déjà vu, naïve"),
      (2L, "日本語のテキストで" +
        "す。繰り返し繰り返し"),
      (3L, "exactly8"), // np = 1 (single window, short-doc clamp)
      (4L, "ninechars"), // np = 2
      (5L, "😀😁😂 emoji gram test"),
      (6L, "aaaaaaaaaaaaaaaaaaaaaaaa")) // all-equal grams: tie rule
      .toDF("doc_id", "text")
    val base = baseOf(docs)
    val ref = referenceFp(base).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = kernelFp(base).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ref == got)
    assert(ref.nonEmpty)
  }
}
