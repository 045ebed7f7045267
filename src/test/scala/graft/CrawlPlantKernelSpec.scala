package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CrawlPlantKernel

/** The reference expressions, shared with the KernelPropertySpec
  * property over malformed UTF-8. */
object CrawlPlantKernelSpec {
  /** The pre-r17 expression formulations, verbatim. */
  private def t41WrapExpr(txt: Column): Column = {
    val ws = split(txt, " ")
    array_join(transform(ws, (w, i0) => {
      val i = i0 + 1
      val body = when(pmod(i, lit(5)) === 2 && length(w) >= 4 &&
        w.substr(lit(2), lit(2)).rlike("^[a-z]{2}$"),
        concat(w.substr(lit(1), lit(2)), lit("-\n"),
          w.substr(lit(3), length(w))))
        .otherwise(w)
      val sep = when(i < size(ws),
        when(pmod(i, lit(6)) === 0, lit("\n")).otherwise(lit(" ")))
        .otherwise(lit(""))
      concat(body, sep)
    }), "")
  }
  private def cyc(i: Column, k: Int): Column =
    pmod(((i - pmod(i, lit(k))) / lit(k)).cast("int"), lit(3)) + 1
  private val terms = array(lit(". "), lit("! "), lit("? "))
  private val abbrevs = array(lit("Dr. "), lit("No. "), lit("St. "))
  private def t45WrapExpr(txt: Column): Column = {
    val ws = split(txt, " ")
    array_join(transform(ws, (w, i0) => {
      val i = i0 + 1
      val hyph = when(pmod(i, lit(5)) === 2 && length(w) >= 4 &&
        w.substr(lit(2), lit(2)).rlike("^[a-z]{2}$"),
        concat(w.substr(lit(1), lit(2)), lit("-\n"),
          w.substr(lit(3), length(w))))
        .otherwise(w)
      val body = when(pmod(i, lit(11)) === 3,
        concat(element_at(abbrevs, cyc(i, 11)), hyph)).otherwise(hyph)
      val sep = when(i < size(ws),
        when(pmod(i, lit(7)) === 0, element_at(terms, cyc(i, 7)))
          .when(pmod(i, lit(6)) === 0, lit("\n"))
          .otherwise(lit(" ")))
        .otherwise(lit(""))
      concat(body, sep)
    }), "")
  }
  private def t45ExpectedExpr(txt: Column): Column = {
    val ws = split(txt, " ")
    array_join(transform(ws, (w, i0) => {
      val i = i0 + 1
      val body = when(pmod(i, lit(11)) === 3,
        concat(element_at(abbrevs, cyc(i, 11)), w)).otherwise(w)
      val sep = when(i < size(ws),
        when(pmod(i, lit(7)) === 0, element_at(terms, cyc(i, 7)))
          .otherwise(lit(" ")))
        .otherwise(lit(""))
      concat(body, sep)
    }), "")
  }

  /** Rows where any kernel mode differs from its expression form. */
  def mismatches(df: org.apache.spark.sql.DataFrame): Long = {
    val txt = trim(col("text"))
    df.filter(length(txt) > 0).select(
      (t41WrapExpr(txt) =!= CrawlPlantKernel.wrapCol(txt,
        CrawlPlantKernel.T41Wrap)).as("b41"),
      (t45WrapExpr(txt) =!= CrawlPlantKernel.wrapCol(txt,
        CrawlPlantKernel.T45Wrap)).as("b45"),
      (t45ExpectedExpr(txt) =!= CrawlPlantKernel.wrapCol(txt,
        CrawlPlantKernel.T45Expected)).as("bex"))
      .filter(col("b41") || col("b45") || col("bex"))
      .count()
  }
}

/** Pin for the r17 t41/t45 plant kernel: CrawlPlantKernel.wrap must
  * reproduce the r16 per-word transform expressions BYTE-FOR-BYTE
  * (the crawl oracles hash every wrapped page), including multi-byte
  * words, consecutive/leading spaces (split keeps empties), and the
  * abbreviation/terminator cycles. */
class CrawlPlantKernelSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import CrawlPlantKernelSpec.mismatches

  private def check(df: org.apache.spark.sql.DataFrame): Unit =
    assert(mismatches(df) == 0)

  test("kernel equals the transform expressions on the corpus") {
    check(Tables.load(spark, "/root/testdata/sf0.001", "documents"))
  }

  test("kernel equals the expressions on edge-case text") {
    import spark.implicits._
    val docs = Seq(
      // multi-byte first char before [a-z]{2} (éab → hyphen fires),
      // multi-byte in the checked positions (must NOT fire)
      "zz éabcd xéycd abcd wxyz word five six seven eight nine",
      "single",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z",
      "double  space   runs and trailing words here now ok yes",
      "日本語 テキスト abcd text 混in zzzz yyyy xxxx wwww vvvv uuuu",
      "😀bcd e😀cd ab😀d abc😀 next words go here after that one",
      "ab abc abcd abcde abcdef abcdefg hij klm nop qrs tuv wx") ++
      // index-cycle coverage: 30 words hits every i%5/6/7/11 branch
      Seq((1 to 30).map(i => s"word$i").mkString(" "))
    check(docs.toDF("text"))
  }
}
