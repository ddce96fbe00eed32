package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.{meanTokenLen, stopwordRatio}
import graft.operators.Tables

/** The codegen-friendly quality metrics must be EXACTLY equal (not
  * approximately — the correctness gate hashes them) to the lambda
  * formulations they replaced, on real documents at the gate scale and
  * on edge-case strings. */
class QualityParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** The original per-token lambda formulation — test-only ground truth
    * for [[stopwordRatio]]'s regex counting. */
  private def stopwordRatioReference(text: Column): Column = {
    val toks = tokens(lower(text))
    val stops = filter(toks, t =>
      array_contains(array((StopwordsEn ++ StopwordsEs ++ StopwordsFr).distinct.map(lit): _*), t))
    when(size(toks) === 0, lit(0.0)).otherwise(size(stops).cast("double") / size(toks).cast("double"))
  }

  /** The original lambda formulation — test-only ground truth for
    * [[meanTokenLen]]. */
  private def meanTokenLenReference(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
  }

  private def mismatches(df: org.apache.spark.sql.DataFrame): Long =
    df.select(
        stopwordRatio(col("text")).as("sw"), stopwordRatioReference(col("text")).as("sw_ref"),
        meanTokenLen(col("text")).as("mt"), meanTokenLenReference(col("text")).as("mt_ref"))
      .filter(col("sw") =!= col("sw_ref") || col("mt") =!= col("mt_ref"))
      .count()

  test("regex-count and whitespace-strip formulations equal the lambda versions (sf0.01)") {
    assert(mismatches(Tables.documents(spark, "/root/testdata/sf0.01")) == 0)
  }

  test("edge cases: empties, boundaries, repeats, stopwords at ends") {
    import spark.implicits._
    val edge = Seq("", " ", "the", "the the the", " the ", "a", "xa a ax", "de la le",
      "word", "the quick brown fox", "el  la\tde", "trailing the", "the leading",
      "\tthe\n", "a.b the,c").toDF("text")
    assert(mismatches(edge) == 0)
  }
}
