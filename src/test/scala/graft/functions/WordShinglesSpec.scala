package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.shingleSet
import graft.operators.Tables

/** The native WordShingles expression must produce the same shingle
  * SET as the declarative split/transform/concat_ws formulation it
  * replaced (element order may differ only in that the native version
  * is first-occurrence-distinct; the reference is made distinct and
  * both are compared sorted). */
class WordShinglesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Word n-gram shingles over whitespace tokens. Short texts (< n
    * tokens) collapse to a single shingle of the whole text so every
    * document has a non-empty shingle set. Test-only ground truth for
    * the native [[WordShingles]] expression. */
  private def shinglesReference(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  test("native shingles equal the HOF reference on real documents") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val mismatches = docs.select(
        sort_array(shingleSet(col("text"), 2)).as("native"),
        sort_array(array_distinct(shinglesReference(col("text"), 2))).as("ref"))
      .filter(col("native") =!= col("ref"))
      .count()
    assert(mismatches == 0)
  }

  test("edge cases: empty, whitespace-only, short, and repeated-token texts") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val edge = Seq("", "   ", "one", "a b", "a b a b a", " leading", "trailing ", "a\tb\nc")
      .toDF("text")
    val bad = edge.select(col("text"),
        sort_array(shingleSet(col("text"), 2)).as("native"),
        sort_array(array_distinct(shinglesReference(col("text"), 2))).as("ref"))
      .filter(col("native") =!= col("ref"))
      .collect()
    assert(bad.isEmpty, bad.map(_.toSeq).mkString("; "))
  }
}
