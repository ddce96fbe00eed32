package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.signLshBuckets
import graft.operators.Tables

/** The native SignLshBuckets expression must be bit-exact with the
  * declarative HOF formulation it replaced — same xxhash64-derived
  * hyperplanes, same left-to-right double accumulation — so the
  * q31/q33 bucket joins produce identical candidates. */
class SignLshSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The declarative higher-order-function formulation of
    * [[signLshBuckets]] — interpreted (not codegen'd) and recomputes
    * every hyperplane weight per row, so it is test-only ground truth
    * for the native expression's bit-exactness. */
  private def signLshBucketsReference(vec: Column, nbits: Int, tables: Int): Column = {
    require(nbits >= 1 && nbits <= 63, "nbits in [1,63]")
    def bucket(table: Column): Column =
      aggregate(
        sequence(lit(0), lit(nbits - 1)),
        lit(0L),
        (acc, h) => {
          // hyperplane h of table t, dim i weight = hash(t,h,i) % 1001 - 500
          val proj = aggregate(
            zip_with(vec, sequence(lit(0), size(vec) - 1),
              (x, i) => x.cast("double") *
                ((pmod(xxhash64(table, h, i), lit(1001)) - 500).cast("double"))),
            lit(0.0), (a2, v) => a2 + v)
          acc * 2 + when(proj > 0, lit(1L)).otherwise(lit(0L))
        })
    transform(sequence(lit(0), lit(tables - 1)),
      t => struct(t.as("tbl"), bucket(t).as("bucket")))
  }

  test("native expression is bit-exact with the HOF reference on real embeddings") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf).limit(500)
    val mismatches = e.select(
        signLshBuckets(col("embedding"), 6, 4).as("native"),
        signLshBucketsReference(col("embedding"), 6, 4).as("ref"))
      .filter(col("native") =!= col("ref"))
      .count()
    assert(mismatches == 0)
  }

  test("buckets are deterministic and in-range; empty/null vectors map to bucket 0") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      Seq(1.0f, -2.0f, 0.5f),
      Seq.empty[Float]
    ).toDF("embedding")
    val rows = df.select(signLshBuckets(col("embedding"), 6, 2).as("b"))
      .selectExpr("inline(b)")
      .collect()
    // 2 tables per vector, tbl ids 0 and 1, buckets in [0, 2^6)
    assert(rows.length == 4)
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 0, 1))
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 64))
    // empty vector: every projection degenerates → bucket 0 in all tables
    assert(rows.drop(2).forall(_.getLong(1) == 0L))
    // deterministic across evaluations
    val again = df.select(signLshBuckets(col("embedding"), 6, 2).as("b"))
      .selectExpr("inline(b)").collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
