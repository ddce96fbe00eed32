package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The native codegen'd cosine expression vs the interpreted
  * higher-order-function formulation: bit-exact parity on random
  * vectors (float and double elements, both mixes), zero-vector and
  * edge handling. */
class CosineSimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def vec(n: Int): Array[Float] = Array.fill(n)(rnd.nextFloat() * 2 - 1)

  /** The declarative higher-order-function formulation of
    * [[cosineSimilarity]] — interpreted (allocates a product array per
    * row), kept as bit-exactness ground truth for the native
    * expression: dot product and both L2 norms accumulated in Double
    * left-to-right. */
  private def cosineSimilarityReference(a: Column, b: Column): Column = {
    val d = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def l2Norm(v: Column): Column =
      sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  test("bit-exact parity with the HOF reference on random float vectors") {
    val pairs = Seq.fill(200)((vec(64).toSeq, vec(64).toSeq))
    val df = pairs.toDF("x", "y")
    val rows = df.select(
      cosineSimilarity(col("x"), col("y")).as("native"),
      cosineSimilarityReference(col("x"), col("y")).as("ref")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("bit-exact parity on double vectors and float/double mixes") {
    val pairs = Seq.fill(50)((vec(32).toSeq, vec(32).toSeq))
    val df = pairs.toDF("x", "y")
      .withColumn("xd", col("x").cast("array<double>"))
      .withColumn("yd", col("y").cast("array<double>"))
    val rows = df.select(
      cosineSimilarity(col("xd"), col("yd")).as("n_dd"),
      cosineSimilarityReference(col("xd"), col("yd")).as("r_dd"),
      cosineSimilarity(col("x"), col("yd")).as("n_fd"),
      cosineSimilarityReference(col("x"), col("yd")).as("r_fd")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  test("zero vectors yield 0.0; identical vectors yield 1.0 within 1 ulp-ish") {
    val df = Seq(
      (Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)),
      (Seq(0f, 0f, 0f), Seq(0f, 0f, 0f)),
      (Seq(1f, 2f, 3f), Seq(1f, 2f, 3f))).toDF("x", "y")
    val got = df.select(cosineSimilarity(col("x"), col("y"))).collect().map(_.getDouble(0))
    assert(got(0) == 0.0 && got(1) == 0.0)
    assert(math.abs(got(2) - 1.0) < 1e-12)
  }

  test("usable from plain SQL after registration") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D))").collect().head.getDouble(0)
    assert(got == 0.0)
  }
}
