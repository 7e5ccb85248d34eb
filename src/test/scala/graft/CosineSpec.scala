package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.CosineSimilarity.quantized_cosine

/** Native codegen QuantizedCosineSimilarity expression: bit-exact
  * agreement with the integer-dot formula a SQL engine evaluates. */
class CosineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("quantized_cosine matches the HOF integer-dot formula bit-for-bit") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
    val pairs = e.crossJoin(e.select(col("q").as("q2"), col("vec_id").as("v2")))
      .where(col("vec_id") < col("v2")).limit(200)
    val viaHof = pairs.selectExpr(
      "CAST(aggregate(zip_with(q, q2, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE) / " +
        "SQRT(CAST(aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS DOUBLE) * " +
        "     CAST(aggregate(q2, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS DOUBLE)) AS sim")
      .collect().map(_.getDouble(0))
    val viaExpr = pairs.withColumn("sim", quantized_cosine(col("q"), col("q2")))
      .select("sim").collect().map(_.getDouble(0))
    assert(viaHof.length == viaExpr.length && viaHof.length > 0)
    viaHof.zip(viaExpr).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
    }
  }
}
