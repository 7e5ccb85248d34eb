package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.CosineSimilarity.cosine_similarity

/** Native codegen CosineSimilarity expression: correctness, codegen/
  * interpreted agreement, SQL registration via GraftExtensions, and the
  * self-cosine optimizer rule. */
class CosineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("known-answer values, codegen path") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f), 1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0) // degenerate -> 0.0
    ).toDF("a", "b", "want")
    val got = df.withColumn("sim", cosine_similarity(col("a"), col("b")))
      .select(abs(col("sim") - col("want")).as("err"))
      .agg(max("err")).head().getDouble(0)
    assert(got < 1e-9)
  }

  test("codegen and interpreted paths agree on real embeddings") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50).select(col("vec_id"), col("embedding"))
    val self = e.crossJoin(e.select(col("embedding").as("e2"), col("vec_id").as("v2")))
      .where(col("vec_id") < col("v2"))
    val viaExpr = self.withColumn("sim", cosine_similarity(col("embedding"), col("e2")))
      .agg(sum("sim")).head().getDouble(0)
    // interpreted re-computation on the driver
    val rows = e.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    var want = 0.0
    for (i <- rows.indices; j <- rows.indices if rows(i)._1 < rows(j)._1) {
      val (a, b) = (rows(i)._2, rows(j)._2)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { dot += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k) }
      want += dot / math.sqrt(na * nb)
    }
    assert(math.abs(viaExpr - want) < 1e-6)
  }

  test("SQL registration + self-cosine fold via extensions") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(2 AS FLOAT), CAST(4 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-9)
    // self-cosine folds to a literal at plan time — but ONLY for
    // non-nullable inputs (the expression is null-propagating; folding
    // a nullable column would rewrite NULL to 1.0)
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val nonNullable = e.selectExpr(
      "cosine_similarity(coalesce(embedding, array(CAST(1 AS FLOAT))), " +
        "coalesce(embedding, array(CAST(1 AS FLOAT)))) AS c")
      .queryExecution.optimizedPlan.toString
    assert(nonNullable.contains("1.0"), s"expected folded literal in:\n$nonNullable")
    assert(!nonNullable.toLowerCase.contains("cosine_similarity"),
      s"expression should be folded:\n$nonNullable")
    // nullable input: fold must NOT fire (null semantics preserved)
    val nullable = e.selectExpr("cosine_similarity(embedding, embedding) AS c")
      .queryExecution.optimizedPlan.toString
    assert(nullable.toLowerCase.contains("cosine_similarity"),
      s"fold must not fire on a nullable column:\n$nullable")
  }

  test("self-cosine fold is exact on the all-zero vector") {
    val s = spark
    import s.implicits._
    // Non-nullable column (Dataset of case-class arrays) so the fold
    // fires; one zero vector and one normal vector on the diagonal.
    val df = Seq(Array(0.0f, 0.0f, 0.0f), Array(3.0f, 4.0f, 0.0f)).toDF("v")
    val folded = df.selectExpr("cosine_similarity(v, v) AS c")
    // On a LocalRelation the whole fold constant-folds away (the
    // optimizer evaluates NonZeroVector's interpreted path); the VALUES
    // must match runtime cosine semantics: zero vector -> 0.0.
    val got = folded.collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(0.0, 1.0), s"folded diagonal mismatch: $got")
    // Parquet-backed (non-foldable) input: the If(non_zero_vector(..))
    // guard must survive into the plan and execute via codegen. Zero
    // out the embeddings at runtime so the guard's false branch runs.
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val zeroed = e.selectExpr(
      "coalesce(transform(embedding, x -> CAST(0 AS FLOAT)), array(CAST(0 AS FLOAT))) AS z")
      .selectExpr("cosine_similarity(z, z) AS c")
    val plan = zeroed.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("cosine_similarity"),
      s"fold should fire on non-nullable z:\n$plan")
    assert(plan.contains("non_zero_vector"),
      s"fold should guard via non_zero_vector:\n$plan")
    val zs = zeroed.limit(20).collect().map(_.getDouble(0))
    assert(zs.nonEmpty && zs.forall(_ == 0.0),
      s"zeroed diagonal must be 0.0: ${zs.mkString(",")}")
  }

  test("SQL registration: non_zero_vector and hyperplane_bucket") {
    val r = spark.sql(
      "SELECT non_zero_vector(array(CAST(0 AS FLOAT), CAST(2 AS FLOAT))) AS nz, " +
        "non_zero_vector(array(CAST(0 AS FLOAT))) AS z, " +
        "hyperplane_bucket(array(CAST(5 AS BIGINT), CAST(-3 AS BIGINT)), 6) AS b").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
    val direct = graft.functions.HyperplaneBucket(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(5L, -3L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      6).eval(null).asInstanceOf[Long]
    assert(r.getLong(2) == direct)
    // non-literal plane count is rejected with a clear error
    val e = intercept[Exception] {
      spark.sql("SELECT hyperplane_bucket(array(CAST(1 AS BIGINT)), 1 + 5)").head()
    }
    assert(e.getMessage.contains("literal") || e.getMessage.toLowerCase.contains("foldable"),
      s"unexpected error: ${e.getMessage}")
  }

  test("quantized_cosine matches the HOF integer-dot formula bit-for-bit") {
    import graft.functions.CosineSimilarity.quantized_cosine
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
