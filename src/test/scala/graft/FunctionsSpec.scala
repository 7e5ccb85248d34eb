package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.{GraftFunctions, MinHashAggregator}

/** UDF-surface coverage (SURVEY.md §2b): MinHash Aggregator equivalence
  * with the relational form, HLL tolerance, scalar UDFs. */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  test("MinHash Aggregator == relational explode/groupBy-min signatures") {
    val s = spark
    import s.implicits._
    val k = 12
    val tok = graft.core.Tables.documents(s, sfDir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
    // relational form
    val seeds = s.range(k).select(col("id").cast("int").as("seed"))
    val rel = tok.crossJoin(broadcast(seeds))
      .select(col("doc_id"), col("seed"),
        md5(concat(col("seed").cast("string"), lit(":"), col("w"))).as("h"))
      .groupBy("doc_id", "seed").agg(min("h").as("sig"))
      .groupBy("doc_id")
      .agg(concat_ws("|", transform(array_sort(collect_list(struct(col("seed"), col("sig")))),
        x => x.getField("sig"))).as("sig_str"))
    // aggregator form
    val agg = tok.as[(Long, String)].groupByKey(_._1).mapValues(_._2)
      .agg(new MinHashAggregator(k).toColumn.name("sigs"))
      .toDF("doc_id", "sigs")
      .select(col("doc_id"), concat_ws("|", col("sigs")).as("sig_str"))
    val diff = rel.join(agg, Seq("doc_id"))
      .where(rel("sig_str") =!= agg("sig_str")).count()
    assert(diff == 0)
    assert(agg.count() == 500)
  }

  test("approx_count_distinct (HLL) within 5% of exact") {
    val ev = graft.core.Tables.events(spark, sfDir)
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val exact = row.getLong(0).toDouble
    val approx = row.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05,
      s"HLL estimate $approx vs exact $exact")
  }

  test("scalar UDFs: tokenize_norm and cosine_sim") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT tokenize_norm('  The Fast   FOX ') AS t, " +
        "cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head()
    assert(r.getSeq[String](0) == Seq("the", "fast", "fox"))
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("HyperplaneBucket: codegen == interpreted == HOF formula on real vectors") {
    import graft.functions.HyperplaneBucket.hyperplane_bucket
    val planes = graft.ops.Ann.NumPlanes
    val q = graft.core.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
    // the interpreted-HOF reference formula (the pre-round-4 a02 shape)
    val viaHof = q.withColumn("bucket", expr(
      s"""aggregate(sequence(0, ${planes - 1}), CAST(0 AS BIGINT), (acc, p) ->
        acc + CAST(POWER(2, p) AS BIGINT) * (CASE WHEN
          aggregate(sequence(0, size(q)-1), CAST(0 AS BIGINT),
            (s2, i) -> s2 + q[i] * (((CAST(p AS BIGINT) * 73856093 + CAST(i AS BIGINT) * 19349663) % 2003) - 1001)) >= 0
          THEN 1 ELSE 0 END))"""))
      .select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // codegen path (whole-stage) and interpreted eval of the expression
    val viaExpr = q.withColumn("bucket", hyperplane_bucket(col("q"), planes))
      .select("vec_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaExpr.nonEmpty && viaExpr == viaHof)
    // interpreted eval (optimizer constant-folds a literal input)
    val lit2 = spark.sql(
      "SELECT array(CAST(5 AS BIGINT), CAST(-3 AS BIGINT), CAST(7 AS BIGINT)) AS q")
      .withColumn("bucket", hyperplane_bucket(col("q"), planes))
      .head().getLong(1)
    val direct = graft.functions.HyperplaneBucket(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(5L, -3L, 7L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      planes).eval(null)
    assert(lit2 == direct.asInstanceOf[Long])
    assert(lit2 >= 0 && lit2 < (1L << planes), s"bucket $lit2 out of range")
  }
}
