package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** TopKPerKey custom operator: plan rewrite fires, results are
  * bit-identical to the window form (the same session with the rewrite
  * rule excluded), and non-matching shapes are left alone. */
class TopKSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.01"

  private def topOrders(k: Int) = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    graft.core.Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  test("rewrite fires: physical plan contains TopKPerKeyExec, no WindowExec sort") {
    val plan = topOrders(3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window "), s"window should be gone:\n$plan")
  }

  test("results identical to the window form (TopK rule excluded), incl. rank values") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    val got = rows(topOrders(3)).collect()
    // the same query text with the rewrite excluded for this query only:
    // the reference must really plan the window form
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.TopKRewriteRule")
    val (refPlan, want) =
      try {
        val ref = rows(topOrders(3))
        (ref.queryExecution.executedPlan.toString, ref.collect())
      } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(refPlan.contains("Window") && !refPlan.contains("TopKPerKey"),
      s"reference did not plan the window form:\n$refPlan")
    assert(got.length == want.length && got.length > 0)
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("rn = 1 form rewrites too and matches q12 semantics") {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = graft.core.Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    // one row per customer, each the max-price order
    val rows = df.select("o_custkey", "o_totalprice").collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("spill fallback (tiny retained-rows budget) is bit-identical to the heap path") {
    val want = topOrders(3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn").collect()
    spark.conf.set(graft.plans.TopKPerKeyExec.MaxRetainedRowsKey, "7")
    try {
      val got = topOrders(3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn").collect()
      assert(got.length == want.length && got.length > 0)
      assert(got.map(_.toString).sameElements(want.map(_.toString)))
    } finally spark.conf.unset(graft.plans.TopKPerKeyExec.MaxRetainedRowsKey)
  }

  test("spill run files are deleted once the query completes") {
    def runFiles(): Set[String] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft-topk-") && f.getName.endsWith(".run"))
        .map(_.getName).toSet
    }
    val before = runFiles()
    spark.conf.set(graft.plans.TopKPerKeyExec.MaxRetainedRowsKey, "7")
    try {
      assert(topOrders(3).collect().nonEmpty)
    } finally spark.conf.unset(graft.plans.TopKPerKeyExec.MaxRetainedRowsKey)
    val leaked = runFiles() -- before
    assert(leaked.isEmpty, s"run files leaked: $leaked")
  }

  test("rank()/frames/other predicates do NOT rewrite (conservative matcher)") {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    val r = graft.core.Tables.orders(spark, sfDir)
      .withColumn("rk", rank().over(w)).where(col("rk") <= 2)
    assert(!r.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }
}
