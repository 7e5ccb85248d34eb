package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Bucketing is the co-located-join tool at 100 TB: write both fact
  * tables bucketed (and sorted) by the join key once, and every later
  * join on that key runs with ZERO shuffle and ZERO sort — the
  * sort-merge join reads bucket i of each side directly. This spec is
  * the layout contract: the bucketed join's physical plan must contain
  * no Exchange and no Sort, produce exactly the plain join's rows, and
  * the scans must report themselves bucketed. */
class BucketedJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString,
    // propagate the bucket files' sort order into the plan (off by
    // default since 3.0 because it is only valid with one file per
    // bucket — which the repartition-by-key write below guarantees)
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  override def afterAll(): Unit = spark.stop()

  test("bucketed+sorted tables join with no Exchange and no Sort in the plan") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // one FILE per bucket (repartition by the key into numBuckets tasks;
    // write-side bucket hash == partitioning hash, so each task holds
    // exactly one bucket) — sorted bucket reads require it, otherwise
    // the join re-sorts the multi-file buckets
    li.repartition(8, col("l_orderkey")).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.repartition(8, col("o_orderkey")).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")
    // force the sort-merge path (broadcast would hide the co-location)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      val sortNodes = plan.split("\n")
        .count(l => l.matches(".*\\bSort\\b.*") && !l.contains("SortMergeJoin"))
      assert(sortNodes == 0, s"bucket-sorted tables must not re-sort:\n$plan")
      val formatted = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out)) { joined.explain("formatted") }
        out.toString("UTF-8")
      }
      assert(formatted.contains("Bucketed: true"),
        s"scans should report bucketed reads:\n$formatted")
      // correctness: identical row multiset cardinality as the plain join
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }
}
