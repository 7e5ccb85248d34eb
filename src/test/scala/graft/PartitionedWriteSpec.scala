package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The materialization end of the pipeline: the cleaned/split corpus is
  * written as split/source-partitioned parquet, and downstream readers
  * get PARTITION PRUNING — a filter on the partition column must reach
  * the scan as a PartitionFilter (no data files of other partitions
  * touched), and data-column predicates must push down into the
  * parquet reader. This is the layout contract that makes "read only
  * the train split of one source" an O(selected-bytes) operation at
  * 100 TB, not a full-corpus scan. */
class PartitionedWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("split-partitioned corpus write: pruning + pushdown reach the scan") {
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-splits").toString
    // p03's split assignment, materialized per document
    val assigned = graft.core.Tables.documents(spark, sf)
      .withColumn("h",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("split",
        when(pmod(col("h"), lit(100)) < 80, "train")
          .when(pmod(col("h"), lit(100)) < 90, "val").otherwise("test"))
      .drop("h")
    assigned.write.partitionBy("split", "source").mode("overwrite").parquet(out)

    // layout: one directory per (split, source)
    val splitDirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(splitDirs.toSet == Set("split=train", "split=val", "split=test"),
      s"unexpected layout: ${splitDirs.mkString(",")}")

    val back = spark.read.parquet(out)
    val q = back.where(col("split") === "train" && col("n_chars") > 100)
      .select("doc_id", "n_chars")
    val plan = q.queryExecution.executedPlan.toString
    // partition pruning: the split predicate is a PartitionFilter, NOT a
    // post-scan filter over all partitions
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      s"split filter did not become a partition filter:\n$plan")
    // data pushdown: the n_chars predicate reaches the parquet reader
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(n_chars,100)"),
      s"n_chars filter not pushed down:\n$plan")
    // column pruning: only the selected columns are read
    assert(plan.contains("ReadSchema") && !plan.contains("text"),
      s"text column should be pruned from the scan:\n$plan")
    // and the answer matches the unpartitioned computation
    val want = assigned.where(col("split") === "train" && col("n_chars") > 100).count()
    assert(q.count() == want && want > 0)
  }
}
