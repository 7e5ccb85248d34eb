package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Degenerate-input hardening: EVERY declared query must plan and
  * execute (possibly to zero rows) against an empty corpus with the
  * production schemas — a real pipeline hits empty partitions, empty
  * date slices, and freshly created tables long before it hits 100 TB.
  * Catches divide-by-zero in derived parallelism (block/salt counts),
  * sequence()-on-empty edges, and first()/head() assumptions. */
class EmptyCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    Session(4, "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  override def afterAll(): Unit = spark.stop()

  /** write empty parquet tables with the production schemas. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val schema = spark.read.parquet(s"$src/$t.parquet").schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def sweep(dir: String, label: String): Unit = {
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = fn(spark, dir).count()
        assert(n >= 0)
      } catch {
        case e: Throwable =>
          failures += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries crash on $label input:\n" +
        failures.map { case (n, m) => s"  $n -> $m" }.mkString("\n"))
  }

  test("every declared query runs on an empty corpus") {
    sweep(emptyDir, "empty")
  }

  test("every declared query runs on a single-row corpus (n=1 edges)") {
    // n=1 exposes the off-by-one class n=0 cannot: windows over one row,
    // lag/lead with no predecessor, sequence(1, 0) guards, single-vertex
    // graphs, a probe set equal to the whole corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-single").toString
    val src = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      spark.read.parquet(s"$src/$t.parquet").limit(1)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    sweep(dir, "single-row")
  }
}
