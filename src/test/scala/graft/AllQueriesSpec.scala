package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Executes EVERY declared query end-to-end at sf0.001 — the fast
  * tripwire between edits and the (slower) DuckDB oracle gate. Catches
  * parse/analysis errors in SQL-text queries, resolution breaks from
  * refactors, and runtime faults immediately, without any possibility
  * of passing on a previous run's output (the failure mode that masked
  * a broken query behind stale Verify parquet in round 4). */
class AllQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("every declared query executes at sf0.001 and returns rows") {
    val sf = "/root/testdata/sf0.001"
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val empties = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        if (fn(spark, sf).count() == 0L) empties += name
      } catch {
        case e: Throwable =>
          failures += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries fail:\n" +
        failures.map { case (n, m) => s"  $n -> $m" }.mkString("\n"))
    // every query is non-vacuous at the smallest SF, except the known
    // data-dependent empties: at sf0.001 every customer has orders, so
    // the anti-join is genuinely empty (non-vacuous at the sf0.01
    // gate); and the small samples contain no true perceptual
    // near-dups, so the 120-bit m03 truthfully reports none below
    // sf0.1 (12 true pairs there incl. distance-0 exact copies — see
    // Multimodal.DhashRows scaladoc; Round7OpsSpec pins the kernel's
    // near/far separation on planted fixtures)
    val knownEmpty = Set("q05_anti_join_no_orders", "m03_dhash_neardup")
    assert((empties.toSet -- knownEmpty).isEmpty,
      s"queries with zero rows at sf0.001: ${empties.toSet -- knownEmpty}")
  }
}
