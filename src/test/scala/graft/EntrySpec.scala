package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Guards the driver's contract surface: entry() returns rows, every
  * query name has well-formed shape, and oracle keys reference real
  * queries. */
class EntrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("entry() yields rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query; names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
    assert(qs.forall(_.matches("[a-z][a-z0-9_]+")), "query names must be snake_case")
    // every query key maps to a non-null builder
    assert(SparkEntry.queries.values.forall(_ != null))
  }

  test("oracle coverage: every declared query has a full oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"unexpected rows-only set: $noOracle")
  }

  test("top-k rewrite fires on q25 and a01: TopKPerKeyExec, no WindowExec") {
    // a rule regression here silently reintroduces the full per-key
    // window sort — the exact plan shape the custom operator exists to
    // avoid — while results stay correct, so only plan inspection
    // catches it
    for (name <- Seq("q25_knn_cosine", "a01_ann_bruteforce_topk")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"$name: TopKPerKeyExec missing from plan:\n$plan")
      assert(!plan.contains("Window"),
        s"$name: full window sort reintroduced:\n$plan")
    }
  }
}
