package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-22 optimization equivalence: s14's verify-first operator order
  * (verify in the wide stateless stage, watermark-dedup the slim
  * verified pairs) must drain to EXACTLY the same admission report as
  * the pre-r22 dedup-first order, built here from the same pieces on the
  * same session. Round15OpsSpec separately pins the shipped order
  * against d16's batch answer; this spec pins the shipped order against
  * the old one. */
class R22OptimizationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("s14 verify-first == dedup-first, row for row") {
    val R = graft.streaming.Replay
    val first = R.s14(spark, sf).collect().toSeq.map(_.toSeq)
    // pre-r22 order: dedup the candidate stream, then attach tb and verify
    val as = R.admissionSession(spark)
    val (cand, tb, corpusView) = R.s14Candidates(as, sf)
    val legacy = R.s14Drain(as, sf, graft.ops.Dedup.verifyCandidates(
        R.s14DedupPairs(cand).join(tb, "ci")
          .select(col("ni"), col("ci"), col("ta"), col("tb"))), corpusView)
      .collect().toSeq.map(_.toSeq)
    assert(first === legacy,
      "s14's verify-first order changed the admission report")
    assert(first.nonEmpty, "s14 drained an empty report — vacuous equivalence")
  }
}
