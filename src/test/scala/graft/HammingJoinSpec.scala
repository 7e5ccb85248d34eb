package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** HammingJoinRule: a `bit_count(a ^ b) <= k` theta join — which Spark
  * alone plans as a BroadcastNestedLoopJoin — must be rewritten into the
  * pigeonhole chunk equi-join with identical results, exactly once per
  * pair; unsupported shapes must be left alone. */
class HammingJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  /** run `body` with HammingJoinRule excluded from the optimizer — the
    * honest baseline in the same session (a second getOrCreate would
    * just return the extensions session). */
  private def withoutRule[A](body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.HammingJoinRule")
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def fingerprints(s: SparkSession) = {
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // clusters of near-identical fingerprints + noise
    val base = Seq.fill(8)(rnd.nextLong())
    (0L until 200L).map { i =>
      val b = base((i % 8).toInt)
      val flips = rnd.nextInt(6)
      val fp = (0 until flips).foldLeft(b)((v, _) => v ^ (1L << rnd.nextInt(64)))
      (i, fp)
    }.toDF("id", "fp")
  }

  private def joined(s: SparkSession) = {
    val df = fingerprints(s)
    val a = df.select(col("id").as("id_a"), col("fp").as("fa"))
    val b = df.select(col("id").as("id_b"), col("fp").as("fb"))
    a.join(b, bit_count(col("fa").bitwiseXOR(col("fb"))) <= 4 && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  test("rewrite fires: no nested-loop join, Generate present, results identical") {
    val plan = joined(spark).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ survived:\n$plan")
    assert(plan.contains("Generate"), s"chunk explode missing:\n$plan")
    val got = joined(spark).orderBy("id_a", "id_b").collect().map(_.toString)
    val (want, basePlan) = withoutRule {
      (joined(spark).orderBy("id_a", "id_b").collect().map(_.toString),
        joined(spark).queryExecution.executedPlan.toString)
    }
    assert(want.nonEmpty)
    // without the rule this join really is the nested loop
    assert(basePlan.contains("BroadcastNestedLoopJoin"), s"baseline plan:\n$basePlan")
    assert(got.length == want.length, s"got=${got.length} want=${want.length}")
    assert(got.sameElements(want))
  }

  test("exactly-once: no duplicate pairs even for identical fingerprints") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 42L), (2L, 42L), (3L, 42L), (4L, -1L)).toDF("id", "fp")
    val a = df.select(col("id").as("id_a"), col("fp").as("fa"))
    val b = df.select(col("id").as("id_b"), col("fp").as("fb"))
    val out = a.join(b,
        bit_count(col("fa").bitwiseXOR(col("fb"))) <= 2 && col("id_a") < col("id_b"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.distinct.length)
    assert(out.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("property: rewritten join == naive theta join for random fingerprints, k in 0..12") {
    val s = spark
    import s.implicits._
    for (trial <- 0 until 13) {
      val k = trial // covers k=0 (single 64-bit chunk), the cap boundary k=7, and bail k>7
      val rnd = new scala.util.Random(1000 + trial)
      val nBase = 1 + rnd.nextInt(6)
      val base = Seq.fill(nBase)(rnd.nextLong())
      val df = (0L until 120L).map { i =>
        val b = base((i % nBase).toInt)
        // flip counts straddling k so both sides of the predicate occur
        val flips = rnd.nextInt(2 * k + 3)
        val fp = (0 until flips).foldLeft(b)((v, _) => v ^ (1L << rnd.nextInt(64)))
        (i, fp)
      }.toDF("id", "fp")
      val a = df.select(col("id").as("id_a"), col("fp").as("fa"))
      val b = df.select(col("id").as("id_b"), col("fp").as("fb"))
      def q = a.join(b,
          bit_count(col("fa").bitwiseXOR(col("fb"))) <= k && col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val plan = q.queryExecution.executedPlan.toString
      if (k + 1 <= graft.plans.HammingJoinRule.MaxChunksPerWord) {
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"k=$k: BNLJ survived:\n$plan")
        assert(plan.contains("Generate"), s"k=$k: chunk explode missing:\n$plan")
      } else {
        assert(plan.contains("BroadcastNestedLoopJoin"), s"k=$k: should have bailed:\n$plan")
      }
      val got = q.orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = withoutRule {
        q.orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(got.length == got.distinct.length, s"k=$k: duplicate pairs emitted")
      assert(got.sameElements(want),
        s"k=$k: got=${got.length} want=${want.length} diff=${(got.toSet diff want.toSet).take(5)}/${(want.toSet diff got.toSet).take(5)}")
    }
  }

  test("multi-word form: sum of bit_counts <= k rewrites and equals the naive join") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val base = Seq.fill(6)((rnd.nextLong(), rnd.nextLong()))
    val df = (0L until 150L).map { i =>
      val (b0, b1) = base((i % 6).toInt)
      val flips = rnd.nextInt(16)
      var f0 = b0; var f1 = b1
      (0 until flips).foreach { _ =>
        val bit = rnd.nextInt(128)
        if (bit < 64) f0 ^= 1L << bit else f1 ^= 1L << (bit - 64)
      }
      (i, f0, f1)
    }.toDF("id", "fp0", "fp1")
    val a = df.select(col("id").as("id_a"), col("fp0").as("fa0"), col("fp1").as("fa1"))
    val b = df.select(col("id").as("id_b"), col("fp0").as("fb0"), col("fp1").as("fb1"))
    for (k <- Seq(0, 7, 14)) { // 14 needs 15 chunks: > 8 (1-word cap) but <= 16 (2-word cap)
      def q = a.join(b,
          (bit_count(col("fa0").bitwiseXOR(col("fb0"))) +
            bit_count(col("fa1").bitwiseXOR(col("fb1")))) <= k && col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"k=$k: BNLJ survived:\n$plan")
      assert(plan.contains("Generate"), s"k=$k: chunk explode missing:\n$plan")
      val got = q.orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val want = withoutRule {
        q.orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      assert(got.length == got.distinct.length, s"k=$k: duplicate pairs")
      assert(got.sameElements(want), s"k=$k: got=${got.length} want=${want.length}")
    }
    // past the 2-word cap (k+1 > 16): left to Spark
    def big = a.join(b,
        (bit_count(col("fa0").bitwiseXOR(col("fb0"))) +
          bit_count(col("fa1").bitwiseXOR(col("fb1")))) <= 20 && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    assert(big.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("k=0 rewrites to an exact fingerprint equi-join (no degenerate constant key)") {
    val s = spark
    import s.implicits._
    // regression: width-64 mask was (1L<<64)-1 == 0, collapsing every
    // chunk value to 0 — a single-key cross join on one task
    val df = Seq((1L, 42L), (2L, 42L), (3L, 7L), (4L, -1L)).toDF("id", "fp")
    val a = df.select(col("id").as("id_a"), col("fp").as("fa"))
    val b = df.select(col("id").as("id_b"), col("fp").as("fb"))
    val q = a.join(b,
        bit_count(col("fa").bitwiseXOR(col("fb"))) <= 0 && col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"k=0 BNLJ survived:\n$plan")
    // the degenerate mask showed up as a literal 0 chunk value; the fixed
    // mask keeps the full fingerprint as the key
    assert(!plan.contains("& 0)"), s"degenerate zero mask in plan:\n$plan")
    val out = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)), s"k=0 pairs: $out")
  }

  test("k too large for the chunk cap is NOT rewritten") {
    val df = fingerprints(spark)
    val a = df.select(col("id").as("id_a"), col("fp").as("fa"))
    val b = df.select(col("id").as("id_b"), col("fp").as("fb"))
    val plan = a.join(b,
        bit_count(col("fa").bitwiseXOR(col("fb"))) <= 20 && col("id_a") < col("id_b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"should be left alone:\n$plan")
  }
}
