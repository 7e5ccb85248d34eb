package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-20 invariants (the round-19 verdict's orders + ADVICE items):
  *  - p13 placement-level deletion: the broadcast-correction repair,
  *    a windowed re-rank reference, and a plain-Scala excision model
  *    agree on a PLANTED placement whose takedown pushes survivors
  *    across a pack-bin boundary (the re-offset must be cumulative,
  *    not local), and the end-to-end p13 equals the placement-stage
  *    rebuild over the published order at sf0.001;
  *  - s14's signing parallelism no longer tracks the input-split
  *    count: the arrival side carries a round-robin exchange to
  *    defaultParallelism below the signing flatMap (plan-audited);
  *  - admissionSession is CACHED per parent (one child + one lease
  *    listener per parent session, not per drain — the round-19
  *    ADVICE leak), and re-acquisition still re-copies runtime knobs;
  *  - the full-outer tier: batch q43 classes are internally
  *    consistent, and the s17 stream answer equals the batch FULL
  *    JOIN (the null-emission-on-both-sides replay).
  */
class Round20OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** plain-Scala excision model: drop takedown rows, re-rank and
    * re-accumulate offsets per shard in original-pos order. */
  private def exciseModel(rows: Seq[(Long, Long, Long, Long, Long, String, Long, String)],
                          takedown: Set[Long])
      : Seq[(Long, Long, Long, Long, Long, String, Long, String)] =
    rows.filterNot(r => takedown.contains(r._5))
      .groupBy(_._1).toSeq.flatMap { case (shard, rs) =>
        var off = 0L
        rs.sortBy(_._2).zipWithIndex.map { case (r, i) =>
          val start = off
          off += r._7
          (shard, (i + 1).toLong, start / graft.ops.Pipeline.PackTokens,
            start % graft.ops.Pipeline.PackTokens, r._5, r._6, r._7, r._8)
        }
      }.sortBy(r => (r._1, r._2))

  /** shard-local excision by WINDOWED RE-RANK — the Spark reference the
    * broadcast-correction repair is pinned against: p11's own
    * placement exchange re-run over the slim SURVIVOR rows (original
    * pos preserves the (h, doc_id) order, so re-ranking by it
    * reproduces the frozen relative order). */
  private def exciseWindowed(s: SparkSession, survivors: DataFrame): DataFrame = {
    val pack = graft.ops.Pipeline.PackTokens
    val w = Window.partitionBy("shard").orderBy("pos")
    survivors
      .repartition(s.sparkContext.defaultParallelism, col("shard"))
      .withColumn("new_pos", row_number().over(w).cast(LongType))
      .withColumn("new_off",
        coalesce(sum(col("n_tok")).over(w) - col("n_tok"), lit(0L)))
      .select(col("shard"), col("new_pos").as("pos"),
        (col("new_off") / pack).cast(LongType).as("bin"),
        (col("new_off") % pack).as("bin_off"),
        col("doc_id"), col("source"), col("n_tok"), col("redacted_md5"))
  }

  test("p13 excision: broadcast correction == windowed re-rank == model " +
    "on a planted placement; the takedown crosses a pack-bin boundary") {
    val s = spark
    import s.implicits._
    val P = graft.ops.Pipeline
    val pack = P.PackTokens // 512
    // one shard with token masses chosen so removing doc 20 (400 toks)
    // drags doc 30 from bin 1 back into bin 0 and doc 40 across the
    // 2->1 boundary; a second shard with NO takedowns must pass
    // through byte-identical.
    val planted = Seq(
      // (shard, pos, bin, bin_off, doc_id, source, n_tok, md5)
      (0L, 1L, 0L, 0L, 10L, "s0", 300L, "a"),
      (0L, 2L, 0L, 300L, 20L, "s0", 400L, "b"), // TAKEDOWN (crosses 512)
      (0L, 3L, 1L, 188L, 30L, "s0", 200L, "c"), // 700 -> 300: bin 1 -> 0
      (0L, 4L, 1L, 388L, 40L, "s0", 300L, "d"), // 900 -> 500: bin 1 -> 0
      (0L, 5L, 2L, 176L, 50L, "s0", 100L, "e"), // 1200 -> 800: bin 2 -> 1
      (1L, 1L, 0L, 0L, 11L, "s1", 600L, "f"),
      (1L, 2L, 1L, 88L, 21L, "s1", 100L, "g"))
    val placement = planted.toDF(
      "shard", "pos", "bin", "bin_off", "doc_id", "source", "n_tok", "redacted_md5")
    val takedown = Seq(20L).toDF("doc_id")
    val hit = placement.join(takedown, "doc_id")
      .select(col("shard"), col("pos"), col("n_tok"))
    val survivors = placement.join(takedown, Seq("doc_id"), "left_anti")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard", "pos").collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5), r.getLong(6), r.getString(7)))
    val viaBroadcast = rowsOf(P.exciseBroadcast(survivors, hit))
    val viaWindow = rowsOf(exciseWindowed(s, survivors))
    val expected = exciseModel(planted, Set(20L))
    assert(viaBroadcast === expected,
      "broadcast-correction repair must equal the excision model")
    assert(viaWindow === expected,
      "windowed re-rank repair must equal the excision model")
    // the boundary crossings actually happened (the planted geometry)
    val byId = expected.map(r => r._5 -> r).toMap
    assert(byId(30L)._3 === 0L && byId(40L)._3 === 0L && byId(50L)._3 === 1L,
      "survivors behind the takedown must cross pack-bin boundaries")
    // the untouched shard is byte-identical
    assert(expected.filter(_._1 == 1L) ===
      planted.filter(_._1 == 1L).map(r => r),
      "a shard with no takedowns must pass through unchanged")
  }

  test("p13 end-to-end at sf0.001: repair == placement-stage rebuild over " +
    "the published order; row count = placement - takedowns; manifest " +
    "names the published placement") {
    val s = spark
    val P = graft.ops.Pipeline
    val placement = P.placementTable(s, sf)
    val feedIds = graft.core.Tables.documents(s, sf).select("doc_id")
      .where(col("doc_id") % graft.ops.Dedup.IncrementalMod === P.TakedownRem)
    val nPlaced = placement.count()
    val nHit = placement.join(feedIds, "doc_id").count()
    assert(nHit > 0, "sf0.001 must place at least one takedown-residue doc for this spec")
    val repaired = P.p13(s, sf).collect().map(_.toSeq).toSeq
    assert(repaired.size.toLong === nPlaced - nHit)
    // rebuild-at-placement-stage: re-rank the survivors of the SAME
    // published order (excision freezes sampling fates, so this IS
    // what the next rebuild's placement stage would emit)
    val rebuilt = exciseWindowed(s,
        placement.join(feedIds, Seq("doc_id"), "left_anti"))
      .orderBy("shard", "pos").collect().map(_.toSeq).toSeq
    assert(repaired === rebuilt, "repair must equal the placement-stage rebuild")
    // lineage: the manifest names the published placement artifact
    val (pk, pfp) = P.placementArtifact(s, sf)
    val manifest = s.read.parquet(s"${P.lastBuildBase}/manifest")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(manifest.contains(("published", pk, pfp)),
      s"manifest must name the consumed placement artifact $pk/$pfp")
  }

  test("s14 arrival side: a round-robin exchange to defaultParallelism " +
    "sits below the signing flatMap (parallelism does not track the " +
    "input-split count)") {
    val R = graft.streaming.Replay
    val arrivals = R.s14Arrivals(spark, sf)
    val reparts = arrivals.queryExecution.logical.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
        if r.shuffle => r.numPartitions
    }
    assert(reparts.contains(spark.sparkContext.defaultParallelism),
      s"arrival plan must rebalance to defaultParallelism, got $reparts")
  }

  test("admissionSession: cached per parent (one child, one listener — " +
    "not one per drain), and re-acquisition re-copies runtime knobs") {
    val R = graft.streaming.Replay
    val c1 = R.admissionSession(spark)
    val c2 = R.admissionSession(spark)
    assert(c1 eq c2, "two drains on one parent must share one child session")
    spark.conf.set("spark.graft.replay.checkpointChecksum", "456")
    try {
      val c3 = R.admissionSession(spark)
      assert(c3 eq c1)
      assert(c3.conf.get("spark.graft.replay.checkpointChecksum") === "456",
        "re-acquisition must re-copy runtime-set knobs from the parent")
    } finally spark.conf.unset("spark.graft.replay.checkpointChecksum")
    // stale-key sweep (the round-20 self-review finding): once the
    // parent UNSETS a knob, the next acquisition must clear it from
    // the shared child too — a re-copy that only adds would pin the
    // stale value for the life of the cache, where the pre-cache
    // fresh-newSession semantics reverted it to the default
    val c4 = R.admissionSession(spark)
    assert(c4.conf.getOption("spark.graft.replay.checkpointChecksum").isEmpty,
      "a knob unset on the parent must leave the cached child")
  }

  test("s18 == p13 bit-for-bit: the streamed takedown feed ships the " +
    "identical repaired order as the census batch repair") {
    val p13Rows = graft.ops.Pipeline.p13(spark, sf).collect().map(_.toSeq).toSeq
    val s18Rows = graft.streaming.Replay.s18(spark, sf).collect().map(_.toSeq).toSeq
    assert(s18Rows === p13Rows)
    assert(s18Rows.nonEmpty)
  }

  test("q43 full-outer reconciliation: the three match classes partition " +
    "the populations (both + customer_only = BUILDING customers; " +
    "both-side distinct + order_only custkeys = open-order custkeys)") {
    val rows = graft.queries.Tpch.q43(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val building = graft.core.Tables.customer(spark, sf)
      .where(col("c_mktsegment") === "BUILDING").count()
    val openCust = graft.core.Tables.orders(spark, sf)
      .where(col("o_orderstatus") === "O")
      .select("o_custkey").distinct().count()
    def cls(k: String) = rows.getOrElse(k, (0L, 0L, 0L))
    assert(cls("both")._2 + cls("customer_only")._2 === building,
      "every BUILDING customer is matched or customer_only")
    assert(cls("both")._3 + cls("order_only")._3 === openCust,
      "every open-order custkey is matched or order_only")
  }

  test("s17 == batch FULL JOIN: the stream's watermark-gated null " +
    "emission on BOTH sides reproduces the batch reconciliation") {
    val s = spark
    val stream = graft.streaming.Replay.s17(s, sf)
      .collect().map(_.toSeq).toSeq
    val ev = graft.core.Tables.events(s, sf)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val batch = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"), "full_outer")
      .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
        coalesce(date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss"), lit("-"))
          .as("purchase_ts"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        when(col("purchase_id").isNull, "click_only")
          .when(col("click_id").isNull, "purchase_only")
          .otherwise("both").as("side"))
      .orderBy("user_id", "purchase_id", "click_id")
      .collect().map(_.toSeq).toSeq
    assert(stream === batch)
    // both null sides actually exercised on this corpus
    val sides = stream.map(_(4)).toSet
    assert(sides.contains("purchase_only") && sides.contains("click_only"),
      s"corpus must populate both null-extended sides, got $sides")
  }
}
