package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Semantic properties of the round-6 operators, beyond the oracle's
  * value equality: invariants that must hold on ANY input, checked on
  * the sf0.001 corpus.
  *  - p07: chunks tile the token stream with the declared geometry and
  *    reconstruct every document's token count exactly;
  *  - q38: consecutive events inside one session never gap > 30 min and
  *    session boundaries really gap (checked via dur/count relations);
  *  - a07: the reported assignment is the true integer-L2 argmin against
  *    the final centroids (re-derived independently from the output);
  *  - a08: per-cluster accounting sums match a07's cluster sizes;
  *  - d10: the leakage matrix's pair total equals d03's pair count;
  *  - t08: exactly <=5 rows per source, ranks contiguous from 1.
  */
class Round6OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("p07: chunk geometry tiles every document exactly") {
    val chunks = graft.ops.Pipeline.p07(spark, sf)
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val K = graft.ops.Pipeline.ChunkSize
    val S = graft.ops.Pipeline.ChunkStride
    // per doc: chunk_idx contiguous from 0; all but the last chunk full
    // size; last chunk length == n_tok - (n_chunks-1)*stride (never 0)
    val byDoc = chunks.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      max("chunk_idx").as("max_idx"),
      min("chunk_idx").as("min_idx"),
      sum(when(col("chunk_len") =!= K, 1L).otherwise(0L)).as("short_chunks"),
      max(when(col("chunk_len") =!= K, col("chunk_idx"))).as("short_idx"),
      min("chunk_len").as("min_len"))
      .join(docs, "doc_id")
    val bad = byDoc.where(
      col("min_idx") =!= 0 || col("max_idx") =!= col("n_chunks") - 1 ||
        col("short_chunks") > 1 ||
        (col("short_chunks") === 1 && col("short_idx") =!= col("max_idx")) ||
        col("min_len") <= 0 ||
        // reconstruction: tokens covered once accounting for overlap
        col("n_tok") =!= (col("n_chunks") - 1) * S +
          when(col("short_chunks") === 1, col("min_len")).otherwise(K))
    assert(bad.count() === 0, bad.collect().take(3).mkString("\n"))
  }

  test("q38: no intra-session gap exceeds 30 minutes; sessions start after real gaps") {
    import graft.core.Tables.events
    val sess = graft.queries.Sessions.q38(spark, sf)
    // independent re-derivation: sort each user's events, walk with lag
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = events(spark, sf)
      .withColumn("gap", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
    val expectedSessions = gaps
      .withColumn("new_sess", when(col("gap").isNull ||
        col("gap") >= graft.queries.Sessions.SessionGapUs, 1L).otherwise(0L))
      .agg(sum(col("new_sess"))).collect()(0).getLong(0)
    val gotSessions = sess.count()
    assert(gotSessions === expectedSessions)
    // event conservation: session sizes sum to the event count
    val total = sess.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total === events(spark, sf).count())
  }

  test("q38 == Spark's built-in session_window (three-way session-path equivalence)") {
    import graft.core.Tables.events
    // the built-in: [start, last+gap) windows per user — must produce
    // the SAME (user, start, n_events) multiset as the gaps-and-islands
    // formulation (and, transitively, as graft.streaming.Sessionize,
    // which StreamingSpec ties to session_window)
    val builtin = events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"))
      .select("user_id", "start_ts", "n_events")
    val ours = graft.queries.Sessions.q38(spark, sf)
      .select("user_id", "start_ts", "n_events")
    assert(ours.exceptAll(builtin).isEmpty && builtin.exceptAll(ours).isEmpty)
  }

  test("a07: output assignment is the brute-force argmin against the trained model") {
    val model = graft.ops.Ann.kmeansModel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)
    assert(model.nonEmpty && model.length <= graft.ops.Ann.KmeansK)
    val pts = graft.ops.Ann.kmeansPoints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toMap
    val got = graft.ops.Ann.a07(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === pts.keySet) // every vector assigned exactly once
    pts.foreach { case (vid, q) =>
      val best = model.map { case (cid, cq) =>
        var dd = 0L; var i = 0
        while (i < q.length) { val df = q(i) - cq(i); dd += df * df; i += 1 }
        (dd, cid)
      }.min // (dist, cid) lexicographic == the operator's tie-break
      assert(got(vid) === ((best._2, best._1)), s"vec $vid")
    }
  }

  test("a08: per-cluster accounting is consistent with a07's clustering") {
    val report = graft.ops.Ann.a08(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(report.forall { case (_, n, kept, removed) => kept + removed === n })
    assert(report.forall { case (_, _, kept, _) => kept >= 1 }) // min-id keeper always survives
    val sizes = graft.ops.Ann.a07(spark, sf).groupBy("cluster").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(report.forall { case (c, n, _, _) => sizes(c) === n })
  }

  test("d10: leakage matrix total equals the LIVE d03 pair count") {
    // d10 reads the live pair view since round 15 — its total is the
    // published pair count minus tombstone-touching pairs.
    val mod = graft.ops.Dedup.IncrementalMod
    val trem = graft.ops.Dedup.TombstoneRem
    val pairTotal = graft.ops.Dedup
      .d10(spark, sf).agg(sum("n_pairs")).collect()(0).getLong(0)
    assert(pairTotal === graft.ops.Dedup.d03(spark, sf)
      .where(col("doc_a") % mod =!= trem && col("doc_b") % mod =!= trem)
      .count())
  }

  test("t08: per-source top-5 with contiguous ranks") {
    val t = graft.ops.TextAnalysis.t08(spark, sf)
    val bySrc = t.groupBy("source").agg(
      count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
    val bad = bySrc.where(col("n") > 5 || col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(bad.count() === 0)
  }
}
