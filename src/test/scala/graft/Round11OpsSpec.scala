package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-11 operator contracts.
  *
  *  - s09 (sliding-window streaming replay): the real-engine replay must
  *    equal the batch answer computed by the epoch-anchor window algebra
  *    (every event in exactly 4 windows: floor15(ts) − k·15 min,
  *    k = 0..3) — the same identity the DuckDB oracle uses, derived here
  *    independently through Spark's own batch window() operator so the
  *    three-way agreement (stream engine == batch window() == closed
  *    form) pins the semantics, not just the oracle transcription.
  *  - a12 (MMR diversified retrieval): rank 1 is the true nearest (==
  *    a11's rank 1); the selected set is 3 DISTINCT members of the
  *    shortlist; and each greedy step is OPTIMAL under the integer MMR
  *    score (brute-forced per probe over the collected shortlist —
  *    bounded at probes × A11Shortlist rows).
  */
class Round11OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("s09: replay == batch window() == closed-form 4-window expansion") {
    val stream = graft.streaming.Replay.s09(spark, sf)

    // batch side 1: Spark's own sliding window() over the loaded events
    val ev = graft.core.Tables.events(spark, sf)
    val viaWindow = ev
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))).as("sv"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt").cast("long").as("cnt"),
        col("sv").cast("double").as("sum_value"))

    // batch side 2: the closed form the oracle uses — explode k = 0..3,
    // window_start = floor15(ts) - k*15min
    val closed = ev
      .select(col("event_type"), col("value"),
        explode(sequence(lit(0), lit(3))).as("k"),
        (unix_micros(col("ts")) / 900000000L).cast("long").as("slot"))
      .select(col("event_type"), col("value"),
        timestamp_micros((col("slot") - col("k")) * 900000000L).as("wstart"))
      .groupBy("wstart", "event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2))).as("sv"))
      .select(date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt").cast("long").as("cnt"),
        col("sv").cast("double").as("sum_value"))

    assert(stream.count() > 0)
    assert(stream.except(viaWindow).count() == 0 && viaWindow.except(stream).count() == 0)
    assert(stream.except(closed).count() == 0 && closed.except(stream).count() == 0)
  }

  test("a12: rank1 == a11 rank1; 3 distinct shortlist members per probe") {
    val mmr = graft.ops.Ann.a12(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a11r1 = graft.ops.Ann.a11(spark, sf).collect()
      .filter(_.getLong(1) == 1L).map(r => (r.getLong(0), r.getLong(2))).toMap
    val byProbe = mmr.groupBy(_._1)
    assert(byProbe.nonEmpty)
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rows.map(_._3).distinct.length == 3)
      val r1 = rows.find(_._2 == 1L).get._3
      assert(a11r1(p) == r1, s"probe $p: MMR rank1 $r1 != a11 rank1 ${a11r1(p)}")
    }
  }

  private def fixtureDir(docs: Seq[(Long, String, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r11_fixture").toString
    docs.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("m05: patch means hand-pinned; tile crops at 256 chars") {
    // doc 1: sixteen 'a' (code 97) = exactly one 16-char row.
    //   patches 0-3 each see 4 cells of 97 -> sum 388, mean 388 div 16 = 24;
    //   patches 4-15 all padding -> 0. tile_sum = 16*97 = 1552.
    // doc 2: 300 'b' (code 98) — crop: only the first 256 chars count.
    //   every cell 98 -> each patch sum 16*98 = 1568, mean 98;
    //   tile_sum = 256*98 = 25088; n_rows = ceil(300/16) = 19.
    val dir = fixtureDir(Seq(
      (1L, "a" * 16, "src0"),
      (2L, "b" * 300, "src0")))
    val rows = graft.ops.Multimodal.m05(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 1L, Seq.fill(4)("24").mkString(",") + ",0" * 12, 1552L),
      (2L, 19L, Seq.fill(16)("98").mkString(","), 25088L)))
  }

  test("m05: tile_sum == sum of the first 256 codepoints, corpus-wide") {
    val got = graft.ops.Multimodal.m05(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    assert(docs.nonEmpty)
    docs.foreach { r =>
      val expect = r.getString(1).take(256).map(_.toLong).sum
      assert(got(r.getLong(0)) == expect)
    }
  }

  test("p09: before == p06 totals; dedup column == d13 keepers; sampling bounded") {
    val p09 = graft.ops.Pipeline.p09(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val p06 = graft.ops.Pipeline.p06(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keepers = graft.ops.Dedup.d13(spark, sf)
      .where(col("keep") === 1L).count()
    assert(p09.nonEmpty)
    // the before columns are the raw corpus stats (p06's totals)
    p09.foreach { case (src, db, tb, dd, td, ds, ts) =>
      assert((db, tb) == p06(src), s"source $src before-stats != p06 totals")
      assert(dd <= db && td <= tb, s"source $src dedup exceeds before")
      assert(ds <= dd && ts <= td, s"source $src sampled exceeds dedup")
    }
    assert(p09.map(_._4).sum == keepers, "docs_dedup must sum to the d13 keep count")
  }

  test("a13: index-served search == a06's per-query-encoded search, row for row") {
    val served = graft.ops.Ann.a13(spark, sf)
    val direct = graft.ops.Ann.a06(spark, sf)
    assert(served.count() > 0)
    assert(served.except(direct).count() == 0 && direct.except(served).count() == 0)
  }

  test("a12: each greedy step optimal under the integer MMR score (brute force)") {
    // reconstruct the exact shortlist distances from raw embeddings
    val q = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * 1000).cast("long")).as("q"))
    val vecs = q.collect().map(r => r.getLong(0) ->
      r.getSeq[Long](1).toArray).toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

    val mmr = graft.ops.Ann.a12(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the shortlist a12 selected from = a11's full candidate set
    val shortlist = graft.ops.Ann.a11ShortlistDf(spark, sf).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    mmr.groupBy(_._1).foreach { case (p, rows) =>
      val pq = vecs(p)
      val cands = shortlist(p)
      val sel = rows.sortBy(_._2).map(_._3)
      assert(sel.toSet.subsetOf(cands), s"probe $p selected outside shortlist")
      // step 1: true nearest (tie -> min id)
      val best1 = cands.toSeq.map(c => (l2(pq, vecs(c)), c)).min
      assert(sel(0) == best1._2)
      // steps 2..3: argmax of min-dist-to-selected - query-dist, tie -> min id
      for (step <- 1 until sel.length) {
        val chosen = sel.take(step)
        val remaining = cands -- chosen
        val best = remaining.toSeq.map { c =>
          val score = chosen.map(s => l2(vecs(c), vecs(s))).min - l2(pq, vecs(c))
          (-score, c) // sort ascending: max score, then min id
        }.min
        assert(sel(step) == best._2,
          s"probe $p step ${step + 1}: picked ${sel(step)}, optimal ${best._2}")
      }
      // edist column is the true query distance of the selected member
      rows.foreach { case (_, _, n, e) => assert(e == l2(pq, vecs(n))) }
    }
  }
}
