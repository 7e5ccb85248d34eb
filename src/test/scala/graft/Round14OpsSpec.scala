package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-14 composition invariants — deletion must reach EVERY consumer
  * of the published artifacts, not just the pair/index serves d17/a16
  * pinned in round 13:
  *  - d16's admission must not reject an arrival for matching a
  *    DELETED document (d16 ∘ d17 == d16-on-reduced-corpus);
  *  - the band-signature artifact's live view is what d14/d16/s06's
  *    batch reference read — tombstoned docs' bands are invisible to
  *    all three;
  *  - the live view is served by id-only anti-join (plan-pinned).
  */
class Round14OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def reducedAt(src: String, table: String,
                        deleted: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-r14-$table").toString
    spark.read.parquet(s"$src/$table.parquet")
      .where(!deleted)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  test("d16 ∘ d17 == d16 on a corpus that never ingested the deleted docs") {
    val sf = "/root/testdata/sf0.001"
    val dir = reducedAt(sf, "documents", graft.ops.Dedup.d17TombstonePred)
    val got = graft.ops.Dedup.d16(spark, sf).collect().map(_.toSeq).toSeq
    val want = graft.ops.Dedup.d16(spark, dir).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty, "census arrival batch is empty — split constants drifted")
    assert(got == want,
      s"d16 over tombstones diverged from d16-on-reduced (${got.size} vs ${want.size} rows)")
  }

  test("an arrival matching ONLY a deleted document is admitted") {
    val s = spark
    import s.implicits._
    // doc 7 (arrival residue) duplicates doc 3 (tombstone residue) and
    // nothing else: before the round-14 cut the admission rejected it
    // against the deleted doc forever — the takedown-blocks-reingest
    // failure. The live corpus side must admit it.
    val dir = java.nio.file.Files.createTempDirectory("graft-d16-tomb").toString
    Seq(
      (1L, "one two three four"),
      (2L, "five six seven eight"),
      (3L, "alpha beta gamma delta"),
      (7L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.ops.Dedup.d16(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
    assert(rows == Seq((7L, 0L, -1L, 1L)),
      s"arrival matching only a deleted doc must be admitted, got $rows")
    // sanity: the full-corpus pair (3,7) DOES exist — the admission
    // changed because of the tombstone cut, not because the texts differ
    val full = graft.ops.Dedup.d02(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((3L, 7L)),
      "planted duplicate pair missing from d02 — test lost its signal")
  }

  test("live band view: tombstoned rows invisible; sub-threshold serve is an id-only anti-join") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Dedup.d02(spark, sf).count() // publish the band table
    val mod = graft.ops.Dedup.IncrementalMod
    val trem = graft.ops.Dedup.TombstoneRem
    // data-level pin: zero tombstoned band rows in the live view
    assert(graft.ops.Dedup.liveBandTable(spark, sf)
      .where(col("i") % mod === trem).count() == 0L,
      "live band view leaked tombstoned docs' signatures")
    // ...while the published artifact itself still carries them (it is
    // delete-set independent, like the pair table)
    assert(graft.ops.Dedup.bandTable(spark, sf)
      .where(col("i") % mod === trem).count() > 0L,
      "published band artifact must be delete-set independent")
    // plan-level pin on the consumers: d14 and s06's batch reference
    // serve the anti-join view — the published table scan + a LeftAnti against an id-only
    // documents read, never a text read outside d14's own sample
    val d14Plan = graft.ops.Dedup.d14(spark, sf).queryExecution.executedPlan.toString
    assert(d14Plan.contains("graft_mat/minhash"),
      "d14 must serve band keys from the published artifact")
    assert(d14Plan.contains("LeftAnti"),
      "sub-threshold d14 must anti-join tombstones")
    val bPlan = graft.streaming.StreamNearDup.batchFlags(spark, sf)
      .queryExecution.executedPlan.toString
    assert(bPlan.contains("graft_mat/minhash") && bPlan.contains("LeftAnti"),
      "s06's batch reference must serve the live band view")
    bPlan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("documents.parquet")).foreach { l =>
      assert(!l.contains("text:"),
        s"s06's batch reference must never read document content:\n$l")
    }
  }

  test("a17 cutover: retrained serve == a fresh a13 build, generation pinned to 2") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Ann.a17(spark, sf).collect()
    assert(rows.nonEmpty, "a17 answered no probes")
    assert(rows.forall(_.getLong(4) == 2L),
      "census corpus is past the declared threshold — a17 must serve generation 2")
    val a13 = graft.ops.Ann.a13(spark, sf).collect().map(_.toSeq).toSeq
    assert(rows.map(_.toSeq.dropRight(1)).toSeq == a13,
      "retrained serve diverged from a fresh a13 build")
  }

  test("a17 stale generation: the pre-append codebooks give a DIFFERENT answer (retrain has signal)") {
    val sf = "/root/testdata/sf0.001"
    // the stale codebook ids are the pre-append corpus's first rows —
    // on the census they exclude the arrival-residue ids, so the
    // codebook SET differs from the fresh one
    val stale = graft.ops.Ann.a17StaleCodebookIds(spark, sf)
    assert(stale.nonEmpty && stale.exists(_ >= graft.ops.Ann.IvfCentroids),
      s"stale codebook ids should spill past the fresh range, got $stale")
    // index rows must differ: any vector whose fresh assignment is an
    // arrival-residue centroid has no such centroid in the stale world
    val fresh = graft.ops.Ann.a13(spark, sf).collect().map(_.toSeq).toSeq
    val staleServe = graft.ops.Ann.a17StaleServe(spark, sf).collect().map(_.toSeq).toSeq
    assert(staleServe.nonEmpty, "stale serve answered no probes")
    assert(staleServe != fresh,
      "stale and fresh serves coincide on the census — the retrain entry has no signal")
  }

  test("a17 below threshold: no post-training arrivals -> stale generation keeps serving (gen 1)") {
    val s = spark
    import s.implicits._
    // corpus with NO arrival-residue ids: the training-time corpus IS
    // the current corpus, stale codebooks == fresh codebooks, and the
    // declared-fraction trigger must NOT fire — serving gen 1, whose
    // answer equals a06 on this corpus (no drift to repair)
    val rnd = new scala.util.Random(71)
    val ids = ((0L until 16L) ++ Seq(20L, 21L, 22L, 23L, 30L, 31L, 32L, 33L,
      40L, 41L, 50L, 51L)).filter(_ % 10 != 7)
    val dir = java.nio.file.Files.createTempDirectory("graft-a17-below").toString
    ids.map { i => (i, Array.fill(8)(rnd.nextFloat()), (i % 10).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.ops.Ann.a17(spark, dir).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(4) == 1L),
      "no arrivals -> a17 must keep serving the stale generation")
    // gen-1 build/serve consistency: the index-served stale answer must
    // equal the direct chain under the SAME codebook rows (the
    // a06WithCodebooks instrument — on this gapped-id corpus the
    // first-k-rows codebook is NOT vec_id < k, so a06 itself is not
    // the reference)
    val stale = graft.ops.Ann.a17StaleCodebookIds(spark, dir)
    val want = graft.ops.Ann.a06WithCodebooks(spark, dir,
        col("vec_id").isin(stale: _*),
        col("vec_id").isin(stale.take(graft.ops.Ann.PqCentroids): _*))
      .collect().map(_.toSeq).toSeq
    assert(rows.map(_.toSeq.dropRight(1)).toSeq == want,
      "stale index serve diverged from the direct stale-codebook chain")
  }

  test("a17 warm: both generations' artifacts published once; no republish on repeat") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Ann.a17(spark, sf).count() // publishes stale/fresh if cold
    graft.ops.Ann.a17StaleServe(spark, sf).count()
    val pub0 = graft.core.Materialize.publishCount
    graft.ops.Ann.a17(spark, sf).count()
    graft.ops.Ann.a17StaleServe(spark, sf).count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm a17 must serve both generations from published artifacts")
    // distinct fingerprints: the stale generation stays addressable for
    // rollback after the cutover
    assert(graft.ops.Ann.a17StaleFingerprint(spark, sf) !=
      graft.ops.Ann.ivfpqFingerprint(spark, sf))
  }

  test("band-row locality property: live view == rebuild-on-reduced for random corpora (both branches)") {
    val s = spark
    import s.implicits._
    // the d17Over/a16Over algebraic claim, applied to the signature
    // artifact: a band row depends only on its own document, so the
    // live view's anti-join must equal the band table a corpus that
    // never ingested the tombstoned docs would publish — exercised on
    // random corpora at two tombstone masses (trial parity plants ~8%
    // vs ~40% via id selection; the census corpora sit at 10%, so the
    // heavy trials pin the anti-join far past any declared input).
    val rnd = new scala.util.Random(137)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (trial <- 1 to 4) {
      val heavy = trial % 2 == 0 // even trials: tombstone-heavy
      val nDocs = 18 + rnd.nextInt(18)
      val ids = (0 until nDocs).map { i =>
        // heavy: ~half the ids on the tombstone residue; light: ~1 in 12
        val wantTomb = if (heavy) i % 2 == 0 else i % 12 == 0
        val base = i.toLong * 10
        if (wantTomb) base + graft.ops.Dedup.TombstoneRem
        else base + (i % 2)
      }
      val docs = ids.map { id =>
        (id, Array.fill(2 + rnd.nextInt(5))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft-band-prop$trial").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val reduced = java.nio.file.Files.createTempDirectory(s"graft-band-propr$trial").toString
      docs.filterNot(_._1 % graft.ops.Dedup.IncrementalMod == graft.ops.Dedup.TombstoneRem)
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$reduced/documents.parquet")
      val live = graft.ops.Dedup.liveBandTable(spark, dir)
        .select(col("i"), col("band"), col("sig"), col("n"))
        .collect().map(_.toSeq).toSet
      val want = graft.ops.Dedup.bandTable(spark, reduced)
        .select(col("i"), col("band"), col("sig"), col("n"))
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty, s"trial $trial produced an empty reference table")
      assert(live == want,
        s"trial $trial (heavy=$heavy): live band view != rebuild-on-reduced " +
          s"(${live.size} vs ${want.size} rows)")
    }
  }

  test("d14 grades the live corpus: recall eval == d14 on the reduced corpus") {
    val sf = "/root/testdata/sf0.001"
    val dir = reducedAt(sf, "documents", graft.ops.Dedup.d17TombstonePred)
    val got = graft.ops.Dedup.d14(spark, sf).collect().map(_.toSeq).toSeq
    val want = graft.ops.Dedup.d14(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == want,
      s"d14 over tombstones diverged from d14-on-reduced ($got vs $want)")
  }
}
