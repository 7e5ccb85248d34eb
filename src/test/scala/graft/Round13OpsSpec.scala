package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-13 deletion-family invariants (the other half of the d16/a15
  * incremental lifecycle):
  *  - d17/a16 on the full corpus == d02/a06 on a corpus that never
  *    contained the deleted rows (deletion must be indistinguishable
  *    from non-ingestion — the legal contract of a takedown);
  *  - the serve paths read the PUBLISHED artifacts (no raw-text scan,
  *    no rebuild) and anti-join an id-only delete set.
  */
class Round13OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  /** copy `table` from `src` into a temp dir WITHOUT the rows matching
    * `deleted` — the corpus that never ingested them. */
  private def reducedAt(src: String, table: String,
                        deleted: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-r13-$table").toString
    spark.read.parquet(s"$src/$table.parquet")
      .where(!deleted)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  private def reducedDir(table: String,
                         deleted: org.apache.spark.sql.Column): String =
    reducedAt("/root/testdata/sf0.001", table, deleted)

  test("d17 == d02 on the reduced corpus (deletion == never ingested)") {
    val sf = "/root/testdata/sf0.001"
    val dir = reducedDir("documents", graft.ops.Dedup.d17TombstonePred)
    val got = graft.ops.Dedup.d17(spark, sf).collect().map(_.toSeq).toSeq
    val want = graft.ops.Dedup.d02(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == want, s"d17 diverged from d02-on-reduced (${got.size} vs ${want.size} rows)")
    // and the tombstone slice is non-trivial at this census
    assert(graft.ops.Dedup.d17Tombstones(spark, sf).count() > 0)
  }

  test("d17 warm serve: published pair table + id-only delete scan; no raw text, no kernel, no rebuild") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Dedup.d17(spark, sf).count() // cold path publishes band + pair tables
    val pub0 = graft.core.Materialize.publishCount
    val df = graft.ops.Dedup.d17(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mat/minhash-pairs"),
      "serve must read the published pair table")
    assert(!plan.contains("MapPartitions") && !plan.contains("DeserializeToObject"),
      "warm d17 must not re-run the verify kernel")
    plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("documents.parquet")).foreach { l =>
      assert(!l.contains("text:"),
        s"deletion must never read document content:\n$l")
    }
    df.count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm d17 must not rebuild/republish anything")
  }

  test("d17 property: deletion == never ingested for ARBITRARY delete sets") {
    val s = spark
    import s.implicits._
    // the census test proves the contract at one point; pair locality
    // (pairs(corpus \ D) == pairs(corpus) \ {p : p ∩ D ≠ ∅}) is an
    // algebraic claim that must hold for ANY delete set — exercise it
    // on random corpora with duplicated-text planted pairs and random
    // deletes, comparing the anti-join serve against d02 run on a
    // corpus that never contained the deleted docs.
    val rnd = new scala.util.Random(29)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (trial <- 1 to 3) {
      val nDocs = 20 + rnd.nextInt(20)
      val texts = (0 until nDocs).map { _ =>
        Array.fill(2 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" ")
      }
      // plant guaranteed duplicates so the pair set is non-trivial
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, if (i % 5 == 4) texts(i - 1) else t)
      }
      val deleted = docs.map(_._1).filter(_ => rnd.nextInt(3) == 0).toSet
      val dir = java.nio.file.Files.createTempDirectory(s"graft-d17-prop$trial").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val tomb = deleted.toSeq.toDF("doc_id")
      val got = graft.ops.Dedup.d17Over(spark, dir, tomb)
        .collect().map(_.toSeq).toSeq
      val reduced = java.nio.file.Files.createTempDirectory(s"graft-d17-propr$trial").toString
      docs.filterNot(p => deleted(p._1)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$reduced/documents.parquet")
      val want = graft.ops.Dedup.d02(spark, reduced).collect().map(_.toSeq).toSeq
      assert(want.nonEmpty || got.isEmpty, s"trial $trial produced no reference pairs")
      assert(got == want,
        s"trial $trial: d17Over(${deleted.size} deletes) diverged (${got.size} vs ${want.size})")
    }
  }

  test("a16 == a06 on the reduced corpus (vector deletion == never indexed)") {
    val sf = "/root/testdata/sf0.001"
    val dir = reducedDir("embeddings", graft.ops.Ann.a16TombstonePred)
    val got = graft.ops.Ann.a16(spark, sf).collect().map(_.toSeq).toSeq
    val want = graft.ops.Ann.a06(spark, dir).collect().map(_.toSeq).toSeq
    assert(got == want, s"a16 diverged from a06-on-reduced (${got.size} vs ${want.size} rows)")
    assert(graft.ops.Ann.a16Tombstones(spark, sf).count() > 0)
    // the deletion must actually change the answer on this corpus —
    // otherwise the test proves nothing about exclusion
    val full = graft.ops.Ann.a06(spark, sf).collect().map(_.toSeq).toSeq
    assert(got != full, "census deletion left every top-3 unchanged — pick a different residue")
  }

  test("s11: streamed index serve == a16's deletion-aware batch serve, bit for bit") {
    val sf = "/root/testdata/sf0.001"
    // the two serving tiers must answer identically from the same live
    // index view — any drift (stale bundle, missing tombstone cut,
    // HOF-vs-join arithmetic divergence, ranking tie-break skew) shows
    // here. Round 14: the reference tier is a16, NOT a13 — the stream
    // must never answer with a deleted vector.
    val streamed = graft.streaming.Replay.s11(spark, sf).collect().map(_.toSeq).toSeq
    val batch = graft.ops.Ann.a16(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "s11 answered no probes")
    assert(streamed == batch, s"stream/batch serve drift (${streamed.size} vs ${batch.size} rows)")
    // and the deletion must be VISIBLE from the stream tier: the
    // pre-deletion serve (a13, full published index) differs on this
    // census — otherwise this test cannot distinguish live from stale
    val a13 = graft.ops.Ann.a13(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed != a13,
      "census deletion left the streamed top-3 unchanged — test has no signal")
  }

  test("a16 property: serve-after-delete == rebuild-on-reduced for ARBITRARY delete sets") {
    val s = spark
    import s.implicits._
    // index-row locality must hold for any delete set respecting the
    // codebook premise (never vec_id < IvfCentroids) — random corpora,
    // random deletes, compare against a06 on a corpus that never
    // contained the deleted vectors (d17's property, vector edition)
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 2) {
      val n = 40 + rnd.nextInt(30)
      val vecs = (0L until n.toLong).map { i =>
        (i, Array.fill(8)(rnd.nextFloat()), (i % 10).toInt)
      }
      val deleted = vecs.map(_._1)
        .filter(i => i >= graft.ops.Ann.IvfCentroids && rnd.nextInt(4) == 0).toSet
      assert(deleted.nonEmpty, s"trial $trial drew no deletes — reseed")
      val dir = java.nio.file.Files.createTempDirectory(s"graft-a16-prop$trial").toString
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val reduced = java.nio.file.Files.createTempDirectory(s"graft-a16-propr$trial").toString
      vecs.filterNot(v => deleted(v._1)).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$reduced/embeddings.parquet")
      val got = graft.ops.Ann.a16Over(spark, dir, deleted.toSeq.toDF("vec_id"))
        .collect().map(_.toSeq).toSeq
      val want = graft.ops.Ann.a06(spark, reduced).collect().map(_.toSeq).toSeq
      assert(got.nonEmpty && got == want,
        s"trial $trial: a16Over(${deleted.size} deletes) diverged (${got.size} vs ${want.size})")
    }
  }

  test("a16 warm serve: published index + pruned probe reads; no rebuild") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Ann.a13(spark, sf).count() // publish the index
    val pub0 = graft.core.Materialize.publishCount
    val df = graft.ops.Ann.a16(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mat/ivfpq"),
      "serve side must read the published index")
    plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet")).foreach { l =>
      // every embeddings read is either the probe/codebook pruned scan
      // (vec_id pushdown) or the id-only tombstone list
      assert(l.contains("LessThan(vec_id") || !l.contains("embedding:"),
        s"embeddings scan beyond probes/codebooks/tombstone-ids:\n$l")
    }
    df.count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm a16 must not rebuild/republish the index")
  }
}
