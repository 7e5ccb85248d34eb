package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-17 operational-hardening invariants (the round-16 verdict's
  * orders):
  *  - retention is a POLICY, not just a mechanism: every lifecycle
  *    cutover/append/compaction publish reaps its own line's
  *    superseded generations (pins {serving, rollback}) — a year of
  *    daily appends holds 2 generations, and prior-round residue is
  *    swept the first time a line publishes after a code change;
  *  - further round-17 tests land with their operators.
  */
class Round17OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def withMatDir[T](body: => T): T = {
    val mat = java.nio.file.Files.createTempDirectory("graft-r17-mat").toString
    spark.conf.set("spark.graft.mat.dir", mat)
    try body finally spark.conf.unset("spark.graft.mat.dir")
  }

  test("lifecycle retention policy: d17/d18/d19/d20/a17 reap their own " +
    "lines at cutover/append time — families hold {serving, rollback}, " +
    "fabricated prior-round residue is swept, re-serves bit-identical and warm") {
    withMatDir {
      val sf = "/root/testdata/sf0.001"
      val D = graft.ops.Dedup
      val A = graft.ops.Ann
      val M = graft.core.Materialize
      def rows(df: => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq).toSeq
      // first pass: the lifecycle surface end to end
      val d17B = rows(D.d17(spark, sf))
      val d18B = rows(D.d18(spark, sf))
      val d19B = rows(D.d19(spark, sf))
      val d20B = rows(D.d20(spark, sf))
      val a17B = rows(A.a17(spark, sf))
      // the policy invariant the round-16 verdict ordered: ≤2 live
      // generations per family, and they are exactly the line's
      // {serving, rollback} designations
      val expect = Map(
        graft.core.Materialize.scopedKind("minhash", sf) -> Set(D.minhashFingerprint(spark, sf),
          D.staleBandFingerprint(spark, sf)),
        graft.core.Materialize.scopedKind("minhash-append", sf) -> Set(D.appendedBandFingerprint(spark, sf)),
        graft.core.Materialize.scopedKind("minhash-chain", sf) -> Set(D.chainFingerprint(spark, sf, 1),
          D.chainFingerprint(spark, sf, 2)),
        // below the compaction threshold (census: 10% < 25%) the pair
        // line serves by anti-join: only the full table is published
        graft.core.Materialize.scopedKind("minhash-pairs", sf) -> Set(D.d02PairsFingerprint(spark, sf)),
        graft.core.Materialize.scopedKind("ivfpq", sf) -> Set(A.ivfpqFingerprint(spark, sf)))
      expect.foreach { case (kind, fps) =>
        assert(fps.size <= 2)
        assert(M.listGenerations(spark, kind).toSet == fps,
          s"family $kind after first pass")
      }
      // fabricate superseded residue in every family — the
      // prior-corpus/prior-code-salt class every recompiled round used
      // to leave on disk forever
      val s2 = spark
      import s2.implicits._
      expect.keys.foreach { kind =>
        Seq((1L, "stale")).toDF("k", "v").coalesce(1)
          .write.parquet(M.tablePath(spark, kind, "00residue"))
        // prior-round residue is OLD by definition — backdate the
        // generation dir past sweepKeep's round-18 foreign-young
        // horizon (a FRESH foreign generation is deliberately deferred:
        // it may be another live session's serving artifact)
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(M.tablePath(spark, kind, "00residue")),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 2L * 60 * 60 * 1000))
        assert(M.listGenerations(spark, kind).contains("00residue"),
          s"staged residue must register as a complete generation in $kind")
      }
      // second pass: each lifecycle owner reaps its own line at
      // publish/cutover time, serves stay bit-identical AND warm
      val pub0 = M.publishCount
      assert(rows(D.d17(spark, sf)) == d17B, "d17 re-serve != first pass")
      assert(rows(D.d18(spark, sf)) == d18B, "d18 re-serve != first pass")
      assert(rows(D.d19(spark, sf)) == d19B, "d19 re-serve != first pass")
      assert(rows(D.d20(spark, sf)) == d20B, "d20 re-serve != first pass")
      assert(rows(A.a17(spark, sf)) == a17B, "a17 re-serve != first pass")
      assert(M.publishCount == pub0,
        "the residue-reaping pass must serve warm — no republish")
      expect.foreach { case (kind, fps) =>
        assert(M.listGenerations(spark, kind).toSet == fps,
          s"family $kind must be back to its designated set (residue reaped)")
      }
    }
  }

  test("retention is corpus-local: two corpora share one root and " +
    "interleaved lifecycle runs never reap each other — the first corpus " +
    "re-serves warm after the second's cutovers swept its own families") {
    withMatDir {
      val M = graft.core.Materialize
      val D = graft.ops.Dedup
      val a = "/root/testdata/sf0.001"
      // corpus B: the same tables under a DIFFERENT path — a distinct
      // lineage (the sf0.01-vs-sf0.1 gate situation in miniature)
      val b = java.nio.file.Files.createTempDirectory("graft-r17-corpusB").toString
      for (t <- Seq("documents", "embeddings")) {
        val src = java.nio.file.Paths.get(a, s"$t.parquet")
        val dst = java.nio.file.Paths.get(b, s"$t.parquet")
        java.nio.file.Files.walk(src).forEach { p =>
          val q = dst.resolve(src.relativize(p))
          if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
          else java.nio.file.Files.copy(p, q)
        }
      }
      def rows(df: => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq).toSeq
      // lifecycle on A (publishes + sweeps A's families)
      val a17B = rows(graft.ops.Ann.a17(spark, a))
      val d20A = rows(D.d20(spark, a))
      val d19A = rows(D.d19(spark, a))
      // lifecycle on B: every cutover/append sweep runs again, now
      // pinned by B's fingerprints — pre-round-17 kind sharing would
      // reap A's serving generations right here
      rows(D.d19(spark, b)); rows(D.d20(spark, b)); rows(graft.ops.Ann.a17(spark, b))
      // A re-serves BIT-IDENTICAL and WARM: zero republishes
      val pub0 = M.publishCount
      assert(rows(D.d19(spark, a)) == d19A, "corpus A d19 changed after B's runs")
      assert(rows(D.d20(spark, a)) == d20A, "corpus A d20 changed after B's runs")
      assert(rows(graft.ops.Ann.a17(spark, a)) == a17B, "corpus A a17 changed")
      assert(M.publishCount == pub0,
        "corpus B's retention sweeps must not have reaped corpus A's " +
          "serving generations (cross-corpus reaping)")
      // and the families really are disjoint namespaces
      assert(M.scopedKind("minhash", a) != M.scopedKind("minhash", b))
      assert(M.listGenerations(spark, M.scopedKind("minhash", a)).nonEmpty)
      assert(M.listGenerations(spark, M.scopedKind("minhash", b)).nonEmpty)
    }
  }

  // ---- hot-bucket mitigation: exact-duplicate collapse (order 2) ----

  /** the round-16 census spec's corpus, promoted to a full pipeline
    * input: an exact-duplicate mega-cluster one past the bucket cap
    * (ids cover every census residue — arrivals, tombstones, appends),
    * a small tombstone-rep cluster (exercises the live relabel: the
    * cluster's min id is deleted, survivors must keep matching), and
    * distinct filler with one near-dup pair. */
  private def plantedMegaCorpus(): (String, Long) = {
    val s = spark
    import s.implicits._
    val cap = graft.ops.Dedup.hotBucketCapDocs(spark)
    val boiler = (1L to cap + 1).map(i => (i, "the quick brown fox cookie banner"))
    val tombCluster = Seq(3000003L, 3000013L, 3000023L, 3000033L)
      .map(i => (i, "terms of service apply to everything"))
    val filler = (1L to 20L).map(i => (i + 100000L, s"unique doc $i with words w$i x$i"))
    val nearDup = Seq(
      (4000001L, "alpha beta gamma delta epsilon zeta"),
      (4000011L, "alpha beta gamma delta epsilon theta"))
    val dir = java.nio.file.Files.createTempDirectory("graft-r17-mega").toString
    (boiler ++ tombCluster ++ filler ++ nearDup).toDF("doc_id", "text")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (dir, cap)
  }

  test("exact-collapse pre-pass: a mega-cluster build collapses to " +
    "representatives — candidate volume ~c not c²/2, census silent, " +
    "d02 bit-identical to the uncollapsed kernel") {
    val s = spark
    import s.implicits._
    withMatDir {
      val (dir, cap) = plantedMegaCorpus()
      val D = graft.ops.Dedup
      // the cold build must have collapsed: membership published,
      // published rows are representative-level
      val view = D.bandView(spark, dir)
      assert(view.members.isDefined, "census must trip the collapse")
      val m = view.members.get
      // cap+1 boilerplate members + 4 tombCluster members, reps 1 and 3000003
      assert(m.count() == cap + 1 + 4)
      assert(m.select(col("rep")).distinct().collect().map(_.getLong(0)).toSet ==
        Set(1L, 3000003L))
      // table is rep-level: (2 reps + 20 filler + 2 near-dups) × 8 bands
      assert(view.rows.count() == (2 + 20 + 2) * 8L)
      // candidate volume collapsed: ~tens, not c²/2 ≈ 2M
      val (_, cand) = D.d02Internals(spark, dir)
      val nCand = cand.count()
      assert(nCand < 100, s"collapsed candidate volume must be tiny, got $nCand")
      // the round-16 tripwire stays SILENT on the collapsed build
      assert(D.hotBucketWarning(spark, view.rows).isEmpty,
        "no hot bucket may survive the collapse")
      // d02 == the uncollapsed kernel, bit for bit (including the
      // c(c−1)/2 within-cluster pairs at jaccard 1.0)
      val collapsed = D.d02(spark, dir)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val reference = D.neardupPairsOver(spark,
        D.BandView(D.bandRowsFor(spark, docs), None))
      assert(collapsed.count() == (cap + 1) * cap / 2 + 4 * 3 / 2 + 1,
        "cluster pairs + tomb-cluster pairs + one filler near-dup pair")
      assert(collapsed.exceptAll(reference).count() == 0L &&
        reference.exceptAll(collapsed).count() == 0L,
        "collapsed d02 must equal the uncollapsed kernel exactly")
    }
  }

  test("exact-collapse: d16 batch admission and s14 streaming admission " +
    "over the collapsed corpus equal the uncollapsed kernel (tombstoned " +
    "rep relabeled to a surviving member)") {
    val s = spark
    import s.implicits._
    withMatDir {
      val (dir, _) = plantedMegaCorpus()
      val D = graft.ops.Dedup
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val mod = D.IncrementalMod
      // reference: the admission kernel over an UNCOLLAPSED member-level
      // corpus view (live minus the arrival residue), fresh-signed
      val arrivals = docs.where(col("doc_id") % mod === D.IncrementalRem)
      val corpusDocs = docs.where(col("doc_id") % mod =!= D.IncrementalRem &&
        col("doc_id") % mod =!= D.TombstoneRem)
      val reference = D.admissionReportOver(spark,
        D.bandRowsFor(spark, arrivals),
        D.BandView(D.bandRowsFor(spark, corpusDocs), None))
      val refRows = reference.collect().map(_.toSeq).toSeq
      assert(refRows.nonEmpty)
      // the boilerplate arrivals must be rejected with n_dups = the
      // LIVE member count of their cluster — the tombstoned members
      // must not count, and (in the collapsed run) the tombstoned REP
      // of the small cluster must have been relabeled, not dropped
      val got = D.d16(spark, dir).collect().map(_.toSeq).toSeq
      assert(got == refRows, "collapsed d16 must equal the uncollapsed kernel")
      // the streaming admission tier: same answer through the real
      // engine (rep-level pair-key dedup state, expansion at read-back)
      val s14Rows = graft.streaming.Replay.s14(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(s14Rows == refRows, "collapsed s14 must equal the uncollapsed kernel")
      // the scale claim, quantified: the in-stream dedup state holds
      // REPRESENTATIVE-level pair keys — ~1 per (arrival, cluster),
      // not ~|live members| per arrival (the ~200 boilerplate arrivals
      // would hold ~320k member-level keys; rep-level is ~220)
      val state = graft.streaming.Replay.lastStateRows
      assert(state > 0 && state < 5000,
        s"collapsed s14 state must be representative-level, got $state keys")
    }
  }

  test("exact-collapse through the lifecycle: d14 recall, d17 deletion " +
    "serve, d18 append admission and d20 chain admission on the collapsed " +
    "corpus all equal the uncollapsed kernels") {
    val s = spark
    import s.implicits._
    withMatDir {
      val (dir, _) = plantedMegaCorpus()
      val D = graft.ops.Dedup
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().map(_.toSeq).toSeq
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val mod = D.IncrementalMod
      val live = docs.where(col("doc_id") % mod =!= D.TombstoneRem)
      def memberView(ds: org.apache.spark.sql.DataFrame): D.BandView =
        D.BandView(D.bandRowsFor(spark, ds), None)
      assert(D.bandView(spark, dir).members.isDefined, "census must trip")

      // d14: the recall instrument grades the collapsed live view through
      // the membership re-inflation — same report as over member-level rows
      assert(rows(D.d14(spark, dir)) ==
        rows(D.d14Over(spark, dir, D.bandRowsFor(spark, live))),
        "collapsed d14 != uncollapsed instrument")

      // d17: deletion serve == d02 on the reduced corpus (the pair table
      // was published document-level by the collapsed kernel)
      val d17Ref = D.neardupPairsOver(spark, memberView(live))
        .orderBy("doc_a", "doc_b")
      val d17Got = D.d17(spark, dir)
      assert(d17Got.exceptAll(d17Ref).count() == 0L &&
        d17Ref.exceptAll(d17Got).count() == 0L,
        "collapsed d17 != d02 over the reduced corpus")

      // d18: day-2 admission over the appended artifact == the kernel over
      // an uncollapsed rebuild of standing + day-1 admitted
      val standingDocs = live.where(col("doc_id") % mod =!= D.IncrementalRem &&
        col("doc_id") % mod =!= D.AppendRem)
      val day1Docs = docs.where(col("doc_id") % mod === D.IncrementalRem)
      val admitted1 = day1Docs.join(
        D.admissionReportOver(spark, D.bandRowsFor(spark, day1Docs),
            memberView(standingDocs))
          .where(col("admit") === 1L).select(col("new_doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      val day2Docs = docs.where(col("doc_id") % mod === D.AppendRem)
      val d18Ref = D.admissionReportOver(spark, D.bandRowsFor(spark, day2Docs),
        memberView(standingDocs.unionByName(admitted1)))
      assert(rows(D.d18(spark, dir)) == rows(d18Ref),
        "collapsed d18 != uncollapsed append-rebuild admission")

      // d20: day-3 admission over the twice-appended chain == the kernel
      // over an uncollapsed rebuild of the 3-day timeline
      val chainStanding = D.ChainDays.foldLeft(live) { (ds, r) =>
        ds.where(col("doc_id") % mod =!= r)
      }
      val folded = D.ChainDays.dropRight(1).foldLeft(chainStanding) { (corpus, day) =>
        val dayDocs = docs.where(col("doc_id") % mod === day)
        corpus.unionByName(dayDocs.join(
          D.admissionReportOver(spark, D.bandRowsFor(spark, dayDocs),
              memberView(corpus))
            .where(col("admit") === 1L).select(col("new_doc_id").as("doc_id")),
          Seq("doc_id"), "left_semi"))
      }
      val day3Docs = docs.where(col("doc_id") % mod === D.ChainDays.last)
      val d20Ref = D.admissionReportOver(spark,
        D.bandRowsFor(spark, day3Docs), memberView(folded))
      assert(rows(D.d20(spark, dir)) == rows(d20Ref),
        "collapsed d20 != uncollapsed chain-rebuild admission")

      // and the retention layout holds on the pathological corpus too:
      // the collapsed families still end at their designated sets
      assert(graft.core.Materialize.listGenerations(spark, graft.core.Materialize.scopedKind("minhash-chain", dir))
        .toSet == Set(D.chainFingerprint(spark, dir, 1),
          D.chainFingerprint(spark, dir, 2)))
      assert(graft.core.Materialize.listGenerations(spark, graft.core.Materialize.scopedKind("minhash-members", dir)) ==
        Seq(D.minhashFingerprint(spark, dir)))
    }
  }

  test("exact-collapse at the flagging tier: s06's streaming flags over " +
    "the collapsed corpus equal the batch reference (which re-inflates " +
    "members), across a micro-batch split") {
    import graft.streaming.StreamNearDup
    import graft.streaming.StreamNearDup.DocIn
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    withMatDir {
      val (dir, _) = plantedMegaCorpus()
      val D = graft.ops.Dedup
      assert(D.bandView(spark, dir).members.isDefined, "census must trip")
      // the streaming tier signs every LIVE arrival individually — the
      // batch reference reads the collapsed artifact and must re-inflate
      val docs = graft.core.Tables.documents(spark, dir)
        .where(col("doc_id") % D.IncrementalMod =!= D.TombstoneRem)
        .select(col("doc_id"), col("text")).as[DocIn]
        .collect().sortBy(_.doc_id)
      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocIn]
      val qName = s"r17s6_${System.nanoTime()}"
      val q = StreamNearDup.flags(stream.toDS()).toDF()
        .writeStream.format("memory").queryName(qName)
        .outputMode("append").start()
      val (a, b) = docs.splitAt(docs.length / 2)
      stream.addData(a.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(b.toIndexedSeq)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table(qName)
        .select("doc_id", "band", "dup_of")
        .collect().map(_.toString).sorted
      val batch = StreamNearDup.batchFlags(spark, dir)
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty && streamed.length == batch.length,
        s"flag counts differ: streamed ${streamed.length} batch ${batch.length}")
      assert(streamed.sameElements(batch),
        "collapsed batch reference != streaming flags")
    }
  }

  test("property: random duplicate-cluster corpora under a tiny collapse " +
    "cap — d02 and d16 on the collapsed build equal the uncollapsed " +
    "kernels, across seeds") {
    val s = spark
    import s.implicits._
    // spark.graft.dedup.hotBucketCapDocs steers only which
    // REPRESENTATION a cold build publishes — the property under test
    // is that the answer is invariant to it
    spark.conf.set("spark.graft.dedup.hotBucketCapDocs", "3")
    try {
      val D = graft.ops.Dedup
      val rnd = new scala.util.Random(1701)
      val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
        "eta", "theta", "iota", "kappa", "lambda", "mu")
      for (trial <- 1 to 5) {
        withMatDir {
          // 6-10 distinct texts; each cloned into a cluster of 1..8 docs
          // (at least one cluster past the cap of 3); ids spread across
          // every census residue so tombstoned/arrival members arise
          val nTexts = 6 + rnd.nextInt(5)
          var nextId = 0L
          val docs = (0 until nTexts).flatMap { t =>
            val text = Array.fill(3 + rnd.nextInt(5))(
              words(rnd.nextInt(words.length))).mkString(" ")
            val size = if (t == 0) 4 + rnd.nextInt(5) else 1 + rnd.nextInt(8)
            (0 until size).map { _ =>
              nextId += 1 + rnd.nextInt(3)
              (nextId, text)
            }
          }
          val dir = java.nio.file.Files
            .createTempDirectory(s"graft-r17-prop$trial").toString
          docs.toDF("doc_id", "text").coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          val docsDF = spark.read.parquet(s"$dir/documents.parquet")
          assert(D.bandView(spark, dir).members.isDefined,
            s"trial $trial: the cap-3 census must trip (cluster >= 4 planted)")
          // d02 == uncollapsed kernel
          val got = D.d02(spark, dir)
          val ref = D.neardupPairsOver(spark,
            D.BandView(D.bandRowsFor(spark, docsDF), None))
          assert(got.exceptAll(ref).count() == 0L &&
            ref.exceptAll(got).count() == 0L,
            s"trial $trial: collapsed d02 != uncollapsed kernel")
          // d16 == uncollapsed admission
          val mod = D.IncrementalMod
          val arrivals = docsDF.where(col("doc_id") % mod === D.IncrementalRem)
          val corpusDocs = docsDF.where(col("doc_id") % mod =!= D.IncrementalRem &&
            col("doc_id") % mod =!= D.TombstoneRem)
          val refAdm = D.admissionReportOver(spark,
            D.bandRowsFor(spark, arrivals),
            D.BandView(D.bandRowsFor(spark, corpusDocs), None))
            .collect().map(_.toSeq).toSeq
          val gotAdm = D.d16(spark, dir).collect().map(_.toSeq).toSeq
          assert(gotAdm == refAdm,
            s"trial $trial: collapsed d16 != uncollapsed admission")
        }
      }
    } finally spark.conf.unset("spark.graft.dedup.hotBucketCapDocs")
  }

  // ---- s14 delivery contract: read-back idempotence (order 6) ----

  test("s14 report read-back is idempotent on the pair key: at-least-once " +
    "redelivery of a drained pair cannot inflate n_dups") {
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    // arrival ids exist in the census residue; the drained relation is
    // what an at-least-once source would leave after a cross-batch
    // redelivery: the same verified pair landed twice
    val pairs = Seq((7L, 2L, 0.8), (17L, 2L, 0.8), (17L, 4L, 0.6))
      .toDF("ni", "ci", "jac")
    val once = graft.streaming.Replay.s14Report(spark, sf, pairs, None)
      .collect().map(_.toSeq).toSeq
    val redelivered = graft.streaming.Replay
      .s14Report(spark, sf, pairs.unionAll(pairs), None)
      .collect().map(_.toSeq).toSeq
    assert(once == redelivered,
      "duplicated drained pairs must not change the admission report")
    // and the n_dups the report carries is the DISTINCT pair count
    val n17 = once.find(_.head == 17L).get
    assert(n17(1) == 2L, s"n_dups must be 2 for doc 17, got $n17")
  }
}
