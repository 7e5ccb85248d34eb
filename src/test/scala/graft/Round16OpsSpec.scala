package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-16 operational-hardening invariants (the round-15 verdict's
  * orders — retention, bounded streaming state, the multi-day append
  * chain, deletion-aware retrain):
  *  - s14's pair-key dedup state is WATERMARK-BOUNDED: a multi-pass
  *    drain with wall-clock gaps past the delay evicts old passes'
  *    keys (state tracks the in-flight window, not arrival history)
  *    while the drained output stays the exact distinct set;
  *  - further tests land with their operators in this round.
  */
class Round16OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  // ---- retention: the generation sweep (Materialize.retentionSweep) ----

  private def withMatDir[T](body: => T): T = {
    val mat = java.nio.file.Files.createTempDirectory("graft-r16-mat").toString
    spark.conf.set("spark.graft.mat.dir", mat)
    try body finally spark.conf.unset("spark.graft.mat.dir")
  }

  test("retention sweep on the real minhash families: the kind-per-line " +
    "layout holds, a manual sweep ages out the chain rollback, pins survive " +
    "byte-untouched, post-sweep serves bit-identical and warm") {
    withMatDir {
      val sf = "/root/testdata/sf0.001"
      // stage the lines: default (d02's band table) + stale (d19's
      // gen 1) in the banding line, chain generations 1 and 2 (d20) in
      // the chain line
      def d02Rows() = graft.ops.Dedup.d02(spark, sf).collect().map(_.toSeq).toSeq
      def d20Rows() = graft.ops.Dedup.d20(spark, sf).collect().map(_.toSeq).toSeq
      val d02Before = d02Rows()
      graft.ops.Dedup.staleBandTable(spark, sf).count()
      val d20Before = d20Rows()
      // the round-17 layout: each lifecycle line owns its kind, so a
      // line's sweep can never reap another line's serving artifact
      assert(graft.core.Materialize.listGenerations(spark, graft.core.Materialize.scopedKind("minhash", sf)).toSet ==
        Set(graft.ops.Dedup.minhashFingerprint(spark, sf),
          graft.ops.Dedup.staleBandFingerprint(spark, sf)),
        "the banding line must hold exactly {serving, rollback}")
      val chain1 = graft.ops.Dedup.chainFingerprint(spark, sf, 1)
      val chain2 = graft.ops.Dedup.chainFingerprint(spark, sf, 2)
      assert(graft.core.Materialize.listGenerations(spark, graft.core.Materialize.scopedKind("minhash-chain", sf)).toSet ==
        Set(chain1, chain2),
        "the chain line must hold exactly {serving, rollback} after d20's own sweep")
      // a manual policy decision on top: the chain rollback's retention
      // window lapses — age it out, pin the serving generation
      val (retained, swept) =
        graft.core.Materialize.retentionSweep(spark, graft.core.Materialize.scopedKind("minhash-chain", sf), Set(chain2))
      assert(retained == Seq(chain2) && swept == Seq(chain1),
        s"retained=$retained swept=$swept")
      // post-sweep serves from the pins: bit-identical AND warm — the
      // sweep neither touched the pinned bytes nor forced a republish
      // (d20's warm serve reads ONLY the serving chain generation)
      val pub0 = graft.core.Materialize.publishCount
      assert(d02Rows() == d02Before, "post-sweep d02 serve != pre-sweep")
      assert(d20Rows() == d20Before, "post-sweep d20 serve != pre-sweep")
      assert(graft.core.Materialize.publishCount == pub0,
        "post-sweep serves must stay warm — a republish means a pin was damaged")
    }
  }

  test("publish: re-publishing a complete key defers (files bit-untouched " +
    "under live readers); incomplete residue is replaced; marker is stamped " +
    "at the destination") {
    val s = spark
    import s.implicits._
    withMatDir {
      val kind = "pubguard"
      def fileStatuses(fp: String) = {
        val root = new java.io.File(
          graft.core.Materialize.tablePath(spark, kind, fp))
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(root).map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
      }
      // first publish: completes with the marker AT the destination
      val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      graft.core.Materialize.publish(spark, kind, "fpA")(df)
      assert(graft.core.Materialize.exists(spark, kind, "fpA"))
      val before = fileStatuses("fpA")
      assert(before.exists(_._1.endsWith("_SUCCESS")))
      // re-publish of the same (complete) key: the compute runs, the
      // swap does not — every file byte-untouched (same paths, lengths,
      // mtimes), so a reader mid-scan of the key never loses a file
      val pub0 = graft.core.Materialize.publishCount
      Thread.sleep(1100) // ensure a swap WOULD move mtimes
      graft.core.Materialize.publish(spark, kind, "fpA")(df)
      assert(graft.core.Materialize.publishCount == pub0 + 1,
        "the deferred publish still counts (its compute ran)")
      assert(fileStatuses("fpA") == before,
        "re-publish of a complete key must not touch its files")
      // incomplete residue (no _SUCCESS — e.g. a crash between rename
      // and marker) is refused by exists() and REPLACED by publish
      val resDir = new java.io.File(
        graft.core.Materialize.tablePath(spark, kind, "fpB"))
      resDir.mkdirs()
      java.nio.file.Files.write(new java.io.File(resDir, "junk").toPath,
        "partial".getBytes("UTF-8"))
      assert(!graft.core.Materialize.exists(spark, kind, "fpB"))
      graft.core.Materialize.publish(spark, kind, "fpB")(df)
      assert(graft.core.Materialize.exists(spark, kind, "fpB"))
      assert(!new java.io.File(resDir, "junk").exists(),
        "the incomplete residue must have been replaced wholesale")
      assert(spark.read.parquet(resDir.getPath).count() == 2L)
    }
  }

  test("fingerprint: per-JVM listing cache is stable and byte-compatible; " +
    "clear() re-reads the tree") {
    val s = spark
    import s.implicits._
    val dir = writeDocs(Seq((1L, "alpha"), (2L, "beta")), "fpcache")
    val salt = "testsalt"
    val fp1 = graft.core.Materialize.fingerprint(dir, "documents", "algoX", salt)
    assert(fp1 == graft.core.Materialize.fingerprint(dir, "documents", "algoX", salt),
      "same input+algo must fingerprint identically")
    assert(fp1 != graft.core.Materialize.fingerprint(dir, "documents", "algoY", salt),
      "the algo descriptor must still enter the key")
    // round 18: an in-place rewrite re-keys IMMEDIATELY — the cache
    // hit is guarded by a root-status freshness probe (Spark's
    // overwrite recreates the table dir, moving its status), so the
    // lifecycle operators that follow an upstream rewrite need no
    // manual fingerprintCacheClear() and the TTL silent-stale window
    // is closed
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(fp1 != graft.core.Materialize.fingerprint(dir, "documents", "algoX", salt),
      "an in-place rewrite must re-key WITHOUT a manual cache clear")
  }

  test("retention sweep on the real ivfpq family: rollback generation aged " +
    "out, serving pin survives, a13/a16 serves bit-identical and warm, and a " +
    "post-sweep rollback serve self-heals via readOrCompute") {
    withMatDir {
      val sf = "/root/testdata/sf0.001"
      def a13Rows() = graft.ops.Ann.a13(spark, sf).collect().map(_.toSeq).toSeq
      def a16Rows() = graft.ops.Ann.a16(spark, sf).collect().map(_.toSeq).toSeq
      // stage the family's generations: the stale (rollback) index a17's
      // world leaves behind, and the retrained serving index (a13's
      // default build fingerprint — a17's cutover target)
      val staleBefore = graft.ops.Ann.a17StaleServe(spark, sf)
        .collect().map(_.toSeq).toSeq
      val a13Before = a13Rows()
      val a16Before = a16Rows()
      val servingFp = graft.ops.Ann.ivfpqFingerprint(spark, sf)
      val staleFp = graft.ops.Ann.a17StaleFingerprint(spark, sf)
      assert(graft.core.Materialize.listGenerations(spark, graft.core.Materialize.scopedKind("ivfpq", sf)).toSet ==
        Set(servingFp, staleFp), "expected exactly {serving, rollback} staged")
      // the policy ages the rollback out once its retention window
      // passes; the serving pin survives
      val (retained, swept) =
        graft.core.Materialize.retentionSweep(spark, graft.core.Materialize.scopedKind("ivfpq", sf), Set(servingFp))
      assert(retained == Seq(servingFp) && swept == Seq(staleFp),
        s"retained=$retained swept=$swept")
      // serves over the pinned generation: bit-identical AND warm
      val pub0 = graft.core.Materialize.publishCount
      assert(a13Rows() == a13Before, "post-sweep a13 serve != pre-sweep")
      assert(a16Rows() == a16Before, "post-sweep a16 serve != pre-sweep")
      assert(graft.core.Materialize.publishCount == pub0,
        "post-sweep serves must stay warm — a republish means the pin was damaged")
      // a consumer that reads the SWEPT generation self-heals: the
      // rollback serve rebuilds it through readOrCompute (one republish,
      // bit-identical answer) — a sweep can cost a rebuild, never
      // corruption or an error. (a17's own gate path never reads the
      // stale generation at census scale: its trigger is a census
      // count and the census always fires the retrain.)
      val staleAfter = graft.ops.Ann.a17StaleServe(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(staleAfter == staleBefore,
        "post-sweep rollback serve != pre-sweep (self-heal rebuilt differently)")
      assert(graft.core.Materialize.publishCount == pub0 + 1,
        "the self-heal must be exactly one republish of the swept generation")
    }
  }

  test("retention privacy property: zero tombstoned rows on disk in any " +
    "retained generation after the g01 cycle, random corpora") {
    val s = spark
    import s.implicits._
    withMatDir {
      val rnd = new scala.util.Random(1601)
      val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
        "eta", "theta", "iota", "kappa")
      val mod = graft.ops.Dedup.IncrementalMod
      for (trial <- 1 to 3) {
        val nDocs = 20 + rnd.nextInt(20)
        val docs = (0 until nDocs).map { i =>
          (i.toLong,
            Array.fill(2 + rnd.nextInt(4))(words(rnd.nextInt(words.length))).mkString(" "))
        }
        val dir = writeDocs(docs, s"ret-priv$trial")
        val tombIds = docs.map(_._1)
          .filter(_ % mod == graft.ops.Dedup.TombstoneRem)
        val report = graft.ops.Governance.g01(spark, dir).collect()
          .map(r => r.getString(1) -> (r.getLong(3), r.getLong(5), r.getLong(7)))
          .toMap // role -> (retained, tomb_before, tomb_after)
        // the full generations RETAINED deleted docs' rows before the
        // sweep (the leak the sweep exists to stop) — and are gone after
        assert(report("superseded-full-8x2") ==
          ((0L, 8L * tombIds.size, 0L)), s"trial $trial: ${report.toSeq}")
        assert(report("superseded-full-4x4") ==
          ((0L, 4L * tombIds.size, 0L)), s"trial $trial: ${report.toSeq}")
        for (tag <- Seq("full-8x2", "full-4x4"))
          assert(!graft.core.Materialize.exists(spark,
            graft.core.Materialize.scopedKind(graft.ops.Governance.Kind, dir), graft.ops.Governance.fp(dir, tag)),
            s"trial $trial: superseded generation $tag still on disk")
        // the privacy claim verified ON DISK, not from the report: no
        // retained generation of this corpus holds a tombstoned doc's rows
        for (tag <- Seq("live-8x2", "live-4x4")) {
          val t = spark.read.parquet(graft.core.Materialize.tablePath(
            spark, graft.core.Materialize.scopedKind(graft.ops.Governance.Kind, dir), graft.ops.Governance.fp(dir, tag)))
          val leaked =
            if (tombIds.isEmpty) 0L
            else t.where(col("i").isin(tombIds: _*)).count()
          assert(leaked == 0L,
            s"trial $trial: $leaked tombstoned rows retained in $tag")
        }
      }
    }
  }

  test("retention sweep guards: empty pins refused; pins always survive " +
    "random pin subsets; in-progress temps untouched") {
    val s = spark
    import s.implicits._
    withMatDir {
      val kind = "guard"
      val fps = (1 to 5).map(i => s"fp$i")
      def ensureAll(): Unit = fps.foreach { f =>
        graft.core.Materialize.readOrCompute(spark, kind, f)(
          Seq((1L, f)).toDF("k", "v"))
      }
      ensureAll()
      intercept[IllegalArgumentException] {
        graft.core.Materialize.retentionSweep(spark, kind, Set.empty)
      }
      assert(graft.core.Materialize.listGenerations(spark, kind).size == 5,
        "the refused sweep must not have deleted anything")
      // ALL-STALE pins (the round-10 class: fingerprints recomputed
      // after a corpus regen name nothing on disk) must be refused too
      // — they are the empty-pin trap in a syntactically-valid coat
      intercept[IllegalArgumentException] {
        graft.core.Materialize.retentionSweep(spark, kind,
          Set("stale-a", "stale-b"))
      }
      assert(graft.core.Materialize.listGenerations(spark, kind).size == 5,
        "the all-stale-pins sweep must not have deleted anything")
      // a MIXED set (one published pin + stale intents) stays allowed
      locally {
        val (retained, swept) = graft.core.Materialize.retentionSweep(
          spark, kind, Set("fp1", "stale-rollback-intent"))
        assert(retained == Seq("fp1") && swept.toSet == fps.toSet - "fp1")
      }
      ensureAll()
      // a live writer's temp dir must never be touched
      val inprog = new java.io.File(new java.io.File(
        graft.core.Materialize.tablePath(spark, kind, "fp1")).getParent,
        "fp9.inprogress-123-456")
      inprog.mkdirs()
      java.nio.file.Files.write(new java.io.File(inprog, "part-0").toPath,
        "x".getBytes("UTF-8"))
      val rnd = new scala.util.Random(1602)
      for (trial <- 1 to 3) {
        ensureAll()
        val pins = fps.filter(_ => rnd.nextBoolean()).toSet + fps(rnd.nextInt(5))
        val (retained, swept) =
          graft.core.Materialize.retentionSweep(spark, kind, pins)
        assert(retained.toSet == pins, s"trial $trial: $retained vs $pins")
        assert(swept.toSet == fps.toSet -- pins, s"trial $trial: $swept")
        assert(inprog.exists() && new java.io.File(inprog, "part-0").exists(),
          s"trial $trial: the sweep touched a live writer's temp dir")
        // idempotence: re-running the sweep with the same pins is a
        // no-op (retained unchanged, nothing left to delete) — a retry
        // after a partial failure or a double-fired retention job is safe
        val (retained2, swept2) =
          graft.core.Materialize.retentionSweep(spark, kind, pins)
        assert(retained2.toSet == pins && swept2.isEmpty,
          s"trial $trial: re-sweep not a no-op: $retained2 / $swept2")
      }
    }
  }

  // ---- d20: the multi-day append chain ----

  private def writeDocs(rows: Seq[(Long, String)], tag: String): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-r16-$tag").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("chain induction property: generation k == band rebuild on " +
    "standing + all admitted through day k, random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(1600)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val mod = graft.ops.Dedup.IncrementalMod
    val days = graft.ops.Dedup.ChainDays
    for (trial <- 1 to 2) {
      val nDocs = 24 + rnd.nextInt(12)
      // contiguous ids populate every census residue: standing, all
      // three arrival days, tombstones
      val docs = (0 until nDocs).map { i =>
        (i.toLong,
          Array.fill(2 + rnd.nextInt(4))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val dir = writeDocs(docs, s"chain-prop$trial")
      // admitted day sets, from the SAME per-day reports the chain folds
      val admittedByDay = (1 to days.size).map { k =>
        graft.ops.Dedup.chainDayReport(spark, dir, k)
          .where(col("admit") === 1L)
          .collect().map(_.getLong(0)).toSet
      }
      for (k <- 1 until days.size) {
        val got = graft.ops.Dedup.chainArtifact(spark, dir, k)
          .select(col("i"), col("band"), col("sig"), col("n"),
            concat_ws(",", col("toks")).as("t"))
          .collect().map(_.toSeq).toSet
        // the corpus a never-incremental pipeline would have signed by
        // the end of day k: standing (no chain day, no tombstone) plus
        // every admitted arrival through day k
        val keep = docs.map(_._1).filter { id =>
          val r = id % mod
          val dayIx = days.indexOf(r)
          if (r == graft.ops.Dedup.TombstoneRem) false
          else if (dayIx < 0) true
          else dayIx < k && admittedByDay(dayIx).contains(id)
        }.toSet
        val rdir = writeDocs(docs.filter(d => keep.contains(d._1)),
          s"chain-prop$trial-re$k")
        val rebuilt = graft.ops.Dedup.bandTable(spark, rdir)
          .select(col("i"), col("band"), col("sig"), col("n"),
            concat_ws(",", col("toks")).as("t"))
          .collect().map(_.toSeq).toSet
        assert(got.nonEmpty && got == rebuilt,
          s"trial $trial gen $k: chain artifact != rebuild on " +
            s"standing+admitted(1..$k) (${got.size} vs ${rebuilt.size} rows)")
      }
    }
  }

  test("planted 3-day chain: day-3 vs day-2 admitted/rejected, day-1 " +
    "admitted, standing, and tombstoned evidence") {
    // the round-15 append plant extended one day: standing {1,2},
    // tombstoned {3}, day1 {17 admitted, 27 rejected-dup-of-2},
    // day2 {19 rejected-dup-of-17, 29 admitted-dup-of-tombstoned,
    // 39 admitted}, day3 (residue 5) {15 dup of day-2 ADMITTED 39,
    // 25 dup of day-2 admitted 29, 35 dup of day-1 REJECTED 27 (its
    // standing near-dup 2 is the evidence instead; also jac-0.5 of 39),
    // 45 unique}. Band collisions for 35/2 and 35/39 are inherited
    // from the round-15 plant's offline-verified md5 chain (35 carries
    // 27's exact text; 27/2 and 27/39 collide).
    val dir = writeDocs(Seq(
      1L -> "alpha solo text one",
      2L -> "apple bran cedar dune",
      3L -> "tomb gone removed text",
      17L -> "delta epsilon zeta eta",
      27L -> "apple bran cedar dune echo fern",
      19L -> "delta epsilon zeta eta",
      29L -> "tomb gone removed text",
      39L -> "cedar dune echo fern grove hazel",
      15L -> "cedar dune echo fern grove hazel",
      25L -> "tomb gone removed text",
      35L -> "apple bran cedar dune echo fern",
      45L -> "quill rune sable tundra"), "chain-plant")
    def admittedOn(day: Int): Set[Long] =
      graft.ops.Dedup.chainDayReport(spark, dir, day)
        .where(col("admit") === 1L).collect().map(_.getLong(0)).toSet
    // signal guards: the first two days replay the round-15 plant
    assert(admittedOn(1) == Set(17L),
      s"planted day-1 admission drifted: ${admittedOn(1)}")
    assert(admittedOn(2) == Set(29L, 39L),
      s"planted day-2 admission drifted: ${admittedOn(2)}")
    val rows = graft.ops.Dedup.d20(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .toSeq.sortBy(_._1)
    // 15 rejected against the day-2 APPENDED doc 39 (generation 2 is
    // live); 25 rejected against 29 — which itself duplicated a
    // TOMBSTONED doc and was admitted (takedowns don't block, but the
    // admitted copy then does); 35 rejected on its STANDING near-dup 2
    // with n_dups 2 (the 39 pair verifies at jac 0.5) — its day-1
    // twin 27 was rejected and is NOT evidence; 45 admitted.
    assert(rows == Seq(
      (15L, 1L, 39L, 0L),
      (25L, 1L, 29L, 0L),
      (35L, 2L, 2L, 0L),
      (45L, 0L, -1L, 1L)),
      s"day-3 admission over the chain artifact wrong: $rows")
  }

  test("warm d20: one published generation-2 scan, day-3 signing only — " +
    "no earlier-day re-signing, no republish, no LeftAnti") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Dedup.d20(spark, sf).count() // publishes the chain if cold
    val pub0 = graft.core.Materialize.publishCount
    val warm = graft.ops.Dedup.d20(spark, sf)
    warm.count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm d20 must not republish any chain generation")
    val plan = warm.queryExecution.executedPlan.toString
    val mod = graft.ops.Dedup.IncrementalMod
    assert(plan.contains("graft_mat/minhash"),
      "warm d20 must scan the published chain artifact")
    assert(!plan.contains(s"% $mod) = ${graft.ops.Dedup.IncrementalRem}"),
      s"warm d20 re-signed day 1:\n$plan")
    assert(!plan.contains(s"% $mod) = ${graft.ops.Dedup.AppendRem}"),
      s"warm d20 re-signed day 2:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"warm d20 must read the chain artifact, not a live-view anti-join:\n$plan")
    assert(plan.contains(s"% $mod) = ${graft.ops.Dedup.Append2Rem}"),
      "warm d20 lost the day-3 arrival pushdown — test lost its signal")
  }

  // ---- a17 ∘ deletion: retrain on the reduced corpus ----

  /** a world that never ingested the deleted vectors: the embeddings
    * table rewritten without them, in a temp dir the Tables loader
    * reads like any corpus. */
  private def reducedEmbAt(src: String, deleted: Set[Long]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r16-emb").toString
    spark.read.parquet(s"$src/embeddings.parquet")
      .where(!col("vec_id").isin(deleted.toSeq: _*))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("a17 ∘ tombstones == retrain on the reduced corpus, for arbitrary " +
    "delete sets INCLUDING codebook rows; deleted vectors absent from " +
    "training and the rebuilt index") {
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    val allIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val deletable = allIds.filter(_ >= 10) // probes (<10) are the query
    // workload, not corpus rows — a17RetrainOver's documented premise
    val rnd = new scala.util.Random(16)
    val defaultCb = allIds.take(graft.ops.Ann.IvfCentroids)
    val codebookDel = deletable.take(3).toSet // hits DEFAULT codebook ids
    assert(codebookDel.exists(defaultCb.contains),
      "plant drifted: the codebook-deleting set must hit a default codebook row")
    val sets: Seq[Set[Long]] =
      codebookDel +: Seq.fill(2)(rnd.shuffle(deletable).take(25).toSet)
    val none = spark.range(0).select(col("id").as("vec_id"))
    for (del <- sets) {
      val tomb = del.toSeq.toDF("vec_id")
      // training exclusion: no deleted id can be selected as a codebook
      val ids = graft.ops.Ann.a17LiveCodebookIds(spark, sf, tomb)
      assert(ids.toSet.intersect(del).isEmpty,
        s"a deleted vector was selected as a codebook row: $del")
      // artifact exclusion: no deleted row, no deleted id as a coarse
      // cluster target, no deleted id as a PQ code target
      val idx = graft.ops.Ann.a17RetrainIndexOver(spark, sf, tomb, ids).collect()
      assert(idx.nonEmpty)
      assert(idx.forall(r => !del.contains(r.getAs[Long]("vec_id"))),
        "a deleted vector's encoding entered the rebuilt index")
      assert(idx.map(_.getAs[Long]("cluster")).toSet.subsetOf(ids.toSet),
        "a cluster target outside the live codebook")
      val pqIds = ids.take(graft.ops.Ann.PqCentroids).toSet
      assert(idx.map(_.getAs[Number]("code").longValue).toSet.subsetOf(pqIds),
        "a PQ code target outside the live PQ codebook")
      // the served answer == the retrain run in a world that never
      // ingested the deleted vectors (deletion == never-ingested, the
      // d17/a16 contract, now closed for the retrain path too)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val got = keyed(graft.ops.Ann.a17RetrainOver(spark, sf, tomb))
      val reduced = reducedEmbAt(sf, del)
      val want = keyed(graft.ops.Ann.a17RetrainOver(spark, reduced, none))
      assert(got == want,
        s"retrain-after-delete != retrain-on-reduced for delete set of ${del.size}")
    }
    // non-vacuity: the codebook-deleting set actually changed the model
    assert(graft.ops.Ann.a17LiveCodebookIds(spark, sf,
      codebookDel.toSeq.toDF("vec_id")) != defaultCb,
      "the codebook-deleting set should force different trained codebooks")
  }

  // ---- s14: pair-key dedup state is watermark-bounded ----

  private def writePairFeed(feedDir: String, tag: String,
                            pairs: Seq[(Long, Long)]): Unit = {
    val s = spark
    import s.implicits._
    // each pair written TWICE — the multi-band-collision repeat the
    // dedup exists to cut; repeats live in one file = one micro-batch,
    // the exact shape s14's doc-local band rows guarantee. Appended
    // flat into the feed dir (the s12 feed convention): each pass's
    // part file is the new arrival the next drain picks up.
    val _ = tag
    (pairs ++ pairs).toDF("ni", "ci").coalesce(1)
      .write.mode("append").parquet(feedDir)
  }

  test("s14 dedup state is watermark-bounded: old passes' keys evicted, " +
    "output stays the exact distinct set") {
    val feedRoot = java.nio.file.Files.createTempDirectory("graft-r16-s14feed").toString
    val base = java.nio.file.Files.createTempDirectory("graft-r16-s14base").toString
    val feedDir = s"$feedRoot/feed"
    new java.io.File(feedDir).mkdirs()

    // pass 1: 400 pairs (each duplicated in-file)
    val p1 = (1L to 400L).map(i => (i, i + 100000L))
    writePairFeed(feedDir, "p1", p1)
    val (out1, state1) = graft.streaming.Replay.s14DedupDrain(spark, feedDir, base)
    assert(out1.count() === 400L, "pass-1 drain must emit each pair once")
    assert(state1 >= 400L, "pass-1 state holds the in-flight pass's keys")

    // pass 2, after the 10 s delay has elapsed in wall-clock: 50 new keys
    Thread.sleep(12000)
    writePairFeed(feedDir, "p2", (1L to 50L).map(i => (i + 1000L, i + 200000L)))
    val (out2, _) = graft.streaming.Replay.s14DedupDrain(spark, feedDir, base)
    assert(out2.count() === 450L, "pass-2 drain adds exactly the 50 new pairs")

    // pass 3, another gap: 10 new keys. By now pass-1's batch timestamp
    // is > 20 s behind the watermark — its 400 keys must have LEFT the
    // state store. A bare dropDuplicates would report >= 460 here.
    Thread.sleep(12000)
    writePairFeed(feedDir, "p3", (1L to 10L).map(i => (i + 2000L, i + 300000L)))
    val (out3, state3) = graft.streaming.Replay.s14DedupDrain(spark, feedDir, base)
    assert(out3.count() === 460L, "pass-3 drain adds exactly the 10 new pairs")
    assert(state3 >= 0L, "stateful operator must report state rows")
    assert(state3 < 400L,
      s"state after pass 3 must exclude pass-1's 400 evicted keys " +
        s"(in-flight window, not history); got $state3")

    // the drained set is still exact: no pair lost, no pair doubled
    val distinctOut = out3.select("ni", "ci").distinct().count()
    assert(distinctOut === 460L && out3.count() === distinctOut,
      "bounding the state must not change the drained distinct set")
  }

  // ---- corpus-pathology hardening: hot buckets, null text, d01 key ----

  test("hot-bucket census: an exact-duplicate mega-cluster over the cap " +
    "fires the warning from real signatures; a distinct corpus stays silent") {
    import spark.implicits._
    val cap = graft.ops.Dedup.hotBucketCapDocs(spark)
    assert(cap === 2000L, "cap is sqrt(JaccardPairBudget) = sqrt(4e6)")

    // (cap+1) exact duplicates: identical text => identical MinHash in
    // EVERY band => all 8 buckets hold cap+1 docs, and the size-ratio
    // prune is powerless (equal token counts). Plus distinct filler.
    val boiler = (1L to cap + 1).map(i => (i, "the quick brown fox cookie banner"))
    val filler = (1L to 20L).map(i => (i + 100000L, s"unique doc $i with words w$i x$i"))
    val hot = graft.ops.Dedup.bandRowsFor(spark, (boiler ++ filler).toDF("doc_id", "text"))
    val warn = graft.ops.Dedup.hotBucketWarning(spark, hot)
    assert(warn.isDefined, "over-cap bucket must warn")
    assert(warn.get.contains("8 LSH bucket(s)"),
      s"all 8 bands of the duplicate cluster are hot: ${warn.get}")
    assert(warn.get.contains(s"holds ${cap + 1} docs"), warn.get)

    // below the cap (exactly cap duplicates): silent — the budget holds.
    val atCap = graft.ops.Dedup.bandRowsFor(spark,
      (1L to cap).map(i => (i, "the quick brown fox cookie banner")).toDF("doc_id", "text"))
    assert(graft.ops.Dedup.hotBucketWarning(spark, atCap).isEmpty,
      "a bucket at exactly the cap is within the pair budget")
  }

  test("null-text tolerance: a malformed row is dropped by the signature " +
    "kernel, not an NPE; remaining docs sign identically") {
    import spark.implicits._
    val dirty = Seq((1L, "alpha beta gamma"), (2L, null: String),
      (3L, "delta epsilon zeta"), (4L, null: String)).toDF("doc_id", "text")
    val clean = dirty.where(col("text").isNotNull)
    val fromDirty = graft.ops.Dedup.bandRowsFor(spark, dirty)
      .select("i", "band", "sig", "n").collect().toSet
    val fromClean = graft.ops.Dedup.bandRowsFor(spark, clean)
      .select("i", "band", "sig", "n").collect().toSet
    assert(fromDirty === fromClean,
      "null-text rows must vanish; surviving docs' signatures unchanged")
    assert(!fromDirty.exists(r => r.getLong(0) == 2L || r.getLong(0) == 4L))
  }

  test("d01 over a 16-byte hash key: duplicates, uniques, and NULL text " +
    "count exactly as COUNT(DISTINCT text)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-r16-d01").toString
    Seq((1L, "x", "web"), (2L, "x", "web"), (3L, "y", "web"),
      (4L, null: String, "web"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val r = graft.ops.Dedup.d01(spark, d).head()
    // COUNT(*) = 4; COUNT(DISTINCT md5(text)) = 2 — NULL hashes to NULL
    // and stays excluded, exactly like the raw column in the oracle.
    assert(r.getLong(0) === 4L && r.getLong(1) === 2L && r.getLong(2) === 2L,
      s"got $r")
  }
}
