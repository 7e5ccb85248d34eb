package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-15 composition invariants — deletion reaches the CLUSTER
  * artifacts (the last quadrant the round-14 verdict named):
  *  - every cluster-derived report (d07/d09/d10/d13/p09) composed with
  *    d17's tombstones equals the same report on a corpus that never
  *    ingested the deleted docs;
  *  - the label artifact is the one family an id-only anti-join CANNOT
  *    serve: a deleted BRIDGE doc must split its cluster, and deleting
  *    a cluster's min-id doc must not leak the deleted id as the
  *    survivors' label — the planted corpus exercises both against the
  *    component repair, and pins that the naive anti-join answer is
  *    wrong (the reason the repair exists);
  *  - the d03 pair artifact gets the d17 treatment: an anti-join serve
  *    over the published table (plan-pinned).
  *
  * The planted texts' simhash relations (ham(A,B)=5, ham(B,C)=4,
  * ham(A,C)=9 > HammingMax, ham(D,E)=4, fillers > 6 from everything)
  * were searched offline against the exact md5 voting chain; a
  * signal-guard assertion re-derives the pair set so a kernel change
  * that invalidates the plant fails loudly, not silently.
  */
class Round15OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def reducedAt(src: String, table: String,
                        deleted: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-r15-$table").toString
    spark.read.parquet(s"$src/$table.parquet")
      .where(!deleted)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  // ids: 1=A, 3=B (tombstoned BRIDGE), 7=C, 13=D (tombstoned cluster
  // min), 24=E, 41 + fillers = far singletons. Full-corpus d03 pairs:
  // (1,3), (3,7), (13,24) and nothing else.
  private val plantedDocs: Seq[(Long, String)] = Seq(
    1L -> ("w373 w416 w280 w377 w167 w232 w355 w014 w390 w026 w328 w094 " +
      "w322 w227 w405 w069 w001 w205 w102 w321"),
    3L -> ("w373 w416 w280 w377 w156 w232 w355 w014 w390 w026 w294 w094 " +
      "w322 w160 w042 w069 w001 w205 w102 w321"),
    7L -> ("w373 w416 w264 w377 w156 w232 w355 w014 w390 w026 w294 w094 " +
      "w322 w160 w042 w127 w001 w080 w102 w056"),
    13L -> ("w060 w114 w365 w104 w097 w484 w441 w416 w400 w136 w147 w382 " +
      "w253 w195 w066 w220 w438 w105 w307 w110"),
    24L -> ("w060 w114 w365 w104 w097 w372 w421 w416 w400 w136 w147 w382 " +
      "w253 w144 w066 w220 w438 w105 w307 w110"),
    41L -> ("w209 w405 w074 w014 w148 w499 w134 w120 w316 w230 w464 w127 " +
      "w189 w298 w350 w331 w234 w043 w005 w240"))

  private val fillerDocs: Seq[(Long, String)] = Seq(
    51L -> ("w068 w446 w165 w498 w354 w203 w351 w108 w365 w196 w362 w216 " +
      "w376 w305 w131 w037 w048 w285 w030 w026"),
    61L -> ("w170 w476 w120 w241 w465 w181 w310 w480 w343 w495 w410 w306 " +
      "w363 w383 w414 w023 w002 w129 w258 w317"),
    71L -> ("w195 w154 w202 w343 w189 w067 w495 w456 w286 w021 w297 w091 " +
      "w133 w086 w257 w252 w476 w173 w449 w239"),
    81L -> ("w067 w045 w162 w363 w271 w221 w072 w133 w059 w160 w022 w065 " +
      "w255 w446 w498 w427 w143 w382 w184 w474"))

  private def writeDocs(rows: Seq[(Long, String)], tag: String): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-r15-$tag").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bridge deletion SPLITS the cluster; min-id deletion relabels — anti-join would keep both wrong") {
    // 10 docs, 2 tombstoned -> 0.2 < threshold: anti-join pair serve
    val dir = writeDocs(plantedDocs ++ fillerDocs, "bridge")
    // signal-guard: the planted pair structure is exactly as searched
    val pairs = graft.ops.Dedup.d03(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (3L, 7L), (13L, 24L)),
      s"planted pair structure drifted — test lost its signal: $pairs")
    val live = graft.ops.Dedup.d07(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = live.map(r => r._1 -> r._2).toMap
    // tombstoned docs gone from the report
    assert(!byDoc.contains(3L) && !byDoc.contains(13L),
      s"deleted docs leaked into d07: $live")
    // bridge gone -> 1 and 7 are separate singleton clusters
    assert(byDoc(1L) == 1L && byDoc(7L) == 7L,
      s"deleting the bridge doc must split the cluster: $live")
    assert(live.collect { case (d, _, n) if d == 1L || d == 7L => n }.forall(_ == 1L))
    // min-id doc gone -> survivor labels ITSELF, not the deleted id
    assert(byDoc(24L) == 24L,
      s"survivor must not carry the deleted min-id as label: $live")
    // ...and the naive anti-join over the full label table gets BOTH
    // wrong (merged bridge cluster, leaked deleted label) — the reason
    // the live view is a component repair, not an anti-join
    val full = graft.ops.Dedup.connectedComponents(spark,
      spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id")),
      graft.ops.Dedup.d03(spark, dir).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(full(7L) == 1L && full(24L) == 13L,
      "full-corpus labels lost their bridge/min-id structure — test lost its signal")
    // d07's pair-serve plan: anti-join over the published pair artifact
    val pairPlan = graft.ops.Dedup.liveD03Pairs(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pairPlan.contains("LeftAnti") && pairPlan.contains("graft_mat/pairs"),
      "sub-threshold live pair view must anti-join the published artifact")
  }

  test("cluster reports ∘ d17 == reports on a corpus that never ingested the deleted docs (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val reduced = reducedAt(sf, "documents", graft.ops.Dedup.d17TombstonePred)
    def rows(f: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             d: String): Seq[Seq[Any]] =
      f(spark, d).collect().map(_.toSeq).toSeq
    for ((name, f) <- Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "d07" -> graft.ops.Dedup.d07,
      "d09" -> graft.ops.Dedup.d09,
      "d10" -> graft.ops.Dedup.d10,
      "d13" -> graft.ops.Dedup.d13,
      "p09" -> graft.ops.Pipeline.p09)) {
      val got = rows(f, sf)
      val want = rows(f, reduced)
      assert(got.nonEmpty, s"$name: empty report — census constants drifted")
      assert(got == want,
        s"$name over tombstones diverged from $name-on-reduced " +
          s"(${got.size} vs ${want.size} rows)")
    }
  }

  test("band append semantics: day-2 vs admitted/rejected/tombstoned day-1 (planted)") {
    // standing {1,2}, tombstoned {3}, day-1 {17 unique -> admitted,
    // 27 dup-of-2 -> rejected}, day-2 {19 dup-of-17, 29 dup-of-3,
    // 39 jac-0.5-of-27 / jac-0.25-of-2}. Band collisions verified
    // offline against the md5 chain (27/39 and 2/39 share band 1; the
    // 2/39 candidate dies at the exact verify).
    val dir = writeDocs(Seq(
      1L -> "alpha solo text one",
      2L -> "apple bran cedar dune",
      3L -> "tomb gone removed text",
      17L -> "delta epsilon zeta eta",
      27L -> "apple bran cedar dune echo fern",
      19L -> "delta epsilon zeta eta",
      29L -> "tomb gone removed text",
      39L -> "cedar dune echo fern grove hazel"), "append")
    // signal-guard: day-1 admission inside the d18 timeline is as planted
    val admitted = graft.ops.Dedup.d18Day1AdmittedIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(17L),
      s"planted day-1 admission drifted — test lost its signal: $admitted")
    val rows = graft.ops.Dedup.d18(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq.sortBy(_._1)
    // 19 rejected AGAINST THE APPENDED day-1 doc (the append is live);
    // 29 admitted though it duplicates a tombstoned doc (takedowns do
    // not block re-ingestion); 39 admitted because day-1 REJECTED docs
    // are not folded into the artifact (their standing near-dup is the
    // evidence, and 39 is not a near-dup of it).
    assert(rows == Seq((19L, 17L, 0L), (29L, -1L, 1L), (39L, -1L, 1L)),
      s"day-2 admission over the appended artifact wrong: $rows")
  }

  test("band append == band table rebuilt on corpus+admitted, row for row (sf0.001)") {
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    val mod = graft.ops.Dedup.IncrementalMod
    val appended = graft.ops.Dedup.appendedBandTable(spark, sf)
      .select(col("i"), col("band"), col("sig"), col("n"),
        concat_ws(",", col("toks")).as("t"))
      .collect().map(_.toSeq).toSet
    // the corpus a never-incremental pipeline would have signed: live
    // standing docs + day-1 admitted docs, as a plain documents table
    val admitted = graft.ops.Dedup.d18Day1AdmittedIds(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") % mod =!= graft.ops.Dedup.IncrementalRem &&
        col("doc_id") % mod =!= graft.ops.Dedup.AppendRem &&
        col("doc_id") % mod =!= graft.ops.Dedup.TombstoneRem)
      .unionByName(spark.read.parquet(s"$sf/documents.parquet")
        .join(admitted, Seq("doc_id"), "left_semi"))
    val dir = java.nio.file.Files.createTempDirectory("graft-r15-rebuild").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rebuilt = graft.ops.Dedup.bandTable(spark, dir)
      .select(col("i"), col("band"), col("sig"), col("n"),
        concat_ws(",", col("toks")).as("t"))
      .collect().map(_.toSeq).toSet
    assert(appended.nonEmpty && appended == rebuilt,
      s"appended band artifact != rebuild-on-(corpus+admitted): " +
        s"${appended.size} vs ${rebuilt.size} rows")
  }

  test("warm d18: served from the published appended artifact — no republish, one arrival signing pass") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Dedup.d18(spark, sf).count() // publishes if cold
    val pub0 = graft.core.Materialize.publishCount
    val warm = graft.ops.Dedup.d18(spark, sf)
    warm.count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm d18 must not republish the appended artifact")
    val plan = warm.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mat/minhash"),
      "warm d18 must scan the published appended artifact")
    // the only raw-text pass is the day-2 arrival signing: the day-1
    // batch predicate appearing anywhere means day-1 admission re-ran
    // inside the serve, and a LeftAnti means the corpus side regressed
    // from the appended artifact to the live-view anti-join.
    val mod = graft.ops.Dedup.IncrementalMod
    assert(!plan.contains(s"% $mod) = ${graft.ops.Dedup.IncrementalRem}"),
      s"warm d18 re-signed the day-1 batch:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"warm d18 must read the appended artifact, not the live-view anti-join:\n$plan")
    assert(plan.contains(s"% $mod) = ${graft.ops.Dedup.AppendRem}"),
      "warm d18 lost the day-2 arrival pushdown — test lost its signal")
  }

  test("d19 trigger has signal: stale 4x4 recall < floor < retuned 8x2 recall (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    def recallOf(view: org.apache.spark.sql.DataFrame): Double =
      graft.ops.Dedup.d14Over(spark, sf, view)
        .select(col("recall")).head().getDouble(0)
    val stale = recallOf(graft.ops.Dedup.staleLiveBands(spark, sf))
    val retuned = recallOf(graft.ops.Dedup.liveBandTable(spark, sf))
    val floor = graft.ops.Dedup.RetuneRecallThreshold
    assert(stale < floor && floor < retuned,
      s"retune trigger lost its signal: stale=$stale floor=$floor retuned=$retuned")
  }

  test("d19 cutover: retune fires on the census corpus; serve == d14's default-banding report, gen 2") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Dedup.d19(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(4) == 2L && r.getLong(5) == 8L && r.getLong(6) == 2L,
      s"census corpus must cut over to the default 8x2 banding: ${r.toSeq}")
    val d14 = graft.ops.Dedup.d14(spark, sf).collect().head.toSeq
    assert(r.toSeq.take(4) == d14,
      "the cutover serve must be the DEFAULT artifact's recall report " +
        s"(every consumer flips at the same fingerprint): ${r.toSeq} vs $d14")
    // rollback stays addressable: distinct fingerprints per generation
    assert(graft.ops.Dedup.staleBandFingerprint(spark, sf) !=
      graft.ops.Dedup.minhashFingerprint(spark, sf))
    // warm: both generations published; repeat serves nothing new
    val pub0 = graft.core.Materialize.publishCount
    graft.ops.Dedup.d19(spark, sf).count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm d19 must serve both generations from published artifacts")
  }

  test("d19 below the floor: a corpus whose near-dups are exact keeps the stale generation (gen 1)") {
    // exact duplicates collide under ANY banding (identical signature
    // vectors), so the stale 4x4 generation's measured recall is 1.0
    // and the retrain must NOT fire — a17's gen-1 doctrine: refresh
    // only when the monitor says the tuning is failing.
    val dir = writeDocs(Seq(
      1L -> "same text exactly here",
      2L -> "same text exactly here",
      4L -> "other words entirely different",
      5L -> "yet another unrelated document",
      6L -> "more filler prose unlike others"), "d19below")
    val rows = graft.ops.Dedup.d19(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getDouble(3) == 1.0 && r.getLong(4) == 1L &&
      r.getLong(5) == 4L && r.getLong(6) == 4L,
      s"no-regression corpus must keep serving the stale generation: ${r.toSeq}")
  }

  test("s12 two-stage drain: the served pair state flips as tombstones flow through the engine") {
    val s = spark
    import s.implicits._
    val dir = writeDocs(plantedDocs ++ fillerDocs, "s12feed")
    def pairsOf(tomb: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      graft.ops.Dedup.d17Over(spark, dir, tomb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pre-drain probe: nothing deleted yet — the full published pairs
    val none = spark.range(0).select(col("id").as("doc_id"))
    assert(pairsOf(none) == Set((1L, 3L), (3L, 7L), (13L, 24L)),
      "pre-drain serve must be the full pair set — plant drifted")
    val feedDir = java.nio.file.Files.createTempDirectory("graft-s12-feed").toString
    val base = java.nio.file.Files.createTempDirectory("graft-s12-run").toString
    // takedown event 1 arrives: doc 3 (the bridge)
    Seq(3L).toDF("doc_id").write.mode("append").parquet(feedDir)
    val drained1 = graft.streaming.Replay.s12DrainInto(spark, feedDir, base)
    assert(drained1.collect().map(_.getLong(0)).toSet == Set(3L))
    assert(pairsOf(drained1) == Set((13L, 24L)),
      "mid-stream serve must reflect exactly the drained takedowns")
    // takedown event 2 arrives: doc 13 — same checkpoint, drains only
    // the new file; the cumulative sink is the full census delete set
    Seq(13L).toDF("doc_id").write.mode("append").parquet(feedDir)
    val drained2 = graft.streaming.Replay.s12DrainInto(spark, feedDir, base)
    assert(drained2.collect().map(_.getLong(0)).toSet == Set(3L, 13L))
    val served = pairsOf(drained2)
    assert(served.isEmpty, s"post-drain serve must drop all tombstone pairs: $served")
    // ...and equals the census batch serve bit-for-bit (the gate contract)
    val batch = graft.ops.Dedup.d17(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == batch, "post-drain streaming serve != batch deletion serve")
  }

  test("label repair property: liveLabelsOver == union-find on the reduced graph, for random corpora and ARBITRARY delete sets") {
    val s = spark
    import s.implicits._
    // the repair's exactness claim is algebraic (components of the
    // reduced graph = untouched components + re-labelled touched
    // subgraphs), so it must hold for ANY delete set — not just the
    // census residue the gate entry uses. Random short-doc corpora
    // over a small word pool produce dense simhash pair graphs with
    // real bridges and min-id deletions; the reference is an
    // independent driver union-find over the reduced pair graph.
    val rnd = new scala.util.Random(271)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (trial <- 1 to 4) {
      val nDocs = 16 + rnd.nextInt(16)
      val docs = (0 until nDocs).map { i =>
        (i.toLong * 7 + 1,
          Array.fill(2 + rnd.nextInt(5))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft-lab-prop$trial").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val ids = docs.map(_._1)
      val del = ids.filter(_ => rnd.nextDouble() < 0.3).toSet
      val tomb = del.toSeq.toDF("doc_id")
      val live = graft.ops.Dedup.liveLabelsOver(spark, dir, tomb,
          graft.ops.Dedup.liveD03PairsOver(spark, dir, tomb))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // independent reference: union-find over the reduced pair graph
      val pairs = graft.ops.Dedup.d03(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => !del.contains(a) && !del.contains(b) }
      val keep = ids.filterNot(del.contains)
      val parent = scala.collection.mutable.Map(keep.map(d => d -> d): _*)
      def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val want = keep.groupBy(find).flatMap { case (_, ms) =>
        val lbl = ms.min; ms.map(_ -> lbl)
      }.toMap
      assert(live == want,
        s"trial $trial (delete $del): repair diverged from reduced-graph union-find\n" +
          s"got  $live\nwant $want")
    }
  }

  test("append == rebuild property over random corpora (admission-dependent composition)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(911)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (trial <- 1 to 2) {
      val nDocs = 20 + rnd.nextInt(12)
      // ids spread across all census residues so standing/day1/day2/
      // tombstone slices are all populated
      val docs = (0 until nDocs).map { i =>
        (i.toLong,
          Array.fill(2 + rnd.nextInt(4))(words(rnd.nextInt(words.length))).mkString(" "))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft-app-prop$trial").toString
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val mod = graft.ops.Dedup.IncrementalMod
      val admitted = graft.ops.Dedup.d18Day1AdmittedIds(spark, dir)
        .collect().map(_.getLong(0)).toSet
      val appended = graft.ops.Dedup.appendedBandTable(spark, dir)
        .select(col("i"), col("band"), col("sig"), col("n"))
        .collect().map(_.toSeq).toSet
      val keepIds = docs.map(_._1).filter(id =>
        (id % mod != graft.ops.Dedup.IncrementalRem ||
          admitted.contains(id)) &&
          id % mod != graft.ops.Dedup.AppendRem &&
          id % mod != graft.ops.Dedup.TombstoneRem).toSet
      val rdir = java.nio.file.Files.createTempDirectory(s"graft-app-propr$trial").toString
      docs.filter(d => keepIds.contains(d._1)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$rdir/documents.parquet")
      val rebuilt = graft.ops.Dedup.bandTable(spark, rdir)
        .select(col("i"), col("band"), col("sig"), col("n"))
        .collect().map(_.toSeq).toSet
      assert(appended.nonEmpty && appended == rebuilt,
        s"trial $trial: appended artifact != rebuild on corpus+admitted " +
          s"(${appended.size} vs ${rebuilt.size} rows; admitted=$admitted)")
    }
  }

  test("s13: the served ANN top-3 flips from a13's answer to a16's as the tombstone feed drains") {
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    // pre-drain: nothing deleted — the serve over an empty drained
    // relation IS a13's published-index answer
    val none = spark.range(0).select(col("id").as("vec_id"))
    val pre = graft.ops.Ann.a16Over(spark, sf, none).collect().map(_.toSeq).toSeq
    val a13 = graft.ops.Ann.a13(spark, sf).collect().map(_.toSeq).toSeq
    assert(pre == a13, "pre-drain serve must equal the undeleted a13 answer")
    // post-drain: the gate entry's own drain — equals a16's batch serve
    val post = graft.streaming.Replay.s13(spark, sf).collect().map(_.toSeq).toSeq
    val a16 = graft.ops.Ann.a16(spark, sf).collect().map(_.toSeq).toSeq
    assert(post == a16, "post-drain serve must equal a16's batch deletion serve")
    // and the feed has signal: the deletion visibly changes the answer
    assert(pre != post,
      "census deletion must change the served top-3 — the feed has no signal")
  }

  test("s14: streaming admission == d16's nightly batch answer, bit for bit") {
    val sf = "/root/testdata/sf0.001"
    val stream = graft.streaming.Replay.s14(spark, sf).collect().map(_.toSeq).toSeq
    val batch = graft.ops.Dedup.d16(spark, sf).collect().map(_.toSeq).toSeq
    assert(stream.nonEmpty && stream == batch,
      s"ingest-tier admission diverged from the batch answer " +
        s"(${stream.size} vs ${batch.size} rows)")
    // signal: the arrival batch contains both admitted and rejected docs
    val admits = stream.map(_.last.asInstanceOf[Long]).toSet
    assert(admits == Set(0L, 1L),
      "census arrival batch should exercise both admission outcomes")
  }

  test("live label artifact is published once; warm reports read it without re-clustering") {
    val sf = "/root/testdata/sf0.001"
    graft.ops.Dedup.d07(spark, sf).count() // fresh publish of both label artifacts
    val pub0 = graft.core.Materialize.publishCount
    graft.ops.Dedup.d09(spark, sf).count()
    graft.ops.Dedup.d13(spark, sf).count()
    assert(graft.core.Materialize.publishCount == pub0,
      "warm cluster reports must consume the published live label table")
    val plan = graft.ops.Dedup.d09(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("graft_mat/labels"),
      "d09 must serve labels from the published artifact")
  }
}
