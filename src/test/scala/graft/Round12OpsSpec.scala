package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-12 consolidation invariants:
  *  - p09 reports a source even when dedup removes ALL its docs (the
  *    left-join fix — the inner join silently dropped exactly the most
  *    duplicate-heavy case);
  *  - a13's warm serve path reads only the published index + the
  *    pre-filtered probe/codebook rows, never a corpus-wide
  *    embeddings scan;
  *  - the published MinHash band table serves d02/d14/s06's batch
  *    reference with keys identical to the in-stream kernel.
  */
class Round12OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("p09 keeps a fully-deduplicated source in the report with zeroed columns") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 share identical text -> same SimHash fingerprint ->
    // one cluster; canonical = longest, tie -> MIN doc_id = 1. Source
    // srcB's only doc (2) is removed entirely by dedup; srcC pads the
    // corpus with singletons so the mixing math has >1 surviving source.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "srcA"),
      (2L, "alpha beta gamma delta epsilon zeta", "srcB"),
      (3L, "one two three four five six seven", "srcC"),
      (4L, "eight nine ten eleven twelve thirteen", "srcC"))
    val dir = java.nio.file.Files.createTempDirectory("graft-p09-zero").toString
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.ops.Pipeline.p09(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out.keySet == Set("srcA", "srcB", "srcC"))
    val (db, tb, dd, td, ds, ts) = out("srcB")
    assert(db == 1L && tb == 6L, "before-columns must still count the removed docs")
    assert(dd == 0L && td == 0L && ds == 0L && ts == 0L,
      "a fully-deduplicated source reports zeros, not a dropped row")
    assert(out("srcA") == ((1L, 6L, 1L, 6L, out("srcA")._5, out("srcA")._6)))
  }

  test("a13 warm serve plan scans embeddings only under a vec_id pushdown") {
    // build/publish the index (cold path), then check the SERVE plan:
    // every FileScan of embeddings.parquet must carry the probe-side
    // vec_id pushdown — the corpus-wide quantize/persist that round
    // 11's advice flagged would show as an unfiltered embeddings scan.
    val sf = "/root/testdata/sf0.001"
    val df = graft.ops.Ann.a13(spark, sf)
    df.count() // force build+publish so the serve plan is the warm one
    val plan = graft.ops.Ann.a13(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("embeddings.parquet")).toSeq
    assert(scans.nonEmpty, "serve plan reads no embeddings at all? plan changed shape")
    scans.foreach { l =>
      assert(l.contains("LessThan(vec_id"),
        s"embeddings scan without the probe-side vec_id pushdown:\n$l")
    }
  }

  test("m05 decoded path: patch means match an independent per-pixel reference; lossless re-encode invariant") {
    import java.awt.image.BufferedImage
    val (w, h) = (37, 29) // not multiples of 16: exercises ragged block bounds
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = (x * 7 + y * 13) % 256
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    def enc(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      out.toByteArray
    }
    // independent reference: per-patch means from raw pixels, computed
    // here without calling the production tile/patch functions. Gray
    // pixels make luma exact (299g+587g+114g = 1000g -> g).
    val T = graft.ops.Multimodal.TileW
    val P = graft.ops.Multimodal.PatchSide
    val G = graft.ops.Multimodal.PatchGrid
    def cellMean(r: Int, c: Int): Long = {
      val y0 = r * h / T; val y1 = math.min(math.max((r + 1) * h / T, y0 + 1), h)
      val x0 = c * w / T; val x1 = math.min(math.max((c + 1) * w / T, x0 + 1), w)
      var num = 0L
      for (y <- y0 until y1; x <- x0 until x1)
        num += 1000L * ((x * 7 + y * 13) % 256)
      num / (1000L * (y1 - y0) * (x1 - x0))
    }
    val refMeans = (0 until G * G).map { p =>
      val sums = for (i <- 0 until P * P) yield
        cellMean((p / G) * P + i / P, (p % G) * P + i % P)
      sums.sum / (P * P)
    }
    val viaPng = graft.ops.Multimodal.patchMedia(enc("png"))
    assert(viaPng.patch_means == refMeans.mkString(","),
      "decoded-path patch means diverge from the per-pixel reference")
    assert(viaPng.n_rows == h.toLong, "real path reports source pixel rows")
    // PNG and BMP are both lossless: the decode->tile->patch composition
    // must be invariant to container re-encoding
    assert(viaPng == graft.ops.Multimodal.patchMedia(enc("bmp")),
      "patch extraction not invariant under lossless re-encode")
  }

  test("published band table == the in-stream kernel's keys (s06 equivalence root)") {
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    val fromTable = graft.ops.Dedup.bandTable(spark, sf)
      .select($"i", $"band", $"sig").as[(Long, Int, Long)].collect().toSet
    val fromKernel = graft.streaming.StreamNearDup.bandRows(
        graft.core.Tables.documents(spark, sf)
          .select($"doc_id", $"text").as[graft.streaming.StreamNearDup.DocIn])
      .collect().map(r => (r.doc_id, r.band, r.key)).toSet
    assert(fromTable == fromKernel,
      "published signatures diverged from the streaming kernel's keys")
  }

  test("a14: every neighbor carries the probe's label, and pre-filtering beats post-filtering") {
    val sf = "/root/testdata/sf0.001"
    val s = spark
    import s.implicits._
    val labels = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"label".cast("long")).as[(Long, Long)]
      .collect().toMap
    val a14 = graft.ops.Ann.a14(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // the metadata contract: every returned neighbor satisfies the
    // predicate, and the reported label is the probe's own
    a14.foreach { case (p, _, n, lab) =>
      assert(labels(p) == lab, s"probe $p: reported label $lab != ${labels(p)}")
      assert(labels(n) == lab, s"probe $p: neighbor $n has label ${labels(n)}, want $lab")
    }
    // the reason pre-filtering exists: post-filtering a13's unfiltered
    // top-3 loses rows wherever the true neighbors are label-diverse,
    // while a14 back-fills them from deeper admissible candidates.
    // Post-filter can never BEAT a14; the strict inequality is asserted
    // only when the fixture actually exhibits diversity (so a corpus
    // regeneration with label-pure neighborhoods degrades this check
    // instead of flaking it).
    val a13Rows = graft.ops.Ann.a13(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val a13Post = a13Rows.count { case (p, n) => labels(p) == labels(n) }
    assert(a13Post <= a14.length)
    val diverse = a13Rows.exists { case (p, n) => labels(p) != labels(n) }
    val fullLists = a14.groupBy(_._1).forall(_._2.length == 3)
    if (diverse && fullLists)
      assert(a13Post < a14.length,
        s"post-filter kept $a13Post rows vs a14's ${a14.length} despite label-diverse top-3s")
  }

  test("d16 warm plan reads raw documents once (arrival batch) — corpus side is the published table") {
    // the incremental contract, pinned structurally like a13's serve
    // plan: exactly ONE FileScan of documents.parquet (the arrival
    // batch, which the fresh signature kernel genuinely needs), and at
    // least one scan rooted in the published band table; a second
    // documents scan means some consumer fell back to re-deriving
    // corpus signatures from raw text.
    val sf = "/root/testdata/sf0.001"
    graft.ops.Dedup.d02(spark, sf).count() // publish the band table (warm path)
    val plan = graft.ops.Dedup.d16(spark, sf)
      .queryExecution.executedPlan.toString
    // textual occurrences of the raw documents scan repeat (the
    // persisted arrival-band plan is dumped once per consumer), but
    // every one must be the SAME 2-column arrival read — a corpus-side
    // fallback to raw text would show as a scan with a different
    // column set; execution materializes the cached plan once.
    val docScans = plan.linesIterator.toSeq
      .filter(l => l.contains("FileScan") && l.contains("documents.parquet"))
    assert(docScans.nonEmpty, "d16 must read the arrival batch from raw documents")
    docScans.foreach { l =>
      // tolerant of plan-print format and column order (the round-12
      // advice item): every documents scan is either the 2-column
      // arrival read or (round 14) the id-only tombstone list — never
      // corpus text, never the other columns (lang/source/n_chars)
      assert(l.contains("doc_id:bigint"),
        s"documents scan without doc_id:\n$l")
      assert(!l.contains("lang:") && !l.contains("source:") && !l.contains("n_chars:"),
        s"documents scan beyond the arrival/tombstone reads:\n$l")
    }
    assert(docScans.exists(l => l.contains("text:string")),
      "the arrival batch must be read from raw documents (2-column scan)")
    assert(docScans.exists(l => !l.contains("text:string")),
      "the tombstone list must be an id-only scan (no text)")
    assert(plan.contains("InMemoryTableScan"),
      "arrival bands must be computed once and served from the cache")
    assert(plan.contains("graft_mat/minhash"),
      "corpus side must read the published band table")
  }

  test("a15: shard encode against frozen codebooks == the rebuild's rows; serve == a06") {
    val sf = "/root/testdata/sf0.001"
    // append-equals-rebuild: the arrival-time encode must reproduce the
    // full build's rows for the shard EXACTLY — any divergence is the
    // incremental-index corruption class (same contract d16 pins for
    // dedup signatures)
    val fromAppend = graft.ops.Ann.a15ShardRows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    graft.ops.Ann.a13(spark, sf).count() // ensure the rebuild is published
    val full = graft.core.Materialize.readOrCompute(spark, graft.core.Materialize.scopedKind("ivfpq", sf),
      graft.ops.Ann.ivfpqFingerprint(spark, sf))(
      fail("published by the a13 call above — compute must not run"))
    val shardOfFull = full.where(graft.ops.Ann.a15ShardPred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(fromAppend.nonEmpty, "census shard is empty — split constants drifted")
    assert(fromAppend == shardOfFull,
      "arrival-time encode diverged from the published rebuild rows")
    // and the served answer is a06's bit-for-bit
    val a15Rows = graft.ops.Ann.a15(spark, sf).collect().toSeq
    val a06Rows = graft.ops.Ann.a06(spark, sf).collect().toSeq
    assert(a15Rows.map(_.toSeq) == a06Rows.map(_.toSeq))
  }

  test("d16 degenerate splits: empty arrival batch and empty corpus both well-formed") {
    val s = spark
    import s.implicits._
    // no doc_id % 10 == 7 -> empty arrival: the report has zero rows
    // (one row PER ARRIVAL DOC is the contract), no exception
    val noArrival = java.nio.file.Files.createTempDirectory("graft-d16-noarr").toString
    Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$noArrival/documents.parquet")
    assert(graft.ops.Dedup.d16(spark, noArrival).count() == 0L)
    // ALL docs in the arrival -> empty standing corpus: every arrival
    // doc admitted (n_dups 0, best -1, admit 1)
    val allArrival = java.nio.file.Files.createTempDirectory("graft-d16-allarr").toString
    Seq((7L, "a b c"), (17L, "a b c"), (27L, "x y z"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$allArrival/documents.parquet")
    val rows = graft.ops.Dedup.d16(spark, allArrival).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(rows.toSeq == Seq((7L, 0L, -1L, 1L), (17L, 0L, -1L, 1L), (27L, 0L, -1L, 1L)),
      s"batch-internal dups must NOT count (docs 7/17 are copies): ${rows.toSeq}")
  }

  test("a15 degenerate shard: corpus of codebook rows only -> append is a no-op, serve == a06") {
    val s = spark
    import s.implicits._
    // 16 vectors, all vec_id < IvfCentroids -> the census shard is
    // empty by the frozen-codebook premise; a15 must serve exactly a06
    val dir = java.nio.file.Files.createTempDirectory("graft-a15-deg").toString
    val rnd = new scala.util.Random(7)
    (0L until 16L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat()), (i % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(graft.ops.Ann.a15ShardRows(spark, dir).count() == 0L)
    val a15 = graft.ops.Ann.a15(spark, dir).collect().map(_.toSeq)
    val a06 = graft.ops.Ann.a06(spark, dir).collect().map(_.toSeq)
    assert(a15.nonEmpty && a15.sameElements(a06))
  }

  test("s10: attributed slice == s03's inner join; unattributed slice covers the rest") {
    val sf = "/root/testdata/sf0.001"
    val inner = graft.streaming.Replay.s03(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet // (user, pid, cid)
    val outer = graft.streaming.Replay.s10(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    val matched = outer.filter(_._4 == 1L).map(t => (t._1, t._2, t._3)).toSet
    assert(matched == inner,
      "outer join's attributed rows must be exactly the inner join's matches")
    val unmatchedPids = outer.filter(_._4 == 0L).map(_._2).toSet
    assert(outer.filter(_._4 == 0L).forall(_._3 == -1L))
    assert(unmatchedPids.intersect(inner.map(_._2)).isEmpty,
      "a purchase cannot be both attributed and unattributed")
    // every purchase in the corpus appears exactly once per match (or
    // once with -1): the null emission lost nothing and invented nothing
    val allPids = graft.core.Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(unmatchedPids.union(inner.map(_._2)) == allPids,
      "attributed + unattributed purchases must cover every purchase exactly")
  }

  test("d16 == d02 restricted to cross-split pairs (incremental serve is lossless)") {
    // d16 computes the batch side FRESH (bandRowsFor) and the corpus
    // side from the published table; d02 computes every intra-corpus
    // pair from the published table alone. The two must agree exactly
    // on the cross-split slice: any divergence means the fresh batch
    // pass drifted from the published signatures (the build/serve
    // corruption class the fingerprint key exists to prevent).
    val sf = "/root/testdata/sf0.001"
    val mod = graft.ops.Dedup.IncrementalMod
    val rem = graft.ops.Dedup.IncrementalRem
    val trem = graft.ops.Dedup.TombstoneRem
    val d02Cross = graft.ops.Dedup.d02(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) =>
        (a % mod == rem) != (b % mod == rem) // exactly one side in-batch
      }
      .map { case (a, b, j) =>
        if (a % mod == rem) (a, b, j) else (b, a, j) // orient batch-first
      }
      // round 14: d16's corpus side is the LIVE band view — pairs whose
      // corpus endpoint is tombstoned are invisible to the admission
      .filter { case (_, ci, _) => ci % mod != trem }
      .toSet
    val d16Pairs = graft.ops.Dedup.d16(spark, sf).collect()
    // reconstruct the full pair set from the report: n_dups and best
    // alone can't carry every pair, so check both directions that ARE
    // recoverable: (1) every d16 best pair appears in d02's cross slice
    // with the same jaccard; (2) per-batch-doc counts match.
    val d02Counts = d02Cross.groupBy(_._1).view.mapValues(_.size).toMap
    d16Pairs.foreach { r =>
      val (ni, nDups, best, jac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(d02Counts.getOrElse(ni, 0) == nDups.toInt,
        s"doc $ni: d16 n_dups=$nDups vs d02 cross-pair count ${d02Counts.getOrElse(ni, 0)}")
      if (nDups > 0) {
        assert(d02Cross.contains((ni, best, jac)),
          s"doc $ni: best pair ($best, $jac) not in d02's cross slice")
        // best really is the max-jaccard, min-id pair in d02's slice
        val bestInD02 = d02Cross.filter(_._1 == ni)
          .maxBy { case (_, ci, j) => (j, -ci.toDouble) }
        assert((bestInD02._2, bestInD02._3) == ((best, jac)))
      } else assert(best == -1L && jac == 0.0 && r.getLong(4) == 1L)
    }
  }
}
