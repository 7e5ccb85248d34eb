package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-19 invariants (the round-18 verdict's orders + ADVICE items):
  *  - p11's COMPOSED corpus build ships a lineage manifest that is
  *    COMPLETE (every published artifact actually read during the
  *    build appears — checked against the Materialize read ledger,
  *    an independent instrument) and a warm build is FRUGAL (zero
  *    publishes: published-artifact reads only, no kernel re-runs);
  *    the shipped placement artifact satisfies the packing geometry;
  *  - t16 classifies a PLANTED multi-script corpus exactly (codepoint
  *    ranges, alphabetical tie-break, surrogate-safe, empty-text safe);
  *  - run-dir sweeps honor a FRESH LEASE even when every data mtime is
  *    stale (the store-independent in-progress guard), and driven
  *    streaming runs actually write/refresh the lease;
  *  - admission-tier drains get their OWN child session
  *    ([[graft.streaming.Replay.admissionSession]]): the RocksDB
  *    provider conf exists only there — a query started on the PARENT
  *    while the child session exists checkpoint-pins the in-memory
  *    default, with NO restore window at all;
  *  - dirTag collapses `.`/`..` segments (one directory = one family,
  *    whatever the spelling), clean absolute paths byte-identical;
  *  - p10/p11 allocate their run dirs through Replay.runBase, so the
  *    throttled retention sweep fires in batch-only sessions too.
  */
class Round19OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def backdate(p: java.nio.file.Path, ms: Long): Unit = {
    val t = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - ms)
    java.nio.file.Files.walk(p).forEach(q =>
      java.nio.file.Files.setLastModifiedTime(q, t))
  }

  // ---- order 1: p11 manifest completeness + warm frugality

  test("p11: warm build publishes nothing, the lineage manifest names " +
    "every published artifact the ledger saw read, and the shipped " +
    "placement satisfies the packing geometry") {
    val M = graft.core.Materialize
    val P = graft.ops.Pipeline
    val sf = "/root/testdata/sf0.001"
    // warm the keep-list line (cold path publishes the label artifacts)
    graft.ops.Dedup.d13(spark, sf).count()

    val (labKind, labFp) = graft.ops.Dedup.liveLabelsArtifact(sf)
    val tag = labKind.substring(labKind.lastIndexOf('-') + 1) // corpus dirTag
    val mark = M.readMarker
    val pubBefore = M.publishCount
    val out = P.p11(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty, "the composed build must ship documents")
    assert(M.publishCount === pubBefore,
      "a warm p11 must be publish-free: reads of published artifacts only")

    // ledger (independent instrument) vs manifest (the self-declaration):
    // every published artifact READ during the build — this corpus's
    // families only; concurrent suites may read other corpora's — must
    // appear in the manifest with its exact fingerprint
    val reads = M.readsSince(mark).filter(_._1.endsWith("-" + tag))
    assert(reads.nonEmpty, "the keep-list consumption must be ledger-visible")
    val manifest = spark.read.parquet(s"${P.lastBuildBase}/manifest").collect()
      .map(r => (r.getAs[String]("family"), r.getAs[String]("fingerprint"))).toSet
    val missing = reads.filterNot(manifest.contains)
    assert(missing.isEmpty,
      s"manifest incomplete — ledger-read artifacts absent: $missing")
    assert(manifest.contains((labKind, labFp)),
      "the manifest must name the live-label artifact the keep-list serves from")
    // the raw-input row carries the corpus identity fingerprint
    val inputRows = spark.read.parquet(s"${P.lastBuildBase}/manifest")
      .where(col("role") === "input").collect()
    assert(inputRows.length === 1 &&
      inputRows(0).getAs[String]("fingerprint") ===
        M.fingerprint(sf, "documents", "input", ""))

    // placement geometry on the SHIPPED artifact: per shard, pos is
    // dense 1..n and offsets advance by n_tok in pos order
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("pos"))
      assert(sorted.map(_.getAs[Long]("pos")).toSeq === (1L to sorted.size).toSeq)
      var off = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("bin") === off / P.PackTokens)
        assert(r.getAs[Long]("bin_off") === off % P.PackTokens)
        off += r.getAs[Long]("n_tok")
      }
    }
    // allocated through the swept replay root
    assert(P.lastBuildBase.startsWith(
      graft.streaming.Replay.replayRoot(spark) + "/p11-"))
  }

  // ---- p12: the incremental build — placement continuity, manifest
  // completeness, warm frugality, arrival discipline

  test("p12: increment placement continues the base per-shard totals " +
    "exactly, a warm build publishes nothing, and the manifest names " +
    "every admission artifact the ledger saw read") {
    val M = graft.core.Materialize
    val P = graft.ops.Pipeline
    val sf = "/root/testdata/sf0.001"
    // warm the admission + base-summary lines (cold runs publish the
    // band artifacts and the two base tables)
    graft.ops.Dedup.d16(spark, sf).count()
    P.p12BaseShardTotals(spark, sf).count()

    val arts = graft.ops.Dedup.admissionArtifacts(spark, sf) ++
      P.p12BaseArtifacts(spark, sf)
    val tag = arts.head._1.substring(arts.head._1.lastIndexOf('-') + 1)
    val mark = M.readMarker
    val pubBefore = M.publishCount
    val report = P.p12(spark, sf).collect()
    assert(report.nonEmpty, "the build report must cover the arrival sources")
    assert(report.map(_.getAs[Long]("n_admitted")).sum > 0,
      "the sf0.001 corpus must admit at least one arrival")
    assert(M.publishCount === pubBefore,
      "a warm p12 must be publish-free: reads of published artifacts only")
    // the placed artifact (the report is the gate face; the artifact is
    // the product — row-level checks run against it directly)
    val rows = spark.read.parquet(s"${P.lastBuildBase}/train").collect()
    assert(rows.nonEmpty, "the incremental build must place documents")
    // report ↔ artifact consistency: the rollup sums are the artifact's
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    report.filter(_.getAs[Long]("n_placed") > 0).foreach { r =>
      val rs = bySrc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_placed") === rs.length.toLong)
      assert(r.getAs[Long]("tokens_placed") === rs.map(_.getAs[Long]("n_tok")).sum)
      assert(r.getAs[Long]("pos_sum") === rs.map(_.getAs[Long]("pos")).sum)
      assert(r.getAs[Long]("bin_sum") === rs.map(_.getAs[Long]("bin")).sum)
    }
    assert(bySrc.keySet ===
      report.filter(_.getAs[Long]("n_placed") > 0)
        .map(_.getAs[String]("source")).toSet)

    // ledger (independent instrument) vs manifest (the self-declaration)
    val reads = M.readsSince(mark).filter(_._1.endsWith("-" + tag))
    assert(reads.nonEmpty, "the admission consumption must be ledger-visible")
    val manifest = spark.read.parquet(s"${P.lastBuildBase}/manifest").collect()
      .map(r => (r.getAs[String]("family"), r.getAs[String]("fingerprint"))).toSet
    val missing = reads.filterNot(manifest.contains)
    assert(missing.isEmpty,
      s"manifest incomplete — ledger-read artifacts absent: $missing")
    arts.foreach(a => assert(manifest.contains(a),
      s"the manifest must name the consumed artifact $a"))
    assert(P.lastBuildBase.startsWith(
      graft.streaming.Replay.replayRoot(spark) + "/p12-"))

    // placement continuity: within each shard, positions start ONE past
    // the published base count (the increment never recomputes the base
    // chain), stay dense, and offsets continue the base token total
    val base = P.p12BaseShardTotals(spark, sf).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("base_docs"), r.getAs[Long]("base_tokens")))).toMap
    assert(base.nonEmpty, "the base build must place documents")
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rs) =>
      val (bd, bt) = base.getOrElse(sh, (0L, 0L))
      val sorted = rs.sortBy(_.getAs[Long]("pos"))
      assert(sorted.map(_.getAs[Long]("pos")).toSeq ===
        ((bd + 1) to (bd + sorted.size)).toSeq,
        s"shard $sh: increment positions must continue the base count $bd")
      var off = bt
      sorted.foreach { r =>
        assert(r.getAs[Long]("bin") === off / P.PackTokens)
        assert(r.getAs[Long]("bin_off") === off % P.PackTokens)
        off += r.getAs[Long]("n_tok")
      }
    }
    // the increment ships arrivals only (the base axis is p11's)
    rows.foreach(r => assert(
      r.getAs[Long]("doc_id") % graft.ops.Dedup.IncrementalMod ===
        graft.ops.Dedup.IncrementalRem))
  }

  // ---- p11 exact-dup invariance: the committed corpus-build rail
  // showed an invariant ROW COUNT under id-offset duplication; this
  // pins full row-set equality — duplicating every document k-fold
  // must leave the built training order BIT-IDENTICAL, because the
  // keep-list keeps each cluster's min-id canonical (the originals),
  // so the mixing stats, the sampling fates, and the placement hashes
  // all run over the same canonical set

  test("p11: duplicating the corpus 3-fold leaves the built training " +
    "order bit-identical (dedup-before-build as a scale invariant)") {
    val P = graft.ops.Pipeline
    import spark.implicits._
    def text(id: Long, shared: Option[Long]): String = shared match {
      // near-dup group member: 18 of 20 tokens shared with the group
      case Some(g) => ((0 until 18).map(j => s"g${g}w$j") ++
        Seq(s"u${id}a", s"u${id}b")).mkString(" ")
      case None => (0 until 20).map(j => s"d${id}w$j").mkString(" ")
    }
    // 120 docs: 20 near-dup groups of 3 + 60 singletons, 2 sources
    val docs = (100L until 220L).map { id =>
      val shared = if (id < 160) Some((id - 100) / 3) else None
      (id, text(id, shared), s"s${id % 2}")
    }
    val a = java.nio.file.Files.createTempDirectory("graft-r19-p11a").toString
    val b = java.nio.file.Files.createTempDirectory("graft-r19-p11b").toString
    docs.toDF("doc_id", "text", "source")
      .coalesce(2).write.mode("overwrite").parquet(s"$a/documents.parquet")
    // 3x corpus: the originals plus two id-offset EXACT copies (the
    // offset preserves every census residue, as in the sweep corpora)
    val dup = docs ++ (1 to 2).flatMap(k =>
      docs.map { case (id, t, s) => (id + 1000000L * k, t, s) })
    dup.toDF("doc_id", "text", "source")
      .coalesce(2).write.mode("overwrite").parquet(s"$b/documents.parquet")

    def placed(d: String): Set[Seq[Any]] =
      P.p11(spark, d).collect().map(_.toSeq).toSet
    val one = placed(a)
    assert(one.nonEmpty, "the planted corpus must place documents")
    assert(placed(b) === one,
      "3x exact duplication must not change one placed row: the " +
        "keep-list keeps the min-id canonicals, so mixing stats and " +
        "placement are functions of the unchanged canonical set")
  }

  // ---- s16: the streaming corpus increment must BE p12 — the two
  // admission tiers (nightly batch d16, in-stream s14 drain) feed one
  // shared build definition, so the composed outputs are bit-identical

  test("s16 == p12 bit-for-bit: the in-stream admission outcome feeds " +
    "the same increment build as the nightly batch report") {
    val P = graft.ops.Pipeline
    val sf = "/root/testdata/sf0.001"
    val batch = P.p12(spark, sf).collect().map(_.toSeq).toSet
    val streamed = graft.streaming.Replay.s16(spark, sf).collect()
      .map(_.toSeq).toSet
    assert(streamed === batch,
      "the streaming increment must equal the batch increment exactly")
    assert(P.lastBuildBase.startsWith(
      graft.streaming.Replay.replayRoot(spark) + "/s16-"))
    // the composed artifacts agree too (placement row sets)
    val placed = spark.read.parquet(s"${P.lastBuildBase}/train").collect()
      .map(_.toSeq).toSet
    P.p12(spark, sf) // rebuild the batch artifact (lastBuildBase moves)
    val batchPlaced = spark.read.parquet(s"${P.lastBuildBase}/train")
      .collect().map(_.toSeq).toSet
    assert(placed === batchPlaced)
  }

  // ---- p12 on a PLANTED NOVEL-ARRIVAL corpus: the positive-admission
  // case the near-dup-saturated gate corpora cannot show (every doc
  // there has hundreds of τ≥1/2 neighbors, so admission truthfully
  // rejects ~all arrivals and only ~1 doc places at sf0.001). Here the
  // whole build — base summaries, admission, decontamination, mixing,
  // multi-shard offset-continued placement — is re-derived in PLAIN
  // SCALA (java MessageDigest md5, integer arithmetic) and compared
  // row-for-row against the shipped artifact.

  test("p12 planted corpus: novel arrivals all admit, a contaminated " +
    "arrival is decontaminated, and the multi-shard placement matches " +
    "an independent plain-Scala re-derivation row for row") {
    val P = graft.ops.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("graft-r19-p12nov").toString
    import spark.implicits._
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def hm(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"mix:$id").substring(0, 15), 16) % 1000000L
    def eh(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"epoch0:$id").substring(0, 15), 16)
    val benchText = (0 until 10).map(j => s"bench$j").mkString(" ")
    val contamId = 107L
    def srcOf(id: Long) = s"s${id % 2}"
    def docText(pfx: String, id: Long) =
      (0 until 20).map(j => s"$pfx${id}t$j").mkString(" ")
    val docs =
      Seq((1L, benchText, "s1"), (2L, benchText + " benchx", "s0")) ++
      (100L until 600L).map { id =>
        val text =
          if (id == contamId)
            (0 until 17).map(j => s"a${id}t$j").mkString(" ") +
              " bench0 bench1 bench2" // one planted benchmark shingle
          else if (id % 10 == graft.ops.Dedup.IncrementalRem) docText("a", id)
          else docText("b", id)
        (id, text, srcOf(id))
      }
    docs.toDF("doc_id", "text", "source")
      .coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent re-derivation (no Spark, no shared kernel code)
    val live = (100L until 600L)
      .filterNot(_ % 10 == 3) // the tombstone census
    val arrivals = live.filter(_ % 10 == graft.ops.Dedup.IncrementalRem)
    val baseIds = live.filterNot(arrivals.contains)
    val srcTok = baseIds.groupBy(srcOf).view.mapValues(_.size * 20L).toMap
    val allTok = srcTok.values.sum
    def mixKeep(id: Long): Boolean =
      BigInt(hm(id)) * 2 * srcTok.size * srcTok(srcOf(id)) <
        BigInt(allTok) * 1000000L
    val basePlaced = baseIds.filter(mixKeep)
    val baseByShard = basePlaced.groupBy(id => eh(id) % P.ShuffleShards)
      .view.mapValues(ids => (ids.size.toLong, ids.size * 20L)).toMap
    val incPlaced = arrivals.filterNot(_ == contamId).filter(mixKeep)
    assert(incPlaced.size >= 5, s"planted geometry must place a multi-" +
      s"row increment (got ${incPlaced.size}) — retune the corpus")
    assert(baseByShard.size >= 4, "the base must populate several shards")
    case class Row(shard: Long, pos: Long, bin: Long, binOff: Long, id: Long)
    val expected = incPlaced.groupBy(id => eh(id) % P.ShuffleShards)
      .flatMap { case (sh, ids) =>
        val (bd, bt) = baseByShard.getOrElse(sh, (0L, 0L))
        ids.sortBy(id => (eh(id), id)).zipWithIndex.map { case (id, k) =>
          val start = bt + 20L * k
          Row(sh, bd + k + 1, start / P.PackTokens, start % P.PackTokens, id)
        }
      }.toSet

    val report = P.p12(spark, dir).collect()
    // every novel arrival admits — the positive-admission case
    assert(report.map(_.getAs[Long]("n_arrivals")).sum === arrivals.size.toLong)
    assert(report.map(_.getAs[Long]("n_admitted")).sum === arrivals.size.toLong,
      "novel arrivals (no τ≥1/2 neighbor anywhere) must ALL admit")
    // the shipped base summaries equal the independent derivation
    val pubBase = P.p12BaseShardTotals(spark, dir).collect()
      .map(r => r.getAs[Long]("shard") ->
        ((r.getAs[Long]("base_docs"), r.getAs[Long]("base_tokens")))).toMap
    assert(pubBase === baseByShard,
      "published per-shard base totals must match the plain-Scala rebuild")
    // the placed artifact equals the prediction row for row
    val got = spark.read.parquet(s"${P.lastBuildBase}/train").collect()
      .map(r => Row(r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("bin"), r.getAs[Long]("bin_off"),
        r.getAs[Long]("doc_id"))).toSet
    assert(got === expected,
      "the shipped increment placement must match the independent " +
        "re-derivation (admission + decontamination + mixing + " +
        "offset-continued append)")
    assert(!got.exists(_.id == contamId),
      "the benchmark-shingled arrival must be decontaminated")
    // report sums are the artifact's
    val repPlaced = report.map(_.getAs[Long]("n_placed")).sum
    assert(repPlaced === expected.size.toLong)
    assert(report.map(_.getAs[Long]("pos_sum")).sum ===
      expected.toSeq.map(_.pos).sum)

    // the STREAMING build agrees on this corpus too — s16 == p12 is
    // gate-pinned only on the saturated sf0.001 corpus (where ~one doc
    // places); here the in-stream admission passes EVERY arrival and
    // the multi-shard append must still match the batch build and the
    // independent prediction
    val sReport = graft.streaming.Replay.s16(spark, dir).collect()
      .map(_.toSeq).toSet
    assert(sReport === report.map(_.toSeq).toSet,
      "the streaming increment report must equal the batch report on " +
        "a corpus where admission actually admits")
    val sPlaced = spark.read.parquet(s"${P.lastBuildBase}/train").collect()
      .map(r => Row(r.getAs[Long]("shard"), r.getAs[Long]("pos"),
        r.getAs[Long]("bin"), r.getAs[Long]("bin_off"),
        r.getAs[Long]("doc_id"))).toSet
    assert(sPlaced === expected)
    assert(P.lastBuildBase.startsWith(
      graft.streaming.Replay.replayRoot(spark) + "/s16-"))
  }

  // ---- p12 placement-model property trials: random novel-token
  // corpora with VARIABLE per-doc token counts (the planted fixture is
  // uniform n_tok=20, so bin-boundary crossings of the 512-token pack
  // arithmetic never vary there) — the artifact must match the same
  // plain-Scala model under every random geometry

  test("p12 property trials: random corpora with variable token counts " +
    "match the independent placement model (pack-bin boundaries included)") {
    val P = graft.ops.Pipeline
    import spark.implicits._
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def hm(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"mix:$id").substring(0, 15), 16) % 1000000L
    def eh(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"epoch0:$id").substring(0, 15), 16)
    (1 to 2).foreach { trial =>
      val rnd = new scala.util.Random(4200 + trial)
      val n = 250 + rnd.nextInt(250)
      val nSrc = 2 + rnd.nextInt(3)
      val ids = (100L until (100L + n)).toSeq
      val nTok = ids.map(id => id -> (15L + rnd.nextInt(26))).toMap
      val docs = ids.map { id =>
        ((id, (0 until nTok(id).toInt)
          .map(j => s"r${trial}d${id}t$j").mkString(" "), s"s${id % nSrc}"))
      }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-r19-p12prop$trial").toString
      docs.toDF("doc_id", "text", "source")
        .coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val live = ids.filterNot(_ % 10 == 3)
      val arrivals = live.filter(_ % 10 == graft.ops.Dedup.IncrementalRem)
      val base = live.filterNot(arrivals.contains)
      val srcTok = base.groupBy(id => s"s${id % nSrc}")
        .view.mapValues(_.map(nTok).sum).toMap
      val allTok = srcTok.values.sum
      def keep(id: Long): Boolean =
        BigInt(hm(id)) * 2 * srcTok.size * srcTok(s"s${id % nSrc}") <
          BigInt(allTok) * 1000000L
      val baseByShard = base.filter(keep)
        .groupBy(id => eh(id) % P.ShuffleShards)
        .view.mapValues(g => (g.size.toLong, g.map(nTok).sum)).toMap
      case class Row(shard: Long, pos: Long, bin: Long, off: Long, id: Long)
      val expected = arrivals.filter(keep)
        .groupBy(id => eh(id) % P.ShuffleShards)
        .flatMap { case (sh, g) =>
          val (bd, bt) = baseByShard.getOrElse(sh, (0L, 0L))
          var start = bt
          g.sortBy(id => (eh(id), id)).zipWithIndex.map { case (id, k) =>
            val r = Row(sh, bd + k + 1, start / P.PackTokens,
              start % P.PackTokens, id)
            start += nTok(id)
            r
          }
        }.toSet

      P.p12(spark, dir).collect() // builds + ships the artifact
      val got = spark.read.parquet(s"${P.lastBuildBase}/train").collect()
        .map(r => Row(r.getAs[Long]("shard"), r.getAs[Long]("pos"),
          r.getAs[Long]("bin"), r.getAs[Long]("bin_off"),
          r.getAs[Long]("doc_id"))).toSet
      assert(got === expected,
        s"trial $trial (n=$n, nSrc=$nSrc): artifact must match the model")
      assert(expected.nonEmpty, s"trial $trial must place documents")
      // the variable-token geometry must actually cross pack bins
      assert((expected.map(_.bin) ++
        baseByShard.values.map(_._2 / P.PackTokens)).exists(_ > 0),
        s"trial $trial: the geometry never crossed a pack-bin boundary")
    }
  }

  // ---- order 2: t16 planted multi-script fixture

  test("t16: planted multi-script corpus classifies exactly (ranges, " +
    "alphabetical tie-break, surrogate pairs, empty text)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-r19-t16").toString
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "ab cd", "en", "s1"),                    // latin 4, other 1
      (1L, "привет мир", "ru", "s1"),               // cyrillic 9
      (2L, "日本語 テスト", "ja", "s1"),            // cjk 6 (ideographs + kana)
      (3L, "مرحبا", "ar", "s1"),                    // arabic 5
      (4L, "γειά σου", "el", "s1"),                 // greek 7
      (5L, "1234 56", "en", "s1"),                  // digit 6
      (6L, "!!! ???", "en", "s1"),                  // other only
      (7L, "ab ба", "ru", "s1"),   // 2 latin vs 2 cyrillic: tie -> cyrillic
      (8L, "", "en", "s1"),                         // empty -> all zero -> other
      (9L, "😀 ab", "en", "s1"),   // astral-plane emoji = ONE other char
      (10L, "éàü ñ", "fr", "s1"))                   // extended latin
      .toDF("doc_id", "text", "lang", "source")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = graft.ops.TextAnalysis.t16(spark, dir).collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_latin"), r.getAs[Long]("n_cyrillic"),
          r.getAs[Long]("n_cjk"), r.getAs[Long]("n_arabic"),
          r.getAs[Long]("n_greek"), r.getAs[Long]("n_digit"),
          r.getAs[Long]("n_other")), r.getAs[String]("script_class"))
    }.toMap
    assert(got(0L) === (((4L, 0L, 0L, 0L, 0L, 0L, 1L), "latin")))
    assert(got(1L) === (((0L, 9L, 0L, 0L, 0L, 0L, 1L), "cyrillic")))
    assert(got(2L) === (((0L, 0L, 6L, 0L, 0L, 0L, 1L), "cjk")))
    assert(got(3L) === (((0L, 0L, 0L, 5L, 0L, 0L, 0L), "arabic")))
    assert(got(4L) === (((0L, 0L, 0L, 0L, 7L, 0L, 1L), "greek")))
    assert(got(5L) === (((0L, 0L, 0L, 0L, 0L, 6L, 1L), "digit")))
    assert(got(6L) === (((0L, 0L, 0L, 0L, 0L, 0L, 7L), "other")))
    assert(got(7L) === (((2L, 2L, 0L, 0L, 0L, 0L, 1L), "cyrillic")),
      "ties break alphabetically: cyrillic before latin")
    assert(got(8L) === (((0L, 0L, 0L, 0L, 0L, 0L, 0L), "other")))
    assert(got(9L) === (((2L, 0L, 0L, 0L, 0L, 0L, 2L), "latin")),
      "a supplementary-plane emoji is ONE character, not two surrogates")
    assert(got(10L) === (((4L, 0L, 0L, 0L, 0L, 0L, 1L), "latin")))
  }

  // ---- order 3: lease-guarded run-dir sweeps

  test("sweepRunRoot: a fresh lease retains a run whose every data mtime " +
    "is stale; a stale lease does not; driven runs write the lease") {
    val M = graft.core.Materialize
    val root = java.nio.file.Files.createTempDirectory("graft-r19-lease").toString
    def mkRun(name: String): java.nio.file.Path = {
      val d = java.nio.file.Paths.get(root, name)
      java.nio.file.Files.createDirectories(d.resolve("ck"))
      java.nio.file.Files.write(d.resolve("ck").resolve("offsets-0"),
        "x".getBytes("UTF-8"))
      d
    }
    val leased = mkRun("r-paused-leased")
    val dead = mkRun("r-dead")
    backdate(leased, 8L * 60 * 60 * 1000)
    backdate(dead, 8L * 60 * 60 * 1000)
    // the leased run's DRIVER is alive: only the lease file is fresh
    // (the s3a shape — every committed data mtime stale, no walkable
    // in-flight activity, just the per-micro-batch lease object)
    java.nio.file.Files.write(
      leased.resolve(M.LeaseFile), "pid".getBytes("UTF-8"))
    val (retained, swept) = M.sweepRunRoot(root, Set.empty, 6L * 60 * 60 * 1000)
    assert(retained.contains("r-paused-leased"),
      "a fresh lease must retain the run even with every data mtime stale")
    assert(swept === Seq("r-dead"))

    // a real driven run writes its lease (refresh path: the listener
    // re-touches on every progress event of that query id)
    val s = spark
    import s.implicits._
    val feedRoot = java.nio.file.Files.createTempDirectory("graft-r19-feed").toString
    Seq(1L, 2L, 3L).toDF("doc_id").coalesce(1)
      .write.parquet(s"$feedRoot/feed")
    val base = s"$feedRoot/run"
    graft.streaming.Replay.s12DrainInto(spark, s"$feedRoot/feed", base)
    val lease = java.nio.file.Paths.get(base, M.LeaseFile)
    assert(java.nio.file.Files.exists(lease),
      "a driven streaming run must hold a lease in its run dir")
    assert(java.nio.file.Files.getLastModifiedTime(lease).toMillis >
      System.currentTimeMillis() - 5L * 60 * 1000)
  }

  // ---- order 4: admission-tier session isolation

  test("admissionSession: the RocksDB conf lives ONLY on the child — a " +
    "query started on the parent WHILE the child exists pins the " +
    "in-memory default; graft knobs are inherited") {
    val R = graft.streaming.Replay
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set("spark.graft.replay.checkpointChecksum", "123")
    val as = try R.admissionSession(spark)
      finally spark.conf.unset("spark.graft.replay.checkpointChecksum")
    assert(as.conf.get(providerKey).contains("RocksDB"),
      "the child session must carry the shipped disk-backed provider")
    assert(as.conf.get("spark.graft.replay.checkpointChecksum") === "123",
      "runtime-set graft knobs must survive into the child")
    assert(!spark.conf.getOption(providerKey).exists(_.contains("RocksDB")),
      "the parent session must never see the provider conf")

    // WITH THE CHILD LIVE (no restore window exists at all), a stateful
    // query started on the PARENT checkpoint-pins the in-memory default
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-r19-iso").toString
    Seq((1L, 2L), (1L, 2L), (3L, 4L)).toDF("ni", "ci").coalesce(1)
      .write.parquet(s"$root/feed")
    def drain(sess: SparkSession, base: String): Unit = {
      val q = sess.readStream
        .schema("ni LONG, ci LONG").parquet(s"$root/feed")
        .dropDuplicates("ni", "ci")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(spark, s"$root/parent-run")
    drain(as, s"$root/child-run")
    def off0(base: String): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/ck/offsets/0")), "UTF-8")
    assert(!off0(s"$root/parent-run").contains("RocksDBStateStoreProvider"),
      "parent-session query must pin the in-memory default provider")
    assert(off0(s"$root/child-run").contains("RocksDBStateStoreProvider"),
      "child-session query must pin the disk-backed provider")
  }

  // ---- ADVICE: dirTag dot-segment collapse

  test("dirTag: '.'/'..' spellings map to ONE family; clean absolute " +
    "paths stay byte-identical") {
    val M = graft.core.Materialize
    assert(M.dirTag("/x/a/../a") === M.dirTag("/x/a"))
    assert(M.dirTag("/x/./a") === M.dirTag("/x/a"))
    assert(M.dirTag("/x/a/b/..") === M.dirTag("/x/a"))
    assert(M.normalizedDir("/x/a") === "/x/a")
    assert(M.normalizedDir("/x/a/") === "/x/a")
    // the round-18 agreement gap: the two spellings must now AGREE,
    // not merely both resolve
    assert(M.normalizedDir("/x/a/../a") === "/x/a")
  }

  // ---- ADVICE: batch entries allocate run dirs through the swept path

  test("p10 allocates its JSONL dir via Replay.runBase (the retention " +
    "sweep fires in batch-only sessions)") {
    val R = graft.streaming.Replay
    val before = R.runBaseCalls.get
    graft.ops.Pipeline.p10(spark, "/root/testdata/sf0.001").count()
    assert(R.runBaseCalls.get > before,
      "p10 must allocate through runBase, not a bare /tmp path")
  }
}
