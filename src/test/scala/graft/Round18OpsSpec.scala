package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-18 operational-hardening invariants (the round-17 verdict's
  * orders + the ADVICE items):
  *  - the streaming ADMISSION tier runs under RocksDB (the measured
  *    x5 OOM point completes), pinned into the query's checkpoint;
  *  - the fingerprint listing-cache staleness window is CLOSED by a
  *    root-status freshness probe (asserted where the old tests lived:
  *    DedupSpec / Round16OpsSpec);
  *  - retention reaches NON-materialized state: run dirs (checkpoint +
  *    sink trees, emu stores) are swept by pins + age + in-progress
  *    guard, and a pinned resumable checkpoint survives byte-untouched
  *    and RESUMES exactly;
  *  - m03b gives the perceptual dHash path a POSITIVE gate row from
  *    planted decodable PNGs with a provable pair geometry;
  *  - stale publish locks are broken ATOMICALLY (rename-claimed);
  *  - sweepKeep defers FOREIGN-YOUNG generations (mixed-version
  *    sessions on shared storage cannot reap each other's live reads);
  *  - dirTag normalizes path spelling (one directory = one family).
  */
class Round18OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def withMatDir[T](body: => T): T = {
    val mat = java.nio.file.Files.createTempDirectory("graft-r18-mat").toString
    spark.conf.set("spark.graft.mat.dir", mat)
    try body finally spark.conf.unset("spark.graft.mat.dir")
  }

  private def backdate(p: java.nio.file.Path, ms: Long): Unit = {
    val t = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - ms)
    java.nio.file.Files.walk(p).forEach(q =>
      java.nio.file.Files.setLastModifiedTime(q, t))
  }

  private def writePairFeed(feedDir: String, name: String,
                            pairs: Seq[(Long, Long)]): Unit = {
    val s = spark
    import s.implicits._
    pairs.toDF("ni", "ci").coalesce(1)
      .write.mode("append").parquet(feedDir)
    // one logical batch per call is fine for these probes; the file
    // source picks up whatever is new
    val _ = name
  }

  // ---- order 1: the admission tier's state provider

  test("admission tier: a drain pins RocksDB in its checkpoint, session conf untouched") {
    val R = graft.streaming.Replay
    // a REAL drain: the checkpoint's offset metadata must name the
    // RocksDB provider (that metadata is what a restarted
    // query obeys, so this pins the shipped config end to end), the
    // drained answer stays exact, and the session conf is restored
    val root = java.nio.file.Files.createTempDirectory("graft-r18-prov").toString
    val feedDir = s"$root/feed"
    writePairFeed(feedDir, "p1", (1L to 100L).map(i => (i, i + 100000L)))
    val base = s"$root/run"
    // getOption on this conf reports its built-in default, so "restored"
    // means "back to the pre-drain reading", not None
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val providerBefore = spark.conf.getOption(providerKey)
    val (out, _) = R.s14DedupDrain(spark, feedDir, base)
    assert(out.count() === 100L, "drain under RocksDB must stay exact")
    val off0 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/ck/offsets/0")), "UTF-8")
    assert(off0.contains("RocksDBStateStoreProvider"),
      s"checkpoint offset metadata must pin the RocksDB provider; got: $off0")
    assert(spark.conf.getOption(providerKey) === providerBefore,
      "the provider conf must be scoped to the admission query, not leak " +
        "into the session")
    assert(!spark.conf.getOption(providerKey).exists(
      _.contains("RocksDB")),
      "the session-wide provider stays the in-memory default")
  }

  // ---- order 3: retention for non-materialized state (run dirs)

  test("run-dir retention: aged superseded runs swept, a pinned resumable " +
    "checkpoint survives byte-untouched at any age and RESUMES exactly, " +
    "an in-progress run survives by freshness") {
    val M = graft.core.Materialize
    val R = graft.streaming.Replay
    val root = java.nio.file.Files.createTempDirectory("graft-r18-runs").toString
    def mkRun(name: String): java.nio.file.Path = {
      val d = java.nio.file.Paths.get(root, name)
      java.nio.file.Files.createDirectories(d.resolve("ck"))
      java.nio.file.Files.write(d.resolve("ck/offsets"), "x".getBytes)
      d
    }
    val old1 = mkRun("s01-dead-1"); backdate(old1, 8L * 60 * 60 * 1000)
    val old2 = mkRun("s02-dead-2"); backdate(old2, 8L * 60 * 60 * 1000)
    // in-progress shape: top dir OLD but a descendant freshly written —
    // the pre-round-18 top-level-mtime sweep would have reaped this live
    // query; the newest-descendant guard must not
    val live = mkRun("s03-live")
    backdate(live, 8L * 60 * 60 * 1000)
    java.nio.file.Files.write(live.resolve("ck/commits"), "fresh".getBytes)

    // the resumable: a real file-stream drain whose checkpoint will be
    // resumed AFTER the sweep — s12DrainInto pins its base itself
    val feedDir = s"$root-feed"
    val s = spark
    import s.implicits._
    (1L to 5L).map(Tuple1(_)).toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(feedDir)
    val base = s"$root/resume-1"
    assert(R.s12DrainInto(spark, feedDir, base).count() === 5L)
    assert(R.activePins(6L * 60 * 60 * 1000).contains("resume-1"),
      "a multi-pass drain must pin its own run dir")
    // age the resumable's WHOLE tree: only the PIN protects it now
    // (the pin itself is FRESH — pin expiry is by last pinRun time,
    // not dir mtime)
    backdate(java.nio.file.Paths.get(base), 8L * 60 * 60 * 1000)

    val (retained, swept) = M.sweepRunRoot(root,
      R.activePins(6L * 60 * 60 * 1000), 6L * 60 * 60 * 1000)
    assert(swept.toSet === Set("s01-dead-1", "s02-dead-2"),
      s"exactly the aged superseded runs are reaped; got $swept")
    assert(retained.toSet === Set("s03-live", "resume-1"),
      "the fresh-descendant run and the pinned resumable survive")

    // the pin is worth something only if the query RESUMES exactly:
    // feed more, drain again on the same checkpoint — committed offsets
    // respected, no re-read, no loss
    (6L to 8L).map(Tuple1(_)).toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(feedDir)
    val out2 = R.s12DrainInto(spark, feedDir, base)
    assert(out2.count() === 8L,
      "restart from the pinned checkpoint must add exactly the new rows")
    assert(out2.select("doc_id").distinct().count() === 8L,
      "no dupes after the post-sweep resume")
  }

  test("run-dir retention covers per-run emu STORE dirs: aged dead stores " +
    "reaped, a pinned store's committed batches read back byte-identical") {
    import graft.emu.FileEmuStore
    import graft.ingest.KinesisRecord
    val M = graft.core.Materialize
    val root = java.nio.file.Files.createTempDirectory("graft-r18-emuroot").toString
    def mkStore(name: String, payload: String): String = {
      val d = s"$root/$name"
      FileEmuStore.createStream(d, "s", numShards = 1)
      assert(FileEmuStore.commit(d, "s", "0", 0,
        Seq(KinesisRecord("k", payload.getBytes("UTF-8"))), 1L))
      d
    }
    val dead = mkStore("emu-run-dead", "old")
    val keep = mkStore("emu-run-live", "precious")
    backdate(java.nio.file.Paths.get(dead), 8L * 60 * 60 * 1000)
    backdate(java.nio.file.Paths.get(keep), 8L * 60 * 60 * 1000)
    val (retained, swept) = M.sweepRunRoot(root, Set("emu-run-live"),
      6L * 60 * 60 * 1000)
    assert(swept === Seq("emu-run-dead") && retained === Seq("emu-run-live"))
    // the surviving store's commit protocol state is intact: the same
    // (token + attempt file) read path yields the committed batch
    val got = FileEmuStore.loadCommitted(keep, "s")
    assert(got.map(_.key) === Seq("0") &&
      new String(got.head.records.head._2, "UTF-8") === "precious",
      "pinned emu store must read back its committed batches byte-identical")
  }

  // ---- ADVICE medium 1: atomic stale-lock break

  test("breakStaleLock: N racing breakers -> exactly one wins; a FRESH " +
    "lock is never consumed — a mistaken rename detects and restores it") {
    val staleMs = 10L * 60 * 1000
    val dir = java.nio.file.Files.createTempDirectory("graft-r18-lock").toString
    val out = s"$dir/table"
    val lock = new org.apache.hadoop.fs.Path(out + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    // a genuinely STALE lock (crashed holder): backdate past the horizon
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(out + ".lock"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * staleMs))
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        start.await()
        if (graft.core.Materialize.breakStaleLock(fs, out, lock, staleMs))
          wins.incrementAndGet()
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(wins.get === 1, s"exactly one breaker must win; got ${wins.get}")
    assert(!fs.exists(lock), "the stale lock is gone after the break")
    // the round-18 review's stall window: a breaker whose staleness
    // read predates a successful break+re-acquire renames a FRESH lock
    // — the post-rename re-verify must detect the theft and RESTORE
    // the lock, reporting no break
    fs.create(lock, false).close()
    assert(!graft.core.Materialize.breakStaleLock(fs, out, lock, staleMs),
      "breaking a fresh lock must report failure")
    assert(fs.exists(lock),
      "the mistakenly-renamed fresh lock must be restored at the lock name")
  }

  // ---- ADVICE medium 2: sweepKeep foreign-young guard

  test("sweepKeep: a FOREIGN young generation is deferred (another live " +
    "session's serving artifact), foreign-aged and own-young are reaped") {
    withMatDir {
      val M = graft.core.Materialize
      val s = spark
      import s.implicits._
      val kind = "r18-guard"
      def fab(fp: String): Unit =
        Seq((1L, "x")).toDF("k", "v").coalesce(1)
          .write.parquet(M.tablePath(spark, kind, fp))
      // pin target, published BY THIS JVM (publish() records ownership)
      M.publish(spark, kind, "pin-aaa")(Seq((1L, "p")).toDF("k", "v"))
      // own-published young unpinned generation: reapable immediately
      M.publish(spark, kind, "own-bbb")(Seq((2L, "o")).toDF("k", "v"))
      // foreign young (fabricated, fresh mtime): must be DEFERRED
      fab("foreign-young")
      // foreign aged: normal superseded residue, reaped
      fab("foreign-aged")
      backdate(java.nio.file.Paths.get(M.tablePath(spark, kind, "foreign-aged")),
        2L * 60 * 60 * 1000)
      M.sweepKeep(spark, kind, Set("pin-aaa"))
      assert(M.listGenerations(spark, kind).toSet ===
        Set("pin-aaa", "foreign-young"),
        "pin retained; own-young + foreign-aged reaped; foreign-young deferred")
      // the deferral is age-bounded, not forever: once the foreign
      // generation ages past the horizon it is reaped like any residue
      backdate(java.nio.file.Paths.get(M.tablePath(spark, kind, "foreign-young")),
        2L * 60 * 60 * 1000)
      M.sweepKeep(spark, kind, Set("pin-aaa"))
      assert(M.listGenerations(spark, kind).toSet === Set("pin-aaa"))
    }
  }

  // ---- ADVICE low 2: dirTag path normalization

  test("dirTag: one directory, one family — trailing slash / doubled " +
    "separators / relative spelling all map to the canonical tag") {
    val M = graft.core.Materialize
    // clean absolute paths are UNCHANGED (every family tag minted
    // before round 18 keeps addressing its artifacts)
    assert(M.normalizedDir("/root/testdata/sf0.1") === "/root/testdata/sf0.1")
    val t = M.dirTag("/root/testdata/sf0.1")
    assert(M.dirTag("/root/testdata/sf0.1/") === t, "trailing slash")
    assert(M.dirTag("/root/testdata//sf0.1") === t, "doubled separator")
    val cwd = new java.io.File(".").getAbsolutePath.stripSuffix("/.")
    assert(M.dirTag(s"$cwd/../${new java.io.File(cwd).getName}") !=
      null, "relative spellings resolve without throwing")
    // a RELATIVE spelling of the working directory maps to the absolute
    val rel = M.dirTag(".")
    val abs = M.dirTag(new java.io.File(".").getAbsolutePath)
    assert(rel === abs, "relative and absolute spellings of one dir agree")
    // distinct dirs stay distinct lineages
    assert(M.dirTag("/root/testdata/sf0.01") != t)
  }

  // ---- order 7: d07 serve/report split

  test("d07 serve/report split: cold first run publishes both label " +
    "artifacts, the warm re-serve publishes NOTHING and is bit-identical") {
    withMatDir {
      val sf = "/root/testdata/sf0.001"
      val M = graft.core.Materialize
      val first = graft.ops.Dedup.d07(spark, sf).collect().map(_.toSeq).toSeq
      assert(first.nonEmpty)
      val pub0 = M.publishCount
      val again = graft.ops.Dedup.d07(spark, sf).collect().map(_.toSeq).toSeq
      assert(again === first, "warm d07 must serve the identical answer")
      assert(M.publishCount === pub0,
        "warm d07 must be a published-artifact read — zero republishes " +
          "(the pre-round-18 always-compute behavior must not return silently)")
    }
  }

  // ---- sweepRunRoot structural property

  test("sweepRunRoot property: over random pin sets and ages, pinned dirs " +
    "are never deleted, swept dirs are exactly the aged unpinned ones") {
    val rnd = new scala.util.Random(18)
    for (trial <- 1 to 5) {
      val root = java.nio.file.Files.createTempDirectory(s"graft-r18-prop$trial")
      val names = (1 to 8).map(i => s"run-$i")
      val aged = names.filter(_ => rnd.nextBoolean()).toSet
      names.foreach { n =>
        val d = root.resolve(n)
        java.nio.file.Files.createDirectories(d.resolve("sub"))
        java.nio.file.Files.write(d.resolve("sub/f"), n.getBytes)
        if (aged.contains(n)) backdate(d, 3L * 60 * 60 * 1000)
      }
      val pins = names.filter(_ => rnd.nextBoolean()).toSet
      val (retained, swept) = graft.core.Materialize.sweepRunRoot(
        root.toString, pins, 60L * 60 * 1000)
      val expectSwept = (aged -- pins).toSeq.sorted
      assert(swept.sorted === expectSwept,
        s"trial $trial: swept $swept, want $expectSwept (aged=$aged pins=$pins)")
      assert(retained.toSet === names.toSet -- expectSwept)
      pins.foreach { p =>
        assert(java.nio.file.Files.exists(root.resolve(p).resolve("sub/f")),
          s"trial $trial: pinned $p must survive byte-intact")
      }
    }
  }

  // ---- p10: JSONL round-trip core

  test("p10 JSONL round-trip core: pathological strings (control chars, " +
    "quotes, unicode, empty, null) survive write+read byte-for-byte") {
    val s = spark
    import s.implicits._
    val nasty = Seq(
      (1L, "line\nbreak \"quoted\" back\\slash and /slash"),
      (2L, "unicode: áé中文🙂 ctrl: tab:\t"),
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "{\"looks\":\"like json\"}"))
    val df = nasty.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-r18-jsonl").toString + "/t"
    df.write.json(dir)
    val back = spark.read.schema(df.schema).json(dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back.toSeq === nasty,
      "JSONL write+declared-schema read must be lossless on pathological strings")
  }

  // ---- order 4: m03b planted perceptual near-dups

  test("m03b: planted PNG pairs are found through the REAL path — " +
    "ImageIO decode, grid-aligned dHash identity, pigeonhole join — " +
    "and the pair set is exactly (2*doc_id, 2*doc_id+1)") {
    val Mm = graft.ops.Multimodal
    // kernel geometry first: the variant's dHash is IDENTICAL by
    // construction (even block values + strictly monotone dim map),
    // unrelated plants sit far beyond the threshold
    val seeds = Seq(0L, 1L, 7L, 123456789L)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val hashes = seeds.map { sd =>
      val v = Mm.plantedBlockValues(sd)
      val base = Mm.plantedPng(v, 6, dim = false)
      val variant = Mm.plantedPng(v, 3, dim = true)
      // the blobs are REAL decodable images of the declared geometry
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
      assert(img.getWidth === 66 && img.getHeight === 72)
      val hb = Mm.dhashMedia(base)
      val hv = Mm.dhashMedia(variant)
      assert(ham(hb, hv) === 0,
        s"seed $sd: resize + brightness variant must hash identically")
      hb
    }
    for (i <- hashes.indices; j <- hashes.indices if i < j)
      assert(ham(hashes(i), hashes(j)) > Mm.M03HammingMax,
        s"unrelated plants $i/$j too close: ${ham(hashes(i), hashes(j))}")

    // the gate entry end to end on a real corpus: non-empty, exactly
    // the planted pairs
    val sf = "/root/testdata/sf0.001"
    val got = Mm.m03b(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id")).orderBy("doc_id")
      .limit(Mm.M03bDocs).collect().map(_.getLong(0))
    assert(got.nonEmpty && got.toSeq === ids.toSeq.map(i => (i * 2, i * 2 + 1)),
      s"planted pair set mismatch: got ${got.toSeq}")
  }
}
