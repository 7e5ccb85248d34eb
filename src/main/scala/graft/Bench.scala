package graft

import org.apache.spark.sql.SparkSession

/** Bench contract: run every declared query on SPARK_GRAFT_SF_DIR,
  * print ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * A warm-up pass (tiny parquet read + count) runs before timing so the
  * first query doesn't absorb session/codegen initialization. Each
  * query is timed by full materialization (count of the final result).
  *
  * Between queries (OUTSIDE the timed window) the harness returns the
  * JVM to a clean storage state: catalog cache cleared, every persistent
  * RDD (including localCheckpoint blocks, which clearCache does NOT
  * touch) unpersisted, and an explicit System.gc() so ContextCleaner's
  * weak-ref queue drains and shuffle files on the tmpfs-backed local
  * dirs are actually deleted — without it the cleaner's periodic GC
  * (default 30 min) never fires inside a bench run, and 65 queries of
  * shuffle files accumulate on /dev/shm, competing with the JVM for the
  * same physical RAM (the r4 driver-run inflation).
  *
  * Per-query diagnostics (GC ms, storage blocks left behind, /dev/shm
  * fill) go to stderr and /tmp/graft_bench_diag.json so a slow run
  * explains itself; the stdout line stays small (3-decimal seconds —
  * the driver's tail capture lost the head of r4's full-precision
  * line).
  */
object Bench {
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
  private def shmUsedBytes: Long = {
    val f = new java.io.File("/dev/shm")
    f.getTotalSpace - f.getUsableSpace
  }
  // host contention indicator: 1-minute loadavg at query start. The r5
  // driver run measured d07 at 15.5 s (vs an 8 s median reproduced
  // before and after) with gc_ms=77 and shm=0 — nothing JVM-internal
  // explains a 2x, so record what the HOST was doing at the time.
  private[graft] def loadAvg: Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    catch { case _: Throwable => -1.0 }

  /** Between samples (outside any timed window): the clean storage
    * state described above. */
  private[graft] def cleanStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc() // drain ContextCleaner refs -> delete tmpfs shuffle files
  }

  /** Warm-up before the first sample: JIT/codegen/IO paths, not counted. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/region.parquet").count()
    SparkEntry.entry(spark).count()
    cleanStorage(spark)
  }

  /** Per-stage recorder for the in-window phase instrumentation (the
    * round-12 verdict's top item): the heavy entries (≥3 s) have read
    * 3–4× their frozen medians in four consecutive driver runs while
    * every targeted re-measure sat at the freeze — and the diag's
    * JVM-level counters (gc, shm, loadavg) could not say WHERE the
    * extra seconds went inside the one-shot run. Stage metrics can:
    * each completed stage's wall (completion − submission), summed
    * task/CPU/GC time, input/shuffle/spill bytes and task count are
    * recorded DURING the timed window (the listener is passive; the
    * drain that flushes the async bus runs after timing stops). A
    * driver-run inflation then reads as one of: more stages than the
    * freeze (cache/published-table miss → recompute), same stages with
    * wall ≫ task/32 (scheduler/host starvation), inflated task time
    * (genuinely slower compute), or gc/spill concentration — a lookup,
    * not an adjudication. */
  private[graft] final class StageRecorder extends org.apache.spark.scheduler.SparkListener {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StageSample]
    def reset(): Unit = buf.clear()
    def snapshot(): Seq[StageSample] = {
      import scala.jdk.CollectionConverters._
      buf.asScala.toSeq
    }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m == null) return // skipped/failed stage: no metrics, no sample
      val wall = (for { c <- si.completionTime; s <- si.submissionTime }
        yield c - s).getOrElse(-1L)
      val name = si.name.replace('"', '\'').replace('\\', '/').take(48)
      buf.add(StageSample(si.stageId, name, wall, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.inputMetrics.bytesRead >> 20, m.shuffleReadMetrics.totalBytesRead >> 20,
        m.shuffleWriteMetrics.bytesWritten >> 20, m.memoryBytesSpilled >> 20,
        si.numTasks, si.submissionTime.getOrElse(-1L),
        si.completionTime.getOrElse(-1L)))
    }
  }

  private[graft] final case class StageSample(id: Int, name: String, wallMs: Long,
      taskMs: Long, cpuMs: Long, gcMs: Long, inMb: Long, shReadMb: Long,
      shWriteMb: Long, spillMb: Long, tasks: Int, subMs: Long, endMs: Long) {
    def json: String =
      s"""{"id":$id,"wall_ms":$wallMs,"task_ms":$taskMs,""" +
        s""""cpu_ms":$cpuMs,"gc_ms":$gcMs,"in_mb":$inMb,""" +
        s""""sh_r_mb":$shReadMb,"sh_w_mb":$shWriteMb,""" +
        s""""spill_mb":$spillMb,"tasks":$tasks,"name":"$name"}"""
  }

  /** Seconds above which a query's diag line carries its stage table.
    * 1 s since round 15 (was 3): the round-14 drift riders (d10 at
    * 1.72×, q26 at 1.45×) lived in the 1–3 s band where the
    * adjudication instrument was blind — every entry that can read
    * >1.4× its frozen median now records the stage facts the
    * ambient-vs-code rule needs. */
  private val StageDiagMinSecs = 1.0

  /** Repo root for the per-round diag artifact: the working directory if
    * it is the sbt project root, else the canonical box path. */
  private def repoDir: java.io.File = {
    val cwd = new java.io.File(".").getCanonicalFile
    if (new java.io.File(cwd, "build.sbt").exists()) cwd
    else new java.io.File("/root/repo")
  }

  /** Round number the CURRENT bench belongs to: max committed
    * BENCH_r<N>.json + 1 (the driver writes BENCH_r<N>.json only after
    * the round's bench has run, so at bench time the max on disk is the
    * PREVIOUS round). */
  private def currentRound: Int = sys.env.get("SPARK_GRAFT_ROUND")
    .flatMap(r => scala.util.Try(r.toInt).toOption).getOrElse {
    val re = """BENCH_r(\d+)\.json""".r
    // COMMITTED files only (round-14 review): a stray/untracked
    // BENCH_r<N>.json from an aborted run must not advance the round —
    // `git ls-files` sees exactly what history records; if git is
    // unavailable fall back to the raw listing.
    val names: Seq[String] =
      try {
        import scala.sys.process._
        Process(Seq("git", "-C", repoDir.getPath, "ls-files"))
          .!!.linesIterator.toSeq
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only (round-15 advice): an OOM/interrupt must not be
        // swallowed into a silent round-number guess; and when git IS
        // unavailable, say so — the unfiltered listing can re-introduce
        // the stray-untracked-file round bump this path exists to avoid
        System.err.println(s"[bench] git ls-files unavailable (${e.getMessage}); " +
          "round derived from the UNFILTERED directory listing")
        Option(repoDir.listFiles()).getOrElse(Array.empty).toSeq.map(_.getName)
      }
    val ns = names.flatMap(f => re.findFirstMatchIn(f).map(_.group(1).toInt))
    if (ns.isEmpty) 1 else ns.max + 1
    }

  /** Frozen per-entry medians (BENCH_FREEZE.json, written by the freeze
    * protocol) — the yardstick behind the stdout `diag` verdicts. Flat
    * {"name": seconds}; absent file -> no ratios, diag still carries the
    * raw stage facts. Parsed with a dependency-free regex: the file is
    * machine-written, flat, and numeric-valued by construction. */
  private def loadFlatJson(f: java.io.File): Map[String, String] = {
    if (!f.exists()) return Map.empty
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    """"([A-Za-z0-9_]+)"\s*:\s*(\{[^}]*\}|[-0-9.Ee]+)""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** FROZEN control probe — NEVER change this query (it is the
    * cross-session yardstick; round-8 freeze and all later rounds
    * compare against its history). It touches no graft operator code,
    * so its wall-clock moves ONLY with the host/session: the same box
    * has measured identical-code sessions 1.5–1.7× apart (r6 vs r7),
    * and without an in-run control the 2× bench gate can be breached by
    * ambient slowdown alone. The probe runs three times (before, mid,
    * after the query loop); the reported value is the median, so a
    * consumer can normalize: regression ratio = (query / frozen_query)
    * ÷ (control / frozen_control). */
  private[graft] def controlProbe(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_quantity") < 25)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_extendedprice"), avg("l_discount"), count(lit(1)))
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  /** SECOND, HEAVIER control probe (round 18, verdict item 6) — also
    * FROZEN: never change this query. The single sub-second probe
    * under-corrects when ambient swings past ~1.4× (rev-b freeze
    * note): a light probe is scheduling-latency-dominated while the
    * multi-second entries it normalizes are CPU/bandwidth-dominated,
    * so one ratio cannot fit both regimes. This probe is a
    * seconds-class lineitem⋈lineitem self-join + two aggregations —
    * shuffle- and CPU-bound like the heavy entries, touching no graft
    * operator code. Both probes are stamped (`control`/`control2` on
    * the stdout line, run lists in the diag), so the adjudicator can
    * fit a 2-point ambient model (light = scheduler, heavy =
    * compute) instead of one scalar. */
  private[graft] def controlProbe2(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val a = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("l_quantity"))
    val b = a.select(col("l_orderkey").as("r_orderkey"),
      col("l_linenumber").as("r_linenumber"), col("l_quantity").as("r_quantity"))
    a.join(b, a("l_orderkey") === b("r_orderkey") &&
        a("l_linenumber") < b("r_linenumber"))
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity") * col("r_quantity")).as("qq"),
        sum("l_extendedprice").as("ep"), count(lit(1)).as("n"))
      .agg(sum("qq"), avg("ep"), sum("n"), count(lit(1)))
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  /** THIRD control probe (round 20, verdict item 7) — the STREAMING
    * TIER's measured fixed cost, also FROZEN: one admission-class
    * drain (s14DedupDrain's exact construction: RocksDB-backed child
    * session, watermark-bounded pair dedup, AvailableNow parquet sink)
    * over a 3-ROW feed, so its wall is ~pure engine bootstrap +
    * state-provider init/commit across the replay partition count —
    * the constant every s14/s16-class entry pays before touching data.
    * Stamped as `control_stream` in the file line + diag (not stdout —
    * the tail-window budget), so the 2× gate adjudication on the
    * streaming entries can read data-dependent cost = entry −
    * control_stream instead of riding fixed constants. */
  private[graft] def controlProbeStream(spark: SparkSession): Double = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val base = graft.streaming.Replay.runBase(spark, "ctl-stream")
    Seq((1L, 2L), (1L, 2L), (3L, 4L)).toDF("ni", "ci")
      .coalesce(1).write.parquet(s"$base/feed")
    graft.streaming.Replay.s14DedupDrain(spark, s"$base/feed", s"$base/run")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    // fixture-drift tripwire (round-10 postmortem) — printed now and
    // again just before the final JSON line so the driver's 2000-char
    // tail capture includes it on every run
    val probeLine = graft.core.SchemaProbe.report(spark, sfDir)
    warmUp(spark, sfDir)
    val diag = new StringBuilder
    val ctlRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ctl2Runs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runControl(tag: String): Unit = {
      val s = controlProbe(spark, sfDir)
      ctlRuns += s
      cleanStorage(spark)
      val s2 = controlProbe2(spark, sfDir)
      ctl2Runs += s2
      System.err.println(f"[bench-ctl] $tag ${s}%.3fs / heavy ${s2}%.3fs")
      cleanStorage(spark)
    }
    runControl("pre")
    // streaming fixed-cost probe: once per run (it is itself a
    // seconds-class constant; its run-to-run variance is the engine's,
    // which is exactly what it measures)
    val ctlStream = math.round(controlProbeStream(spark) * 1000) / 1000.0
    System.err.println(f"[bench-ctl] stream $ctlStream%.3fs")
    cleanStorage(spark)
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    val midAt = allQueries.size / 2
    // per-SUITE control samples (r8 verdict: the p-suite incident was
    // invisible because the probe ran pre/mid/post only — a transient
    // host stall inside one suite couldn't be localized). One probe is
    // stamped at each suite boundary (suites are contiguous under the
    // name sort: a/d/m/p/q/s/t); these are reported separately and do
    // NOT feed the frozen pre/mid/post median, whose protocol every
    // prior freeze compares against.
    val suiteCtl = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def runSuiteControl(suite: String): Unit = {
      val s = controlProbe(spark, sfDir)
      suiteCtl(suite) = s
      System.err.println(f"[bench-ctl] suite:$suite ${s}%.3fs")
      cleanStorage(spark)
    }
    // frozen medians loaded BEFORE the query loop (round-15 verdict
    // item 4): the in-loop >2x retry needs the yardstick at query time
    val freezeFile = new java.io.File(repoDir, "BENCH_FREEZE.json")
    val freezeSf: Option[String] =
      if (!freezeFile.exists()) None
      else """"_sf"\s*:\s*"([^"]+)"""".r
        .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(freezeFile.toPath),
          java.nio.charset.StandardCharsets.UTF_8))
        .map(_.group(1))
    // canonicalize both sides (round-14 review): a trailing slash,
    // relative spelling, or symlink of the same corpus must not
    // silently disable the verdicts and the round's repo diag copy
    def canon(p: String): String =
      try new java.io.File(p).getCanonicalPath catch { case _: Throwable => p }
    val freezeApplies = freezeSf.forall(p => canon(p) == canon(sfDir))
    if (!freezeApplies)
      System.err.println(s"[bench] BENCH_FREEZE.json is for ${freezeSf.get}, " +
        s"run is $sfDir — diag verdicts and the repo diag copy are OFF")
    val frozenMed =
      (if (freezeApplies) loadFlatJson(freezeFile) else Map.empty[String, String])
        .flatMap { case (k, v) => scala.util.Try(k -> v.toDouble).toOption }
    val stageRec = new StageRecorder
    sc.addSparkListener(stageRec)
    // per-slow-entry stage facts, harvested for the stdout `diag`
    // verdicts and the stage-signature file the NEXT freeze commits
    final case class StageFacts(nStages: Int, shReadMb: Long, cpuS: Double,
      gcS: Double, spillMb: Long)
    val stageFacts = scala.collection.mutable.LinkedHashMap.empty[String, StageFacts]
    var prevSuite = ""
    val results = try allQueries.zipWithIndex.map { case ((name, fn), qIdx) =>
      if (qIdx == midAt) runControl("mid")
      val suite = name.take(1)
      if (suite != prevSuite) { prevSuite = suite; runSuiteControl(suite) }
      val load0 = loadAvg
      val gc0 = gcMillis
      val pub0 = graft.core.Materialize.publishCount
      // flush straggler events from the control probe, then reset so
      // the recorder holds exactly this query's stages
      org.apache.spark.graft.ListenerInterop.drain(sc, 2000)
      stageRec.reset()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      // a thrown OFFICIAL sample is flagged in the diag line (mirroring
      // retry_failed): its short time-to-failure can sit below the 2x
      // retry trigger and would otherwise read as a healthy fast run
      val sampleFailed =
        try { fn(spark, sfDir).count(); false } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); true
        }
      val secs = (System.nanoTime() - t0) / 1e9
      // wall-clock end captured on the SAME clock as stage
      // submission/completion times (currentTimeMillis) — deriving it
      // from the nanoTime span mixed clocks, so NTP slew during the
      // query could make post_stage_ms negative/inflated (round-13
      // advice)
      val wall1 = System.currentTimeMillis()
      // stage table for the heavy entries — captured BEFORE cleanStorage
      // so the query's own stages are not mixed with cleanup; the drain
      // is outside the timed window
      val stagesJson = if (secs >= StageDiagMinSecs) {
        org.apache.spark.graft.ListenerInterop.drain(sc, 5000)
        val all = stageRec.snapshot()
        val top = all.sortBy(-_.wallMs).take(12)
        val items = top.map(_.json).mkString(",")
        // window totals across ALL stages (top-12 under-counts the
        // many-small-stage entries) + the two driver-side lags:
        // pre_stage_ms = t0 -> first stage submission (planning, file
        // listing, fingerprinting — work no stage accounts for) and
        // post_stage_ms = last stage end -> timing end (result fetch,
        // driver post-processing). An inflated entry whose stage wall
        // matches the freeze but whose pre_stage_ms carries the excess
        // is a DRIVER-side problem — the hypothesis class the
        // four-round d02 mystery could never separate before.
        val subs = all.map(_.subMs).filter(_ > 0)
        val ends = all.map(_.endMs).filter(_ > 0)
        val preMs = if (subs.isEmpty) -1L else subs.min - wall0
        val postMs = if (ends.isEmpty) -1L else wall1 - ends.max
        stageFacts(name) = StageFacts(all.size, all.map(_.shReadMb).sum,
          all.map(_.cpuMs).sum / 1000.0, all.map(_.gcMs).sum / 1000.0,
          all.map(_.spillMb).sum)
        s""","n_stages":${all.size},"st_wall_ms":${all.map(_.wallMs).sum},""" +
          s""""st_task_ms":${all.map(_.taskMs).sum},"st_cpu_ms":${all.map(_.cpuMs).sum},""" +
          s""""st_gc_ms":${all.map(_.gcMs).sum},"st_in_mb":${all.map(_.inMb).sum},""" +
          s""""st_sh_r_mb":${all.map(_.shReadMb).sum},"st_spill_mb":${all.map(_.spillMb).sum},""" +
          s""""pre_stage_ms":$preMs,"post_stage_ms":$postMs,"stages":[$items]"""
      } else ""
      val gcMs = gcMillis - gc0
      // mat_pub > 0: this timing includes a one-time materialization
      // publish (cold fingerprint or always-compute kernel) — compare
      // such samples against WARM medians, not each other (round-10
      // false-regression class after the corpus regen)
      val pubN = graft.core.Materialize.publishCount - pub0
      val blocksLeft = sc.getPersistentRDDs.size
      cleanStorage(spark)
      // shm snapshot BEFORE any retry: the field means "tmpfs shuffle
      // residue after the OFFICIAL sample" in every prior round's diag,
      // and the adjudication protocol compares it cross-round
      val shm = shmUsedBytes
      // >2x-of-frozen RETRY (round-15 verdict item 4): six consecutive
      // driver sessions adjudicated the same entry's burst as ambient
      // from stage facts alone — measure it instead. One immediate
      // re-run, same session, clean storage; both samples land in the
      // diag. The FIRST sample stays the official reading (the
      // cross-round protocol every freeze compares against is
      // single-sample); the retry is evidence: retry ~ frozen median
      // = transient host burst, retry ~ first sample = a persistent
      // slowdown the adjudication rule must face.
      // load-guarded requeue (round-21, verdict item 1b): a sample taken
      // while the host load1m exceeded half the core count is suspect at
      // a LOWER ratio than the 2x rule — the r20 d04 sample (10.3 s at
      // load 24, retry 2.6 s) was adjudicated by retry only by luck of
      // the 2x trigger. Both triggers re-run once; the retry's load1m is
      // stamped at its START and its END (round-22, the round-21 ADVICE
      // low: a burst arriving DURING a multi-second retry was invisible
      // when only the start was sampled — retry_load1m is the start,
      // retry_load1m_end the reading right after the retry finished).
      val retry: Option[(Double, Long, Boolean, Double, Double)] =
        frozenMed.get(name).filter(m => secs >= 1.0 &&
          (secs >= 2.0 * m ||
            (load0 > cpus.toDouble / 2 && secs >= 1.4 * m))).map { _ =>
          val rp0 = graft.core.Materialize.publishCount
          val rLoad = loadAvg
          val rt0 = System.nanoTime()
          // a THROWN retry must not read as a fast clean second sample —
          // time-to-failure near the frozen median would falsely
          // exonerate a real regression under the retry_x rule, so the
          // failure is carried as a flag into the diag and verdict rows
          // (NonFatal only: an OOM/interrupt propagates, it does not
          // become a diag footnote)
          val failed =
            try { fn(spark, sfDir).count(); false } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"[bench] $name retry failed: ${e.getMessage}")
                true
            }
          val rSecs = (System.nanoTime() - rt0) / 1e9
          val rLoadEnd = loadAvg // sampled BEFORE cleanup: the retry's own window
          cleanStorage(spark)
          (rSecs, graft.core.Materialize.publishCount - rp0, failed, rLoad, rLoadEnd)
        }
      val retryJson = retry.map { case (rs, rp, rf, rl, rle) =>
        s""","retry_sec":${math.round(rs * 1000) / 1000.0},"retry_pub":$rp""" +
          s""","retry_load1m":${math.round(rl * 100) / 100.0}""" +
          s""","retry_load1m_end":${math.round(rle * 100) / 100.0}""" +
          (if (rf) ""","retry_failed":true""" else "")
      }.getOrElse("")
      val d = s"""{"q":"$name","sec":${math.round(secs * 1000) / 1000.0},""" +
        s""""gc_ms":$gcMs,"blocks_after":$blocksLeft,"shm_mb":${shm >> 20},""" +
        s""""mat_pub":$pubN,"load1m":${math.round(load0 * 100) / 100.0}""" +
        (if (sampleFailed) ""","failed":true""" else "") +
        retryJson + stagesJson + "}"
      System.err.println(s"[bench-diag] $d")
      diag.append(d).append('\n')
      (name, secs, pubN, retry, load0)
    } finally sc.removeSparkListener(stageRec) // no bus accumulation if
    // run() is ever invoked twice in one JVM (round-13 advice)
    runControl("post")
    // 3-decimal seconds: ms precision (scheduling noise is +-100 ms);
    // full precision doubled the line length past the driver's capture.
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val rounded = results.map { case (k, v, _, _, _) => k -> r3(v) }
    // session-ambient yardstick: median of the 3 control runs (full
    // list in the diag file). Extra top-level JSON keys are additive —
    // the driver's parser reads metric/value/queries and ignores these.
    val ctl = r3(ctlRuns.sorted.apply(ctlRuns.size / 2))
    val ctl2 = r3(ctl2Runs.sorted.apply(ctl2Runs.size / 2))
    val suites = suiteCtl.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // entries whose timed window included a materialization publish —
    // a COLD sample (first run at this corpus fingerprint, or an
    // always-compute kernel). Three rounds running, first-run publishes
    // read as false regressions in a single bench run; the marker
    // makes them mechanically adjudicable from the tail line alone.
    // "cold" is an additive top-level key (the driver's parser reads
    // metric/value/queries and ignores extras) carried by BOTH the
    // short tail line and the full-name file line. The query-map keys
    // themselves stay unstarred: they are the cross-round join key for
    // BASELINE comparisons, and a key that mutates with cache state
    // would silently drop the entry from that join.
    val coldList = results.collect { case (k, _, p, _, _) if p > 0 =>
      "\"" + k.takeWhile(_ != '_') + "\"" }.mkString("[", ",", "]")
    // ---- per-slow-entry ADJUDICATION (round-13 verdict item 1): the
    // d02 exoneration depended on a /tmp diag file surviving until the
    // judge read it. The stdout line now carries, for every entry >= 2x
    // its frozen median, the facts the pre-registered ambient-vs-code
    // rule (BASELINE.md) adjudicates on: same stage set as the frozen
    // signature (same_stages: stage count + shuffle-read volume within
    // 20%) and the CPU-seconds. Frozen medians come from
    // BENCH_FREEZE.json, stage signatures from BENCH_STAGESIG.json —
    // both committed by the freeze protocol; entries absent from them
    // (new/renamed surface) get raw facts, no verdict.
    // sf guard (round-14 review): the freeze file stamps the scale
    // factor it was measured at (`_sf`); verdicts against medians from
    // a DIFFERENT corpus would be pure noise, so a mismatched run
    // computes none (and, below, does not clobber the round's repo
    // diag artifact with wrong-scale lines). Absent stamp/file =
    // legacy/bootstrap -> current behavior.
    val frozenSig = loadFlatJson(new java.io.File(repoDir, "BENCH_STAGESIG.json"))
    def sigOf(v: String, key: String): Option[Long] =
      (""""""" + key + """"\s*:\s*(-?\d+)""").r.findFirstMatchIn(v)
        .map(_.group(1).toLong)
    // 1.4x since round 15 (was 2x): the band where round-14's largest
    // unexplained ratios lived now gets verdict rows too; the 2x gate
    // itself is unchanged — sub-2x rows are advisory context
    //
    // 2-point ambient model (round 18): the frozen probe medians
    // (`_control`/`_control2`, stamped by freeze.py) give this run's
    // light and heavy ambient ratios. Verdict rows carry `xa` — the
    // raw ratio normalized by the HEAVY probe's ratio, since every
    // verdict-eligible entry (>= 1 s) is compute/bandwidth-bound like
    // the heavy probe, while the sub-second light probe tracks
    // scheduler noise and under-corrects exactly there (the rev-b
    // freeze's noted extreme). Raw `x` stays the gate number;
    // xa ~ 1.0 is the ambient exoneration as arithmetic.
    val ambLight = frozenMed.get("_control").map(ctl / _)
    val ambHeavy = frozenMed.get("_control2").map(ctl2 / _)
    val allVerdicts = results.flatMap { case (name, sec, pubN, retry, load0) =>
      frozenMed.get(name).filter(m =>
        !name.startsWith("_") && sec >= 1.0 && sec >= 1.4 * m).map { m =>
        val base = s""""q":"${name.takeWhile(_ != '_')}","sec":${r3(sec)},""" +
          s""""x":${r3(sec / m)},"pub":$pubN""" +
          // the sample's own host-contention reading (round-21, verdict
          // item 1b): the load verdict rides IN the adjudication row —
          // load1m > cpus/2 marks the official sample contended
          s""","load1m":${r3(load0)}""" +
          // streaming entries additionally carry the data-dependent
          // residual after this run's measured tier fixed cost (round-21,
          // verdict item 7): sec_net = sec − control_stream. Since the
          // round-22 freeze stamp (`_control_stream` in BENCH_FREEZE.json,
          // the quiet-session tier fixed cost) the row also carries the
          // NET ratio xn = sec_net / (frozen_med − _control_stream) — the
          // adjudication number for s-entries, since the raw ratio x
          // rides the tier's ambient-sensitive fixed cost both in its
          // numerator and its yardstick. The official gate number stays
          // raw `x` (the cross-round protocol is single-sample raw
          // seconds); xn is the arithmetic the adjudicator reads.
          (if (name.startsWith("s")) {
            val net = r3(math.max(0.0, sec - ctlStream))
            s""","sec_net":$net""" +
              frozenMed.get("_control_stream")
                .filter(fs => m - fs > 0.2)
                .map(fs => s""","xn":${r3(net / (m - fs))}""").getOrElse("")
          } else "") +
          ambHeavy.filter(_ > 0).map(a =>
            s""","xa":${r3(sec / m / a)}""").getOrElse("") +
          // the measured second sample (>2x entries — and, round 21,
          // load-contended >1.4x entries — re-ran once, clean storage,
          // same session): retry_x near 1 = transient burst, retry_x
          // near x = persistent — the ambient argument as data
          retry.map { case (rs, _, rf, rl, rle) =>
            s""","retry_sec":${r3(rs)},"retry_x":${r3(rs / m)}""" +
              s""","retry_load1m":${r3(rl)}""" +
              s""","retry_load1m_end":${r3(rle)}""" +
              (if (rf) ""","retry_failed":true""" else "") }.getOrElse("")
        val withStages = stageFacts.get(name).map { f =>
          val same = frozenSig.get(name).flatMap { sig =>
            for { ns <- sigOf(sig, "n_stages"); sr <- sigOf(sig, "sh_r_mb") }
              yield ns == f.nStages &&
                math.abs(sr - f.shReadMb) <= math.max(8L, sr / 5)
          }
          base + s""","stg":${f.nStages},"cpu_s":${r3(f.cpuS)}""" +
            s""","shr_mb":${f.shReadMb},"gc_s":${r3(f.gcS)}""" +
            s""","spill_mb":${f.spillMb}""" +
            same.map(b => s""","same_stages":$b""").getOrElse("")
        }.getOrElse(base)
        (sec / m, "{" + withStages + "}")
      }
    }
    // the tail line must survive the driver's 2000-char window even
    // under whole-session ambient inflation: keep the 8 worst ratios,
    // count the rest (full detail is in the diag file regardless)
    // in-band truncation marker (round-14 review): "more" rides INSIDE
    // the diag object, so a consumer reading only the diag value sees
    // how many verdicts the 8-row tail cap dropped (full detail is in
    // the diag file regardless)
    val ambJson =
      (for { l <- ambLight; h <- ambHeavy } yield
        s""""amb_light":${r3(l)},"amb_heavy":${r3(h)},""").getOrElse("")
    val diagVerdicts =
      s"""{$ambJson"items":${allVerdicts.sortBy(-_._1).take(8).map(_._2)
        .mkString("[", ",", "]")},""" +
        s""""more":${math.max(0, allVerdicts.size - 8)}}"""
    def jsonLine(entries: Seq[(String, Double)], total: Double): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""control":$ctl,"control2":$ctl2,"control_stream":$ctlStream,""" +
        s""""suite_controls":$suites,""" +
        s""""cold":$coldList,"diag":$diagVerdicts,"sf":"$sfDir"}"""
    }
    // the STDOUT form must FIT the driver's 2000-char tail window WHOLE
    // — round 18's line carried the 8-row diag verdicts (~1 KB) plus
    // suite controls on top of 125 prefix-keyed entries and overflowed,
    // so the driver recorded `parsed: null` all round (the round-18
    // verdict's cosmetic item). Stdout now carries only what the
    // driver's parser reads (metric/value/queries) plus the compact
    // ambient/cold keys; suite controls, verdict rows, and stage facts
    // live in /tmp/graft_bench.json + the diag file + the repo diag
    // artifact, all of which carry the full detail regardless. Entry
    // values are 2-decimal here (10 ms — below scheduling noise); the
    // file line keeps 3.
    def stdoutLine(entries: Seq[(String, Double)]): String = {
      val qs2 = entries.map { case (k, v) => k -> math.round(v * 100) / 100.0 }
      // the stdout total is re-summed from the SAME 2-decimal values
      // printed in this line's queries map, so the cross-sum invariant
      // (consumer sums the map and gets exactly `value`) holds for
      // this line too — with ~130 entries the 2-vs-3-decimal drift of
      // summing the other rounding reaches ~0.3 s, which a strict
      // driver-side cross-check would flag as corruption
      val qs = qs2.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total2 = math.round(qs2.map(_._2).sum * 100) / 100.0
      s"""{"metric":"total","value":$total2,"unit":"sec","queries":$qs,""" +
        s""""control":$ctl,"control2":$ctl2,"cold":$coldList,"sf":"$sfDir"}"""
    }
    // total = sum of the ALREADY-ROUNDED per-query values (re-rounded to
    // strip FP dust), so a consumer cross-summing the queries map gets
    // exactly the reported total (applies to the FILE line; the stdout
    // line re-derives its own total from its own 2-decimal entries)
    val total = r3(rounded.map(_._2).sum)
    // The driver captures only the LAST 2000 chars of output and parses
    // the {"metric": line out of it — with 75+ full-name entries the
    // line outgrew the window and `parsed` has been null since r4 (the
    // judge had to reconstruct totals). The stdout line therefore keys
    // each query by its UNIQUE PREFIX (q01_pricing_summary -> q01, the
    // contract example's own "q1" style), ~12 bytes/entry: bounded well
    // under the window up to ~150 entries. The FULL-name line is
    // persisted to /tmp/graft_bench.json for any consumer that reads a
    // file whole. Prefix collisions (none today) fall back to full
    // names rather than silently merging entries.
    val short = rounded.map { case (k, v) => k.takeWhile(_ != '_') -> v }
    val compact =
      if (short.map(_._1).distinct.size == short.size) stdoutLine(short)
      else stdoutLine(rounded)
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench.json"),
      (jsonLine(rounded, total) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    diag.append(s"""{"control_runs":[${ctlRuns.map(r3).mkString(",")}],""" +
      s""""control2_runs":[${ctl2Runs.map(r3).mkString(",")}],""" +
      s""""control_stream":$ctlStream}""").append('\n')
    java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/graft_bench_diag.json"),
      diag.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // per-RUN stamped diag copy (round-22, verdict item 2): the fixed
    // paths above are overwritten by every bench invocation — in round
    // 21 the driver's 8-core run clobbered its own 32-core run's diag,
    // destroying exactly the load1m/retry rows that would have settled
    // that round's anomalies. A cpus+epoch-stamped filename survives any
    // later run at any core count.
    val diagStamp = s"c${cpus}_${System.currentTimeMillis() / 1000}"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(s"/tmp/graft_bench_diag_$diagStamp.json"),
      diag.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] stamped diag copy failed: ${e.getMessage}") }
    // THIS run's stage signatures (every entry that produced a stage
    // table) — the freeze protocol copies this to BENCH_STAGESIG.json
    val sigLine = stageFacts.map { case (k, f) =>
      s""""$k":{"n_stages":${f.nStages},"sh_r_mb":${f.shReadMb}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/graft_bench_stagesig.json"),
      (sigLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // per-round diag artifact IN THE REPO (round-13 verdict item 1: the
    // adjudicating diag must survive in git history, not in /tmp) —
    // overwritten by each bench at the same round, so the round's last
    // run (the driver's) wins; the driver's end-of-round commit ships
    // it. Skipped when this run's sf differs from the freeze's (a
    // diagnostic run at another scale must not clobber the round's
    // adjudication artifact with wrong-scale lines — round-14 review).
    if (freezeApplies) {
      try java.nio.file.Files.write(
        new java.io.File(repoDir, f"BENCH_DIAG_r$currentRound%02d.json").toPath,
        diag.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] diag repo copy failed: ${e.getMessage}") }
      // cpus-stamped repo twin (round-22, verdict item 2): the driver
      // runs the bench at 32 AND 8 cores in one round — with only the
      // per-round path, the second run destroys the first's diag. One
      // file per core count keeps both runs' adjudication rows in the
      // round's committed history (same-cpus reruns still last-win,
      // which is the per-round convention; the /tmp epoch-stamped copy
      // above preserves every individual run).
      try java.nio.file.Files.write(
        new java.io.File(repoDir,
          f"BENCH_DIAG_r$currentRound%02d_c$cpus.json").toPath,
        diag.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] cpus diag repo copy failed: ${e.getMessage}") }
    }
    // worst-entry adjudication row IN the stdout tail (round-22, verdict
    // item 2): the diag files can be clobbered by a later run, but the
    // driver's 2000-char tail capture survives in BENCH_r<N>.json forever
    // — so the single row the adjudicator needs most (the run's worst
    // ratio vs frozen, with its load stamps and measured retry) rides
    // there too. Distinct "bench_worst" key: the driver greps for
    // {"metric": and must never parse this line instead. Budget: this
    // line is ~160–260 chars, the compact line ~1600 — both fit the
    // window together.
    val worstLine = results
      .flatMap { case (name, sec, pubN, retry, load0) =>
        frozenMed.get(name).filter(_ > 0)
          .map(m => (sec / m, name, sec, m, pubN, retry, load0)) }
      .sortBy(-_._1).headOption.map { case (x, name, sec, m, pubN, retry, load0) =>
        s"""{"bench_worst":{"q":"${name.takeWhile(_ != '_')}","sec":${r3(sec)},""" +
          s""""x":${r3(x)},"pub":$pubN,"load1m":${r3(load0)}""" +
          (if (name.startsWith("s"))
            s""","sec_net":${r3(math.max(0.0, sec - ctlStream))}""" else "") +
          retry.map { case (rs, _, rf, rl, rle) =>
            s""","retry_sec":${r3(rs)},"retry_x":${r3(rs / m)}""" +
              s""","retry_load1m":${r3(rl)},"retry_load1m_end":${r3(rle)}""" +
              (if (rf) ""","retry_failed":true""" else "") }.getOrElse("") +
          "}}"
      }.getOrElse("""{"bench_worst":{}}""")
    println(probeLine)
    println(compact)
    // the line must be the LAST output: Spark's stop() logging (or a
    // hung shutdown) after it would push it out of the tail window —
    // print again after stop so the final bytes of stdout are the line
    try spark.stop() catch { case _: Throwable => () }
    println(worstLine)
    println(compact)
  }
}
