package graft.perfbench

import org.apache.spark.sql.SparkSession

import Main.{Args, Outcome}

/** The two workloads. Each one sets up (session, state, warm-up —
  * all counted in `setup_s`), then measures. A traced run measures
  * twice, untraced and then traced: its end-to-end deltas are the
  * tracing overhead, its listeners and spans give the layer metrics. */
object Workloads {

  private def putOverhead(out: Outcome, plain: Map[String, Double],
                          traced: Map[String, Double]): Unit =
    Seq("wall_s", "cpu_s", "lat_p50_ms", "lat_p99_ms").foreach(m =>
      out.metrics(s"overhead.$m") = traced(m) - plain(m))

  // ------------------------------------------------------------ ingest

  def ingest(spark: SparkSession, args: Args, tracer: Tracer, out: Outcome,
             setup0: Long): Unit = {
    val load = new IngestLoad(spark, args.seed, args.work.resolve("state"), tracer)
    val trickleS = if (args.smoke) 1.0 else math.max(1.0, args.seconds - IngestTailS)
    val rampStepS = if (args.smoke) 0.25 else 0.5
    val rates = if (args.smoke) Main.RampRates.take(2) else Main.RampRates
    val bulkMiB = if (args.smoke) 8.0 else IngestBulkMiB
    if (!args.smoke) load.phase("warmup", 0, Seq((8.0, 0.5), (0.0, 32.0)), 0L)
    out.metrics("setup_s") = (System.nanoTime() - setup0) / 1e9

    val bulkRepeats = if (args.smoke) 1 else IngestBulkRepeats
    def measure(parent: Long, corrupt: Boolean) = {
      val trickle = load.phase("trickle", 1, Seq((1.0, trickleS)), parent, corrupt)
      val ramp = load.phase("ramp", 2, rates.map(r => (r, rampStepS)), parent)
      val bulk = (1 to bulkRepeats).map(i => load.phase(s"bulk$i", 3, Seq((0.0, bulkMiB)), parent))
      (trickle, ramp, bulk)
    }
    // the unit of work behind wall_s and cpu_s is the whole schedule:
    // trickle, ramp and every bulk transfer, each from its first offered
    // byte to its last visible one; latency comes from the trickle phase
    def e2e(t: load.PhaseResult, r: load.PhaseResult, b: Seq[load.PhaseResult]) = {
      val lat = t.got.seenMs.indices.map(i => (t.got.seenMs(i) - t.got.dueMs(i)).toDouble)
      System.err.println(s"[perfbench] trickle latency samples=${lat.size}")
      val all = Seq(t, r) ++ b
      Map("wall_s" -> all.map(_.wallS).sum, "cpu_s" -> all.map(_.cpuS).sum,
        "lat_p50_ms" -> Probe.percentile(lat, 50), "lat_p99_ms" -> Probe.percentile(lat, 99))
    }
    def account(rs: Seq[load.PhaseResult]): Unit = rs.foreach { p =>
      out.attempted += p.offer.lines
      out.failed += p.failed
      System.err.println(f"[perfbench] ingest ${p.name}: lines=${p.offer.lines} " +
        f"bytes=${p.offer.bytes.get} failed=${p.failed} wall=${p.wallS}%.3fs")
    }

    val (t, r, b) = measure(0L, args.corrupt)
    account(Seq(t, r) ++ b)
    val plain = e2e(t, r, b)
    plain.foreach { case (k, v) => out.metrics(k) = v }
    if (args.trace) {
      tracer.begin(Seq(spark))
      tracer.span("measure.traced", "phase", 0L) { sp =>
      val (t2, r2, b2) = measure(sp, corrupt = false)
      account(Seq(t2, r2) ++ b2)
      putOverhead(out, plain, e2e(t2, r2, b2))
      ingestLayers(out, t2, r2, b2, rates, tracer, spark)
      }
    }
  }

  val IngestBulkMiB = 128.0
  /** About how long the ramp and the bulk transfers take; the trickle
    * gets the rest of `--seconds`. */
  val IngestTailS = 5.0
  val IngestBulkRepeats = 2
  val LateOkMs = 50.0
  val BufferMiB = 4.0

  private def ingestLayers(out: Outcome, t: IngestLoad#PhaseResult, r: IngestLoad#PhaseResult,
                           bulk: Seq[IngestLoad#PhaseResult], rates: Seq[Double], tracer: Tracer,
                           spark: SparkSession): Unit = {
    val all = Seq(t, r) ++ bulk
    val g = t.got
    // validity of the latency figures: the trickle generator kept its schedule
    out.metrics("gen.late_p99_ms") = Probe.percentile(t.offer.lateMs.toSeq, 99)
    val write = g.dueMs.indices.map(i => (g.arrivalMs(i) - g.dueMs(i)).toDouble)
    val read = g.dueMs.indices.map(i => (g.seenMs(i) - g.arrivalMs(i)).toDouble)
    out.metrics("write.wait_p50_ms") = Probe.percentile(write, 50)
    out.metrics("write.wait_p99_ms") = Probe.percentile(write, 99)
    out.metrics("read.wait_p50_ms") = Probe.percentile(read, 50)
    out.metrics("read.wait_p99_ms") = Probe.percentile(read, 99)
    val recs = all.flatMap(_.got.recordBytes)
    out.metrics("emu.records") = recs.size.toDouble
    out.metrics("emu.record_fill") =
      if (recs.isEmpty) 0.0 else recs.map(_.toDouble).sum / recs.size / graft.ingest.Limits.RecordSizeLimit
    // emu write rate of a bulk transfer: bytes over the span from its
    // first offered byte to the arrival of its last record
    out.metrics("emu.put_mib_s") = Probe.median(bulk.map { b =>
      val lastArrival = if (b.got.arrivalMs.isEmpty) 0L else b.got.arrivalMs.max
      b.offer.bytes.get / IngestLoad.MiB / math.max(1e-3, (lastArrival - b.offer.startEpochMs) / 1000.0)
    })
    // a ramp step is sustained when the generator stays on schedule and
    // the backlog at its end is within one buffer plus 250 ms of offer
    var sustained = 0.0
    var broken = false
    rates.indices.foreach { i =>
      val late = Probe.percentile(r.offer.stepLateMs(i).toSeq, 99)
      val backlog = r.offer.stepBacklogEndMiB(i)
      out.metrics(s"backlog.end_mib.r${rates(i).toInt}") = backlog
      if (!broken && late <= LateOkMs && backlog <= BufferMiB + rates(i) * 0.25) sustained = rates(i)
      else broken = true
    }
    out.metrics("ramp.sustained_mib_s") = sustained
    val offered = all.map(_.offer.bytes.get).sum
    out.metrics("dropped_share") = all.map(_.droppedBytes).sum.toDouble / math.max(1L, offered)
    tracer.drain(spark)
    batchLayers(out, "ingest", tracer.batchStats.filter(_.op.startsWith("ingest.")), passes = 1)
    out.metrics("gc_ms") = all.map(_.gcMs).sum.toDouble
  }

  private def batchLayers(out: Outcome, prefix: String, bs: Seq[BatchStat], passes: Int): Unit = {
    val withData = bs.filter(_.inputRows > 0)
    out.metrics(s"$prefix.mb.batches") = withData.size.toDouble / passes
    out.metrics(s"$prefix.mb.trigger_p50_ms") =
      Probe.percentile(withData.map(_.durations.getOrElse("triggerExecution", 0L).toDouble), 50)
    Main.MbPhases.foreach { p =>
      out.metrics(s"$prefix.mb.${p}_ms") =
        if (withData.isEmpty) 0.0
        else withData.map(_.durations.getOrElse(p, 0L).toDouble).sum / withData.size
    }
  }

  // ------------------------------------------------------------- mixes

  /** The closed-loop mix: one warm-up pass in set-up (JIT, engine class
    * loading, one-time publishes), then [[MixPasses]] whole passes in a
    * seeded order (one in smoke mode). */
  def mixed(sessions: Seq[SparkSession], args: Args, mix: Mix, ops: Seq[String],
            tracer: Tracer, out: Outcome, setup0: Long): Unit = {
    val spark = sessions.head
    val order = new scala.util.Random(args.seed).shuffle(ops)
    System.err.println(s"[perfbench] mix order: ${order.mkString(" ")}")
    if (!args.smoke) {
      order.foreach(op => mix.run(op, 0L))
      mix.settle()
    }
    out.metrics("setup_s") = (System.nanoTime() - setup0) / 1e9

    final case class Pass(runs: Seq[OpRun], cpuS: Double, gcMs: Long, pubs: Long) {
      def wallS: Double = runs.map(_.wallS).sum
    }
    def onePass(parent: Long, corrupt: Boolean): Pass = {
      val cpu0 = Probe.cpuSeconds
      val gc0 = Probe.gcMillis
      val pub0 = graft.core.Materialize.publishCount
      val runs = order.zipWithIndex.map { case (op, i) => mix.run(op, parent, corrupt && i == 0) }
      Pass(runs, Probe.cpuSeconds - cpu0, Probe.gcMillis - gc0,
        graft.core.Materialize.publishCount - pub0)
    }
    def passes(parent: Long, corrupt: Boolean): Seq[Pass] =
      (0 until (if (args.smoke) 1 else MixPasses)).map(i => onePass(parent, corrupt && i == 0))
    def account(ps: Seq[Pass]): Unit = ps.foreach(_.runs.foreach { r =>
      out.attempted += 1
      if (!r.ok) out.failed += 1
    })
    // every figure is a median over passes, so one slow pass (the last
    // of the JIT warming, or a burst of host steal) does not move it
    def e2e(ps: Seq[Pass]): Map[String, Double] = {
      def lat(p: Pass, q: Double) = Probe.percentile(p.runs.map(_.wallS * 1000), q)
      Map("wall_s" -> Probe.median(ps.map(_.wallS)), "cpu_s" -> Probe.median(ps.map(_.cpuS)),
        "lat_p50_ms" -> Probe.median(ps.map(lat(_, 50))),
        "lat_p99_ms" -> Probe.median(ps.map(lat(_, 99))))
    }
    val plain = passes(0L, args.corrupt)
    account(plain)
    e2e(plain).foreach { case (k, v) => out.metrics(k) = v }
    plain.foreach(p => System.err.println("[perfbench] pass " +
      p.runs.map(r => f"${r.name}=${r.wallS}%.2f").mkString(" ") + f" total=${p.wallS}%.2f cpu=${p.cpuS}%.2f"))
    if (args.trace) {
      tracer.begin(sessions)
      val traced = tracer.span("measure.traced", "phase", 0L)(sp => passes(sp, corrupt = false))
      account(traced)
      putOverhead(out, e2e(plain), e2e(traced))
      tracer.drain(spark)
      mixLayers(out, traced.map(p => (p.runs, p.cpuS, p.gcMs, p.pubs)), tracer)
    }
  }

  /** A fixed pass count, not one that fits in `--seconds`: on a shared
    * host a slow run would fit one pass fewer, and the median over its
    * passes would then include the first pass, which still warms up. */
  val MixPasses = 3

  private def mixLayers(out: Outcome, ps: Seq[(Seq[OpRun], Double, Long, Long)],
                        tracer: Tracer): Unit = {
    val n = ps.size
    val stages = tracer.stageStats
    ps.flatMap(_._1).groupBy(_.name).foreach { case (op, runs) =>
      out.metrics(s"$op.wall_s") = Probe.median(runs.map(_.wallS))
      out.metrics(s"$op.build_s") = Probe.median(runs.map(_.buildS))
      val mine = stages.filter(_.op == op)
      out.metrics(s"$op.cpu_s") = mine.map(_.cpuMs).sum / 1000.0 / n
      out.metrics(s"$op.stages") = mine.size.toDouble / n
      out.metrics(s"$op.shuffle_mb") = mine.map(_.shuffleBytes).sum / IngestLoad.MiB / n
      runs.flatMap(_.extra).groupBy(_._1).foreach { case (k, vs) =>
        out.metrics(s"$op.$k") = Probe.median(vs.map(_._2))
      }
    }
    out.metrics("mat.publishes") = ps.map(_._4).sum.toDouble / n
    out.metrics("single_task_stages") = stages.count(_.tasks == 1).toDouble / n
    out.metrics("gc_ms") = ps.map(_._3).sum.toDouble / n
    val bs = tracer.batchStats.filter(_.op.nonEmpty)
    batchLayers(out, "streaming", bs, n)
    out.metrics("state.rows") = if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble
    out.metrics("state.commit_ms") = bs.map(_.stateCommitMs).sum.toDouble / n
  }
}
