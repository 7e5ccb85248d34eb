package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** graft's benchmark harness: one JVM, `local[nproc]`, one client.
  *
  *   Main --workload ingest|mix --seed N --seconds S
  *        --trace 0|1 --data DIR --work DIR --expected FILE
  *        [--smoke] [--corrupt]
  *
  * Prints one JSON object as the last stdout line: `correct`,
  * `attempted`, `failed` and `metrics` (the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`). */
object Main {

  /** End-to-end metrics: every workload reports each of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "cpu_s" -> "s", "peak_rss_mb" -> "MiB",
    "lat_p50_ms" -> "ms", "lat_p99_ms" -> "ms")

  /** The closed-loop mix: batch entries over the CPU-dense kernels,
    * then the streaming entries and the durable emu round trip. */
  val MixOps: Seq[String] = Seq("q03", "d02", "d03", "a02", "t12", "s14", "durable")
  val RampRates: Seq[Double] = Seq(8.0, 16.0, 32.0, 64.0, 128.0)
  val MbPhases: Seq[String] = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** Per-layer metrics, reported by every traced run; a layer the
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = {
    val ingest = Seq("gen.late_p99_ms" -> "ms", "write.wait_p50_ms" -> "ms",
      "write.wait_p99_ms" -> "ms", "read.wait_p50_ms" -> "ms", "read.wait_p99_ms" -> "ms",
      "emu.records" -> "count", "emu.record_fill" -> "ratio", "emu.put_mib_s" -> "MiB/s",
      "ramp.sustained_mib_s" -> "MiB/s") ++
      RampRates.map(r => s"backlog.end_mib.r${r.toInt}" -> "MiB") ++
      Seq("dropped_share" -> "ratio")
    def mb(w: String) = Seq(s"$w.mb.batches" -> "count", s"$w.mb.trigger_p50_ms" -> "ms") ++
      MbPhases.map(p => s"$w.mb.${p}_ms" -> "ms")
    val stream = Seq("state.rows" -> "count", "state.commit_ms" -> "ms",
      "durable.write_s" -> "s", "durable.drain_s" -> "s")
    val perEntry = MixOps.flatMap(e => Seq(
      s"$e.wall_s" -> "s", s"$e.build_s" -> "s", s"$e.cpu_s" -> "s",
      s"$e.stages" -> "count", s"$e.shuffle_mb" -> "MiB"))
    val common = Seq("mat.publishes" -> "count", "single_task_stages" -> "count",
      "gc_ms" -> "ms") ++
      Seq("wall_s", "cpu_s", "lat_p50_ms", "lat_p99_ms").map(m =>
        s"overhead.$m" -> EndToEnd.toMap.apply(m))
    ingest ++ mb("ingest") ++ mb("streaming") ++ stream ++ perEntry ++ common
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: Path, work: Path, expected: Path, smoke: Boolean,
                        corrupt: Boolean)

  private def parse(a: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < a.length) {
      a(i) match {
        case f @ ("--smoke" | "--corrupt") => flags += f; i += 1
        case k if k.startsWith("--") && i + 1 < a.length => kv(k) = a(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument $other")
      }
    }
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", Path.of(req("--data")), Path.of(req("--work")),
      Path.of(req("--expected")), flags("--smoke"), flags("--corrupt"))
  }

  /** Outcome of a workload: metrics by name, plus operation counts. */
  final class Outcome {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Set("ingest", "mix")(args.workload),
      s"unknown workload ${args.workload}")
    val cpus = Runtime.getRuntime.availableProcessors
    val load0 = Probe.load1m
    val steal0 = Probe.cpuJiffies
    val setup0 = System.nanoTime()
    val spark = session(args, cpus)
    val tracer = new Tracer(args.trace)
    val out = new Outcome
    val scale = args.data.getFileName.toString
    try args.workload match {
      case "ingest" => Workloads.ingest(spark, args, tracer, out, setup0)
      case _ =>
        // s14 runs its drain on graft's admission child session
        val sessions = Seq(spark, graft.streaming.Replay.admissionSession(spark))
        Workloads.mixed(sessions, args, mix(spark, args, tracer), MixOps, tracer, out, setup0)
    } finally {
      val stamp = Seq("workload" -> args.workload, "seed" -> args.seed, "nproc" -> cpus,
        "heap_mb" -> Probe.heapMaxMb, "load1m_start" -> load0, "load1m_end" -> Probe.load1m,
        "steal_share" -> Probe.stealShare(steal0, Probe.cpuJiffies),
        "scale" -> scale, "trace" -> args.trace)
      tracer.write(args.work.resolve(s"trace/${args.workload}-seed${args.seed}.json"),
        stamp.toMap)
      // the noise stamp rides stdout one line above the result
      println(Json.obj(Seq("stamp" -> scala.collection.immutable.ListMap(stamp: _*))))
      spark.stop()
    }
    out.metrics("peak_rss_mb") = Probe.peakRssMb
    val wanted = if (args.trace) PerLayer else EndToEnd
    val metrics = wanted.map { case (n, u) =>
      n -> Map("value" -> out.metrics.getOrElse(n, 0.0), "unit" -> u)
    }
    System.err.println(f"[perfbench] ${args.workload} attempted=${out.attempted} " +
      f"failed=${out.failed} fail_share=${out.failed.toDouble / math.max(1L, out.attempted)}%.6f")
    println(Json.obj(Seq("correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }

  private def mix(spark: SparkSession, args: Args, tracer: Tracer): Mix =
    new Mix(spark, args.data.toString, args.work.resolve("state"),
      Mix.loadExpected(args.expected, args.data.getFileName.toString), tracer)

  private def session(args: Args, cpus: Int): SparkSession = {
    val state = args.work.resolve("state")
    deleteTree(state)
    Seq("mat", "replay", "local", "warehouse", "ck").foreach(d =>
      Files.createDirectories(state.resolve(d)))
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.mat.dir", state.resolve("mat").toString)
      .config("spark.graft.replay.root", state.resolve("replay").toString)
      .config("spark.local.dir", state.resolve("local").toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }
}
