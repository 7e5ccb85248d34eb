package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-query harness: run declared queries under the bench protocol
  * — same session ([[Session]]), same warm-up, same timed action (full
  * count of the final result, query construction and eager publishes
  * included), same inter-query storage hygiene — and stamp each sample
  * with the host load at its start and end. One `sbt "runMain
  * graft.Rail ..."` per sample gives a cold-JVM rail; repeating names
  * inside one invocation gives a warm interleaved A/B.
  *
  *   sbt "runMain graft.Rail d02_minhash_lsh_neardup"            # one cold sample
  *   sbt "runMain graft.Rail spark.sql.adaptive.enabled=false q03 spark.sql.adaptive.enabled=true q03"
  *
  * Args containing '=' are session conf overrides applied IN ORDER
  * (before any later query), everything else is a declared query name
  * (full name or unique prefix). After each sample's clock stops, Rail
  * writes `<dumpDir>/<prefix>_<n>.txt` (dumpDir = `SPARK_GRAFT_RAIL_DIR`,
  * default /tmp/graft_rail; n = sample number in this invocation): the
  * sample's stage table (Bench's [[Bench.StageRecorder]]) and the
  * executed plan of the timed count itself, so AQE's final plan is what
  * the file shows. One JSON line per sample goes to stdout:
  * {"rail":{"q",...,"sec","load1m","load1m_end","pub","compiles","compile_ms","dump"}},
  * where `compiles`/`compile_ms` count the Janino compiles (and their
  * time) the sample triggered — read once each side of the timed region.
  */
object Rail {

  /** The listeners a sample reads after its clock stops: per-stage
    * metrics, and the QueryExecution of the last `count` action. The
    * action listener rides `sessions` — the main session and the
    * admission child the s14-class replays build their result on. */
  final class Probe(sessions: Seq[SparkSession]) {
    private val sc = sessions.head.sparkContext
    private val stages = new Bench.StageRecorder
    @volatile private var counted: Option[QueryExecution] = None
    private val actions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") counted = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(stages)
    sessions.foreach(_.listenerManager.register(actions))

    /** Flush events from earlier work, then start empty. */
    def reset(): Unit = {
      org.apache.spark.graft.ListenerInterop.drain(sc, 2000)
      stages.reset()
      counted = None
    }

    /** Stages and executed count plan since [[reset]]; drains first. */
    def read(): (Seq[Bench.StageSample], Option[QueryExecution]) = {
      org.apache.spark.graft.ListenerInterop.drain(sc, 5000)
      (stages.snapshot(), counted)
    }

    def close(): Unit = {
      sc.removeSparkListener(stages)
      sessions.foreach(_.listenerManager.unregister(actions))
    }
  }

  private def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  /** JVM-wide Janino compiles so far and their total time in ms: Spark
    * counts compiles in `CodegenMetrics` and sums their nanoseconds in
    * `CodeGenerator.compileTime` (the histogram keeps no sum). A sample
    * that compiles nothing ran entirely on cached generated classes. */
  def codegen(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6)

  /** One timed sample of `name`; writes its dump to `dump` and returns
    * the rail JSON line. */
  def sample(spark: SparkSession, probe: Probe, name: String,
             fn: (SparkSession, String) => DataFrame, sfDir: String,
             dump: java.io.File): String = {
    probe.reset()
    val load0 = Bench.loadAvg
    val pub0 = graft.core.Materialize.publishCount
    val (compiles0, compileMs0) = codegen()
    spark.sparkContext.setJobDescription(s"rail:$name")
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val (compiles1, compileMs1) = codegen()
    val compiles = compiles1 - compiles0
    val compileMs = r3(compileMs1 - compileMs0)
    val load1 = Bench.loadAvg
    val pub = graft.core.Materialize.publishCount - pub0
    val (stages, qe) = probe.read()
    val cpus = spark.sparkContext.defaultParallelism
    val text = s"== $name rows=$rows sec=${r3(secs)} sf=$sfDir cpus=$cpus " +
      s"compiles=$compiles compile_ms=$compileMs ==\n" +
      s"== Stages (${stages.size}) ==\n" +
      stages.sortBy(_.id).map(_.json + "\n").mkString +
      qe.fold("== no count plan observed ==\n")(_.explainString(FormattedMode)) + "\n"
    dump.getParentFile.mkdirs()
    java.nio.file.Files.write(dump.toPath,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"""{"rail":{"q":"$name","sec":${r3(secs)},""" +
      s""""load1m":${r3(load0)},"load1m_end":${r3(load1)},"pub":$pub,""" +
      s""""compiles":$compiles,"compile_ms":$compileMs,""" +
      s""""cpus":$cpus,"sf":"$sfDir","dump":"${dump.getPath}"}}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.exists(!_.contains("=")), "need at least one query name")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dumpDir = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_RAIL_DIR", "/tmp/graft_rail"))
    val spark = Session(Session.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    def resolve(name: String): (String, (SparkSession, String) => DataFrame) =
      SparkEntry.queries.get(name).map(name -> _).getOrElse {
        val hits = SparkEntry.queries.filter(_._1.startsWith(name))
        require(hits.size == 1, s"query '$name' matches ${hits.keys.toSeq.sorted}")
        hits.head
      }
    Bench.warmUp(spark, sfDir)
    val probe = new Probe(Seq(spark, graft.streaming.Replay.admissionSession(spark)))
    var n = 0
    args.foreach { a =>
      if (a.contains("=")) {
        val Array(k, v) = a.split("=", 2)
        spark.conf.set(k, v)
        System.err.println(s"[rail] conf $k=$v")
      } else {
        val (name, fn) = resolve(a)
        n += 1
        val dump = new java.io.File(dumpDir, s"${name.takeWhile(_ != '_')}_$n.txt")
        val line = sample(spark, probe, name, fn, sfDir, dump)
        println(line)
        System.err.println(s"[rail] $line")
        Bench.cleanStorage(spark)
      }
    }
    probe.close()
    spark.stop()
  }
}
