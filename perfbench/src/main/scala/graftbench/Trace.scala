package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region: a run phase, a query or ingest step, a Spark
  * stage, or a micro-batch. `parent` is the enclosing span's id (0 for
  * the root). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Long, endMs: Long, attrs: Map[String, Any])

/** Per-stage facts from the SparkListener, tagged with the operation
  * (query or step) whose job submitted the stage. */
final case class StageStat(op: String, tasks: Int, cpuMs: Double, shuffleBytes: Long)

/** Per-micro-batch facts from the StreamingQueryListener. */
final case class BatchStat(op: String, durations: Map[String, Long], inputRows: Long,
                           stateRows: Long, stateCommitMs: Long)

/** In-memory span recorder. Until [[begin]] it runs each body with no
  * listener attached and records nothing, so untraced timings carry
  * no tracing cost. From [[begin]] on (traced runs only) it has one
  * SparkListener and one StreamingQueryListener per session, and keeps
  * every span until [[write]] is called at the end of the run. */
final class Tracer(enabled: Boolean) {
  @volatile private var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val stages = new ConcurrentLinkedQueue[StageStat]()
  private val batches = new ConcurrentLinkedQueue[BatchStat]()
  @volatile private var currentOp = ""
  @volatile private var currentSpan = 0L
  private val queryOp = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (String, Long)]()
  private val attached = mutable.Set.empty[SparkSession]

  /** Run `body` as a span under `parent`; with `op`, Spark jobs and
    * streaming queries started inside are attributed to it. */
  def span[T](name: String, kind: String, parent: Long, op: String = null,
              sc: org.apache.spark.SparkContext = null)(body: Long => T): T = {
    if (!on) return body(0L)
    val id = nextId.incrementAndGet()
    val t0 = System.currentTimeMillis()
    val prevOp = currentOp
    val prevSpan = currentSpan
    if (op != null) {
      currentOp = op; currentSpan = id
      if (sc != null) {
        sc.setLocalProperty("graftbench.op", op)
        sc.setLocalProperty("graftbench.span", id.toString)
      }
    }
    try body(id)
    finally {
      if (op != null) {
        currentOp = prevOp; currentSpan = prevSpan
        if (sc != null) {
          sc.setLocalProperty("graftbench.op", if (prevOp.isEmpty) null else prevOp)
          sc.setLocalProperty("graftbench.span", if (prevOp.isEmpty) null else prevSpan.toString)
        }
      }
      spans.add(Span(id, parent, name, kind, t0, System.currentTimeMillis(), Map.empty))
    }
  }

  /** Start tracing: attach the listeners to `sessions` (which share
    * one SparkContext). A no-op unless tracing is enabled. */
  def begin(sessions: Seq[SparkSession]): Unit = if (enabled) {
    sessions.foreach(attach)
    on = true
  }

  private def attach(s: SparkSession): Unit = if (attached.add(s)) {
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        queryOp.put(e.id, (currentOp, currentSpan))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val (op, parent) = queryOp.getOrDefault(p.id, ("", 0L))
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          dur.getOrElse("triggerExecution", 0L)
        batches.add(BatchStat(op, dur, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.commitTimeMs).sum))
        spans.add(Span(nextId.incrementAndGet(), parent, s"batch-${p.batchId}",
          "microbatch", end - dur.getOrElse("triggerExecution", 0L), end,
          Map("query" -> p.id.toString, "rows" -> p.numInputRows)))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    if (attached.size == 1) s.sparkContext.addSparkListener(new SparkListener {
      private val stageOp = new java.util.concurrent.ConcurrentHashMap[Integer, (String, Long)]()
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        val op = props.flatMap(p => Option(p.getProperty("graftbench.op"))).getOrElse("")
        val sp = props.flatMap(p => Option(p.getProperty("graftbench.span"))).map(_.toLong).getOrElse(0L)
        j.stageIds.foreach(id => stageOp.put(id, (op, sp)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val (op, parent) = stageOp.getOrDefault(si.stageId, ("", 0L))
        val m = si.taskMetrics
        val sub = si.submissionTime.getOrElse(0L)
        val end = si.completionTime.getOrElse(sub)
        stages.add(StageStat(op, si.numTasks,
          if (m == null) 0.0 else m.executorCpuTime / 1e6,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
        spans.add(Span(nextId.incrementAndGet(), parent, s"stage-${si.stageId}", "stage",
          sub, end, Map("tasks" -> si.numTasks, "op" -> op)))
      }
    })
  }

  /** Wait until the listener bus has delivered queued events. */
  def drain(s: SparkSession): Unit =
    if (on) org.apache.spark.graft.ListenerInterop.drain(s.sparkContext, 10000)

  def stageStats: Seq[StageStat] = stages.asScala.toSeq
  def batchStats: Seq[BatchStat] = batches.asScala.toSeq

  /** Write every recorded span as one JSON document. */
  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = if (on) {
    val all = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
    val body = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs.toSeq)
    }.mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      "{\"run\": " + Json.obj(header.toSeq) + ",\n\"spans\": " + body + "}\n")
  }
}

/** Minimal JSON writer for flat values. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case null => "null"
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
