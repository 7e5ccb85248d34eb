package graft.perfbench

import java.nio.ByteBuffer
import java.nio.channels.{Channels, Pipe}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.emu.KinesisEmu
import graft.ingest.DropPolicy

/** The `ingest` workload: seeded log lines are fed by one generator
  * thread through an OS pipe into `graft ingest <stream>` (the CLI,
  * reading the pipe as stdin), and a `kinesis-emu` micro-batch
  * consumer in the same JVM reassembles the byte stream and checks
  * every line.
  *
  * Line `i` of a phase is `"<i> <dueEpochMs> <filler>\n"`, its length
  * a seeded function of `i`, its filler a slice of a seeded letter
  * pool, so the consumer can rebuild the exact expected bytes. */
final class IngestLoad(spark: SparkSession, seed: Long, workDir: java.nio.file.Path,
                       tracer: Tracer) {
  import IngestLoad._

  private val pool: Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(PoolSize)(('a' + r.nextInt(26)).toByte)
  }

  /** Seeded line length for line `seq` of phase `phaseId`. */
  private def lineSize(phaseId: Int, seq: Long): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + phaseId * 0xBF58476D1CE4E5B9L + seq
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    MinLine + (java.lang.Long.remainderUnsigned(z, (MaxLine - MinLine + 1).toLong)).toInt
  }
  private def fillerOffset(seq: Long): Int = ((seq * 131L) % (PoolSize - MaxLine)).toInt

  /** What the consumer saw. Micro-batches are only recorded while the
    * phase runs; [[check]] walks them line by line after the clock
    * stops, so checking does not slow the consumer it measures. */
  final class Reassembly(phaseId: Int, corruptOneByte: Boolean) {
    private val batches = ArrayBuffer.empty[(Long, Seq[(String, Long, Array[Byte], Long)])]
    private val carry = new java.io.ByteArrayOutputStream(2 * MaxLine)
    private var expectSeq = 0L
    val visibleBytes = new AtomicLong(0L)
    @volatile var lastVisibleNs = 0L
    val dueMs = ArrayBuffer.empty[Long]
    val arrivalMs = ArrayBuffer.empty[Long]
    val seenMs = ArrayBuffer.empty[Long]
    val recordBytes = ArrayBuffer.empty[Int]
    var dupLines = 0L

    /** One consumer micro-batch of (shardId, sequenceNumber, data,
      * arrivalMs) rows. */
    def onBatch(recs: Seq[(String, Long, Array[Byte], Long)]): Unit = {
      val visible = System.currentTimeMillis()
      synchronized(batches += ((visible, recs)))
      visibleBytes.addAndGet(recs.map(_._3.length.toLong).sum)
      lastVisibleNs = System.nanoTime()
    }

    /** Reassemble the byte stream in (shard, sequence) order and check
      * every line; `corruptOneByte` flips one byte first. */
    def check(): Unit = synchronized {
      var corrupted = !corruptOneByte
      batches.foreach { case (visible, recs) =>
        recs.sortBy(r => (r._1, r._2)).foreach { case (_, _, data0, arrival) =>
          val data = if (corrupted || data0.length < 64) data0 else {
            corrupted = true
            val d = data0.clone(); d(d.length / 2) = (d(d.length / 2) ^ 0x01).toByte; d
          }
          recordBytes += data.length
          var from = 0
          var i = 0
          while (i < data.length) {
            if (data(i) == '\n') {
              carry.write(data, from, i - from + 1)
              checkLine(carry.toByteArray, arrival, visible)
              carry.reset()
              from = i + 1
            }
            i += 1
          }
          if (from < data.length) carry.write(data, from, data.length - from)
        }
      }
      batches.clear()
    }

    private def checkLine(line: Array[Byte], arrival: Long, visible: Long): Unit = {
      val s1 = line.indexOf(' '.toByte)
      val s2 = if (s1 < 0) -1 else line.indexOf(' '.toByte, s1 + 1)
      val parsed = if (s2 < 0) None else
        scala.util.Try((new String(line, 0, s1, "US-ASCII").toLong,
          new String(line, s1 + 1, s2 - s1 - 1, "US-ASCII").toLong)).toOption
      parsed match {
        case Some((seq, due)) if seq == expectSeq && line.length == lineSize(phaseId, seq) &&
            java.util.Arrays.equals(line, s2 + 1, line.length - 1, pool,
              fillerOffset(seq), fillerOffset(seq) + line.length - 1 - (s2 + 1)) &&
            line(line.length - 1) == '\n' =>
          expectSeq += 1
          dueMs += due; arrivalMs += arrival; seenMs += visible
        case Some((seq, _)) if seq < expectSeq => dupLines += 1
        case Some((seq, _)) => expectSeq = seq + 1
        case _ =>
      }
    }
    def goodLines: Long = synchronized(dueMs.size.toLong)
  }

  /** Generator-side bookkeeping for one phase. */
  final class Offer {
    val bytes = new AtomicLong(0L)
    var lines = 0L
    val lateMs = ArrayBuffer.empty[Double]
    val stepLateMs = ArrayBuffer.empty[ArrayBuffer[Double]]
    val stepBacklogEndMiB = ArrayBuffer.empty[Double]
    var startNs = 0L
    var startEpochMs = 0L
  }

  final case class PhaseResult(name: String, offer: Offer, got: Reassembly,
                               droppedBytes: Long, wallS: Double, cpuS: Double,
                               gcMs: Long) {
    /** Lines not delivered exactly once, intact and in order, plus one
      * for a broken byte balance (delivered + dropped != offered). With
      * drops, lines cut by a dropped flush unit are expected losses, so
      * only duplicates and the balance count. */
    def failed: Long = {
      val balance = if (got.visibleBytes.get + droppedBytes == offer.bytes.get) 0L else 1L
      val lost = if (droppedBytes > 0) 0L else offer.lines - got.goodLines
      lost + got.dupLines + balance
    }
  }

  /** Run one phase: a fresh stream, a consumer query, the CLI fed by
    * the generator over `segments`. A segment is (rate MiB/s, seconds)
    * for open-loop offering, or (0, MiB) for closed-loop offering as
    * fast as the pipe accepts. */
  def phase(name: String, phaseId: Int, segments: Seq[(Double, Double)],
            parent: Long, corrupt: Boolean = false): PhaseResult =
    tracer.span(s"ingest.$name", "step", parent, op = s"ingest.$name", sc = spark.sparkContext) { _ =>
      System.gc() // start each phase on a collected heap
      val stream = s"bench-$name-${System.nanoTime()}"
      KinesisEmu.createStream(stream, shards = 4)
      val got = new Reassembly(phaseId, corrupt)
      val dropped = new AtomicLong(0L)
      val prevDrop = DropPolicy.onDrop
      DropPolicy.onDrop = b => dropped.addAndGet(b)
      val q = consumer(stream, got)
      val offer = new Offer
      val pipe = Pipe.open()
      val prevIn = System.in
      System.setIn(Channels.newInputStream(pipe.source()))
      val cpu0 = Probe.cpuSeconds
      val gc0 = Probe.gcMillis
      val cliError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val cli = new Thread(() =>
        try Console.withOut(System.err)(graft.cli.Main.main(Array("ingest", stream)))
        catch { case t: Throwable => cliError.set(t) }, s"cli-$name")
      try {
        cli.start()
        generate(pipe.sink(), phaseId, segments, offer, got)
        cli.join()
        // the consumer has seen everything once visible + dropped bytes
        // reach the offered total; a stall past the timeout is a failure
        val deadline = System.nanoTime() + ConsumerTimeoutS * 1000000000L
        while (got.visibleBytes.get + dropped.get < offer.bytes.get &&
            System.nanoTime() < deadline && q.isActive) Thread.sleep(2)
        val wall = (got.lastVisibleNs - offer.startNs) / 1e9
        val cpu = Probe.cpuSeconds - cpu0
        val gc = Probe.gcMillis - gc0
        q.exception.foreach(e => System.err.println(s"[perfbench] consumer failed: ${e.getMessage}"))
        if (cliError.get != null)
          System.err.println(s"[perfbench] cli failed: ${cliError.get}")
        q.stop()
        got.check()
        PhaseResult(name, offer, got, dropped.get, wall, cpu, gc)
      } finally {
        q.stop()
        System.setIn(prevIn)
        DropPolicy.onDrop = prevDrop
        KinesisEmu.deleteStream(stream)
      }
    }

  private def consumer(stream: String, got: Reassembly) = {
    val df = spark.readStream.format("kinesis-emu").option("stream", stream).load()
      .select(col("shardId"), col("sequenceNumber"), col("data"), col("arrivalTs"))
    val sink: (DataFrame, Long) => Unit = (batch, _) => {
      val rows = batch.collect()
      got.onBatch(rows.toSeq.map((r: Row) =>
        (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2), r.getTimestamp(3).getTime)))
    }
    df.writeStream.foreachBatch(sink)
      .option("checkpointLocation", workDir.resolve(s"ck/$stream").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }

  /** The generator thread's loop (it runs on the calling thread). */
  private def generate(sink: Pipe.SinkChannel, phaseId: Int, segments: Seq[(Double, Double)],
                       offer: Offer, got: Reassembly): Unit = {
    val buf = ByteBuffer.allocate(WriteChunk + MaxLine)
    val pendingDue = ArrayBuffer.empty[Long] // nanos, lines in buf
    var stepLate: ArrayBuffer[Double] = null
    def flush(): Unit = if (buf.position() > 0) {
      buf.flip()
      while (buf.hasRemaining) sink.write(buf)
      buf.clear()
      val done = System.nanoTime()
      pendingDue.foreach { d =>
        val late = math.max(0L, done - d) / 1e6
        offer.lateMs += late
        if (stepLate != null) stepLate += late
      }
      pendingDue.clear()
    }
    offer.startEpochMs = System.currentTimeMillis()
    offer.startNs = System.nanoTime()
    var seq = 0L
    var segStartNs = offer.startNs
    try {
      segments.foreach { case (rate, amount) =>
        val closed = rate <= 0
        val segBytes = if (closed) (amount * MiB).toLong else (rate * amount * MiB).toLong
        val nsPerByte = if (closed) 0.0 else 1e9 / (rate * MiB)
        stepLate = ArrayBuffer.empty[Double]
        offer.stepLateMs += stepLate
        var sent = 0L
        while (sent < segBytes) {
          val dueNs = segStartNs + (sent * nsPerByte).toLong
          val now = System.nanoTime()
          if (!closed && dueNs > now) {
            flush()
            val wait = dueNs - System.nanoTime()
            if (wait > 0) LockSupport.parkNanos(wait)
          }
          val size = lineSize(phaseId, seq)
          val dueEpoch = offer.startEpochMs + (dueNs - offer.startNs) / 1000000L
          val head = s"$seq $dueEpoch ".getBytes("US-ASCII")
          buf.put(head)
          buf.put(pool, fillerOffset(seq), size - head.length - 1)
          buf.put('\n'.toByte)
          pendingDue += dueNs
          seq += 1
          sent += size
          offer.bytes.addAndGet(size.toLong)
          if (buf.position() >= WriteChunk) flush()
        }
        flush()
        segStartNs = if (closed) System.nanoTime() else segStartNs + (segBytes * nsPerByte).toLong
        if (!closed) {
          val wait = segStartNs - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
        }
        offer.stepBacklogEndMiB +=
          (offer.bytes.get - got.visibleBytes.get).toDouble / MiB
      }
    } finally {
      offer.lines = seq
      sink.close()
    }
  }
}

object IngestLoad {
  val MiB: Double = 1024.0 * 1024.0
  val PoolSize: Int = 1 << 20
  val MinLine = 64
  val MaxLine = 2048
  val WriteChunk: Int = 64 * 1024
  val ConsumerTimeoutS = 60L
}
