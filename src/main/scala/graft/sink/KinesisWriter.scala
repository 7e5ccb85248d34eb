package graft.sink

import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}

import graft.emu.KinesisEmu
import graft.ingest._

/** The reference's composed writer stack (`NewFastWriter`,
  * `kinesis/kinesis.go:37-57`) and its pieces.
  *
  * Reference stack:  BufferedWriter(4 MiB, 1 s) -> DropWriter(queue=4)
  *                   -> Writer(chunk, batch<=500) -> PutRecords.
  * `FastWriter` (the CLI's `ingest`) is that stack on threads:
  *                   `Flusher` + a ticker = the buffer, a bounded queue
  *                   with a non-blocking offer = the drop stage, one
  *                   drain thread running `write()`.
  * The DSv2 sink maps it onto Spark's execution model instead:
  *                   micro-batch trigger = the time-based flush;
  *                   `Flusher` = the size-based buffer;
  *                   `write()` = chunk -> batch -> emu PutRecords at
  *                   task commit. It has no drop stage: its input is
  *                   bounded by the trigger and source admission
  *                   control, and its epoch commits are idempotent, so
  *                   `FastWriter` is the only place data is dropped.
  *
  * Divergence from the reference, by design (SURVEY.md §7.4): a final
  * flush drains EVERYTHING (the reference can lose queued flushes at
  * clean exit, quirk (b)); errors are surfaced, not swallowed
  * (quirk (a)); close() stops every thread it started (quirk (c)).
  */
object KinesisWriter {

  final case class Config(streamName: String, partitionKey: String,
                          bufferSize: Int = 4 * 1024 * 1024,
                          queueDepth: Int = 4,
                          recordSizeLimit: Int = Limits.RecordSizeLimit,
                          putRecordsLimit: Int = Limits.PutRecordsLimit,
                          flushIntervalMs: Long = 1000L)

  /** Synchronous unbuffered write (reference `NewDefaultWriter` path,
    * `kinesis/kinesis.go:163-168`): chunk -> batch -> PutRecords.
    * Returns per-request responses; any limit violation throws. */
  def write(cfg: Config, payload: Array[Byte]): Seq[KinesisEmu.PutRecordsResponse] = {
    val records = RecordChunker.toRecords(cfg.partitionKey, payload, cfg.recordSizeLimit)
    RecordBatcher.batch(records, cfg.putRecordsLimit)
      .map(b => KinesisEmu.putRecords(cfg.streamName, b))
  }

  /** [[write]], failing on any record PutRecords did not write (the
    * reference ignores per-record failures, quirk (a)). Returns the
    * number of records written. */
  def writeAll(cfg: Config, payload: Array[Byte]): Int = {
    val resps = write(cfg, payload)
    val failed = resps.map(_.failedCount).sum
    if (failed > 0)
      throw new IllegalStateException(s"PutRecords partial failure: $failed records not written")
    resps.map(_.results.size).sum
  }

  /** Size-bounded buffer (reference `BufferedWriter` minus the ticker:
    * `FastWriter` adds one, the DSv2 sink uses the micro-batch trigger
    * as its time bound). Not thread-safe by design: one instance per
    * task/partition, or behind `FastWriter`'s lock. */
  final class Flusher(cfg: Config, onFlush: Array[Byte] => Unit) {
    private val buf = new java.io.ByteArrayOutputStream(cfg.bufferSize)
    def write(p: Array[Byte]): Unit = write(p, 0, p.length)
    def write(p: Array[Byte], off: Int, len: Int): Unit = {
      if (buf.size() + len > cfg.bufferSize && buf.size() > 0) flush()
      buf.write(p, off, len)
      if (buf.size() >= cfg.bufferSize) flush()
    }
    def flush(): Unit = if (buf.size() > 0) {
      val unit = buf.toByteArray
      buf.reset()
      onFlush(unit)
    }
  }

  /** The reference's `NewFastWriter` stack: `Flusher` flushes at
    * `bufferSize` bytes and on a `flushIntervalMs` ticker (both under
    * one lock; a tick on an empty buffer does nothing); each flush unit
    * is offered to a `queueDepth` queue without blocking, and a full
    * queue drops the whole unit and fires `onDrop(bytes)`; one drain
    * thread sends each queued unit through `write`.
    *
    * The first drain error sticks: the next `write` and `close()`
    * rethrow it, and a partial PutRecords failure counts as one.
    * `close()` stops the ticker, flushes the buffer blocking instead of
    * dropping, drains the queue and joins the drain thread, so nothing
    * accepted is lost at exit. `onDrop` defaults to whatever
    * `DropPolicy.onDrop` holds at drop time. */
  final class FastWriter(cfg: Config, onDrop: Long => Unit = b => DropPolicy.onDrop(b))
      extends java.io.OutputStream {
    private val queue = new ArrayBlockingQueue[Array[Byte]](cfg.queueDepth)
    private val failure = new AtomicReference[Throwable]()
    private val offeredBytes = new AtomicLong()
    private val deliveredBytes = new AtomicLong()
    private val droppedBytes = new AtomicLong()
    private val lock = new Object
    private val closed = new AtomicBoolean()
    private var closing = false // guarded by lock
    private val flusher = new Flusher(cfg, unit =>
      if (closing) enqueue(unit)
      else if (!queue.offer(unit)) { droppedBytes.addAndGet(unit.length); onDrop(unit.length) })

    private val id = FastWriter.ids.incrementAndGet()
    private val drainThread = FastWriter.start(s"graft-ingest-drain-$id", failure) {
      var unit = queue.take()
      while (unit ne FastWriter.EndOfInput) {
        KinesisWriter.writeAll(cfg, unit)
        deliveredBytes.addAndGet(unit.length)
        unit = queue.take()
      }
    }
    private val tickerThread = FastWriter.start(s"graft-ingest-ticker-$id", failure) {
      val intervalNs = TimeUnit.MILLISECONDS.toNanos(cfg.flushIntervalMs)
      var next = System.nanoTime() + intervalNs
      while (true) {
        TimeUnit.NANOSECONDS.sleep(next - System.nanoTime())
        next += intervalNs
        lock.synchronized(flusher.flush())
      }
    }

    def offered: Long = offeredBytes.get
    def delivered: Long = deliveredBytes.get
    def dropped: Long = droppedBytes.get

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(p: Array[Byte], off: Int, len: Int): Unit = {
      rethrowFailure()
      lock.synchronized {
        if (closing) throw new IllegalStateException("write after close")
        offeredBytes.addAndGet(len)
        flusher.write(p, off, len)
      }
    }
    /** Flush the buffer now, through the drop stage. */
    override def flush(): Unit = lock.synchronized(flusher.flush())

    override def close(): Unit = {
      if (closed.compareAndSet(false, true)) {
        // the ticker is gone before `closing` turns flushes blocking
        tickerThread.interrupt(); tickerThread.join()
        var ended = false
        try {
          lock.synchronized { closing = true; flusher.flush() }
          enqueue(FastWriter.EndOfInput)
          ended = true
        } finally {
          if (!ended) drainThread.interrupt()
          drainThread.join()
        }
      }
      rethrowFailure()
    }

    private def rethrowFailure(): Unit = failure.get match {
      case null => ()
      case t => throw t
    }

    /** Blocking offer that gives up when the drain thread has failed,
      * so a dead drain never leaves the caller waiting on a full queue. */
    private def enqueue(unit: Array[Byte]): Unit =
      while (!queue.offer(unit, 50, TimeUnit.MILLISECONDS)) rethrowFailure()
  }

  object FastWriter {
    private val ids = new AtomicInteger()
    /** Queue marker that ends the drain thread (compared by reference). */
    private val EndOfInput = new Array[Byte](0)

    /** A daemon thread running `body` until it returns or is
      * interrupted; any other throwable becomes the writer's failure. */
    private def start(name: String, failure: AtomicReference[Throwable])(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch {
          case _: InterruptedException => ()
          case e: Throwable => failure.compareAndSet(null, e)
        }, name)
      t.setDaemon(true)
      t.start()
      t
    }
  }
}
