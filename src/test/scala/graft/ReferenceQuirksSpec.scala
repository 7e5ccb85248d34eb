package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.emu.KinesisEmu
import graft.ingest._
import graft.sink.KinesisWriter

/** SURVEY.md §2a quirks (a)-(f) and §7.4 decisions: where the reference's
  * observable behavior is externally meaningful we reproduce it; where it
  * silently loses data we diverge deliberately — these tests pin down
  * which is which. */
class ReferenceQuirksSpec extends AnyFunSuite {

  private def withStream[A](shards: Int = 1)(f: => A): A = {
    KinesisEmu.reset()
    KinesisEmu.createStream("t", shards)
    try f finally KinesisEmu.reset()
  }

  test("quirk (e): empty write yields exactly one empty record (kinesis.go:246-268)") {
    withStream() {
      KinesisWriter.write(KinesisWriter.Config("t", "k"), Array.emptyByteArray)
      assert(KinesisEmu.stream("t").get.allRecords.map(_.data.length) == Seq(0))
    }
  }

  test("quirk (a) divergence: partial PutRecords failures are SURFACED, not swallowed") {
    // reference: Writer.Write returns (len(p), nil-ish) even when a batch
    // failed mid-way (kinesis.go:222,237) — later batches silently lost.
    // Here: every response is returned to the caller with per-record
    // failure detail; nothing is silently dropped.
    withStream() {
      KinesisEmu.failureInjector =
        (_, recs) => if (recs.nonEmpty) Seq(KinesisEmu.PerRecordFailure(0, "Throttling")) else Seq.empty
      val resps = KinesisWriter.write(
        KinesisWriter.Config("t", "key", recordSizeLimit = 5, putRecordsLimit = 2), "abcde".getBytes)
      // 3 records -> 2 requests; each surfaces its failures
      assert(resps.size == 2)
      assert(resps.map(_.failedCount).sum == 2)
      assert(resps.flatMap(_.results).count(_.isRight) == 1)
    }
  }

  test("quirk (b) divergence: final flush drains EVERYTHING (no queued-data loss at exit)") {
    // reference: exit-time Flush() drains bufio only; up to queue*4MiB of
    // accepted flush units can vanish (main.go:48, kinesis.go:99-133).
    // Here: FastWriter.close() flushes the buffer into a FULL queue by
    // blocking instead of dropping, then drains every accepted unit.
    withStream() {
      val entered = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      KinesisEmu.failureInjector = (_, _) => {
        entered.countDown(); release.await(); Seq.empty
      }
      val cfg = KinesisWriter.Config("t", "k", bufferSize = 64, flushIntervalMs = 60000L)
      var drops = 0
      val w = new KinesisWriter.FastWriter(cfg, onDrop = _ => drops += 1)
      val unit = Array.fill(64)(7.toByte)
      w.write(unit) // unit 1: taken by the drain, which blocks in PutRecords
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      (1 to cfg.queueDepth).foreach(_ => w.write(unit)) // the queue is now full
      w.write(Array.fill(40)(7.toByte)) // buffered, below the size flush
      val releaser = new Thread(() => { Thread.sleep(200); release.countDown() })
      releaser.start()
      w.close() // blocks on the full queue until the drain moves
      releaser.join()
      val total = 64L * (1 + cfg.queueDepth) + 40L
      assert(drops == 0 && w.dropped == 0L)
      assert(w.offered == total && w.delivered == total)
      assert(KinesisEmu.stream("t").get.allRecords.map(_.data.length.toLong).sum == total)
    }
  }

  /** Offers ten `unitBytes` flush units (line-sized writes that fill
    * the buffer exactly) to a depth-2 FastWriter whose drain is held
    * inside its first PutRecords, then releases the drain and closes. */
  private def tenUnitsAgainstHeldDrain(unitBytes: Int,
                                       onDrop: Option[Long => Unit]): KinesisWriter.FastWriter = {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    KinesisEmu.failureInjector = (_, _) => { entered.countDown(); release.await(); Seq.empty }
    val cfg = KinesisWriter.Config("t", "k", bufferSize = unitBytes, queueDepth = 2,
      flushIntervalMs = 60000L)
    val w = onDrop.fold(new KinesisWriter.FastWriter(cfg))(new KinesisWriter.FastWriter(cfg, _))
    val line = Array.fill(unitBytes / 4)(7.toByte)
    try {
      (1 to 4).foreach(_ => w.write(line)) // unit 1: taken by the drain
      assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
      (1 to 4 * 9).foreach(_ => w.write(line))
    } finally { release.countDown(); w.close() }
    w
  }

  test("drop granularity: load shedding discards whole flush units (BASELINE.md row 'drop granularity')") {
    val unit = 4096L
    withStream() {
      val w = tenUnitsAgainstHeldDrain(unit.toInt, onDrop = Some(_ => ()))
      assert(w.dropped > 0L)
      assert(w.dropped % unit == 0L, "drops must be whole flush units")
    }
  }

  test("default Dropped hook parity: per-drop 'dropping N bytes' to stderr (kinesis.go:151-155)") {
    // the hook fires once per dropped unit with the unit's byte size
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val prev = DropPolicy.onDrop
    DropPolicy.onDrop = seen += _
    try withStream() {
      val w = tenUnitsAgainstHeldDrain(100, onDrop = None) // the default hook
      assert(seen.nonEmpty && seen.size == w.dropped / 100 && seen.forall(_ == 100L))
    } finally DropPolicy.onDrop = prev
    // and the DEFAULT hook writes the reference's exact stderr message
    // (fmt.Fprintf(os.Stderr, "dropping %d bytes", len(p)) — no newline)
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try DropPolicy.DefaultOnDrop(42L) finally System.setErr(old)
    assert(buf.toString("UTF-8") == "dropping 42 bytes")
  }

  test("quirk (f): the declared-but-unenforced service limits ARE enforced here") {
    // reference declares 5 MiB/request and shard-rate ceilings but never
    // checks them (kinesis.go:19-35). The emulator enforces the request
    // limits (tested in IngestSpec) and exposes the shard-rate constants
    // for sink-side pacing.
    assert(Limits.PutRecordsSizeLimit == 5 * 1024 * 1024)
    assert(Limits.ShardRecordsRateLimit == 1000)
    assert(Limits.ShardBytesRateLimit == 1024 * 1024)
  }

  test("chunk boundaries are byte offsets, not line boundaries (kinesis.go:246-268)") {
    withStream() {
      // a "log line" split across two records, exactly like the reference
      val cfg = KinesisWriter.Config("t", "key", recordSizeLimit = 11) // chunk = 8
      KinesisWriter.write(cfg, "line-one\nline-two\n".getBytes)
      val datas = KinesisEmu.stream("t").get.allRecords.sortBy(_.sequenceNumber)
        .map(r => new String(r.data))
      assert(datas == Seq("line-one", "\nline-tw", "o\n"))
    }
  }
}
