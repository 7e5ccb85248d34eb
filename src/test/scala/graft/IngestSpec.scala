package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ingest._
import graft.emu.KinesisEmu
import graft.sink.KinesisWriter

/** Ports of the reference's unit tests (`kinesis/kinesis_test.go`) plus
  * the edges it never covered (FIXTURES.md §1). */
class IngestSpec extends AnyFunSuite {

  /** minimal deterministic property driver (the scalatest-scalacheck
    * bridge jar isn't in the offline cache). */
  private def forAll[A](gen: Gen[A], trials: Int = 100)(body: A => Unit): Unit =
    (1 to trials).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default.withSize(50), Seed(i.toLong)))
    }

  private def cfg(recordLimit: Int, putLimit: Int) = KinesisWriter.Config(
    streamName = "t", partitionKey = "key",
    recordSizeLimit = recordLimit, putRecordsLimit = putLimit)

  private def withStream[A](shards: Int = 1)(f: => A): A = {
    KinesisEmu.reset()
    KinesisEmu.createStream("t", shards)
    try f finally KinesisEmu.reset()
  }

  // --- reference test ports ---

  test("small write: 1 byte -> 1 record, 1 request (kinesis_test.go:12-34)") {
    withStream() {
      val resp = KinesisWriter.write(cfg(1000, 2), "a".getBytes)
      assert(resp.size == 1)
      val recs = KinesisEmu.stream("t").get.allRecords
      assert(recs.size == 1 && new String(recs.head.data) == "a")
    }
  }

  test("large write: 4 bytes at chunk=2 -> 2 records, 1 request (kinesis_test.go:36-59)") {
    withStream() {
      // recordSizeLimit=5, key "key" (3 bytes) -> chunk size 2
      val resp = KinesisWriter.write(cfg(5, 2), "abcd".getBytes)
      assert(resp.size == 1)
      val recs = KinesisEmu.stream("t").get.allRecords.sortBy(_.sequenceNumber)
      assert(recs.map(r => new String(r.data)) == Seq("ab", "cd"))
    }
  }

  test("multiple requests: 5 bytes -> 3 records -> 2+1 split (kinesis_test.go:61-91)") {
    withStream() {
      val resp = KinesisWriter.write(cfg(5, 2), "abcde".getBytes)
      assert(resp.size == 2)
      val recs = KinesisEmu.stream("t").get.allRecords.sortBy(_.sequenceNumber)
      assert(recs.map(r => new String(r.data)) == Seq("ab", "cd", "e"))
    }
  }

  // --- edges the reference never tested ---

  test("empty write yields one empty record (kinesis.go:246-268 quirk)") {
    withStream() {
      KinesisWriter.write(cfg(1000, 2), Array.emptyByteArray)
      val recs = KinesisEmu.stream("t").get.allRecords
      assert(recs.size == 1 && recs.head.data.isEmpty)
    }
  }

  test("exact-multiple payload produces no trailing empty chunk") {
    assert(RecordChunker.chunk(2, "abcd".getBytes).map(new String(_)) == Seq("ab", "cd"))
  }

  test("emu enforces the declared 5 MiB request size (unenforced upstream)") {
    withStream() {
      val rec = KinesisRecord("k", Array.fill(1024 * 1024 - 1)(1.toByte))
      val batch = Seq.fill(6)(rec) // 6 MiB > 5 MiB
      val e = intercept[IllegalArgumentException](KinesisEmu.putRecords("t", batch))
      assert(e.getMessage.contains("exceeds"))
    }
  }

  test("emu enforces record count and record size limits") {
    withStream() {
      val many = Seq.fill(Limits.PutRecordsLimit + 1)(KinesisRecord("k", Array[Byte](1)))
      assert(intercept[IllegalArgumentException](
        KinesisEmu.putRecords("t", many)).getMessage.contains("records exceeds"))
      val big = Seq(KinesisRecord("k", Array.fill(Limits.RecordSizeLimit)(1.toByte)))
      assert(intercept[IllegalArgumentException](
        KinesisEmu.putRecords("t", big)).getMessage.contains("bytes exceeds"))
    }
  }

  test("per-record failure injection surfaces partial failures") {
    withStream() {
      KinesisEmu.failureInjector =
        (_, recs) => recs.indices.filter(_ % 2 == 1).map(KinesisEmu.PerRecordFailure(_, "Throttling"))
      val resp = KinesisEmu.putRecords("t", Seq.fill(4)(KinesisRecord("k", Array[Byte](1))))
      assert(resp.failedCount == 2)
    }
  }

  test("multi-shard routing is deterministic and sequence numbers are monotone per shard") {
    withStream(shards = 4) {
      (0 until 100).foreach(i => KinesisWriter.write(
        KinesisWriter.Config("t", s"key$i"), Array[Byte](i.toByte)))
      val st = KinesisEmu.stream("t").get
      assert(st.shards.map(_.records.size).sum == 100)
      assert(st.shards.count(_.records.nonEmpty) > 1, "keys should spread over shards")
      st.shards.foreach { sh =>
        val seqs = sh.records.map(_.sequenceNumber)
        assert(seqs == seqs.sorted && seqs.distinct.size == seqs.size)
      }
      // same key -> same shard, always
      val a = st.shardFor("key1"); val b = st.shardFor("key1")
      assert(a.shardId == b.shardId)
    }
  }

  // --- FastWriter: the reference's NewFastWriter stack (kinesis.go:37-57) ---

  private def emuBytes(stream: String = "t"): Long =
    KinesisEmu.stream(stream).map(_.allRecords.map(_.data.length.toLong).sum).getOrElse(0L)

  /** Every PutRecords waits for the returned `release` latch; the
    * `entered` latch opens once the drain thread is held inside one. */
  private def holdPuts(): (CountDownLatch, CountDownLatch) = {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    KinesisEmu.failureInjector = (_, _) => { entered.countDown(); release.await(); Seq.empty }
    (entered, release)
  }

  /** A FastWriter whose ticker never fires within a test, so each
    * `unit` call offers exactly one flush unit; drops land in `drops`. */
  private def unitWriter(queueDepth: Int): (KinesisWriter.FastWriter, Array[Byte] => Unit,
                                            java.util.concurrent.ConcurrentLinkedQueue[Long]) = {
    val drops = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val w = new KinesisWriter.FastWriter(KinesisWriter.Config("t", "key",
      queueDepth = queueDepth, flushIntervalMs = 60000L), onDrop = b => drops.add(b))
    (w, p => { w.write(p); w.flush() }, drops)
  }

  test("drop policy: queue-full drops, stats add up (kinesis.go:137-149 semantics)") {
    withStream() {
      // drain held inside its first put: with queueDepth 2, only the
      // next 2 units are accepted
      val (entered, release) = holdPuts()
      val (w, unit, drops) = unitWriter(queueDepth = 2)
      try {
        unit(Array.fill(1)(0.toByte)) // taken by the drain, which blocks
        assert(entered.await(10, TimeUnit.SECONDS))
        Seq(10, 20, 30, 40).foreach(n => unit(Array.fill(n)(1.toByte)))
        import scala.jdk.CollectionConverters._
        assert(drops.asScala.toSeq == Seq(30L, 40L))
      } finally { release.countDown(); w.close() }
      assert((w.offered, w.delivered, w.dropped) == ((101L, 31L, 70L)))
    }
    withStream() {
      // drain keeps up (each unit offered once the last one is out): nothing drops
      val (w, unit, drops) = unitWriter(queueDepth = 4)
      try (1 to 100).foreach { i =>
        unit(Array.fill(1)(1.toByte))
        while (w.delivered < i) Thread.sleep(1)
      } finally w.close()
      assert(drops.isEmpty && w.delivered == 100L && emuBytes() == 100L)
    }
  }

  private def ingestThreads(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-ingest-")).map(_.getName)
  }

  test("FastWriter: trickled input becomes readable within ~1.5 s without EOF (1 s ticker)") {
    withStream() {
      val w = new KinesisWriter.FastWriter(KinesisWriter.Config("t", "key"), onDrop = _ => ())
      try {
        // <1 KiB every 100 ms for 2.5 s: a 4 MiB size flush never fires
        val line = Array.fill(900)('x'.toByte)
        val writtenAt = scala.collection.mutable.ArrayBuffer[Long]()
        val lag = scala.collection.mutable.ArrayBuffer[Long]()
        val t0 = System.nanoTime()
        while (System.nanoTime() - t0 < 2500000000L) {
          w.write(line); writtenAt += System.nanoTime()
          val until = System.nanoTime() + 100000000L
          while (System.nanoTime() < until) {
            val visibleLines = (emuBytes() / line.length).toInt
            while (lag.size < visibleLines) lag += (System.nanoTime() - writtenAt(lag.size)) / 1000000L
            Thread.sleep(5)
          }
        }
        assert(lag.size >= 10, s"only ${lag.size} of ${writtenAt.size} lines visible before EOF")
        assert(lag.max <= 1500L, s"per-line visibility lag ms: $lag")
      } finally w.close()
      assert(w.dropped == 0L && w.delivered == w.offered && emuBytes() == w.offered)
    }
  }

  test("FastWriter: a drain slower than the offer drops whole flush units; delivered + dropped = offered") {
    withStream() {
      // every PutRecords takes 200 ms; no failures. One 64 KiB unit is one
      // put, so the drain moves 5 units/s against an offer of ~1000/s.
      KinesisEmu.failureInjector = (_, _) => { Thread.sleep(200); Seq.empty }
      val unitBytes = 64 * 1024
      // the ticker is pushed out so every unit is a full size flush
      val cfg = KinesisWriter.Config("t", "key", bufferSize = unitBytes, flushIntervalMs = 60000L)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val w = new KinesisWriter.FastWriter(cfg, onDrop = b => seen.add(b))
      val payload = Array.fill(1024)(3.toByte)
      (1 to 20 * 64).foreach(_ => w.write(payload)) // 20 units
      w.close()
      import scala.jdk.CollectionConverters._
      val drops = seen.asScala.toSeq
      assert(drops.nonEmpty && drops.size < 20, s"dropped units: ${drops.size}")
      assert(drops.forall(_ == unitBytes.toLong), s"drops must be whole flush units: $drops")
      assert(drops.sum == w.dropped)
      assert(w.offered == 20L * unitBytes)
      assert(w.delivered + w.dropped == w.offered)
      assert(emuBytes() == w.delivered && w.delivered % unitBytes == 0)
    }
  }

  test("FastWriter without an onDrop reads DropPolicy.onDrop at drop time") {
    withStream() {
      val (entered, release) = holdPuts()
      val cfg = KinesisWriter.Config("t", "key", bufferSize = 100, queueDepth = 1,
        flushIntervalMs = 60000L)
      val w = new KinesisWriter.FastWriter(cfg)
      val seen = scala.collection.mutable.ArrayBuffer[Long]()
      val prev = DropPolicy.onDrop
      DropPolicy.onDrop = seen += _ // assigned after the writer was built
      try {
        w.write(Array.fill(100)(1.toByte)) // taken by the blocked drain
        assert(entered.await(10, TimeUnit.SECONDS))
        w.write(Array.fill(100)(1.toByte)) // fills the depth-1 queue
        w.write(Array.fill(100)(1.toByte)) // dropped
        assert(seen == Seq(100L) && w.dropped == 100L)
      } finally { DropPolicy.onDrop = prev; release.countDown(); w.close() }
      assert(w.delivered == 200L && emuBytes() == 200L)
    }
  }

  test("FastWriter: a drain error sticks; write and close() rethrow it, close() within bounded time") {
    withStream() {
      val (entered, release) = holdPuts()
      val cfg = KinesisWriter.Config("t", "key", bufferSize = 100, flushIntervalMs = 60000L)
      val w = new KinesisWriter.FastWriter(cfg, onDrop = _ => ())
      val unit = Array.fill(100)(1.toByte)
      w.write(unit) // in flight: the drain holds it inside PutRecords
      assert(entered.await(10, TimeUnit.SECONDS))
      (1 to cfg.queueDepth).foreach(_ => w.write(unit)) // queue full
      w.write(Array.fill(10)(1.toByte)) // buffered
      KinesisEmu.deleteStream("t") // the next put fails: ResourceNotFoundException
      release.countDown()
      // the drain dies on unit 2; a later write must throw, never block
      val deadline = System.nanoTime() + 10000000000L
      val fromWrite = Iterator.continually(
        scala.util.Try { w.write(Array.fill(10)(1.toByte)); Thread.sleep(5) })
        .dropWhile(r => r.isSuccess && System.nanoTime() < deadline).next()
      assert(fromWrite.failed.toOption.exists(_.getMessage.contains("ResourceNotFoundException")))
      // close() flushes into the queue and must not wait on the dead drain
      val fromClose = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val closer = new Thread(() =>
        try w.close() catch { case t: Throwable => fromClose.set(t) })
      closer.setDaemon(true) // a regression must fail the test, not hang the JVM
      val t0 = System.nanoTime()
      closer.start(); closer.join(10000L)
      assert(!closer.isAlive, "close() blocked on a dead drain")
      assert((System.nanoTime() - t0) / 1000000L < 5000L)
      assert(fromClose.get != null && fromClose.get.getMessage.contains("ResourceNotFoundException"))
      assert(w.delivered == 100L) // only the unit in flight when the stream went
      assert(intercept[IllegalArgumentException](w.close()).getMessage.contains("ResourceNotFoundException"))
      assert(ingestThreads().isEmpty)
    }
  }

  test("FastWriter: close() stops its ticker and drain threads (five writers leave none)") {
    withStream() {
      (1 to 5).foreach { i =>
        val w = new KinesisWriter.FastWriter(KinesisWriter.Config("t", s"k$i"), onDrop = _ => ())
        assert(ingestThreads().size == 2, ingestThreads())
        w.write(Array.fill(10)(i.toByte))
        w.close()
      }
      assert(ingestThreads().isEmpty, ingestThreads())
      assert(emuBytes() == 50L)
    }
  }

  test("CLI ingest and bench-sink go through FastWriter and report dropped bytes") {
    KinesisEmu.reset()
    try {
      val payload = Array.tabulate(300000)(i => ('a' + i % 26).toByte)
      val out = new java.io.ByteArrayOutputStream()
      val prevIn = System.in
      System.setIn(new java.io.ByteArrayInputStream(payload))
      try Console.withOut(out)(graft.cli.Main.main(Array("ingest", "cli-t", "-p", "k")))
      finally System.setIn(prevIn)
      assert(out.toString.trim.startsWith("delivered=300000B dropped=0B records=1 "), out.toString)
      assert(KinesisEmu.stream("cli-t").get.allRecords.head.data.sameElements(payload))

      val json = new java.io.ByteArrayOutputStream()
      Console.withOut(json)(graft.cli.Main.main(Array("bench-sink", (8L * 1024 * 1024).toString)))
      def field(k: String): Long = s""""$k":(\\d+)""".r.findFirstMatchIn(json.toString).get.group(1).toLong
      assert(field("bytes") == 8L * 1024 * 1024, json.toString)
      assert(field("delivered") + field("dropped") == field("bytes"), json.toString)
      assert(emuBytes("bench") == field("delivered"))
      assert(ingestThreads().isEmpty)
    } finally KinesisEmu.reset()
  }

  // --- ScalaCheck properties (FIXTURES.md §1) ---

  test("property: concat(chunks) == payload and every chunk <= limit") {
    forAll(Gen.zip(Gen.choose(1, 64), Gen.containerOf[Array, Byte](Gen.choose(-128, 127).map(_.toByte)))) {
      case (chunkSize: Int, payload: Array[Byte]) =>
        val chunks = RecordChunker.chunk(chunkSize, payload)
        assert(chunks.flatten.sameElements(payload))
        assert(chunks.forall(_.length <= chunkSize))
    }
  }

  test("property: batches respect count and size limits, preserve order") {
    val recGen = Gen.choose(0, 40).map(n => KinesisRecord("k", Array.fill(n)(7.toByte)))
    forAll(Gen.zip(Gen.listOf(recGen), Gen.choose(1, 10), Gen.choose(50L, 200L))) {
      case (recs: List[KinesisRecord], limit: Int, sizeLimit: Long) =>
        val batches = RecordBatcher.batch(recs, limit, sizeLimit)
        assert(batches.flatten == recs)
        assert(batches.forall(_.size <= limit))
        // size bound holds for every batch that has >1 record (a single
        // oversized record still ships alone, as in the service contract)
        batches.filter(_.size > 1).foreach { b =>
          assert(b.map(r => r.data.length.toLong + 1).sum <= sizeLimit)
        }
    }
  }

  test("property: delivered + dropped == offered") {
    // each case starts (and joins) a writer's two threads: few cases
    forAll(Gen.zip(Gen.listOf(Gen.choose(1, 100)), Gen.choose(1, 8)), trials = 12) {
      case (sizes: List[Int], depth: Int) => withStream() {
        // a drain slowed to one put per ms against an unthrottled offer
        KinesisEmu.failureInjector = (_, _) => { Thread.sleep(1); Seq.empty }
        val (w, unit, drops) = unitWriter(depth)
        try sizes.foreach(n => unit(Array.fill(n)(1.toByte))) finally w.close()
        import scala.jdk.CollectionConverters._
        val delivered = KinesisEmu.stream("t").get.allRecords.map(_.data.length)
        assert(delivered.size + drops.size == sizes.size)
        assert(w.delivered + w.dropped == w.offered && w.offered == sizes.sum.toLong)
        assert((delivered.map(_.toLong) ++ drops.asScala).sorted == sizes.map(_.toLong).sorted)
      }
    }
  }

  test("shard-rate ceilings enforced under a pinned clock (declared-only upstream, kinesis.go:25,28)") {
    withStream() {
      var now = 1000L * 1000000000L // pinned: second 1000
      KinesisEmu.clock = () => now
      KinesisEmu.enforceShardRates = true
      val rec = KinesisRecord("k", Array.fill(100)(1.toByte))
      // 1000 records/s admitted, the 1001st fails with throughput error
      val full = (0 until 3).map { _ =>
        KinesisEmu.putRecords("t", Seq.fill(500)(rec))
      }
      val throttled = full.flatMap(_.results).collect { case Left(f) => f.errorCode }
      assert(full.flatMap(_.results).count(_.isRight) == 1000)
      assert(throttled.size == 500 &&
        throttled.forall(_ == "ProvisionedThroughputExceededException"))
      // next second: the window resets
      now += 1000000000L
      assert(KinesisEmu.putRecords("t", Seq.fill(10)(rec)).failedCount == 0)
      // byte ceiling: 1 MiB/s/shard
      val big = KinesisRecord("k", Array.fill(600 * 1024)(1.toByte))
      now += 1000000000L
      val r1 = KinesisEmu.putRecords("t", Seq(big, big))
      assert(r1.results.head.isRight && r1.results(1).isLeft)
    }
  }

}
