package graft

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

  test("drop policy: queue-full drops, stats add up (kinesis.go:137-149 semantics)") {
    // drain slower than offers: with queueDepth 2 and no draining, only
    // the first 2 units are accepted
    val (acc, drop, stats) = DropPolicy.decide(Seq(10L, 20L, 30L, 40L), 2, drainPerOffer = 0.0)
    assert(acc == Seq(0, 1) && drop == Seq(2, 3))
    assert(stats == DropStats(4, 2, 2, 70L))
    // drain keeps up: nothing drops
    val (acc2, drop2, _) = DropPolicy.decide(Seq.fill(100)(1L), 4, drainPerOffer = 1.0)
    assert(acc2.size == 100 && drop2.isEmpty)
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
    forAll(Gen.zip(Gen.listOf(Gen.choose(1L, 100L)), Gen.choose(1, 8))) {
      case (sizes: List[Long], depth: Int) =>
        val (acc, drop, stats) = DropPolicy.decide(sizes, depth, drainPerOffer = 0.5)
        assert(acc.size + drop.size == sizes.size)
        assert(stats.delivered + stats.dropped == stats.offered)
        assert((acc ++ drop).sorted == sizes.indices)
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

  test("emu durable log dumps as the Kafka-like relational view") {
    withStream(shards = 2) {
      (0 until 10).foreach(i => KinesisWriter.write(
        KinesisWriter.Config("t", s"k$i"), Array.fill(4)(i.toByte)))
      val spark = Session(4)
      val df = KinesisEmu.toDataFrame(spark, "t")
      assert(df.columns.toSeq ==
        Seq("partitionKey", "data", "sequenceNumber", "shardId", "arrivalTs"))
      assert(df.count() == 10)
      val path = s"/tmp/graft_emu_dump_${System.nanoTime()}"
      df.write.partitionBy("shardId").parquet(path)
      assert(spark.read.parquet(path).count() == 10)
    }
  }
}
