package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.emu.KinesisEmu
import graft.ingest.KinesisRecord

/** Exactly-once streaming commits: a retried (stream, epoch, partition)
  * token must not duplicate records in the emu log. */
class ExactlyOnceSpec extends AnyFunSuite {

  test("epoch commit is idempotent under retry") {
    KinesisEmu.reset()
    KinesisEmu.createStream("eo", 2)
    val recs = (0 until 10).map(i => KinesisRecord(s"k$i", Array[Byte](i.toByte)))
    assert(KinesisEmu.putRecordsIdempotent("eo", "q", epochId = 7, partitionId = 0, recs))
    // simulated task retry of the same epoch/partition: rejected
    assert(!KinesisEmu.putRecordsIdempotent("eo", "q", epochId = 7, partitionId = 0, recs))
    // a different partition of the same epoch: accepted
    assert(KinesisEmu.putRecordsIdempotent("eo", "q", epochId = 7, partitionId = 1, recs.take(3)))
    assert(KinesisEmu.stream("eo").get.allRecords.size == 13)
    // next epoch: accepted
    assert(KinesisEmu.putRecordsIdempotent("eo", "q", epochId = 8, partitionId = 0, recs.take(2)))
    assert(KinesisEmu.stream("eo").get.allRecords.size == 15)
    KinesisEmu.reset()
  }

  test("failed epoch attempt rolls back and a retry commits exactly once") {
    KinesisEmu.reset()
    KinesisEmu.createStream("eo3", 2)
    val recs = (0 until 10).map(i => KinesisRecord(s"k$i", Array[Byte](i.toByte)))
    // first attempt: the service reports a per-record failure mid-batch
    KinesisEmu.failureInjector = (_, batch) =>
      Seq(KinesisEmu.PerRecordFailure(batch.size - 1, "InternalFailure"))
    intercept[IllegalStateException] {
      KinesisEmu.putRecordsIdempotent("eo3", "q", epochId = 1, partitionId = 0, recs)
    }
    // nothing of the failed attempt survives, and the epoch is NOT
    // marked committed (round-1 bug: token added up front -> retry
    // rejected -> records lost = at-most-once)
    assert(KinesisEmu.stream("eo3").get.allRecords.isEmpty)
    // retry after the fault clears: accepted, records land exactly once
    KinesisEmu.failureInjector = (_, _) => Seq.empty
    assert(KinesisEmu.putRecordsIdempotent("eo3", "q", epochId = 1, partitionId = 0, recs))
    assert(KinesisEmu.stream("eo3").get.allRecords.size == 10)
    // and the successful commit is still idempotent
    assert(!KinesisEmu.putRecordsIdempotent("eo3", "q", epochId = 1, partitionId = 0, recs))
    assert(KinesisEmu.stream("eo3").get.allRecords.size == 10)
    KinesisEmu.reset()
  }

  test("exception mid-epoch (validation) rolls back earlier batches") {
    KinesisEmu.reset()
    KinesisEmu.createStream("eo4", 1)
    // 501 small records batch fine (500 + 1), but make the SECOND batch
    // invalid: one record over the 1 MiB record limit forces a
    // validation throw after batch 1 already appended
    val good = (0 until 500).map(i => KinesisRecord("k", Array[Byte]((i % 127).toByte)))
    val tooBig = KinesisRecord("k", new Array[Byte](graft.ingest.Limits.RecordSizeLimit + 1))
    intercept[IllegalArgumentException] {
      KinesisEmu.putRecordsIdempotent("eo4", "q", 2L, 0, good :+ tooBig)
    }
    assert(KinesisEmu.stream("eo4").get.allRecords.isEmpty)
    KinesisEmu.reset()
  }

  test("no dirty-read window: staged records are invisible until commit") {
    KinesisEmu.reset()
    KinesisEmu.createStream("eo5", 1)
    // 501 records -> two service batches; fail the SECOND one and
    // observe, from inside the service, that batch 1 is still invisible
    val many = (0 until 501).map(i => KinesisRecord("k", Array[Byte]((i % 100).toByte)))
    @volatile var seenDuringBatch2 = -1
    var calls = 0
    KinesisEmu.failureInjector = (_, _) => {
      calls += 1
      if (calls == 2) {
        seenDuringBatch2 = KinesisEmu.stream("eo5").get.allRecords.size
        Seq(KinesisEmu.PerRecordFailure(0, "InternalFailure"))
      } else Seq.empty
    }
    intercept[IllegalStateException] {
      KinesisEmu.putRecordsIdempotent("eo5", "q", 1L, 0, many)
    }
    assert(seenDuringBatch2 == 0,
      s"batch-1 records visible before commit: $seenDuringBatch2")
    assert(KinesisEmu.stream("eo5").get.allRecords.isEmpty)
    KinesisEmu.reset()
  }

  test("epoch tokens are evicted past the retention horizon") {
    KinesisEmu.reset()
    KinesisEmu.createStream("ev", 1)
    val r = Seq(KinesisRecord("k", Array[Byte](1)))
    assert(KinesisEmu.putRecordsIdempotent("ev", "q", 0L, 0, r))
    assert(!KinesisEmu.putRecordsIdempotent("ev", "q", 0L, 0, r)) // in horizon: rejected
    // advancing far past the retention horizon sweeps the old token
    assert(KinesisEmu.putRecordsIdempotent("ev", "q", KinesisEmu.EpochRetention + 5, 0, r))
    assert(KinesisEmu.putRecordsIdempotent("ev", "q", KinesisEmu.EpochRetention + 6, 0, r))
    // the out-of-horizon token is gone: a (pathological) replay is
    // accepted again — the documented retention trade-off
    assert(KinesisEmu.putRecordsIdempotent("ev", "q", 0L, 0, r))
    KinesisEmu.reset()
  }

  test("epoch tokens are per stream: another stream's horizon and a delete/recreate") {
    KinesisEmu.reset()
    val r = Seq(KinesisRecord("k", Array[Byte](1)))
    KinesisEmu.createStream("ta", 1)
    KinesisEmu.createStream("tb", 1)
    assert(KinesisEmu.putRecordsIdempotent("ta", "q", 0L, 0, r))
    // tb advancing past the horizon leaves ta's tokens alone
    assert(KinesisEmu.putRecordsIdempotent("tb", "q", 0L, 0, r))
    assert(KinesisEmu.putRecordsIdempotent("tb", "q", KinesisEmu.EpochRetention + 5, 0, r))
    assert(!KinesisEmu.putRecordsIdempotent("ta", "q", 0L, 0, r)) // a retry, not a second copy
    assert(KinesisEmu.stream("ta").get.allRecords.size == 1)
    // a deleted and recreated stream commits its new epoch 0
    KinesisEmu.deleteStream("ta")
    KinesisEmu.createStream("ta", 1)
    assert(KinesisEmu.putRecordsIdempotent("ta", "q", 0L, 0, r))
    assert(KinesisEmu.stream("ta").get.allRecords.size == 1)
    KinesisEmu.reset()
  }

  test("epoch tokens are per query: a second query's epoch 0 commits, and each " +
      "query's horizon evicts only its own tokens") {
    KinesisEmu.reset()
    KinesisEmu.createStream("tq", 1)
    val r = Seq(KinesisRecord("k", Array[Byte](1)))
    assert(KinesisEmu.putRecordsIdempotent("tq", "qa", 0L, 0, r))
    assert(KinesisEmu.putRecordsIdempotent("tq", "qb", 0L, 0, r))
    assert(!KinesisEmu.putRecordsIdempotent("tq", "qa", 0L, 0, r)) // a retry of qa's epoch 0
    assert(KinesisEmu.putRecordsIdempotent("tq", "qb", KinesisEmu.EpochRetention + 5, 0, r))
    assert(!KinesisEmu.putRecordsIdempotent("tq", "qa", 0L, 0, r)) // qb's horizon left it
    assert(KinesisEmu.stream("tq").get.allRecords.size == 3)
    KinesisEmu.reset()
  }

  test("oversized staged epochs are re-batched to service limits") {
    KinesisEmu.reset()
    KinesisEmu.createStream("eo2", 1)
    val many = (0 until 1200).map(i => KinesisRecord("k", Array[Byte]((i % 127).toByte)))
    assert(KinesisEmu.putRecordsIdempotent("eo2", "q", 1L, 0, many))
    assert(KinesisEmu.stream("eo2").get.allRecords.size == 1200)
    KinesisEmu.reset()
  }
}
