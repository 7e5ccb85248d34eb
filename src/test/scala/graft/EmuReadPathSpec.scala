package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.emu.{FileEmuStore, KinesisEmu}
import graft.ingest.KinesisRecord
import graft.sources.{KinesisEmuInputPartition, KinesisEmuMicroBatchStream,
  KinesisEmuPartitionReader, ShardOffsets}

/** The DSv2 source's read path over the emu: a micro-batch reads
  * `[from, until)` of each shard by sequence number, where `until` was
  * the shard head when the batch was planned. */
class EmuReadPathSpec extends AnyFunSuite {

  /** Sequence numbers a partition reader returns for one shard range. */
  private def read(stream: String, shardId: String, from: Long, until: Long,
                   persistDir: Option[String] = None): Seq[Long] = {
    val r = new KinesisEmuPartitionReader(
      KinesisEmuInputPartition(stream, shardId, from, until, persistDir))
    val out = Seq.newBuilder[Long]
    while (r.next()) out += r.get().getLong(2)
    r.close()
    out.result()
  }

  test("a reader that follows the shard head under a concurrent writer skips no record") {
    val name = "emu-read-race"
    val total = 60000
    val shard = KinesisEmu.createStream(name, shards = 1).shards.head
    val payload = Array[Byte](1, 2, 3)
    try {
      // the pause spreads the appends over thousands of reads
      val writer = new Thread(() => (0 until total).foreach { _ =>
        shard.append("k", payload, 0L)
        java.util.concurrent.locks.LockSupport.parkNanos(1000L)
      })
      writer.start()
      val seen = scala.collection.mutable.ArrayBuffer[Long]()
      var prev = 0L
      var reads = 0
      while (prev < total) {
        val until = shard.latestSequence + 1
        if (until > prev) {
          seen ++= read(name, shard.shardId, prev, until)
          reads += 1
          prev = until
        }
      }
      writer.join()
      val skipped = total - seen.size
      assert(skipped == 0, s"skipped $skipped of $total records over $reads reads")
      assert(seen == (0L until total), "sequence numbers are dense and in order")
    } finally KinesisEmu.deleteStream(name)
  }

  test("durable source: a view stale on one shard reloads, and only latestOffset refreshes") {
    val dir = Files.createTempDirectory("graft_emu_view").toString
    val name = "emu-stale-view"
    FileEmuStore.createStream(dir, name, numShards = 2)
    val route = new KinesisEmu.Stream(name, 2)
    val shardIds = route.shards.map(_.shardId)
    val keys = Iterator.from(0).map(i => s"k$i")
    def on(shard: Int, n: Int): Seq[KinesisRecord] =
      keys.filter(k => route.shardFor(k).shardId == shardIds(shard)).take(n)
        .map(k => KinesisRecord(k, k.getBytes("UTF-8"))).toSeq
    try {
      // the view: shard 0 holds 100 records, shard 1 holds 5
      assert(KinesisEmu.putRecordsPersisted(dir, name, "0", 0, on(0, 100) ++ on(1, 5)))
      KinesisEmu.loadPersisted(dir, name)
      // another process commits 20 more to shard 1; the view still
      // holds 105 records in total, more than the 25 the read needs
      assert(KinesisEmu.putRecordsPersisted(dir, name, "1", 0, on(1, 20)))
      assert(read(name, shardIds(1), 0, 25, Some(dir)) == (0L until 25))

      val source = new KinesisEmuMicroBatchStream(name, Some(dir))
      val head = source.latestOffset()
      assert(head == ShardOffsets(Map(shardIds(0) -> 100L, shardIds(1) -> 25L)))
      val view = KinesisEmu.stream(name).get
      assert(KinesisEmu.putRecordsPersisted(dir, name, "2", 0, on(0, 7)))
      // the rest of the trigger plans and reports from the same view
      assert(source.reportLatestOffset() == head)
      assert(source.planInputPartitions(source.initialOffset(), head).length == 2)
      assert(KinesisEmu.stream(name).get eq view, "reloaded outside latestOffset")
      // the next trigger sees the new commit
      assert(source.latestOffset() ==
        ShardOffsets(Map(shardIds(0) -> 107L, shardIds(1) -> 25L)))
    } finally KinesisEmu.deleteStream(name)
  }
}
