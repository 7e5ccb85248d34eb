package graft.sink

import graft.emu.KinesisEmu
import graft.ingest._

/** The reference's composed writer stack (`NewFastWriter`,
  * `kinesis/kinesis.go:37-57`) re-expressed for Spark's execution model.
  *
  * Reference stack:  BufferedWriter(4 MiB, 1 s) -> DropWriter(queue=4)
  *                   -> Writer(chunk, batch<=500) -> PutRecords.
  * Spark mapping:    micro-batch trigger = the time-based flush;
  *                   `Flusher` = the size-based buffer;
  *                   `DropPolicy` = deterministic per-epoch load shedding;
  *                   `write()` = chunk -> batch -> emu PutRecords.
  *
  * Divergence from the reference, by design (SURVEY.md §7.4): a final
  * flush drains EVERYTHING (the reference can lose queued flushes at
  * clean exit, quirk (b)); errors are surfaced, not swallowed
  * (quirk (a)); drop decisions are deterministic under epoch retry.
  */
object KinesisWriter {

  final case class Config(streamName: String, partitionKey: String,
                          bufferSize: Int = 4 * 1024 * 1024,
                          queueDepth: Int = 4,
                          recordSizeLimit: Int = Limits.RecordSizeLimit,
                          putRecordsLimit: Int = Limits.PutRecordsLimit)

  /** Synchronous unbuffered write (reference `NewDefaultWriter` path,
    * `kinesis/kinesis.go:163-168`): chunk -> batch -> PutRecords.
    * Returns per-request responses; any limit violation throws. */
  def write(cfg: Config, payload: Array[Byte]): Seq[KinesisEmu.PutRecordsResponse] = {
    val records = RecordChunker.toRecords(cfg.partitionKey, payload, cfg.recordSizeLimit)
    RecordBatcher.batch(records, cfg.putRecordsLimit)
      .map(b => KinesisEmu.putRecords(cfg.streamName, b))
  }

  /** Size-bounded buffer (reference `BufferedWriter` minus the ticker —
    * in Spark the time bound is the micro-batch trigger). Not
    * thread-safe by design: one instance per task/partition. */
  final class Flusher(cfg: Config, onFlush: Array[Byte] => Unit) {
    private val buf = new java.io.ByteArrayOutputStream(cfg.bufferSize)
    def write(p: Array[Byte]): Unit = {
      if (buf.size() + p.length > cfg.bufferSize && buf.size() > 0) flush()
      buf.write(p)
      if (buf.size() >= cfg.bufferSize) flush()
    }
    def flush(): Unit = if (buf.size() > 0) { onFlush(buf.toByteArray); buf.reset() }
  }
}
