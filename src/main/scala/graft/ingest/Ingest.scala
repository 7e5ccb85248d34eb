package graft.ingest

/** Pure ingestion dataflow kernels, re-expressing the reference's writer
  * stack (remind101/kinesis, `kinesis/kinesis.go`) as side-effect-free
  * functions so they are unit/property-testable without Spark and usable
  * inside Spark `DataWriter`s on any executor.
  *
  * Reference semantics covered:
  *  - chunking: `kinesis/kinesis.go:246-268` (`chunk`) — fixed-size byte
  *    slices, last chunk is the remainder, an EMPTY payload still yields
  *    one empty chunk;
  *  - chunk size: `kinesis/kinesis.go:200-205` — record size limit minus
  *    partition-key length;
  *  - batching: `kinesis/kinesis.go:217-239` — at most `putRecordsLimit`
  *    (500) records per PutRecords request;
  *  - service limits: `kinesis/kinesis.go:19-35` — unlike the reference,
  *    the 5 MiB request-size limit is ENFORCED here (SURVEY.md §1.1
  *    documents it as declared-but-unenforced upstream).
  */
object Limits {
  /** max records per PutRecords request (`kinesis/kinesis.go:21`). */
  val PutRecordsLimit = 500
  /** max bytes per record incl. partition key (`kinesis/kinesis.go:34`). */
  val RecordSizeLimit = 1024 * 1024
  /** max bytes per PutRecords request (`kinesis/kinesis.go:31`). */
  val PutRecordsSizeLimit = 5 * 1024 * 1024
  /** per-shard ingest ceilings (`kinesis/kinesis.go:25,28`). */
  val ShardRecordsRateLimit = 1000
  val ShardBytesRateLimit = 1024 * 1024
}

/** A single record bound for a stream: routing key + opaque payload
  * (reference `PutRecordsRequestEntry`, `kinesis/kinesis.go:211-214`). */
final case class KinesisRecord(partitionKey: String, data: Array[Byte])

object RecordChunker {
  /** Split `payload` into `chunkSize`-byte slices; the last chunk is the
    * remainder. Mirrors `chunk()` exactly, including the quirk that an
    * empty payload produces one empty chunk (`kinesis/kinesis.go:246-268`). */
  def chunk(chunkSize: Int, payload: Array[Byte]): Seq[Array[Byte]] = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    if (payload.isEmpty) Seq(Array.emptyByteArray)
    else payload.grouped(chunkSize).toSeq
  }

  /** Usable chunk size for a partition key (`kinesis/kinesis.go:200-205`). */
  def chunkSizeFor(partitionKey: String, recordSizeLimit: Int = Limits.RecordSizeLimit): Int = {
    val size = recordSizeLimit - partitionKey.getBytes("UTF-8").length
    require(size > 0, s"partition key of ${partitionKey.length} bytes leaves no room for data")
    size
  }

  /** Payload -> records for one partition key (reference `Writer.Write`
    * steps 1-2, `kinesis/kinesis.go:199-215`). */
  def toRecords(partitionKey: String, payload: Array[Byte],
                recordSizeLimit: Int = Limits.RecordSizeLimit): Seq[KinesisRecord] =
    chunk(chunkSizeFor(partitionKey, recordSizeLimit), payload)
      .map(KinesisRecord(partitionKey, _))
}

object RecordBatcher {
  /** Group records into PutRecords-request-sized batches: at most
    * `putRecordsLimit` records AND at most `putRecordsSizeLimit` bytes
    * (key bytes + data bytes) per batch. The count bound mirrors
    * `kinesis/kinesis.go:217-239`; the size bound enforces the declared
    * 5 MiB limit the reference never checks (`kinesis/kinesis.go:31`). */
  def batch(records: Seq[KinesisRecord],
            putRecordsLimit: Int = Limits.PutRecordsLimit,
            putRecordsSizeLimit: Long = Limits.PutRecordsSizeLimit): Seq[Seq[KinesisRecord]] = {
    require(putRecordsLimit > 0)
    val out = Seq.newBuilder[Seq[KinesisRecord]]
    var cur = Seq.newBuilder[KinesisRecord]
    var n = 0
    var bytes = 0L
    records.foreach { r =>
      val sz = r.partitionKey.getBytes("UTF-8").length.toLong + r.data.length
      if (n > 0 && (n >= putRecordsLimit || bytes + sz > putRecordsSizeLimit)) {
        out += cur.result(); cur = Seq.newBuilder; n = 0; bytes = 0L
      }
      cur += r; n += 1; bytes += sz
    }
    if (n > 0) out += cur.result()
    out.result()
  }
}

/** The drop hook of the reference's `DropWriter`
  * (`kinesis/kinesis.go:108-155`). The drop stage itself is
  * `graft.sink.KinesisWriter.FastWriter`'s bounded queue. */
object DropPolicy {
  /** Injectable per-drop hook, CLI/default-stack parity with the
    * reference's `Dropped` variable (`kinesis/kinesis.go:151-155`): the
    * default writes `dropping N bytes` to stderr exactly as the
    * reference does (same text, no trailing newline). Replace for
    * metrics-only behavior; a `FastWriter` built without its own
    * `onDrop` reads this at drop time. */
  val DefaultOnDrop: Long => Unit =
    bytes => System.err.print(s"dropping $bytes bytes")
  @volatile var onDrop: Long => Unit = DefaultOnDrop
}
