package graft.emu

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ingest.{KinesisRecord, Limits}

/** In-process Kinesis service emulation (SURVEY.md §7.1 `emu/`).
  *
  * No kinesis connector jar and no network exist in this environment, so
  * the service itself is emulated: named streams with N shards, routing
  * by MD5(partitionKey) over an evenly divided hash-key space (the real
  * service's documented routing), per-shard monotone sequence numbers,
  * and ENFORCED request limits — including the 5 MiB request size and
  * per-shard rate ceilings the reference declares but never checks
  * (`kinesis/kinesis.go:19-35`, SURVEY.md §1.1).
  *
  * Thread-safe: PutRecords lands concurrently from all executor threads
  * of a local[*] session. (On a real multi-JVM cluster this object would
  * be replaced by the actual service endpoint; the sink code paths are
  * identical either way.)
  */
object KinesisEmu {

  final case class StoredRecord(shardId: String, sequenceNumber: Long,
                                partitionKey: String, data: Array[Byte],
                                arrivalNanos: Long)

  final case class PutResult(shardId: String, sequenceNumber: Long)

  /** One shard's log. A record's sequence number is its index in the
    * log: both are assigned under the log lock, so a reader that sees
    * `latestSequence` sees every record up to it. */
  final class Shard(val shardId: String) {
    private[KinesisEmu] val log = new ArrayBuffer[StoredRecord]()
    // log.size, published after each append — guarded by `log` for writes
    @volatile private var size = 0L
    // rate window: (epoch second, records, bytes) — guarded by `log`
    private var winSec = Long.MinValue
    private var winRecs = 0L
    private var winBytes = 0L

    /** true iff the record fits this second's rate window; updates the
      * window on acceptance. */
    private[KinesisEmu] def admit(bytes: Long, nowNanos: Long): Boolean =
      log.synchronized {
        val sec = nowNanos / 1000000000L
        if (sec != winSec) { winSec = sec; winRecs = 0L; winBytes = 0L }
        if (winRecs + 1 > Limits.ShardRecordsRateLimit ||
          winBytes + bytes > Limits.ShardBytesRateLimit) false
        else { winRecs += 1; winBytes += bytes; true }
      }

    def append(key: String, data: Array[Byte], clockNanos: Long): PutResult =
      log.synchronized {
        val s = size
        log += StoredRecord(shardId, s, key, data, clockNanos)
        size = s + 1
        PutResult(shardId, s)
      }
    def records: Seq[StoredRecord] = log.synchronized { log.toVector }
    /** The records with sequence numbers in `[from, until)`, in order. */
    def slice(from: Long, until: Long): Seq[StoredRecord] = log.synchronized {
      log.slice(math.max(0L, from).toInt, math.min(until, size).toInt).toVector
    }
    def latestSequence: Long = size - 1
  }

  final class Stream(val name: String, val numShards: Int) {
    val shards: Vector[Shard] = (0 until numShards).map(i => new Shard(f"shardId-$i%012d")).toVector
    private val md = new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
    }
    /** MD5(key) mapped onto evenly divided hash ranges, like the real
      * service (reference routes with a single constant key -> 1 shard,
      * `kinesis/kinesis.go:179,192`). */
    def shardFor(partitionKey: String): Shard = {
      val h = md.get().digest(partitionKey.getBytes("UTF-8"))
      // top 16 bytes as unsigned big-endian, reduced mod numShards via
      // the top 64 bits (sufficient uniformity for routing)
      val top = BigInt(1, h)
      shards((top % numShards).toInt)
    }
    def allRecords: Seq[StoredRecord] = shards.flatMap(_.records)
  }

  final case class PerRecordFailure(index: Int, errorCode: String)

  /** Injectable failure hook for tests: given (stream, batch) return
    * per-record failures, like the service's partial-failure responses. */
  @volatile var failureInjector: (String, Seq[KinesisRecord]) => Seq[PerRecordFailure] =
    (_, _) => Seq.empty

  /** Epoch-anchored nano clock: wall-clock millis scaled to nanos, so
    * `StoredRecord.arrivalNanos` is a real epoch timestamp. nanoTime()
    * would be JVM/boot-relative — exposing that through `arrivalTs`
    * (TimestampType) made watermarks/time filters on the source column
    * meaningless. Millisecond granularity is plenty for arrival times
    * and for the per-second rate windows. */
  def epochClockNanos(): Long = System.currentTimeMillis() * 1000000L

  /** Pluggable clock (nanos since the epoch). Tests pin it to drive
    * deterministic rate-limit windows; production uses the wall clock. */
  @volatile var clock: () => Long = () => epochClockNanos()

  /** When true, the per-shard ingest ceilings the reference declares
    * but never checks (`kinesis/kinesis.go:25,28`) are enforced:
    * records landing in the same wall-clock second on one shard beyond
    * 1000 records or 1 MiB fail with ProvisionedThroughputExceeded —
    * the real service's behavior. */
  @volatile var enforceShardRates: Boolean = false

  private val streams = new ConcurrentHashMap[String, Stream]()

  def createStream(name: String, shards: Int = 1): Stream =
    streams.computeIfAbsent(name, _ => new Stream(name, shards))

  def stream(name: String): Option[Stream] = Option(streams.get(name))

  /** Drops the stream and its commit tokens, so a stream recreated
    * under the same name starts again at epoch 0. */
  def deleteStream(name: String): Unit = {
    streams.remove(name)
    tokens.remove(name)
  }

  def reset(): Unit = {
    streams.clear()
    tokens.clear()
    failureInjector = (_, _) => Seq.empty
    clock = () => epochClockNanos()
    enforceShardRates = false
  }

  final case class PutRecordsResponse(results: Seq[Either[PerRecordFailure, PutResult]]) {
    def failedCount: Int = results.count(_.isLeft)
  }

  /** The PutRecords RPC (reference duck-typed client,
    * `kinesis/kinesis.go:171-173,217-239`), with limits enforced. */
  def putRecords(streamName: String, records: Seq[KinesisRecord]): PutRecordsResponse = {
    val st = stream(streamName).getOrElse(
      throw new IllegalArgumentException(s"ResourceNotFoundException: stream $streamName"))
    checkLimits(records)

    val failures = failureInjector(streamName, records).map(f => f.index -> f).toMap
    val now = clock()
    PutRecordsResponse(records.zipWithIndex.map { case (r, i) =>
      failures.get(i) match {
        case Some(f) => Left(f)
        case None =>
          val shard = st.shardFor(r.partitionKey)
          if (enforceShardRates && !shard.admit(recordBytes(r), now))
            Left(PerRecordFailure(i, "ProvisionedThroughputExceededException"))
          else Right(shard.append(r.partitionKey, r.data, now))
      }
    })
  }

  /** One stream's exactly-once state: the committed (epoch, partition)
    * tokens, a lock per token, and the newest committed epoch, which
    * sets the stream's eviction horizon. */
  private final class Tokens {
    val committed = ConcurrentHashMap.newKeySet[(Long, Int)]()
    val locks = new ConcurrentHashMap[(Long, Int), Object]()
    val maxSeenEpoch = new AtomicLong(Long.MinValue)
  }
  private val tokens = new ConcurrentHashMap[String, Tokens]()

  /** Commit tokens older than this many epochs behind the newest one
    * committed on the same stream are evicted (the token set would
    * otherwise grow without bound on long-running streams). Spark only
    * replays epochs at or after its last checkpoint, far inside this
    * horizon. */
  val EpochRetention = 1000L

  /** Idempotent PutRecords for streaming epochs: the same
    * (stream, epoch, partition) token commits at most once, so Spark's
    * task/epoch retries don't duplicate records — exactly-once into the
    * emu log (SURVEY.md §7.4 decision; the reference's writer has no
    * such guard and re-sends on upstream retry).
    *
    * Two phases under the epoch lock: STAGE validates every batch
    * (service limits, failure injector, shard-rate admission) and routes
    * each record to its shard without touching any shard log; APPEND
    * then lands all records and records the token. Commit is therefore
    * the visibility point — a concurrent reader (dumpStream, the DSv2
    * source) can never observe records of an epoch that subsequently
    * fails. (Round-1 marked the token committed up front — at-most-once
    * under failure; round-2 appended during validation and rolled back
    * on failure — exactly-once for committed data but with a dirty-read
    * window this rewrite closes.) */
  def putRecordsIdempotent(streamName: String, epochId: Long, partitionId: Int,
                           records: Seq[KinesisRecord]): Boolean = {
    val token = s"$streamName/$epochId/$partitionId"
    val st = tokens.computeIfAbsent(streamName, _ => new Tokens)
    val key = (epochId, partitionId)
    val committed = st.locks.computeIfAbsent(key, _ => new Object).synchronized {
      if (st.committed.contains(key)) false // already committed
      else {
        if (records.nonEmpty) {
          // phase 1: stage — validate and route, no shard log mutation.
          // A throw here propagates with NOTHING to roll back.
          val staged = ArrayBuffer[(Shard, KinesisRecord)]()
          graft.ingest.RecordBatcher.batch(records).foreach { b =>
            staged ++= stageBatch(streamName, b, token)
          }
          // phase 2: append — the visibility point
          val now = clock()
          staged.foreach { case (shard, r) => shard.append(r.partitionKey, r.data, now) }
        }
        st.committed.add(key)
        true
      }
    }
    if (committed) evictOldEpochs(st, epochId)
    committed
  }

  /** Bytes a record counts against the service limits: partition key
    * plus payload. */
  private def recordBytes(r: KinesisRecord): Long =
    r.partitionKey.getBytes("UTF-8").length.toLong + r.data.length

  /** The PutRecords request limits (ValidationException): record count,
    * per-record size and request size. Throws on any violation. */
  private def checkLimits(records: Seq[KinesisRecord]): Unit = {
    require(records.nonEmpty, "ValidationException: empty record list")
    require(records.size <= Limits.PutRecordsLimit,
      s"ValidationException: ${records.size} records exceeds limit ${Limits.PutRecordsLimit}")
    records.foreach { r =>
      val sz = recordBytes(r)
      require(sz <= Limits.RecordSizeLimit,
        s"ValidationException: record of $sz bytes exceeds ${Limits.RecordSizeLimit}")
    }
    val total = records.map(recordBytes).sum
    require(total <= Limits.PutRecordsSizeLimit,
      s"ValidationException: request of $total bytes exceeds ${Limits.PutRecordsSizeLimit}")
  }

  /** The service-limit + injected-failure checks shared by the in-JVM
    * and durable commit paths. Throws on any violation. */
  private def validateBatch(streamName: String, records: Seq[KinesisRecord],
                            token: String): Unit = {
    checkLimits(records)
    val failures = failureInjector(streamName, records)
    if (failures.nonEmpty)
      throw new IllegalStateException(
        s"PutRecords partial failure: ${failures.size} records; epoch $token aborted before append")
  }

  /** Validate one service-limit-sized batch and resolve shard routing,
    * mutating nothing but the rate windows (admission consumes rate
    * budget whether or not the epoch later commits, like the real
    * service). Throws on any validation error or per-record failure. */
  private def stageBatch(streamName: String, records: Seq[KinesisRecord],
                         token: String): Seq[(Shard, KinesisRecord)] = {
    val st = stream(streamName).getOrElse(
      throw new IllegalArgumentException(s"ResourceNotFoundException: stream $streamName"))
    validateBatch(streamName, records, token)
    val now = clock()
    records.map { r =>
      val shard = st.shardFor(r.partitionKey)
      if (enforceShardRates && !shard.admit(recordBytes(r), now))
        throw new IllegalStateException(
          s"PutRecords partial failure: ProvisionedThroughputExceeded; epoch $token aborted before append")
      (shard, r)
    }
  }

  /** Durable, CROSS-PROCESS variant of [[putRecordsIdempotent]]: same
    * validation and exactly-once token semantics, but the token and the
    * staged records live in [[FileEmuStore]]'s shared-filesystem layout
    * — so the protocol holds across JVMs (a real cluster's executors,
    * or any concurrent writer process), which the in-memory singleton
    * cannot provide. The token is (stream, key, partition): a streaming
    * sink passes the epoch number as `key`, so epoch retries commit at
    * most once; a BATCH write job passes its `writeId`, minted once per
    * job on the driver ("b" + UUID hex) and carried by the serialized
    * writer factory — task retries of one partition cannot duplicate (a
    * crashed attempt's staged file is an invisible orphan), while two
    * separate jobs get two writeIds and both land (batch append
    * semantics). The failure injector still applies in the CALLING
    * process (a test hook, not service state); per-shard rate
    * admission is in-process state and is not enforced on this path.
    * Returns true iff this call committed the token. */
  def putRecordsPersisted(dir: String, streamName: String, key: String,
                          partitionId: Int, records: Seq[KinesisRecord]): Boolean = {
    FileEmuStore.numShardsOf(dir, streamName) // ResourceNotFound on a missing stream
    if (FileEmuStore.isCommitted(dir, streamName, key, partitionId)) return false
    graft.ingest.RecordBatcher.batch(records)
      .foreach(b => validateBatch(streamName, b, s"$streamName/$key/$partitionId"))
    FileEmuStore.commit(dir, streamName, key, partitionId, records, clock())
  }

  /** Rebuild this JVM's in-memory view of a persisted stream by
    * replaying every committed batch in deterministic (epoch,
    * partition) order through the normal shard-append path (MD5
    * routing, dense per-shard sequence numbers — identical in every
    * process that loads the same dir). The previous in-memory stream
    * of that name, if any, is replaced.
    *
    * Scale note (honest): this load materializes the stream in ONE
    * JVM — the emu's read model, fine for the emulator's log sizes. A
    * production-scale reader would not funnel through it: the durable
    * layout is plain files on a shared filesystem, so a distributed
    * read path scans the `.bin` attempt files under `data/` as a file
    * source and inner-joins the token list (exactly how
    * [[FileEmuStore.loadCommitted]] filters),
    * keeping the log read partition-parallel end to end. */
  def loadPersisted(dir: String, streamName: String): Stream = {
    val shards = FileEmuStore.numShardsOf(dir, streamName)
    FileEmuStore.sweepOrphans(dir, streamName)
    streams.remove(streamName)
    val st = createStream(streamName, shards)
    FileEmuStore.loadCommitted(dir, streamName).foreach { batch =>
      batch.records.foreach { case (key, data, ts) =>
        st.shardFor(key).append(key, data, ts)
      }
    }
    st
  }

  /** Evict the stream's commit tokens more than [[EpochRetention]]
    * epochs behind its newest committed epoch. Amortized: the sweep
    * only runs when the stream's horizon advances. */
  private def evictOldEpochs(st: Tokens, epochId: Long): Unit = {
    val prev = st.maxSeenEpoch.getAndUpdate(m => math.max(m, epochId))
    if (epochId > prev && prev != Long.MinValue) {
      val horizon = st.maxSeenEpoch.get() - EpochRetention
      if (horizon > Long.MinValue + EpochRetention) st.committed.removeIf(_._1 < horizon)
      // lock entries are deliberately NOT evicted: removing a lock
      // object another thread currently holds inside
      // putRecordsIdempotent would let a concurrent retry
      // computeIfAbsent a FRESH lock for the same token and enter the
      // critical section in parallel — a duplicate-append race. Each
      // entry is a key + bare Object (~100 bytes); unbounded only in
      // total epochs a stream has seen, which an emulator can afford.
    }
  }
}
