package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.emu.KinesisEmu
import graft.ingest._
import graft.sink.KinesisWriter

/** DataSource V2 `kinesis-emu` — the Spark-native re-expression of the
  * reference's entire surface (SURVEY.md §2a R1-R14) as a first-class
  * source/sink:
  *
  *   df.write.format("kinesis-emu").option("stream", s).option("partitionKey", k).save()
  *   df.writeStream.format("kinesis-emu")...         // R3 time-flush = trigger
  *   spark.readStream.format("kinesis-emu").option("stream", s).load()
  *
  * Write path per task: Flusher (R3 size-bound) -> chunk (R5) ->
  * records (R6) -> batches (R7) -> emu PutRecords (R8), with delivered
  * records surfaced as a DSv2 CustomMetric. The sink sheds nothing: the
  * reference's drop stage (R4, R13) is `KinesisWriter.FastWriter`'s.
  *
  * Read path: micro-batch offsets are per-shard sequence numbers — the
  * same offset model as the real service's shard iterators; each shard
  * maps to one input partition (= Kinesis consumer parallelism).
  */
class KinesisEmuProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesis-emu"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisEmuTable.READ_SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KinesisEmuTable(new CaseInsensitiveStringMap(properties))
}

object KinesisEmuTable {
  /** Kafka-source-like relational view of a stream (SURVEY.md §1.2). */
  val READ_SCHEMA: StructType = StructType(Seq(
    StructField("partitionKey", StringType),
    StructField("data", BinaryType),
    StructField("sequenceNumber", LongType),
    StructField("shardId", StringType),
    StructField("arrivalTs", TimestampType)))
}

class KinesisEmuTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsWrite with SupportsRead {
  private val streamName = options.get("stream")
  require(streamName != null, "option 'stream' is required")

  override def name(): String = s"kinesis-emu/$streamName"
  override def schema(): StructType = KinesisEmuTable.READ_SCHEMA
  override def capabilities(): util.Set[TableCapability] = Set(
    TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
    TableCapability.MICRO_BATCH_READ, TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KinesisEmuWriteBuilder(streamName, options, info.schema(), info.queryId())

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new KinesisEmuScanBuilder(streamName, Option(options.get("persistDir")),
      AdmissionCaps(
        Option(options.get("maxRecordsPerTrigger")).map(_.toLong),
        Option(options.get("maxBytesPerTrigger")).map(_.toLong)))
}

// ---------------------------------------------------------------- write

final case class SinkConfig(streamName: String, partitionKey: String,
                            valueField: Int, keyField: Int,
                            persistDir: Option[String] = None,
                            writeId: String = "b0",
                            queryId: String)

class KinesisEmuWriteBuilder(stream: String, options: CaseInsensitiveStringMap,
                             schema: StructType, queryId: String) extends WriteBuilder {
  override def build(): Write = {
    // value column: 'value' or 'data' (BINARY or STRING); key column
    // optional (STRING). Checked here, before any task starts: each
    // task reads the columns with getBinary/getUTF8String.
    val valueIdx = schema.fieldNames.indexWhere(n => n == "value" || n == "data")
    require(valueIdx >= 0, s"input needs a 'value' or 'data' column, got ${schema.fieldNames.mkString(",")}")
    val value = schema.fields(valueIdx)
    require(value.dataType == BinaryType || value.dataType == StringType,
      s"column '${value.name}' must be BINARY or STRING, got ${value.dataType.sql}")
    val keyIdx = schema.fieldNames.indexOf("partitionKey")
    if (keyIdx >= 0) require(schema.fields(keyIdx).dataType == StringType,
      s"column 'partitionKey' must be STRING, got ${schema.fields(keyIdx).dataType.sql}")
    val cfg = SinkConfig(
      streamName = stream,
      partitionKey = Option(options.get("partitionKey")).getOrElse("pk"),
      valueField = valueIdx, keyField = keyIdx,
      // durable cross-process epoch commits (FileEmuStore layout). The
      // option rides the serialized SinkConfig to every executor JVM,
      // which is exactly why it is an option and not driver-side state.
      persistDir = Option(options.get("persistDir")),
      // one durable-commit id per write JOB, minted here on the driver:
      // batch tasks commit under (writeId, partition), so retries of a
      // partition are exactly-once while separate jobs append
      writeId = "b" + java.util.UUID.randomUUID().toString.replace("-", ""),
      // streaming epochs commit under (query, epoch, partition): the
      // query id is the one the checkpoint keeps across restarts
      queryId = queryId)
    new KinesisEmuWrite(cfg, value.dataType == StringType)
  }
}

// custom-metric classes must be TOP-LEVEL with zero-arg constructors:
// the streaming progress reporter re-instantiates them reflectively
// (anonymous classes capture the enclosing Write and fail there)
class DeliveredRecordsMetric extends CustomSumMetric {
  override def name = "deliveredRecords"; override def description = "records delivered to the stream"
}

class KinesisEmuWrite(cfg: SinkConfig, valueIsString: Boolean) extends Write {
  override def toBatch: BatchWrite = new KinesisEmuBatchWrite(cfg, valueIsString)
  override def toStreaming: StreamingWrite = new KinesisEmuStreamingWrite(cfg, valueIsString)
  override def supportedCustomMetrics(): Array[CustomMetric] = Array(new DeliveredRecordsMetric)
}

class KinesisEmuBatchWrite(cfg: SinkConfig, valueIsString: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KinesisEmuWriterFactory(cfg, valueIsString)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class KinesisEmuStreamingWrite(cfg: SinkConfig, valueIsString: Boolean) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new KinesisEmuWriterFactory(cfg, valueIsString)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class KinesisEmuWriterFactory(cfg: SinkConfig, valueIsString: Boolean)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KinesisEmuDataWriter(cfg, valueIsString, partitionId, None)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KinesisEmuDataWriter(cfg, valueIsString, partitionId, Some(epochId))
}

case object KinesisCommit extends WriterCommitMessage

/** Per-task writer: buffers row payloads into flush units (R3) and
  * chunks/batches/puts them (R5-R8) at commit, or before a row with its
  * own partition key. One instance per task — single-threaded by
  * contract.
  *
  * Streaming epochs (`epoch` defined) deliver exactly-once: records are
  * staged locally and committed idempotently under the
  * (stream, query, epoch, partition) token, so Spark's epoch/task
  * retries cannot duplicate data in the emu log, and two queries that
  * write one stream never refuse each other's epochs. */
class KinesisEmuDataWriter(cfg: SinkConfig, valueIsString: Boolean,
                           partitionId: Int = 0, epoch: Option[Long] = None)
    extends DataWriter[InternalRow] {

  private val staged = scala.collection.mutable.ArrayBuffer[KinesisRecord]()

  /** Stage when the task commits transactionally — streaming epochs
    * AND durable batch writes (persistDir) — else send now, failing the
    * task on any record PutRecords did not write. */
  private def sendPayload(c: KinesisWriter.Config, payload: Array[Byte]): Long =
    if (epoch.isDefined || cfg.persistDir.isDefined) {
      val recs = RecordChunker.toRecords(c.partitionKey, payload, c.recordSizeLimit)
      staged ++= recs
      recs.size.toLong
    } else {
      KinesisWriter.writeAll(c, payload).toLong
    }

  private val writerCfg = KinesisWriter.Config(cfg.streamName, cfg.partitionKey)
  private var deliveredRecords = 0L
  private val pendingUnits = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
  private val flusher = new KinesisWriter.Flusher(writerCfg, unit => pendingUnits += unit)

  override def write(row: InternalRow): Unit = {
    val key = if (cfg.keyField >= 0 && !row.isNullAt(cfg.keyField))
      row.getUTF8String(cfg.keyField).toString else cfg.partitionKey
    val payload =
      if (valueIsString) row.getUTF8String(cfg.valueField).getBytes
      else row.getBinary(cfg.valueField)
    if (key == cfg.partitionKey) flusher.write(payload)
    else { // per-row routing key: bypass the shared buffer for that row
      flusher.flush(); drain()
      deliver(KinesisWriter.Config(cfg.streamName, key), payload)
    }
  }

  private def deliver(c: KinesisWriter.Config, payload: Array[Byte]): Unit =
    deliveredRecords += sendPayload(c, payload)

  private def drain(): Unit = {
    pendingUnits.foreach(deliver(writerCfg, _))
    pendingUnits.clear()
  }

  override def commit(): WriterCommitMessage = {
    flusher.flush(); drain() // final flush drains EVERYTHING (fixes quirk (b))
    (epoch, cfg.persistDir) match {
      case (_, Some(dir)) => KinesisEmu.putRecordsPersisted(dir, cfg.streamName,
        epoch.fold(cfg.writeId)(graft.emu.FileEmuStore.epochKey(cfg.queryId, _)),
        partitionId, staged.toSeq)
      case (Some(e), None) =>
        KinesisEmu.putRecordsIdempotent(cfg.streamName, cfg.queryId, e, partitionId,
          staged.toSeq)
      case (None, None) => () // non-durable batch: records already sent
    }
    staged.clear()
    KinesisCommit
  }
  override def abort(): Unit = pendingUnits.clear()
  override def close(): Unit = ()

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(new CustomTaskMetric {
    override def name(): String = "deliveredRecords"
    override def value(): Long = deliveredRecords
  })
}

// ----------------------------------------------------------------- read

/** Offset = per-shard next-sequence-number map, JSON-encoded. */
final case class ShardOffsets(next: Map[String, Long]) extends Offset {
  override def json(): String =
    next.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
}

object ShardOffsets {
  def parse(json: String): ShardOffsets = ShardOffsets(
    """"([^"]+)":(\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

/** Source-side admission control configuration (reference R3: the
  * whole point of the reference's buffer layer is bounded-memory
  * transfer — `kinesis/kinesis.go:75-89` flushes at most one buffer
  * per tick). Unbounded catch-up reads are the streaming-restart OOM
  * at 100 TB/day; these caps bound every micro-batch, under
  * `Trigger.AvailableNow` too. */
final case class AdmissionCaps(maxRecords: Option[Long], maxBytes: Option[Long]) {
  maxRecords.foreach(n => require(n > 0, s"maxRecordsPerTrigger must be > 0, got $n"))
  maxBytes.foreach(n => require(n > 0, s"maxBytesPerTrigger must be > 0, got $n"))
}

class KinesisEmuScanBuilder(stream: String, persistDir: Option[String] = None,
                            caps: AdmissionCaps = AdmissionCaps(None, None))
    extends ScanBuilder {
  override def build(): Scan = new KinesisEmuScan(stream, persistDir, caps)
}

class KinesisEmuScan(stream: String, persistDir: Option[String] = None,
                     caps: AdmissionCaps = AdmissionCaps(None, None)) extends Scan {
  override def readSchema(): StructType = KinesisEmuTable.READ_SCHEMA
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new KinesisEmuMicroBatchStream(stream, persistDir, caps)
}

/** Executor-side view of a durable stream: (re)load the shared
  * directory into this JVM's emu registry when the current view lacks
  * the stream or any shard's records below its offset in `need` — a
  * remote executor starts empty and hydrates here. Synchronized: one
  * reload serves all partitions of a micro-batch. */
object DurableStreamView {
  def ensure(dir: String, stream: String, need: Map[String, Long]): Unit = synchronized {
    val stale = KinesisEmu.stream(stream).forall { st =>
      st.shards.exists(sh => sh.latestSequence + 1 < need.getOrElse(sh.shardId, 0L))
    }
    if (stale) KinesisEmu.loadPersisted(dir, stream)
  }
}

class KinesisEmuMicroBatchStream(stream: String, persistDir: Option[String] = None,
                                 caps: AdmissionCaps = AdmissionCaps(None, None))
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxRows}

  /** This JVM's view of the stream's shards, hydrated from a durable
    * stream's directory only where it lacks offsets in `need`. */
  private def view(need: Map[String, Long] = Map.empty): Seq[KinesisEmu.Shard] = {
    persistDir.foreach(d => DurableStreamView.ensure(d, stream, need))
    KinesisEmu.stream(stream)
      .getOrElse(throw new IllegalArgumentException(s"stream $stream not found")).shards
  }

  /** The view after reloading a durable stream, so cross-process
    * commits made since the last trigger become visible offsets. Only
    * `latestOffset` refreshes: once per trigger. */
  private def refreshed: Seq[KinesisEmu.Shard] = {
    persistDir.foreach(d => KinesisEmu.loadPersisted(d, stream))
    view()
  }

  private def head(shards: Seq[KinesisEmu.Shard]): ShardOffsets =
    ShardOffsets(shards.map(s => s.shardId -> (s.latestSequence + 1)).toMap)

  /** The shard heads when an AvailableNow run started. Without this
    * Spark wraps the source in `AvailableNowDataStreamWrapper`, which
    * reads everything up to that head in one batch and ignores the
    * caps; with it the run drains exactly what was there at start, in
    * batches the caps bound. */
  @volatile private var availableNowHead: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(head(refreshed).next)

  /** The offsets a batch may read up to: each shard's head, capped at
    * the AvailableNow start head once one is taken. */
  private def readable(shards: Seq[KinesisEmu.Shard]): Map[String, Long] = {
    val h = head(shards).next
    availableNowHead.fold(h)(start =>
      h.map { case (id, n) => id -> math.min(n, start.getOrElse(id, 0L)) })
  }

  override def initialOffset(): Offset =
    ShardOffsets(view().map(s => s.shardId -> 0L).toMap)
  override def latestOffset(): Offset = ShardOffsets(readable(refreshed))
  override def deserializeOffset(json: String): Offset = ShardOffsets.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- admission control (reference R3's bounded-transfer intent):
  // the engine calls latestOffset(start, limit) INSTEAD of the 0-arg
  // form, so a restart after an outage drains the backlog across many
  // bounded micro-batches instead of one unbounded catch-up batch.
  override def getDefaultReadLimit: ReadLimit = {
    val lims = (caps.maxRecords.map(ReadLimit.maxRows) ++
      caps.maxBytes.map(ReadLimit.maxBytes)).toArray
    lims.length match {
      case 0 => ReadLimit.allAvailable()
      case 1 => lims.head
      case _ => ReadLimit.compositeLimit(lims)
    }
  }

  /** the true shard head as of this trigger's `latestOffset`, for
    * progress/lag reporting — never capped. */
  override def reportLatestOffset(): Offset = head(view())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    def capsOf(l: ReadLimit): (Option[Long], Option[Long]) = l match {
      case r: ReadMaxRows => (Some(r.maxRows), None)
      case b: ReadMaxBytes => (None, Some(b.maxBytes))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(capsOf).reduce((x, y) =>
          (x._1.orElse(y._1), x._2.orElse(y._2)))
      case _ => (None, None) // allAvailable / minRows: no ceiling
    }
    val (rowCap, byteCap) = capsOf(limit)
    if (rowCap.isEmpty && byteCap.isEmpty) latestOffset()
    else {
      val from = start.asInstanceOf[ShardOffsets].next
      ShardOffsets(cappedAdvance(refreshed, from, rowCap, byteCap))
    }
  }

  /** Per-shard bounded advance. Rows: max-min fair share across shards
    * (smallest backlog first, remainder re-split over the rest — no
    * shard starves while another drains). Bytes: one GLOBAL budget
    * walked round-robin across shards in shardId order, always
    * admitting at least one record when any backlog exists (a single
    * record larger than the cap must still make progress — the file
    * source's maxBytesPerTrigger behaves the same way). The byte walk
    * touches only the records it admits (plus the emu's per-shard
    * snapshot); a row-only cap is pure offset arithmetic. */
  private def cappedAdvance(shards: Seq[KinesisEmu.Shard], from: Map[String, Long],
                            rowCap: Option[Long], byteCap: Option[Long]): Map[String, Long] = {
    val snap = shards.sortBy(_.shardId)
    val until = readable(snap)
    val avail = snap.map(sh => sh.shardId ->
      math.max(0L, until(sh.shardId) - from.getOrElse(sh.shardId, 0L))).toMap
    // rows: max-min fair allocation of the global row cap
    val rowAlloc: Map[String, Long] = rowCap match {
      case None => avail
      case Some(cap) =>
        var remaining = cap
        var left = snap.size
        val out = scala.collection.mutable.Map[String, Long]()
        snap.sortBy(sh => avail(sh.shardId)).foreach { sh =>
          val share = if (left == 0) 0L else remaining / left
          val take = math.min(avail(sh.shardId), share)
          out(sh.shardId) = take
          remaining -= take
          left -= 1
        }
        out.toMap
    }
    byteCap match {
      case None =>
        snap.map(sh => sh.shardId ->
          (from.getOrElse(sh.shardId, 0L) + rowAlloc(sh.shardId))).toMap
      case Some(budget) =>
        // round-robin global byte budget over the row-allocated ranges
        val its = snap.map { sh =>
          val f = from.getOrElse(sh.shardId, 0L)
          sh.shardId -> sh.slice(f, f + rowAlloc(sh.shardId)).iterator
        }.toMap
        val taken = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        var bytesLeft = budget
        var admittedAny = false
        var progressed = true
        while (progressed && (bytesLeft > 0 || !admittedAny)) {
          progressed = false
          snap.foreach { sh =>
            val it = its(sh.shardId)
            if ((bytesLeft > 0 || !admittedAny) && it.hasNext) {
              val r = it.next()
              taken(sh.shardId) += 1
              bytesLeft -= r.data.length
              admittedAny = true
              progressed = true
            }
          }
        }
        snap.map(sh => sh.shardId ->
          (from.getOrElse(sh.shardId, 0L) + taken(sh.shardId))).toMap
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].next
    val e = end.asInstanceOf[ShardOffsets].next
    view(e).map { sh =>
      KinesisEmuInputPartition(stream, sh.shardId,
        s.getOrElse(sh.shardId, 0L), e.getOrElse(sh.shardId, 0L),
        persistDir): InputPartition
    }.filter { case p: KinesisEmuInputPartition => p.from < p.until }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisEmuReaderFactory
}

final case class KinesisEmuInputPartition(stream: String, shardId: String,
                                          from: Long, until: Long,
                                          persistDir: Option[String] = None)
    extends InputPartition

class KinesisEmuReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KinesisEmuInputPartition]
    new KinesisEmuPartitionReader(p)
  }
}

class KinesisEmuPartitionReader(p: KinesisEmuInputPartition)
    extends PartitionReader[InternalRow] {
  // durable streams: hydrate this JVM (no-op when the view already
  // covers the requested range — always true in local mode)
  p.persistDir.foreach(d => DurableStreamView.ensure(d, p.stream, Map(p.shardId -> p.until)))
  private val recs = KinesisEmu.stream(p.stream).get.shards
    .find(_.shardId == p.shardId).get.slice(p.from, p.until).iterator
  private var cur: KinesisEmu.StoredRecord = _

  override def next(): Boolean = { if (recs.hasNext) { cur = recs.next(); true } else false }
  override def get(): InternalRow = InternalRow(
    UTF8String.fromString(cur.partitionKey), cur.data, cur.sequenceNumber,
    UTF8String.fromString(cur.shardId), cur.arrivalNanos / 1000L)
  override def close(): Unit = ()
}
