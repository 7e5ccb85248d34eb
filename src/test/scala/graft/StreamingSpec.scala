package graft

import java.sql.Timestamp
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.emu.KinesisEmu
import graft.streaming.Windows

/** S1-S5 streaming behaviors (SURVEY.md §5.5): windowed aggregations
  * replayed through MemoryStream must equal their batch answers, and the
  * kinesis-emu DSv2 sink/source round-trips with the reference's
  * chunk/batch limits observed. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = { spark.stop(); KinesisEmu.reset() }

  private val sfDir = "/root/testdata/sf0.001"

  /** replay the events table (ordered by ts) through a MemoryStream and
    * run `job` to completion in update-less append mode with one final
    * watermark-closing batch. */
  private def replayThrough(job: DataFrame => DataFrame): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev].collect().sortBy(r => (r.ts.getTime, r.event_id))
    val stream = MemoryStream[Ev]
    val out = job(stream.toDF())
    val qName = s"replay_${System.nanoTime()}"
    // one long-lived query; explicit processAllAvailable() between
    // addData calls forces batch boundaries so the watermark advances
    // and append mode emits every closed window deterministically
    val q = out.writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(b.toIndexedSeq)
    q.processAllAvailable()
    // far-future closer passes the watermark beyond all real data
    val closer = Ev(-1L, new Timestamp(rows.last.ts.getTime + 24L * 3600 * 1000),
      -1L, "closer", 0.0)
    stream.addData(closer)
    q.processAllAvailable()
    q.stop()
    spark.table(qName)
  }

  test("S1: streaming tumbling-hour counts equal the batch answer") {
    val streamed = replayThrough(Windows.tumblingHourly)
      .filter(col("event_type") =!= "closer")
    val batch = Windows.batchTumbling(spark, sfDir)
    val sCnt = streamed.orderBy("window_start", "event_type").collect()
    val bCnt = batch.collect()
    assert(sCnt.length == bCnt.length)
    assert(sCnt.map(_.toString).sameElements(bCnt.map(_.toString)))
  }

  test("S3: streaming session windows equal the batch answer") {
    val streamed = replayThrough(Windows.sessionWindows)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start").collect()
    val batch = Windows.batchSessions(spark, sfDir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("S4: late rows beyond the watermark are dropped from append output") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = Windows.tumblingHourly(stream.toDF())
    val qn = s"late_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    def ev(h: Int, id: Long) = Ev(id, Timestamp.valueOf(f"2024-01-01 $h%02d:30:00"), 1L, "view", 1.0)
    stream.addData(ev(1, 1), ev(1, 2))
    q.processAllAvailable()
    stream.addData(ev(10, 3)) // advances watermark to 09:50
    q.processAllAvailable()
    stream.addData(ev(1, 4)) // late: hour-1 window closed long ago -> dropped
    q.processAllAvailable()
    stream.addData(ev(20, 5)) // closes hour-10 too
    q.processAllAvailable(); q.stop()
    val rows = spark.table(qn).collect().map(r => (r.getString(0), r.getLong(2)))
    // hour-1 window must report ONLY the 2 on-time rows; late row 4 shed
    assert(rows.contains(("2024-01-01 01:00:00", 2L)))
    assert(!rows.contains(("2024-01-01 01:00:00", 3L)))
  }

  test("S5: sink -> emu -> source round-trip with chunk/batch limits") {
    KinesisEmu.reset()
    KinesisEmu.createStream("e2e", shards = 2)
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    // write a payload bigger than one record through the batch writer
    val payload = ("x" * 2500).getBytes
    val df = Seq((payload, "alpha"), (payload, "beta")).toDF("value", "partitionKey")
    df.write.format("kinesis-emu")
      .option("stream", "e2e").option("partitionKey", "alpha").mode("append").save()

    val stored = KinesisEmu.stream("e2e").get.allRecords
    assert(stored.nonEmpty)
    assert(stored.forall(_.data.length <= graft.ingest.Limits.RecordSizeLimit))
    val byKey = stored.groupBy(_.partitionKey).view.mapValues(_.map(_.data.length).sum).toMap
    assert(byKey("alpha") == 2500 && byKey("beta") == 2500)
    // distinct keys routed deterministically; both shards addressable
    val shardOfAlpha = stored.filter(_.partitionKey == "alpha").map(_.shardId).distinct
    assert(shardOfAlpha.size == 1)

    // read back through the streaming source
    val qn = s"rt_${System.nanoTime()}"
    val rq = spark.readStream.format("kinesis-emu").option("stream", "e2e").load()
      .writeStream.format("memory").queryName(qn)
      .trigger(Trigger.AvailableNow()).start()
    rq.processAllAvailable(); rq.stop()
    val read = spark.table(qn)
    assert(read.count() == stored.size)
    assert(read.select(sum(length(col("data")))).as[Long].head() == 5000L)
    assert(read.select("partitionKey").distinct().as[String].collect().toSet == Set("alpha", "beta"))
  }

  test("S5b: drop policy sheds flush units under backpressure, metrics add up") {
    KinesisEmu.reset()
    KinesisEmu.createStream("drops", shards = 1)
    // tiny buffer (64 B) + queueDepth 1 against a drain that takes 20 ms
    // per put -> every row is its own flush unit, most shed
    KinesisEmu.failureInjector = (_, _) => { Thread.sleep(20); Seq.empty }
    val w = new graft.sink.KinesisWriter.FastWriter(graft.sink.KinesisWriter.Config(
      "drops", "k", bufferSize = 64, queueDepth = 1, flushIntervalMs = 60000L), onDrop = _ => ())
    val rows = (1 to 64).map(i => (("y" * 64) + i).getBytes)
    try rows.foreach(w.write(_)) finally { w.close(); KinesisEmu.failureInjector = (_, _) => Seq.empty }
    val delivered = KinesisEmu.stream("drops").get.allRecords.map(_.data.length).sum
    val total = rows.map(_.length).sum
    assert(delivered > 0 && delivered < total, s"delivered=$delivered of $total")
    assert(w.delivered == delivered && w.delivered + w.dropped == total)
  }

  test("S5d: the kinesis-emu sink rejects a value column that is not BINARY/STRING " +
    "and a partitionKey column that is not STRING, before any task writes") {
    KinesisEmu.reset()
    KinesisEmu.createStream("typed", shards = 1)
    val s = spark
    import s.implicits._
    def save(df: DataFrame): Unit =
      df.write.format("kinesis-emu").option("stream", "typed").mode("append").save()
    val badValue = intercept[IllegalArgumentException](save(Seq(1, 2).toDF("value")))
    assert(badValue.getMessage.contains("'value'"), badValue.getMessage)
    val badKey = intercept[IllegalArgumentException](
      save(Seq(("a", 7L)).toDF("data", "partitionKey")))
    assert(badKey.getMessage.contains("'partitionKey'"), badKey.getMessage)
    assert(KinesisEmu.stream("typed").get.allRecords.isEmpty)
  }

  test("S5e: a batch write to the kinesis-emu sink fails when PutRecords drops a record") {
    KinesisEmu.reset()
    KinesisEmu.createStream("lossy", shards = 1)
    KinesisEmu.failureInjector = (_, _) => Seq(KinesisEmu.PerRecordFailure(0, "Throttling"))
    val s = spark
    import s.implicits._
    val e = try intercept[Exception](Seq(("a", "k1"), ("b", "k2")).toDF("data", "partitionKey")
      .write.format("kinesis-emu").option("stream", "lossy").mode("append").save())
    finally KinesisEmu.failureInjector = (_, _) => Seq.empty
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null &&
      m.contains("PutRecords partial failure: 1 records not written")), e.toString)
  }

  test("S3b: flatMapGroupsWithState sessionization equals session_window") {
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"value")
      .as[graft.streaming.Sessionize.SessEvent]
      .collect().sortBy(_.ts.getTime)
    val stream = MemoryStream[graft.streaming.Sessionize.SessEvent]
    val out = graft.streaming.Sessionize.sessions(stream.toDS())
    val qn = s"sess_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    val (a, b) = rows.splitAt(rows.length / 2)
    stream.addData(a.toIndexedSeq); q.processAllAvailable()
    stream.addData(b.toIndexedSeq); q.processAllAvailable()
    stream.addData(graft.streaming.Sessionize.SessEvent(-1L,
      new Timestamp(rows.last.ts.getTime + 48L * 3600 * 1000), 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table(qn).filter($"user_id" =!= -1L)
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        round($"sum_value", 2).as("sv"))
      .orderBy("user_id", "session_start").collect()
    val want = graft.streaming.Sessionize.batchSessions(spark, sfDir)
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        round($"sum_value", 2).as("sv"))
      .orderBy("user_id", "session_start").collect()
    assert(got.length == want.length, s"got ${got.length} want ${want.length}")
    assert(got.map(_.toString).sameElements(want.map(_.toString)))
  }

  test("S5c: streaming write path — rate source through the kinesis-emu sink") {
    KinesisEmu.reset()
    KinesisEmu.createStream("streamed", shards = 2)
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .selectExpr("CAST(concat('payload-', value) AS BINARY) AS value",
        "concat('user', CAST(value % 7 AS STRING)) AS partitionKey")
    val q = src.writeStream.format("kinesis-emu")
      .option("stream", "streamed")
      .option("checkpointLocation", s"/tmp/graft_ckpt_${System.nanoTime()}")
      .start()
    val deadline = System.currentTimeMillis() + 15000
    while (KinesisEmu.stream("streamed").get.allRecords.size < 50 &&
           System.currentTimeMillis() < deadline) Thread.sleep(200)
    q.stop()
    val recs = KinesisEmu.stream("streamed").get.allRecords
    assert(recs.size >= 50, s"only ${recs.size} records arrived")
    // per-row routing keys spread across both shards, payloads intact
    assert(recs.map(_.shardId).distinct.size == 2)
    assert(recs.forall(r => new String(r.data).startsWith("payload-")))
    val keys = recs.map(_.partitionKey).distinct
    assert(keys.forall(_.startsWith("user")) && keys.size > 1)
  }

  test("S2: streaming sliding windows (1h every 15m) equal the batch answer") {
    val streamed = replayThrough(Windows.slidingWindow)
      .filter(col("event_type") =!= "closer")
      .orderBy("window_start", "event_type").collect()
    val batch = Windows.slidingWindow(graft.core.Tables.events(spark, sfDir))
      .orderBy("window_start", "event_type").collect()
    assert(streamed.length == batch.length)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("S7: stream-stream interval join equals the batch answer") {
    // purchases joined to same-user clicks in the preceding hour; both
    // sides derived from the same replayed stream (self-join), state
    // bounded by the watermark + time-range constraint
    val streamed = replayThrough(df => Windows.clickToPurchase(df, df))
      .orderBy("purchase_id", "click_id").collect()
    val ev = graft.core.Tables.events(spark, sfDir)
    val batch = Windows.clickToPurchase(ev, ev)
      .orderBy("purchase_id", "click_id").collect()
    assert(streamed.length == batch.length && streamed.length > 0,
      s"stream=${streamed.length} batch=${batch.length}")
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("S12: outer interval join — unmatched row emits once; a late click cannot resurrect it") {
    // the at-most-once contract of watermark-gated null emission
    // (s10's operator class): once the watermark proves no in-interval
    // click can arrive, the unmatched purchase emits with a null
    // click_id and its state is EVICTED — a click arriving later
    // (beyond the watermark) must neither produce a matched row nor a
    // second copy of the purchase. The batch oracle can't see this
    // (batch has no lateness); only an engine-level spec can pin it.
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[Ev]
    val out = Windows.clickToPurchaseOuter(stream.toDF(), stream.toDF())
    val qn = s"outer_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    def ev(tpe: String, id: Long, u: Long, t: String) =
      Ev(id, Timestamp.valueOf(t), u, tpe, 0.0)
    stream.addData(ev("purchase", 1L, 1L, "2024-01-01 02:00:00"))
    q.processAllAvailable() // no watermark yet -> nothing emits
    // advance BOTH sides' watermarks far past 02:00 + 1h interval + 10m
    stream.addData(
      ev("click", 90L, 99L, "2024-01-01 10:00:00"),
      ev("purchase", 91L, 98L, "2024-01-01 10:00:00"))
    q.processAllAvailable()
    // state-cleanup batch: eviction (and the null emission) may land
    // one batch after the watermark update commits
    stream.addData(
      ev("click", 92L, 97L, "2024-01-01 10:30:00"),
      ev("purchase", 93L, 96L, "2024-01-01 10:30:00"))
    q.processAllAvailable()
    val afterFlush = spark.table(qn).collect()
      .map(r => (r.getLong(0), r.getLong(2), Option(r.get(3)).map(_.toString)))
    assert(afterFlush.count(t => t._1 == 1L && t._2 == 1L) == 1,
      s"purchase 1 must have emitted exactly once as unmatched: ${afterFlush.toSeq}")
    assert(afterFlush.find(_._2 == 1L).get._3.isEmpty,
      "the emission must carry a null click_id")
    // the late click: in-interval by event time, but beyond the watermark
    stream.addData(ev("click", 2L, 1L, "2024-01-01 02:00:00"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(qn).collect()
      .map(r => (r.getLong(0), r.getLong(2), Option(r.get(3)).map(_.toString)))
      .filter(_._1 == 1L)
    assert(rows.length == 1 && rows.head._3.isEmpty,
      s"late click resurrected or duplicated the evicted purchase: ${rows.toSeq}")
  }

  test("S6: streaming dedup (watermark-bounded state) equals the batch first-per-key") {
    import graft.streaming.StreamDedup
    val keys = Seq("user_id", "event_type")
    // horizon covering the whole replay -> no state expiry -> must be
    // exactly the batch answer (first arrival per key in (ts, event_id)
    // order; replayThrough feeds rows in that order)
    val streamed = replayThrough(df =>
      StreamDedup.dedupWithinWatermark(df, keys, "ts", "3650 days"))
      .filter(col("event_type") =!= "closer")
      .select("event_id", "user_id", "event_type")
      .orderBy("user_id", "event_type").collect()
    val batch = StreamDedup.batchFirstPerKey(spark, sfDir, keys)
      .select("event_id", "user_id", "event_type")
      .orderBy("user_id", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("S10: source restart from checkpoint resumes at committed offsets, no dupes") {
    KinesisEmu.reset()
    KinesisEmu.createStream("ckpt", 2)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String)]())
    def runOnce(): Unit = {
      val q = spark.readStream.format("kinesis-emu")
        .option("stream", "ckpt").load()
        .writeStream
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          df.select("sequenceNumber", "shardId").collect()
            .foreach(r => seen.add((r.getLong(0), r.getString(1))))
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def put(ids: Range): Unit = ids.foreach { i =>
      KinesisEmu.putRecords("ckpt",
        Seq(graft.ingest.KinesisRecord(s"k$i", Array[Byte](i.toByte))))
    }
    put(0 until 10)
    runOnce()
    val afterFirst = seen.size()
    assert(afterFirst == 10, s"first run read $afterFirst")
    // records landing while no query runs; the restarted query must pick
    // up EXACTLY these from the checkpointed offsets — not re-read run 1
    put(10 until 25)
    runOnce()
    import scala.jdk.CollectionConverters._
    val all = seen.asScala.toList
    assert(all.size == 25, s"restart produced dupes or losses: ${all.size}")
    assert(all.distinct.size == all.size, "duplicate (seq, shard) pairs after restart")
    KinesisEmu.reset()
  }

  test("S9: stream-static enrichment join equals the batch join") {
    import graft.streaming.Enrich
    val dim = graft.core.Tables.customer(spark, sfDir)
    val streamed = replayThrough(df => Enrich.enrichWithCustomer(df, dim))
      .filter(col("event_type") =!= "closer")
      .orderBy("event_id").collect()
    val batch = Enrich.batchReference(spark, sfDir)
      .orderBy("event_id").collect()
    assert(streamed.length == batch.length && streamed.nonEmpty,
      s"streamed=${streamed.length} batch=${batch.length}")
    assert(streamed.map(_.toString).sameElements(batch.map(_.toString)))
  }

  test("S8: streaming minhash near-dup flags equal the batch bucket answer") {
    import graft.streaming.StreamNearDup
    import graft.streaming.StreamNearDup.DocIn
    val s = spark
    import s.implicits._
    implicit val sq = spark.sqlContext
    // live corpus only (round 14): batchFlags consumes the live band
    // view, so the replay must exclude tombstoned docs the same way
    val docs = graft.core.Tables.documents(spark, sfDir)
      .where(col("doc_id") % graft.ops.Dedup.IncrementalMod =!=
        graft.ops.Dedup.TombstoneRem)
      .select(col("doc_id"), col("text")).as[DocIn]
      .collect().sortBy(_.doc_id)
    val stream = MemoryStream[DocIn]
    val qName = s"s8_${System.nanoTime()}"
    val q = StreamNearDup.flags(stream.toDS()).toDF()
      .writeStream.format("memory").queryName(qName)
      .outputMode("append").start()
    // two micro-batches: state must carry bucket minima across the split
    val (a, b) = docs.splitAt(docs.length / 2)
    stream.addData(a.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(b.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(qName)
      .select("doc_id", "band", "dup_of")
      .collect().map(_.toString).sorted
    val batch = StreamNearDup.batchFlags(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(streamed.length == batch.length && streamed.nonEmpty,
      s"streamed=${streamed.length} batch=${batch.length}")
    assert(streamed.sameElements(batch))
    // and the flags really are d02 candidates: every flagged doc shares
    // a band bucket with its dup_of by construction (kernel identity) —
    // spot-check that dup_of is always the bucket minimum
    assert(spark.table(qName).where(col("dup_of") >= col("doc_id")).count() == 0)
  }

  test("S11: admission control — a preloaded backlog drains across bounded micro-batches") {
    KinesisEmu.reset()
    KinesisEmu.createStream("adm", 2)
    // 47-record backlog BEFORE the query starts: the restart-after-
    // outage shape the caps exist for (VERDICT r8: an uncapped
    // catch-up batch reads the whole backlog at once)
    (0 until 47).foreach { i =>
      KinesisEmu.putRecords("adm",
        Seq(graft.ingest.KinesisRecord(s"k$i", Array.fill(100)(i.toByte))))
    }
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seq[(Long, String)]]())
    val q = spark.readStream.format("kinesis-emu")
      .option("stream", "adm").option("maxRecordsPerTrigger", "10").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.add(df.select("sequenceNumber", "shardId").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq)
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val sizes = batches.asScala.map(_.size).filter(_ > 0)
    // bounded batches: never above the cap, and the backlog NEEDED
    // multiple micro-batches (ceil(47/10) = 5)
    assert(sizes.forall(_ <= 10), s"batch over cap: $sizes")
    assert(sizes.size >= 5, s"backlog drained in too few batches: $sizes")
    // exactly-once drain: all 47 (seq, shard) pairs, no dupes
    val all = batches.asScala.flatten
    assert(all.size == 47 && all.distinct.size == 47, s"loss/dup: ${all.size}")
    KinesisEmu.reset()
  }

  test("S11b: maxBytesPerTrigger bounds batch bytes; an oversized record still progresses") {
    KinesisEmu.reset()
    KinesisEmu.createStream("admb", 2)
    (0 until 30).foreach { i =>
      KinesisEmu.putRecords("admb",
        Seq(graft.ingest.KinesisRecord(s"k$i", Array.fill(100)(i.toByte))))
    }
    // one record larger than the whole cap — must be admitted alone
    // rather than stall the stream forever
    KinesisEmu.putRecords("admb",
      Seq(graft.ingest.KinesisRecord("big", Array.fill(1000)(7.toByte))))
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seq[(Long, String, Int)]]())
    val q = spark.readStream.format("kinesis-emu")
      .option("stream", "admb").option("maxBytesPerTrigger", "350").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.add(df.selectExpr("sequenceNumber", "shardId", "length(data)").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq)
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty)
    // byte-bounded: each batch stays within cap + one record overshoot
    // (the admit-while-budget-remains contract; the overshoot record is
    // what guarantees progress on oversized records)
    assert(nonEmpty.forall(_.map(_._3).sum <= 350 + 1000),
      s"batch bytes: ${nonEmpty.map(_.map(_._3).sum)}")
    assert(nonEmpty.size >= 8, s"too few byte-capped batches: ${nonEmpty.size}")
    val all = nonEmpty.flatten
    assert(all.size == 31 && all.map(r => (r._1, r._2)).distinct.size == 31,
      s"loss/dup: ${all.size}")
    KinesisEmu.reset()
  }

  /** Drain `stream` in one AvailableNow run under `cap` (an admission
    * option and its value); `duringFirst` runs inside the first
    * non-empty batch. Returns every batch's (sequenceNumber, shardId,
    * partitionKey, data length) rows. */
  private def availableNowDrain(stream: String, cap: (String, String))(
      duringFirst: => Unit): Seq[Seq[(Long, String, String, Int)]] = {
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seq[(Long, String, String, Int)]]())
    spark.readStream.format("kinesis-emu")
      .option("stream", stream).option(cap._1, cap._2).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = df.selectExpr("sequenceNumber", "shardId", "partitionKey", "length(data)")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
        if (rows.nonEmpty && batches.isEmpty) duringFirst
        batches.add(rows)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.filter(_.nonEmpty)
  }

  test("S11c: under Trigger.AvailableNow maxRecordsPerTrigger bounds every batch, " +
      "and a record put after start is left for the next run") {
    KinesisEmu.reset()
    KinesisEmu.createStream("adm-an", 2)
    (0 until 47).foreach { i =>
      KinesisEmu.putRecords("adm-an",
        Seq(graft.ingest.KinesisRecord(s"k$i", Array.fill(100)(i.toByte))))
    }
    val batches = availableNowDrain("adm-an", "maxRecordsPerTrigger" -> "10") {
      KinesisEmu.putRecords("adm-an",
        Seq(graft.ingest.KinesisRecord("late", Array.fill(100)(1.toByte))))
    }
    val sizes = batches.map(_.size)
    assert(sizes.forall(_ <= 10), s"batch over cap: $sizes")
    assert(sizes.size >= 5, s"backlog drained in too few batches: $sizes")
    val all = batches.flatten
    assert(all.size == 47 && all.map(r => (r._1, r._2)).distinct.size == 47,
      s"loss/dup: ${all.size}")
    assert(!all.exists(_._3 == "late"), "a record put after start was read")
    KinesisEmu.reset()
  }

  test("S11d: under Trigger.AvailableNow maxBytesPerTrigger bounds every batch, " +
      "and a record put after start is left for the next run") {
    KinesisEmu.reset()
    KinesisEmu.createStream("admb-an", 2)
    (0 until 30).foreach { i =>
      KinesisEmu.putRecords("admb-an",
        Seq(graft.ingest.KinesisRecord(s"k$i", Array.fill(100)(i.toByte))))
    }
    KinesisEmu.putRecords("admb-an",
      Seq(graft.ingest.KinesisRecord("big", Array.fill(1000)(7.toByte))))
    val batches = availableNowDrain("admb-an", "maxBytesPerTrigger" -> "350") {
      KinesisEmu.putRecords("admb-an",
        Seq(graft.ingest.KinesisRecord("late", Array.fill(100)(1.toByte))))
    }
    assert(batches.forall(_.map(_._4).sum <= 350 + 1000),
      s"batch bytes: ${batches.map(_.map(_._4).sum)}")
    assert(batches.size >= 8, s"too few byte-capped batches: ${batches.size}")
    val all = batches.flatten
    assert(all.size == 31 && all.map(r => (r._1, r._2)).distinct.size == 31,
      s"loss/dup: ${all.size}")
    assert(!all.exists(_._3 == "late"), "a record put after start was read")
    KinesisEmu.reset()
  }

  test("S5f: two queries writing one kinesis-emu stream both deliver every row, " +
      "in memory and with persistDir; a restarted query refuses its retried epoch") {
    import java.nio.file.{Files, Path}
    Seq(false, true).foreach { durable =>
      KinesisEmu.reset()
      val root = Files.createTempDirectory("graft-two-writers")
      val persist = root.resolve("emu").toString
      val stream = s"two-writers-$durable"
      if (durable) graft.emu.FileEmuStore.createStream(persist, stream, 2)
      else KinesisEmu.createStream(stream, 2)
      def source(tag: String, ids: Range): String = {
        val p = root.resolve(s"src-$tag").toString
        spark.range(ids.start, ids.end).selectExpr("CAST(id AS STRING) AS value")
          .coalesce(1).write.parquet(p)
        p
      }
      def write(src: String, ck: String): Unit = {
        val w = spark.readStream.schema("value STRING").parquet(src)
          .selectExpr("value", "concat('k', value) AS partitionKey")
          .writeStream.format("kinesis-emu").option("stream", stream)
          .option("checkpointLocation", root.resolve(ck).toString)
        (if (durable) w.option("persistDir", persist) else w)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      def delivered: Seq[String] = {
        val st = if (durable) KinesisEmu.loadPersisted(persist, stream)
          else KinesisEmu.stream(stream).get
        st.allRecords.map(r => new String(r.data, "UTF-8")).sorted
      }
      val want = (0 until 45).map(_.toString).sorted
      val a = source("a", 0 until 20)
      write(a, "ck-a")
      write(source("b", 20 until 45), "ck-b")
      assert(delivered == want, s"durable=$durable")
      // un-commit query a's last batch: its restart re-runs that epoch
      // under the same query id, and the sink refuses it as a retry
      val commits = root.resolve("ck-a/commits")
      val listed = { val s = Files.list(commits); try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close() }
      val last = listed.map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong).max
      listed.filter(_.getFileName.toString.stripPrefix(".").split('.').head == last.toString)
        .foreach(Files.delete(_))
      write(a, "ck-a")
      assert(delivered == want, s"durable=$durable: retried epoch delivered twice")
    }
    KinesisEmu.reset()
  }

  test("S13: s14's one-shot drain runs one micro-batch, with no eviction-only batch") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val as = graft.streaming.Replay.admissionSession(spark)
    val progress = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.CountDownLatch(1)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.countDown()
    }
    as.streams.addListener(l)
    try {
      assert(graft.streaming.Replay.s14(spark, sfDir).count() > 0)
      assert(ended.await(30, java.util.concurrent.TimeUnit.SECONDS))
      org.apache.spark.graft.ListenerInterop.drain(spark.sparkContext, 5000)
      assert(progress.get == 1, s"micro-batches: ${progress.get}")
    } finally as.streams.removeListener(l)
  }

  test("S6b: tiny watermark horizon bounds state but may re-emit expired keys") {
    import graft.streaming.StreamDedup
    val keys = Seq("user_id", "event_type")
    val streamed = replayThrough(df =>
      StreamDedup.dedupWithinWatermark(df, keys, "ts", "1 minute"))
      .filter(col("event_type") =!= "closer")
    val n = streamed.count()
    val distinctKeys = graft.core.Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    val total = graft.core.Tables.events(spark, sfDir).count()
    // at least one row per key survives; expiry can only ADD rows, and
    // never more than the input
    assert(n >= distinctKeys && n <= total, s"n=$n keys=$distinctKeys total=$total")
  }
}
