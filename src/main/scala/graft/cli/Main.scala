package graft.cli

import graft.emu.KinesisEmu
import graft.sink.KinesisWriter

/** CLI parity with the reference (`main.go:15-51`):
  *
  *   ingest <stream> [-p <partitionKey>]   # stdin -> buffered writer -> stream
  *   query <name> [sfDir]                  # run a declared query, print it
  *
  * The ingest path composes the same stack as `NewFastWriter`
  * (`kinesis/kinesis.go:49-57`): 4 MiB buffer, chunk/batch, final flush
  * that drains everything (improving on reference quirk (b), SURVEY.md
  * §2a). Exit code 1 with `err:` on failure, like the reference.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "ingest" :: stream :: rest =>
      // reference CLI parity: `-partitionKey` defaults to the EMPTY
      // string (`main.go:21`) and is passed through verbatim
      val key = rest match {
        case ("-p" | "-partitionKey") :: k :: _ => k
        case _ => ""
      }
      try {
        KinesisEmu.createStream(stream, shards = 4)
        val cfg = KinesisWriter.Config(stream, key)
        var delivered = 0L
        val flusher = new KinesisWriter.Flusher(cfg, unit => {
          KinesisWriter.write(cfg, unit); delivered += unit.length
        })
        val buf = new Array[Byte](64 * 1024)
        Iterator.continually(System.in.read(buf, 0, buf.length))
          .takeWhile(_ >= 0)
          .foreach(n => if (n > 0) flusher.write(buf.slice(0, n)))
        flusher.flush() // graceful-shutdown final flush (main.go:48)
        val st = KinesisEmu.stream(stream).get
        val recs = st.allRecords
        println(s"delivered=${delivered}B records=${recs.size} " +
          s"shards=${st.shards.count(_.records.nonEmpty)} stream=$stream key=$key")
      } catch {
        case e: Throwable => System.err.println(s"err: ${e.getMessage}"); sys.exit(1)
      }

    case "query" :: name :: rest =>
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
      val spark = graft.Session(graft.Session.cpus(4))
      spark.sparkContext.setLogLevel("WARN")
      graft.SparkEntry.queries.get(name) match {
        case Some(q) => q(spark, dir).show(50, false); spark.stop()
        case None =>
          System.err.println(s"err: unknown query '$name'. Known: " +
            graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
          spark.stop(); sys.exit(1)
      }

    case "stream" :: rest =>
      // end-to-end streaming pipeline: rate source -> 10s tumbling
      // window counts -> kinesis-emu sink, with the commit-stats hook
      // (R13) reporting each epoch. Runs for N seconds (default 12).
      val seconds = rest.headOption.map(_.toInt).getOrElse(12)
      val spark = graft.Session(4)
      spark.sparkContext.setLogLevel("ERROR")
      import org.apache.spark.sql.functions._
      KinesisEmu.createStream("pipeline", shards = 2)
      graft.sources.KinesisSinkStats.onCommit = (stream, t) =>
        println(s"[epoch] stream=$stream delivered=${t.delivered} dropped=${t.dropped}")
      val src = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
        .withWatermark("timestamp", "2 seconds")
        .groupBy(window(col("timestamp"), "5 seconds"))
        .agg(count(lit(1)).as("cnt"))
        .selectExpr("CAST(concat(CAST(window.start AS STRING), '=', cnt) AS BINARY) AS value")
      val q = src.writeStream.format("kinesis-emu")
        .option("stream", "pipeline").option("partitionKey", "windows")
        // under the swept replay root (round 18): run-dir retention
        // reaps finished CLI checkpoints by age like every replay's
        .option("checkpointLocation",
          s"${graft.streaming.Replay.replayRoot(spark)}/" +
            s"cli-stream-${System.nanoTime()}")
        .outputMode("append").start()
      Thread.sleep(seconds * 1000L)
      q.stop()
      val recs = KinesisEmu.stream("pipeline").get.allRecords
      recs.sortBy(_.sequenceNumber).foreach(r => println("  window-record: " + new String(r.data)))
      val t = graft.sources.KinesisSinkStats.get("pipeline")
      println(s"done: windows=${recs.size} delivered=${t.delivered} dropped=${t.dropped}")
      spark.stop()

    case "bench-sink" :: rest =>
      // reference bench parity (bench/main.go): synthetic offered load
      // through the FastWriter-equivalent stack; report throughput
      // (this path has no drop stage). Default: 1 KiB payloads, 20 MiB
      // total (200x the reference's per-second offered load).
      val totalBytes = rest.headOption.map(_.toLong).getOrElse(20L * 1024 * 1024)
      val payload = Array.fill(1024)(7.toByte)
      KinesisEmu.createStream("bench", shards = 4)
      val cfg = KinesisWriter.Config("bench", "bench-key")
      var delivered = 0L
      val flusher = new KinesisWriter.Flusher(cfg, unit => {
        KinesisWriter.write(cfg, unit); delivered += unit.length
      })
      val t0 = System.nanoTime()
      var sent = 0L
      while (sent < totalBytes) { flusher.write(payload); sent += payload.length }
      flusher.flush()
      val secs = (System.nanoTime() - t0) / 1e9
      val recs = KinesisEmu.stream("bench").get.allRecords
      println(f"""{"metric":"sink_throughput","bytes":$sent,"secs":$secs%.3f,""" +
        f""""mib_per_sec":${sent / 1024.0 / 1024.0 / secs}%.1f,""" +
        s""""records":${recs.size}}""")

    case _ =>
      System.err.println("usage: ingest <stream> [-p key] | query <name> [sfDir] | stream [secs] | bench-sink [bytes]")
      sys.exit(1)
  }
}
