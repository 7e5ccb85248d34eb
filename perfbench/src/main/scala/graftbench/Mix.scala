package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, decode}
import org.apache.spark.sql.streaming.Trigger

import graft.emu.{FileEmuStore, KinesisEmu}

/** One executed operation of a mix: a `SparkEntry.queries` entry, or
  * the `durable` round trip. `buildS` is DataFrame construction (for
  * streaming entries this runs the whole streaming job), `wallS` adds
  * the full materialisation of the result. */
final case class OpRun(name: String, buildS: Double, wallS: Double, ok: Boolean,
                       extra: Map[String, Double] = Map.empty)

/** The closed-loop mix of batch and streaming entries, run by one client over a
  * fixed scale factor directory. Every result is collected in full
  * inside the timed region and checked after the clock stops. */
final class Mix(spark: SparkSession, sfDir: String, workDir: Path,
                expected: Map[String, String], tracer: Tracer) {

  private val entries = graft.SparkEntry.queries
  private def entryFor(short: String) =
    entries.keys.find(_.startsWith(short + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no query entry $short"))

  /** Documents as (doc_id, text), the `durable` round trip's oracle. */
  private lazy val documents: Seq[String] =
    spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
      .collect().map(r => s"${r.getLong(0)}\t${r.getString(1)}").toSeq.sorted

  /** A directory holding only documents.parquet, the durable write's
    * file-stream source. */
  private lazy val docsSourceDir: Path = {
    val d = workDir.resolve("durable-src")
    Files.createDirectories(d)
    Files.copy(Path.of(sfDir, "documents.parquet"), d.resolve("documents.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    d
  }

  /** Between operations, outside their timing: drop cached data and
    * collect garbage, so one operation's heap does not bill the next. */
  private def cleanStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** After the warm-up: collect garbage and give the clean-up it
    * triggers (shuffle files, state store maintenance) time to finish
    * before the first measured operation. */
  def settle(): Unit = { cleanStorage(); Thread.sleep(Mix.SettleMs) }

  /** Run one operation; `corrupt` alters one row of the result before
    * it is digested (a test hook for the output check). */
  def run(short: String, parent: Long, corrupt: Boolean = false): OpRun =
    tracer.span(short, "query", parent, op = short, sc = spark.sparkContext) { _ =>
      val t0 = System.nanoTime()
      val r = try { if (short == "durable") durable(corrupt) else entry(short, corrupt) }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $short failed: $e")
          val s = (System.nanoTime() - t0) / 1e9
          OpRun(short, s, s, ok = false)
      }
      cleanStorage()
      r
    }

  private def entry(short: String, corrupt: Boolean): OpRun = {
    val fn = entries(entryFor(short))
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    val got = Mix.digest(rows.toSeq, corrupt)
    val want = expected.get(short)
    if (!want.contains(got))
      System.err.println(s"[perfbench] $short digest $got != expected ${want.getOrElse("(none)")}")
    OpRun(short, (t1 - t0) / 1e9, (t2 - t0) / 1e9, want.contains(got))
  }

  /** Durable round trip: a streaming `kinesis-emu` sink writes the
    * documents with `persistDir` (FileEmuStore epoch commits), then an
    * AvailableNow source capped by `maxRecordsPerTrigger` drains the
    * persisted stream; the drained rows must equal the documents. */
  private def durable(corrupt: Boolean): OpRun = {
    val tag = System.nanoTime()
    val stream = s"durable-$tag"
    val dir = workDir.resolve(s"durable/$tag").toString
    val schema = spark.read.parquet(docsSourceDir.toString).schema
    val expect = documents
    FileEmuStore.createStream(dir, stream, numShards = 4)
    try {
      val t0 = System.nanoTime()
      spark.readStream.schema(schema).parquet(docsSourceDir.toString)
        .select(col("doc_id").cast("string").as("partitionKey"), col("text").as("value"))
        .writeStream.format("kinesis-emu")
        .option("stream", stream).option("persistDir", dir)
        .option("checkpointLocation", s"$dir-ck-write")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val t1 = System.nanoTime()
      val drained = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.readStream.format("kinesis-emu")
        .option("stream", stream).option("persistDir", dir)
        .option("maxRecordsPerTrigger", Mix.DrainRecordsPerTrigger.toString)
        .load()
        .select(col("partitionKey"), decode(col("data"), "UTF-8").as("text"))
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => drained.add(s"${r.getString(0)}\t${r.getString(1)}"))
        }
        .option("checkpointLocation", s"$dir-ck-drain")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val t2 = System.nanoTime()
      val got0 = drained.toArray(Array.empty[String]).toSeq.sorted
      val got = if (corrupt && got0.nonEmpty) got0.updated(0, got0.head + "x") else got0
      val ok = got == expect
      if (!ok) System.err.println(s"[perfbench] durable drained ${got.size} rows, " +
        s"expected ${expect.size}, equal=${got == expect}")
      OpRun("durable", (t1 - t0) / 1e9, (t2 - t0) / 1e9, ok,
        Map("write_s" -> (t1 - t0) / 1e9, "drain_s" -> (t2 - t1) / 1e9))
    } finally KinesisEmu.deleteStream(stream)
  }
}

object Mix {
  val DrainRecordsPerTrigger = 64
  val SettleMs = 500L

  /** Order-insensitive digest of a result: SHA-256 over the sorted
    * canonical row strings, prefixed with the row count. */
  def digest(rows: Seq[Row], corrupt: Boolean = false): String = {
    val lines0 = rows.map(canon).sorted
    val lines = if (corrupt && lines0.nonEmpty) lines0.updated(0, lines0.head + "x") else lines0
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"${lines.size}\n".getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case o => o.toString
  }

  /** `expected_digests.json` layout: {"<scale>": {"<entry>": "<hex>"}}. */
  def loadExpected(file: Path, scale: String): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else {
      val text = Files.readString(file)
      val block = ("\"" + java.util.regex.Pattern.quote(scale) + "\"\\s*:\\s*\\{([^}]*)\\}").r
        .findFirstMatchIn(text).map(_.group(1)).getOrElse("")
      "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r.findAllMatchIn(block)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
}
