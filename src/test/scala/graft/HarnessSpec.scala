package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The shared harness: every session comes from [[Session]] (the
  * shipped planner plus the conf table), and a [[Rail]] sample dumps the
  * stage table and the executed plan of its own timed action. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("a Session carries the conf table") {
    assert(spark.sparkContext.master == "local[4]")
    Session.conf(4).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") ==
      (64L * 1024 * 1024).toString)
  }

  private def lines(p: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.toSeq
  }

  /** The non-comment lines of each .scala file under `root`. */
  private def codeLines(root: String): Map[java.nio.file.Path, Seq[String]] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> lines(p).filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      })
      .toMap
    finally walk.close()
  }

  /** Each `literal` (group 1) on a code line of the .scala files under
    * `root` has a README row matching `row` (group 1), and each such
    * row has a read. */
  private def assertRowPerRead(root: String, literal: scala.util.matching.Regex,
                               row: scala.util.matching.Regex): Unit = {
    import java.nio.file.Paths
    val read = codeLines(root).values.flatten
      .flatMap(l => literal.findAllMatchIn(l).map(_.group(1)))
      .toSet
    val documented = lines(Paths.get("README.md"))
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(read.nonEmpty)
    assert(read == documented, s"read without a row: ${read -- documented}; " +
      s"row without a read: ${documented -- read}")
  }

  test("every spark.graft conf read in src/main has a README runbook row, and no other key does") {
    assertRowPerRead("src/main", "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r,
      "^\\| `spark\\.graft\\.([A-Za-z0-9_.]+)` \\|".r)
    // the JVM-wide engine defaults GraftExtensions installs are named too
    val readme = lines(java.nio.file.Paths.get("README.md")).mkString("\n")
    val unnamed = graft.plans.GraftExtensions.Defaults.keySet.filterNot(k => readme.contains(s"`$k`"))
    assert(unnamed.isEmpty, s"JVM-wide defaults README does not name: $unnamed")
  }

  test("every kinesis-emu option read in src/main has a README options row, and no other option does") {
    // CaseInsensitiveStringMap reads: get / getInt / getLong / getDouble / getBoolean
    assertRowPerRead("src/main/scala/graft/sources",
      "\\.get(?:Int|Long|Double|Boolean)?\\(\"([^\"]+)\"".r,
      "^\\| `([A-Za-z]+)` \\| (?:source|sink|source, sink) \\|".r)
  }

  test("every def in src/main has a caller in src/main or perfbench, or is an allowlisted spec hook") {
    // called only from specs: test hooks and the batch references the
    // streaming specs compare against
    val specOnly = Set("a06CandidateVolume", "a06WithCodebooks", "a11ShortlistDf",
      "a17RetrainOver", "batchFirstPerKey", "batchFlags", "batchReference",
      "batchSessions", "batchTumbling", "d02Internals", "fingerprintCacheClear",
      "kmeansPoints", "liveBandTable", "p12BaseShardTotals", "readMarker",
      "readsSince", "s12DrainInto", "slidingWindow")
    // a plain string literal is not a caller (a def's own `prettyName`
    // string once hid it); interpolations stay, their `$name` is code
    val literal = """\w*"{3}.*?"{3}|\w*"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)'""".r
    def code(root: String) = codeLines(root).map { case (file, ls) =>
      file -> ls.map(l => literal.replaceAllIn(l, m =>
        if (m.matched.startsWith("\"")) "\"\"" else scala.util.matching.Regex.quoteReplacement(m.matched)))
    }
    val main = code("src/main/scala")
    val callers = main ++ code("perfbench/src")
    // members: every def, and every val / lazy val declared at the top
    // level of an object (two-space indent under a column-0 `object`);
    // locals and class fields stay out
    val topLevel = "^(?:(?:private|protected)(?:\\[\\w+\\])?\\s+|case\\s+|final\\s+|sealed\\s+|abstract\\s+)*(object|class|trait)\\s".r
    val memberVal = ("^  (?:(?:private|protected)(?:\\[\\w+\\])?\\s+|final\\s+|implicit\\s+)*" +
      "(?:lazy\\s+)?val\\s+([A-Za-z_][A-Za-z0-9_]*)").r
    val defined = main.toSeq.flatMap { case (file, ls) =>
      var inObject = false
      ls.filterNot(_.contains("override")).flatMap { l =>
        topLevel.findFirstMatchIn(l).foreach(m => inObject = m.group(1) == "object")
        val vals = if (inObject) memberVal.findFirstMatchIn(l).map(_.group(1)).toSeq else Nil
        ("\\bdef\\s+([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(l).map(_.group(1)) ++ vals)
          .map(_ -> file)
      }
    }.groupMap(_._1)(_._2)
    // in its own file any mention is a call; elsewhere only a call-shaped
    // one (`.name`, `name(`, `name[`), so an unrelated local of the same
    // name does not count
    val uncalled = defined.filterNot { case (name, files) =>
      val q = java.util.regex.Pattern.quote(name)
      val defLine = s"\\b(?:def|val)\\s+$q\\b".r
      val mention = s"\\b$q\\b".r
      val call = s"(\\.$q\\b|\\b$q\\s*[(\\[])".r
      callers.exists { case (file, ls) =>
        val use = if (files.contains(file)) mention else call
        ls.exists(l => use.findFirstIn(l).isDefined && defLine.findFirstIn(l).isEmpty)
      }
    }.keySet
    assert(uncalled -- specOnly == Set.empty, "defs with no caller outside the specs")
    assert(specOnly -- uncalled == Set.empty, "allowlisted defs that have a caller in src/main")
    val tests = codeLines("src/test").values.flatten.toSeq
    val stale = specOnly.filterNot(n => tests.exists(s"\\b$n\\b".r.findFirstIn(_).isDefined))
    assert(stale.isEmpty, "allowlisted defs no spec calls")
  }

  test("a Rail sample of q03 at sf0.001 dumps a stage table and the final plan") {
    val sf = "/root/testdata/sf0.001"
    val (name, fn) = SparkEntry.queries.find(_._1.startsWith("q03")).get
    val dump = java.nio.file.Files.createTempDirectory("graft-rail")
      .resolve("q03_1.txt").toFile
    val probe = new Rail.Probe(Seq(spark))
    val line = try Rail.sample(spark, probe, name, fn, sf, dump) finally probe.close()
    assert(line.startsWith("""{"rail":{"q":"""") && line.contains(dump.getPath), line)
    assert(""""compiles":\d+,"compile_ms":[0-9.]+,""".r.findFirstIn(line).nonEmpty, line)
    val text = new String(java.nio.file.Files.readAllBytes(dump.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val nStages = """== Stages \((\d+)\) ==""".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(nStages.exists(_ > 0), text)
    assert(text.contains("\"wall_ms\":"), text)
    assert(text.contains("isFinalPlan=true") && !text.contains("isFinalPlan=false"), text)
  }

  test("a Session keeps its generated code: a third round of five entries compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.plans.GraftExtensions.Defaults("spark.sql.codegen.cache.maxEntries"))
    val sf = java.nio.file.Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
    val entries = Seq("q03", "d02", "d03", "a02", "t12")
      .map(p => SparkEntry.queries.find(_._1.startsWith(p)).get._2)
    // the bench protocol: storage cleared after every entry, so each
    // round plans the same queries over the same cache state
    val compiled = compilesPerRound(entries.foreach { fn =>
      fn(spark, sf).count()
      Bench.cleanStorage(spark)
    })
    assert(compiled(2) == 0, s"compiles per round: $compiled")
  }

  /** Janino compiles across three rounds of `body`, storage cleared
    * after each. Streaming queries run on cloned sessions, and Spark's
    * class cache is keyed on the context classloader, so they only keep
    * their generated code when every session shares one loader. */
  private def compilesPerRound(body: => Unit): Seq[Long] = Seq.fill(3) {
    val c0 = Rail.codegen()._1
    body
    Bench.cleanStorage(spark)
    Rail.codegen()._1 - c0
  }

  test("a Session keeps streaming generated code: a third s14 compiles nothing") {
    val sf = java.nio.file.Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
    val compiled = compilesPerRound(assert(graft.streaming.Replay.s14(spark, sf).count() > 0))
    assert(compiled(2) == 0, s"compiles per round: $compiled")
  }

  test("a Session keeps streaming generated code: a third kinesis-emu micro-batch read " +
      "(readStream -> foreachBatch) compiles nothing") {
    import graft.emu.KinesisEmu
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions.col
    val ck = java.nio.file.Files.createTempDirectory("graft-harness-emu")
    var n = 0
    def read(): Unit = {
      n += 1
      val stream = s"harness-codegen-$n"
      KinesisEmu.createStream(stream, 2)
      try {
        KinesisEmu.putRecords(stream, (0 until 50).map(i =>
          graft.ingest.KinesisRecord(s"k$i", s"line $i".getBytes("UTF-8"))))
        val rows = new java.util.concurrent.atomic.AtomicLong
        val q = spark.readStream.format("kinesis-emu").option("stream", stream).load()
          .select(col("shardId"), col("sequenceNumber"), col("data"), col("arrivalTs"))
          .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
            rows.addAndGet(b.collect().count((r: Row) => r.getAs[Array[Byte]](2).nonEmpty))
            ()
          }
          .option("checkpointLocation", ck.resolve(stream).toString)
          .start()
        try q.processAllAvailable() finally q.stop()
        assert(rows.get == 50)
      } finally KinesisEmu.deleteStream(stream)
    }
    val compiled = compilesPerRound(read())
    assert(compiled(2) == 0, s"compiles per round: $compiled")
  }
}
