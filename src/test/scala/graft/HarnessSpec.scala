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

  test("a Session resolves cosine_similarity in SQL text") {
    val v = spark.sql(
      "SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(1 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(v - math.sqrt(0.5)) < 1e-12)
  }

  test("a Session carries the conf table") {
    assert(spark.sparkContext.master == "local[4]")
    Session.conf(4).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") ==
      (64L * 1024 * 1024).toString)
  }

  test("every spark.graft conf read in src/main has a README runbook row, and no other key does") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def lines(p: Path): Seq[String] = Files.readAllLines(p).asScala.toSeq
    val literal = "\"spark\\.graft\\.([A-Za-z0-9_.]+)\"".r
    val walk = Files.walk(Paths.get("src/main"))
    val read = try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(lines)
      .filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }
      .flatMap(l => literal.findAllMatchIn(l).map(_.group(1)))
      .toSet
    finally walk.close()
    val row = "^\\| `spark\\.graft\\.([A-Za-z0-9_.]+)` \\|".r
    val documented = lines(Paths.get("README.md"))
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(read.nonEmpty)
    assert(read == documented, s"read without a row: ${read -- documented}; " +
      s"row without a read: ${documented -- read}")
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
      graft.plans.GraftExtensions.CodegenCacheEntries.toString)
    val sf = java.nio.file.Paths.get("perfbench/data/sf0.001").toAbsolutePath.toString
    val entries = Seq("q03", "d02", "d03", "a02", "t12")
      .map(p => SparkEntry.queries.find(_._1.startsWith(p)).get._2)
    // the bench protocol: storage cleared after every entry, so each
    // round plans the same queries over the same cache state
    def round(): Long = {
      val c0 = Rail.codegen()._1
      entries.foreach { fn =>
        fn(spark, sf).count()
        Bench.cleanStorage(spark)
      }
      Rail.codegen()._1 - c0
    }
    val compiled = Seq.fill(3)(round())
    assert(compiled(2) == 0, s"compiles per round: $compiled")
  }
}
