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

  test("a Rail sample of q03 at sf0.001 dumps a stage table and the final plan") {
    val sf = "/root/testdata/sf0.001"
    val (name, fn) = SparkEntry.queries.find(_._1.startsWith("q03")).get
    val dump = java.nio.file.Files.createTempDirectory("graft-rail")
      .resolve("q03_1.txt").toFile
    val probe = new Rail.Probe(Seq(spark))
    val line = try Rail.sample(spark, probe, name, fn, sf, dump) finally probe.close()
    assert(line.startsWith("""{"rail":{"q":"""") && line.contains(dump.getPath), line)
    val text = new String(java.nio.file.Files.readAllBytes(dump.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val nStages = """== Stages \((\d+)\) ==""".r.findFirstMatchIn(text).map(_.group(1).toInt)
    assert(nStages.exists(_ > 0), text)
    assert(text.contains("\"wall_ms\":"), text)
    assert(text.contains("isFinalPlan=true") && !text.contains("isFinalPlan=false"), text)
  }
}
