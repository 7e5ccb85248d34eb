package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.{Materialize, Tables}

/** `Tables.parquet`: a parquet read that carries its schema, inferred
  * once per file state, so repeated reads of the corpus and of
  * published tables launch no schema-inference job. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** A private copy of the sf0.001 corpus: its paths are new to the
    * memo, so the first read of each table infers and counts. */
  private def corpusCopy(): String = {
    val dir = Files.createTempDirectory("graft-tables-corpus")
    Files.list(java.nio.file.Paths.get(sf)).forEach(f =>
      Files.copy(f, dir.resolve(f.getFileName)))
    dir.toString
  }

  /** The stage names of every job `body` starts, and the description
    * of every SQL execution it starts: adaptive query stages are named
    * after a thread pool, so the execution's description ("count at
    * File.scala:N") is what names a Dataset action. */
  private def jobStages(body: => Unit): Seq[String] = {
    val names = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(si => names.add(si.name))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => names.add(x.description)
        case _ => ()
      }
    }
    org.apache.spark.graft.ListenerInterop.drain(spark.sparkContext, 5000)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.graft.ListenerInterop.drain(spark.sparkContext, 5000) }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    names.asScala.toSeq
  }

  test("the helper's schema equals the inferred one for the ten corpus tables " +
      "and a published Materialize table") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(Tables.parquetSchema(spark, p) == spark.read.parquet(p).schema, t)
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = s"$sf/events.parquet"
    assert(Tables.parquetSchema(spark, ev) == spark.read.parquet(ev).schema, "events")

    val mat = Files.createTempDirectory("graft-tables-mat").toString
    spark.conf.set("spark.graft.mat.dir", mat)
    try {
      val published = Materialize.publish(spark, "tables-spec", "fp1")(
        spark.range(50).selectExpr("id", "CAST(id AS STRING) AS s", "array(id) AS a"))
      val path = Materialize.tablePath(spark, "tables-spec", "fp1")
      assert(published.schema == spark.read.parquet(path).schema)
      assert(Tables.parquetSchema(spark, path) == spark.read.parquet(path).schema)
      assert(published.count() == 50)
    } finally spark.conf.unset("spark.graft.mat.dir")
  }

  test("a file rewritten at the same path is inferred and counted again") {
    val p = Files.createTempDirectory("graft-tables-rewrite").resolve("t").toString
    spark.range(3).write.parquet(p)
    assert(Tables.parquetSchema(spark, p).fieldNames.toSeq == Seq("id"))
    assert(Tables.parquetRows(spark, p) == 3)
    spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s").write.mode("overwrite").parquet(p)
    assert(Tables.parquetSchema(spark, p).fieldNames.toSeq == Seq("id", "s"))
    assert(Tables.parquetRows(spark, p) == 5)
    assert(Tables.parquet(spark, p).where("s = '4'").count() == 1)
  }

  test("a second q03 on one session launches no schema-inference job") {
    val q03 = SparkEntry.queries.find(_._1.startsWith("q03")).get._2
    val d = corpusCopy()
    val first = jobStages(q03(spark, d).collect())
    assert(first.exists(_.startsWith("parquet at")), s"first run: $first")
    val second = jobStages(q03(spark, d).collect())
    assert(second.nonEmpty)
    assert(!second.exists(_.startsWith("parquet at")), s"second run: $second")
  }

  test("a second a07 on one session launches no count job") {
    val mat = Files.createTempDirectory("graft-tables-a07").toString
    spark.conf.set("spark.graft.mat.dir", mat)
    try {
      val a07 = SparkEntry.queries.find(_._1.startsWith("a07")).get._2
      val d = corpusCopy()
      var rows = Seq.empty[org.apache.spark.sql.Row]
      val first = jobStages { rows = a07(spark, d).collect().toSeq }
      assert(first.exists(_.startsWith("count at Tables.scala")), s"first run: $first")
      val second = jobStages(assert(a07(spark, d).collect().toSeq == rows))
      assert(!second.exists(_.startsWith("count at Tables.scala")), s"second run: $second")
    } finally spark.conf.unset("spark.graft.mat.dir")
  }
}
