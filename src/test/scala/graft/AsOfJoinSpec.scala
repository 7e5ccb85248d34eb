package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.util.Random

/** Property check for the window-composed as-of join: against a
  * brute-force per-row reference on randomized data. */
class AsOfJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  test("asof() equals brute-force greatest-ts<=ts match on random data") {
    val s = spark
    import s.implicits._
    val rnd = new Random(42)
    val left = (1 to 400).map { i =>
      (rnd.nextInt(20).toLong, new Timestamp(1700000000000L + rnd.nextInt(1000000) * 1000L), i.toLong)
    }
    // right: unique (key, ts) by construction
    val right = rnd.shuffle(
      (for (k <- 0 until 20; t <- 0 until 30)
        yield (k.toLong, new Timestamp(1700000000000L + (t * 33331 + k) * 1000L), (k * 100 + t).toLong))
        .toList)
    val lDf = left.toDF("k", "ts", "event_id")
    val rDf = right.toDF("k", "rts", "rid")
    val got = graft.ops.AsOfJoin.asof(lDf, rDf, "k", "ts", "rts", Seq("rid"))
      .select("event_id", "rid").as[(Long, Option[Long])].collect().toMap
    left.foreach { case (k, ts, eid) =>
      val want = right.filter(r => r._1 == k && !r._2.after(ts))
        .sortBy(_._2.getTime).lastOption.map(_._3)
      assert(got(eid) == want, s"event $eid key $k ts $ts")
    }
  }
}
