package graft.tools

import org.apache.spark.sql.SparkSession

/** Child-JVM main for the Materialize cross-process race spec: a REAL
  * second Spark driver (the process boundary is the variable — the
  * in-JVM keyLock cannot help across it) that cold-computes and
  * publishes the SAME (kind, fingerprint) the parent is racing on,
  * through the identical [[graft.core.Materialize.readOrCompute]]
  * path. Prints `CHILD_DONE rows=<n> pub=<published>` so the parent
  * can assert the cross-process single-winner/defer outcome.
  *
  * args: matRoot kind fp computeSleepMs readyFile
  */
object CrossProcessMaterializer {

  /** the deterministic table BOTH processes compute for a fingerprint —
    * same fp must mean same logical content, per the publish contract.
    * `rowSleepMs` > 0 stretches the parquet WRITE (one sleep per
    * partition inside the scan) so the `.inprogress-*` window stays
    * open long enough for the parent to race a retention sweep
    * against it. */
  def tableFor(s: SparkSession, fp: String,
               rowSleepMs: Long = 0L): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val base = (1 to 1000).map(i => (i.toLong, s"$fp-$i")).toDF("id", "v")
    if (rowSleepMs <= 0) base
    else base.as[(Long, String)].mapPartitions { it =>
      Thread.sleep(rowSleepMs); it
    }.toDF("id", "v")
  }

  def main(args: Array[String]): Unit = {
    val Array(matRoot, kind, fp, sleepMs, readyFile) = args.take(5)
    val writeSlowMs = if (args.length > 5) args(5).toLong else 0L
    val spark = graft.Session(2, "spark.graft.mat.dir" -> matRoot)
    try {
      // signal the parent that this JVM is warm and about to enter the
      // race, so both sides' publish windows overlap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(readyFile), "ready")
      val pub0 = graft.core.Materialize.publishCount
      val df = graft.core.Materialize.readOrCompute(spark, kind, fp) {
        Thread.sleep(sleepMs.toLong)
        tableFor(spark, fp, writeSlowMs)
      }
      val n = df.count()
      println(s"CHILD_DONE rows=$n pub=${graft.core.Materialize.publishCount - pub0}")
    } finally spark.stop()
  }
}
