package graft.tools

import graft.emu.{FileEmuStore, KinesisEmu}
import graft.ingest.KinesisRecord

/** Child-JVM half of CrossProcessEmuSpec: commits a range of epochs
  * (each attempted `reps` times — simulating Spark epoch/task retries)
  * into a FileEmuStore stream shared with the parent process. Pure JVM,
  * no Spark session, so the process boundary is the ONLY thing under
  * test. Prints one summary line the parent asserts on.
  *
  * usage: CrossProcessCommitter <dir> <stream> <fromEpoch> <toEpoch> <reps>
  */
object CrossProcessCommitter {
  /** Deterministic payloads: parent and child build IDENTICAL records
    * for an epoch (Spark retries of a deterministic partition re-stage
    * identical bytes), so exactly-once is observable as exact record
    * COUNTS after interleaved/racing commits from two processes. */
  def recordsFor(epoch: Long): Seq[KinesisRecord] =
    (0 until 5).map(i =>
      KinesisRecord(s"key-$epoch-$i", s"epoch-$epoch-rec-$i".getBytes("UTF-8")))

  def main(args: Array[String]): Unit = {
    val Array(dir, stream, from, to, reps) = args
    var wins = 0
    for (e <- from.toLong to to.toLong; _ <- 1 to reps.toInt)
      if (KinesisEmu.putRecordsPersisted(dir, stream, e.toString, 0, recordsFor(e)))
        wins += 1
    // parseable by the parent; FileEmuStore state is the real assertion
    println(s"CHILD_DONE wins=$wins committed=${
      (from.toLong to to.toLong).count(e => FileEmuStore.isCommitted(dir, stream, e.toString, 0))}")
  }
}
