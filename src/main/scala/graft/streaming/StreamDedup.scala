package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming deduplication — the streaming form of the batch exact-dedup
  * operator (TextSim.q23 / Dedup.d01): keep the FIRST arrival per key.
  *
  * [[dedupWithinWatermark]] bounds state: state for a key is
  * dropped once the event-time watermark passes it, so state size is
  * bounded by the watermark horizon, not stream history. A duplicate
  * arriving after its key's state expired is re-emitted — the
  * documented, bounded-memory semantics of Spark's
  * `dropDuplicatesWithinWatermark`.
  *
  * Rows are emitted immediately on first sight (append mode, no
  * watermark wait), so a horizon covering the full replay makes
  * [[dedupWithinWatermark]] bit-equal to the batch `dropDuplicates` —
  * the equivalence StreamingSpec S6 asserts.
  */
object StreamDedup {

  /** Bounded-state streaming dedup on `keyCols` with event-time column
    * `tsCol` and watermark `delay`. */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
                           tsCol: String, delay: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Batch reference: first row per key by (ts, event_id) arrival order
    * — what a replay of the stream in timestamp order must produce. */
  def batchFirstPerKey(s: SparkSession, dir: String,
                       keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts"), col("event_id"))
    graft.core.Tables.events(s, dir)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }
}
