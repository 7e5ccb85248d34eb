package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All tables are plain parquet reads; `events` needs special handling
  * because the driver has shipped its `ts` column under two different
  * physical encodings across corpus regenerations:
  *
  *  - parquet TIMESTAMP(NANOS) (pre-2026-08-13): Spark 4.x refuses the
  *    native read ([PARQUET_TYPE_ILLEGAL]); with
  *    `spark.sql.legacy.parquet.nanosAsLong` it loads as BIGINT
  *    epoch-nanos, which we floor-divide to micros (matches DuckDB's
  *    ns->us truncation, so oracle comparisons stay exact);
  *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (the 2026-08-13
  *    regeneration): Spark loads TIMESTAMP_NTZ natively; the naive
  *    wall-clock is epoch-anchored, so it is interpreted as UTC.
  *
  * The corpus is driver-owned and can change under the engine between
  * rounds — round 10 lost 14 gate entries to exactly this drift — so
  * the loader PROBES the loaded schema and branches instead of assuming
  * one encoding ([[normalizeTs]]); [[SchemaProbe]] additionally reports
  * any drift loudly at Verify/Bench startup.
  *
  * Scale notes (verified against the corpus): every money/ratio column is
  * an exact 2-decimal double, so casting to DECIMAL(_,2) is lossless and
  * makes every SUM fully order-independent — a requirement for bit-exact
  * comparison with the DuckDB oracle AND for deterministic results on a
  * 1000-executor cluster where partial-aggregation order is arbitrary.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events with `ts` converted to a proper TimestampType (micros),
    * whichever physical encoding the corpus currently ships. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark, spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Raw Spark-side type of events.parquet's `ts` under the nanosAsLong
    * contract — LongType for a TIMESTAMP(NANOS) file, TimestampNTZType
    * for the regenerated micros file. Footer-only read (no data scan);
    * the streaming replay needs this to build its explicit source
    * schema, which a file stream cannot infer. */
  def rawEventsTsType(spark: SparkSession, dir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
  }

  /** Normalize a raw events `ts` column to session-TZ TimestampType at
    * micros precision, branching on the loaded type:
    *  - BIGINT epoch-nanos (nanosAsLong read of a NANOS file) ->
    *    floor-divide to micros (DuckDB's own ns->us truncation);
    *  - TIMESTAMP_NTZ (native read of the micros file) -> the naive
    *    wall-clock is UTC-anchored; `convert_timezone('UTC', sessionTZ)`
    *    pre-shifts the wall-clock so the session-TZ cast lands on the
    *    UTC instant even if a host ever runs non-UTC (every repo entry
    *    point pins UTC, where the shift is a no-op — this just removes
    *    the silent-divergence hazard ADVICE round 10 flagged);
    *  - TimestampType -> already what we want.
    * Any other type is corpus drift we have not seen: fail LOUD at
    * analysis time rather than miscompute. */
  def normalizeTs(spark: SparkSession, df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        val tz = spark.conf.get("spark.sql.session.timeZone")
        df.withColumn("ts",
          convert_timezone(lit("UTC"), lit(tz), col("ts")).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts loaded as $other — unrecognized corpus encoding; " +
          "extend graft.core.Tables.normalizeTs")
    }

  // ---- exact-decimal helpers (shared by all queries) ----

  /** 2-dp money column -> exact decimal; sums become order-independent. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** small ratio (discount/tax) -> exact DECIMAL(4,2). */
  def rat2(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Canonical OUTPUT type for money aggregates: DOUBLE (matches the
    * oracle SQL's outer `CAST(... AS DOUBLE)`). The aggregate itself is
    * computed in exact decimal (order-independent); only the final
    * column is cast. Spark's decimal->double (BigDecimal.doubleValue)
    * is correctly rounded, but DuckDB 1.0's direct decimal->double cast
    * is NOT once the scaled value needs >53 significand bits (~26% of
    * such values misround by 1 ulp, measured) — so every oracle-side
    * decimal aggregate is cast via `CAST(CAST(x AS VARCHAR) AS DOUBLE)`
    * (decimal->varchar prints exact digits; varchar->double is a
    * correctly-rounded strtod; 0/3000 mismatches measured). DECIMAL
    * output columns themselves hash differently in the driver's pandas
    * comparison (round-1 verdict: 15 bit-exact results flagged red
    * purely by representation), hence DOUBLE. */
  def money(c: Column): Column = c.cast(DoubleType)

  /** canonical BIGINT for counts/sums of integers. */
  def big(c: Column): Column = c.cast(LongType)

  /** Pinned repartition ahead of a CPU-dense explode whose input is a
    * single-split scan (each corpus parquet is one row group, so the
    * scan-rooted stage otherwise runs on ONE core — the t10/d04
    * discipline, round 21); the explicit partition count is never
    * AQE-coalesced. EVERY round-21 pinned explode repartition routes
    * through here (d11, d12, d15, t10, t12, benchShingles). The pre-r21
    * pins (d04's salted spread, the Ann/Multimodal/TextSim kernel pins,
    * cleanRedacted) stay inline — they are load-bearing plan shape.
    * Result-neutral by construction (partitioning only). */
  def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
}
