package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * All tables are parquet reads through [[parquet]], which supplies a
  * schema inferred once per file state; `events` needs special handling
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
    else parquet(spark, s"$dir/$name.parquet")

  /** A parquet read that carries its schema. A bare
    * `spark.read.parquet(p)` infers the schema from the footer inside a
    * one-task Spark job on every call; this infers it once per file
    * state and reads with `.schema(...)`. The file state is the path, a
    * listing stamp (name, length and mtime of the file, or of a
    * directory's children) and the session's
    * `spark.sql.legacy.parquet.nanosAsLong`, so a file rewritten in
    * place, or read under the other timestamp contract, is inferred
    * again. For the corpus tables and published [[Materialize]] tables
    * only: a run directory that was just written knows its schema and
    * passes it itself, so unique run paths never fill the memo. */
  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(parquetSchema(s, path)).parquet(path)

  /** The schema [[parquet]] reads `path` with. */
  def parquetSchema(s: SparkSession, path: String): StructType = factsOf(s, path).schema

  /** Row count of the parquet file or directory at `path`, counted once
    * per file state (the key [[parquet]] uses). */
  def parquetRows(s: SparkSession, path: String): Long = {
    val f = factsOf(s, path)
    if (f.rows < 0) f.rows = parquet(s, path).count()
    f.rows
  }

  private final case class FileState(path: String, stamp: Seq[(String, Long, Long)],
                                     nanosAsLong: String)
  private final class Facts(val schema: StructType) { @volatile var rows = -1L }

  /** Entries the schema memo keeps (least recently used out first):
    * ten corpus tables per scale factor plus the published tables a
    * process serves. */
  private val FactsEntries = 256
  private val facts = new java.util.LinkedHashMap[FileState, Facts](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[FileState, Facts]): Boolean =
      size() > FactsEntries
  }

  private def stateOf(s: SparkSession, path: String): FileState = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
    FileState(path,
      files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1),
      s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
  }

  private def factsOf(s: SparkSession, path: String): Facts = {
    val key = stateOf(s, path)
    facts.synchronized(Option(facts.get(key))).getOrElse {
      // inferred outside the lock: the inference is a Spark job
      val f = new Facts(s.read.parquet(path).schema)
      facts.synchronized(Option(facts.putIfAbsent(key, f)).getOrElse(f))
    }
  }

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
    normalizeTs(spark, parquet(spark, s"$dir/events.parquet"))
  }

  /** Raw Spark-side type of events.parquet's `ts` under the nanosAsLong
    * contract — LongType for a TIMESTAMP(NANOS) file, TimestampNTZType
    * for the regenerated micros file. Footer-only, and memoized with
    * [[parquet]]'s schema; the streaming replay needs this to build its
    * explicit source schema, which a file stream cannot infer. */
  def rawEventsTsType(spark: SparkSession, dir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(spark, s"$dir/events.parquet").schema("ts").dataType
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
