package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._

/** p01: an end-to-end training-data cleaning pipeline composing the
  * operator suites — exact dedup (keep the smallest doc_id per text),
  * quality filter, language tagging — and reporting per-source stats of
  * the surviving corpus. This is the shape of a real 100 TB cleaning
  * job: one scan, one dedup shuffle on the text hash, one aggregation;
  * all other signals are computed row-local. */
object Pipeline {

  def p01(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .withColumn("uniq_ratio",
        size(array_distinct(col("toks"))).cast(DoubleType) / size(col("toks")).cast(DoubleType))
      .withColumn("quality_ok", col("n_tok") >= 15 && col("uniq_ratio") >= 0.3)
    // exact dedup: keep the smallest doc_id per identical text. The
    // keeper's text is re-aliased so the join condition references two
    // DISTINCT attributes (docs("text") === keeper("text") resolves both
    // sides to the same attribute -> a trivially-true conjunct and a
    // Spark WARN; correctness then rode on keep_id being unique, which
    // deserves to be structural, not incidental)
    val keeper = docs.groupBy("text").agg(min(col("doc_id")).as("keep_id"))
      .withColumnRenamed("text", "kept_text")
    docs.join(keeper, docs("text") === keeper("kept_text") &&
        docs("doc_id") === keeper("keep_id"))
      .where(col("quality_ok"))
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("kept_docs"),
        big(sum(col("n_tok"))).as("kept_tokens"),
        big(countDistinct(col("lang"))).as("n_langs"))
      .orderBy("source")
  }

  val p01Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, text, lang, source,
      |    len(string_split(text, ' ')) AS n_tok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio
      |  FROM documents),
      |keeper AS (SELECT text, MIN(doc_id) AS keep_id FROM docs GROUP BY text)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS kept_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS kept_tokens,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM docs JOIN keeper ON docs.text = keeper.text AND docs.doc_id = keeper.keep_id
      |WHERE n_tok >= 15 AND uniq_ratio >= 0.3
      |GROUP BY source ORDER BY source""".stripMargin

  /** p02: deterministic stratified sampling — the reproducible
    * downsample every training-data pipeline needs. The sampling
    * decision is a pure function of the row key (MD5(doc_id) bucket),
    * so it is reproducible across runs/engines/cluster sizes, needs no
    * RNG state, pushes no data movement (row-local filter before the
    * single stats aggregation), and stays exactly re-computable for
    * lineage audits. 2-of-10 buckets ~ 20% per source stratum. */
  val SampleBuckets = 10
  val SampleKeep = 2

  def p02(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("h",
        conv(substring(md5(concat(lit("sample:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType))
      .withColumn("sampled", pmod(col("h"), lit(SampleBuckets)) < SampleKeep)
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("total_docs"),
        big(sum(when(col("sampled"), 1L).otherwise(0L))).as("sampled_docs"),
        big(sum(when(col("sampled"), col("n_tok")).otherwise(0L))).as("sampled_tokens"),
        big(min(when(col("sampled"), col("doc_id")))).as("min_sampled_id"),
        big(max(when(col("sampled"), col("doc_id")))).as("max_sampled_id"))
      .orderBy("source")

  val p02Sql: String =
    s"""WITH docs AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(('0x' || substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % $SampleBuckets < $SampleKeep AS sampled
      |  FROM documents)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS total_docs,
      |  CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
      |  CAST(SUM(CASE WHEN sampled THEN n_tok ELSE 0 END) AS BIGINT) AS sampled_tokens,
      |  CAST(MIN(CASE WHEN sampled THEN doc_id END) AS BIGINT) AS min_sampled_id,
      |  CAST(MAX(CASE WHEN sampled THEN doc_id END) AS BIGINT) AS max_sampled_id
      |FROM docs GROUP BY source ORDER BY source""".stripMargin

  /** p03: deterministic train/val/test split (80/10/10) by salted key
    * hash — membership is a pure row-local function of doc_id, so the
    * split is stable under reruns, re-partitioning, and incremental
    * appends (a new doc never moves an old doc between splits), and any
    * engine can recompute it for audit. */
  def p03(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("h",
        conv(substring(md5(concat(lit("split:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType))
      .withColumn("bucket", pmod(col("h"), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("source", "split")
      .agg(
        big(count(lit(1))).as("docs"),
        big(sum(col("n_tok"))).as("tokens"))
      .orderBy("source", "split")

  val p03Sql: String =
    """WITH docs AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % 100 AS bucket
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS tokens
      |FROM docs GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  /** p04: deterministic sharded epoch shuffle — the data-loading step of
    * a training run. Each document gets a pseudo-random position from a
    * salted hash (seeded by the epoch tag, so epoch 1 is a DIFFERENT but
    * equally deterministic permutation), is routed to one of
    * [[ShuffleShards]] loader shards by that hash, and ranked within its
    * shard by a partitioned window — every shard's read order is a
    * shuffled, reproducible stream, and no global single-partition sort
    * exists anywhere (the classic scale trap of `ORDER BY rand()`).
    * Output: one row per (shard, position) with the doc assignment. */
  val ShuffleShards = 8

  def p04(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("h", "doc_id")
    documents(s, d)
      .withColumn("h",
        conv(substring(md5(concat(lit("epoch0:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType))
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards)).cast(LongType))
      // pin the WINDOW's own exchange (hash keys, explicit N — AQE never
      // coalesces it; zero extra shuffles, the window reuses this
      // clustering); the cheap id-hash above stays in the scan
      .repartition(s.sparkContext.defaultParallelism, col("shard"))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .select(col("shard"), col("pos"), col("doc_id"))
      .orderBy("shard", "pos")
  }

  val p04Sql: String =
    s"""SELECT shard, pos, doc_id
      |FROM (SELECT doc_id,
      |        h % $ShuffleShards AS shard,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShuffleShards
      |          ORDER BY h, doc_id) AS BIGINT) AS pos
      |      FROM (SELECT doc_id,
      |              CAST(('0x' || substring(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |            FROM documents))
      |ORDER BY shard, pos""".stripMargin

  /** p05: sequence packing — the step that turns a shuffled document
    * stream into fixed-budget training sequences (pack documents
    * head-to-tail into [[PackTokens]]-token bins; a doc whose span
    * crosses a boundary starts the next bin's worth of attention
    * windows). Deterministic offset packing: docs are laid out in p04's
    * shard/position order, each doc's bin is its cumulative start
    * offset DIV the budget, its position within the bin the remainder —
    * a pure per-shard window cumsum, embarrassingly parallel across
    * shards (the classic greedy first-fit is inherently sequential;
    * offset packing is the standard distributed compromise and gives
    * identical utilization for docs much shorter than the budget).
    * Output: one row per doc with its (shard, bin, offset) placement
    * plus bin fill stats. */
  val PackTokens = 512

  def p05(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("h", "doc_id")
    val placed = documents(s, d)
      .withColumn("h",
        conv(substring(md5(concat(lit("epoch0:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType))
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards)).cast(LongType))
      // pin the WINDOW's own exchange (see p04); the heavier text split
      // below then runs AFTER the spread, parallel across the cluster
      .repartition(s.sparkContext.defaultParallelism, col("shard"))
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("start_off",
        coalesce(sum(col("n_tok")).over(w) - col("n_tok"), lit(0L)))
      .withColumn("bin", (col("start_off") / PackTokens).cast(LongType))
      .withColumn("bin_off", col("start_off") % PackTokens)
    placed
      .groupBy("shard", "bin")
      .agg(
        big(count(lit(1))).as("docs_in_bin"),
        big(sum(col("n_tok"))).as("bin_tokens"),
        big(min(col("doc_id"))).as("first_doc"))
      .orderBy("shard", "bin")
  }

  val p05Sql: String =
    s"""WITH placed AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    h % $ShuffleShards AS shard,
      |    COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
      |      PARTITION BY h % $ShuffleShards ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
      |      - CAST(len(string_split(text, ' ')) AS BIGINT) AS start_off
      |  FROM (SELECT doc_id, text,
      |          CAST(('0x' || substring(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |        FROM documents))
      |SELECT shard, CAST(start_off // $PackTokens AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS docs_in_bin,
      |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
      |FROM placed GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin

  /** p06: source-mixing (temperature) sampler — the data-MIXING step of
    * a multi-source training run: flatten the source distribution by
    * giving every source an equal share of a half-corpus token budget
    * (budget B_s = T / (2 * n_src); keep rate r_s = min(1, B_s / T_s)),
    * so over-represented sources are down-sampled and small sources
    * pass through whole — the standard mixture-flattening shape of
    * multilingual pipelines, kept integer-exact for the oracle.
    *
    * The keep decision is a pure row-local predicate: doc survives iff
    * hash_bucket(doc_id) < 1e6 * r_s, evaluated WITHOUT any floating
    * division as `hm * 2 * n_src * T_s < 1e6 * T` (the min(1,·) folds
    * in: when r_s >= 1 the RHS exceeds every possible LHS). The product
    * can reach ~2^69 at 100 TB (T_s up to tens of trillions of tokens),
    * past BIGINT — both engines compare in exact wide arithmetic
    * (Spark Decimal(38,0), DuckDB HUGEINT).
    *
    * Scale shape: one pruned scan feeds the per-source stats (map-side
    * combined), a 1-row totals aggregate rides a broadcast cross join
    * (constant size — PlanAuditSpec-allow-listed), the rate table
    * broadcasts back onto the document stream, and the keep filter is
    * row-local — no shuffle anywhere except the per-source aggregations. */
  def p06(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val docs = documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("hm",
        pmod(conv(substring(md5(concat(lit("mix:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType), lit(1000000L)))
      .select(col("source"), col("doc_id"), col("n_tok"), col("hm"))
    val stats = documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .groupBy("source").agg(sum(col("n_tok")).as("src_tokens"))
    val totals = stats.agg(sum(col("src_tokens")).as("all_tokens"),
      count(lit(1)).as("n_src"))
    val rates = stats.crossJoin(broadcast(totals))
    docs.join(broadcast(rates), "source")
      .withColumn("keep",
        col("hm").cast(dec) * lit(2L) * col("n_src") * col("src_tokens") <
          col("all_tokens").cast(dec) * lit(1000000L))
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("docs_total"),
        big(sum(col("n_tok"))).as("tokens_total"),
        big(sum(when(col("keep"), 1L).otherwise(0L))).as("docs_kept"),
        big(sum(when(col("keep"), col("n_tok")).otherwise(0L))).as("tokens_kept"))
      .orderBy("source")
  }

  val p06Sql: String =
    """WITH docs AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % 1000000 AS hm
      |  FROM documents),
      |stats AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens FROM docs GROUP BY source),
      |totals AS (
      |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_src FROM stats)
      |SELECT d.source,
      |  CAST(COUNT(*) AS BIGINT) AS docs_total,
      |  CAST(SUM(d.n_tok) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN CAST(d.hm AS HUGEINT) * 2 * t.n_src * s.src_tokens
      |                     < CAST(1000000 AS HUGEINT) * t.all_tokens
      |            THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
      |  CAST(SUM(CASE WHEN CAST(d.hm AS HUGEINT) * 2 * t.n_src * s.src_tokens
      |                     < CAST(1000000 AS HUGEINT) * t.all_tokens
      |            THEN d.n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
      |FROM docs d JOIN stats s ON s.source = d.source, totals t
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** chunking geometry: 16-token windows advancing 12 tokens — 4-token
    * overlap, the RAG/context-window preprocessing shape. */
  val ChunkSize = 16
  val ChunkStride = 12

  /** p07: sliding-window document chunking with overlap — every RAG /
    * long-context pipeline's first transform: split each document's
    * token stream into fixed-size windows (stride < size ⇒ overlapping),
    * emit one row per chunk with a content hash. Entirely row-local
    * (explode of a per-row integer sequence, no shuffle until the
    * ordering sort), so it scales linearly and pushes down the single
    * `text` column read. The chunk-count formula guards Spark's
    * `sequence(0, n)` down-counting trap: n_chunks >= 1 always, via
    * GREATEST against 0. */
  def p07(s: SparkSession, d: String): DataFrame = {
    val nChunks = lit(1L) +
      (greatest(col("n_tok") - ChunkSize, lit(0L)) + lit(ChunkStride - 1L))
        .cast(LongType) / lit(ChunkStride.toLong)
    documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      // integer division: numerator and divisor are nonneg, so the
      // double division + floor is exact (magnitudes << 2^53)
      .withColumn("n_chunks", floor(nChunks).cast(LongType))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      // chunk start stays in LONG and is guarded: slice() takes an Int
      // start, and a silent cast wrap would read garbage offsets. With
      // toks a Spark array the start is provably < Int.MaxValue (array
      // size is Int-bounded and start <= n_tok - 3), so the guard is a
      // tripwire for a future non-array token source, not a live path —
      // it must fail LOUDLY, not wrap.
      .withColumn("chunk_start", col("chunk_idx") * ChunkStride + lit(1L))
      .withColumn("chunk",
        slice(col("toks"),
          when(col("chunk_start") <= Int.MaxValue.toLong,
            col("chunk_start").cast(IntegerType))
            .otherwise(raise_error(concat(
              lit("p07: chunk start overflows Int for doc_id="), col("doc_id")))),
          lit(ChunkSize)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast(LongType).as("chunk_len"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  val p07Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks,
      |    1 + (GREATEST(n_tok - $ChunkSize, 0) + ${ChunkStride - 1}) // $ChunkStride AS n_chunks
      |  FROM docs),
      |e AS (
      |  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      |  FROM c)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(len(list_slice(toks, 1 + chunk_idx * $ChunkStride,
      |    chunk_idx * $ChunkStride + $ChunkSize)) AS BIGINT) AS chunk_len,
      |  md5(array_to_string(list_slice(toks, 1 + chunk_idx * $ChunkStride,
      |    chunk_idx * $ChunkStride + $ChunkSize), ' ')) AS chunk_hash
      |FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  /** p08: deterministic round-robin SOURCE INTERLEAVE — the training
    * ORDER operator: p06 decides how much of each source to keep, p04
    * shuffles within an epoch, and this one fixes the fine-grained
    * source cadence (position r·S + i for the r-th doc of the i-th
    * source), so any contiguous batch window sees every source at its
    * 1/S rate — no source-correlated gradient bursts. All positions
    * are exact integers (unique by construction: i < S), so the oracle
    * is bit-exact. Shape at 100 TB: one per-source window rank (hash
    * shuffle on source), a broadcast ≤|sources|-row index + 1-row
    * count, and the output sort; the source-index window runs over
    * the DISTINCT source list (constant rows), never the corpus. */
  def p08(s: SparkSession, d: String): DataFrame = {
    val srcIdx = documents(s, d).select(col("source")).distinct()
      // constant-size frame (|sources| rows): the unpartitioned window
      // is a single task over ~dozens of rows, not a corpus sort
      .withColumn("idx", row_number().over(Window.orderBy("source")) - 1)
    val nSrc = srcIdx.agg(count(lit(1)).as("ns"))
    documents(s, d)
      .withColumn("r",
        row_number().over(Window.partitionBy("source").orderBy("doc_id")) - 1)
      .join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(nSrc))
      .select(
        (col("r").cast(LongType) * col("ns") + col("idx")).as("position"),
        col("doc_id"), col("source"))
      .orderBy("position")
  }

  val p08Sql: String =
    """WITH si AS (
      |  SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS idx
      |  FROM (SELECT DISTINCT source FROM documents)),
      |r AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS r
      |  FROM documents),
      |s AS (SELECT COUNT(DISTINCT source) AS ns FROM documents)
      |SELECT CAST(r.r * s.ns + si.idx AS BIGINT) AS position, r.doc_id, r.source
      |FROM r JOIN si USING (source) CROSS JOIN s
      |ORDER BY position""".stripMargin

  /** p09: DEDUP-ADJUSTED source mixing — p06's mixture-flattening
    * recomputed on the POST-dedup corpus: only d13's canonical keepers
    * (one survivor per near-dup cluster, consumed from the MATERIALIZED
    * cluster-label tables — the report-over-published-artifact contract
    * d09/d10/d13 follow, now composed into the p-suite) contribute to
    * the per-source token stats, the half-corpus budget, and the keep
    * predicate. The pipeline-ordering point this entry encodes: mixture
    * rates derived BEFORE dedup over-sample duplicate-heavy sources
    * (their pre-dedup token mass is inflated by copies), so production
    * pipelines re-derive rates from the deduped corpus — this is that
    * artifact, with before/after columns making the shift visible.
    *
    * Same exact wide-integer keep predicate as p06 (Decimal38/HUGEINT;
    * same per-doc hash bucket, so a doc's sampling fate changes ONLY
    * through the rate shift dedup causes). Scale shape: d13's label
    * consumption (keyed joins over slim rows) + p06's shape — per-source
    * map-side-combined aggs, a 1-row totals broadcast cross
    * (PlanAuditSpec-allow-listed), a broadcast rate table, row-local
    * keep. */
  def p09(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val keepers = graft.ops.Dedup.d13(s, d)
      .where(col("keep") === 1L).select("doc_id")
    // LIVE corpus (round 15): the mixture rates feed SAMPLING — a
    // deleted doc contributing token mass to its source's rate is the
    // takedown leak the round-14 verdict named. d13's keepers are
    // already live; the before/after token stats must cut the same
    // census residue or the report's "before" column re-admits them.
    val docs = documents(s, d)
      .where(!graft.ops.Dedup.d17TombstonePred)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
    val before = docs.groupBy("source").agg(
      big(count(lit(1))).as("docs_before"),
      big(sum(col("n_tok"))).as("tokens_before"))
    val kept = docs.join(keepers, "doc_id")
      .withColumn("hm",
        pmod(conv(substring(md5(concat(lit("mix:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType), lit(1000000L)))
      .select(col("source"), col("doc_id"), col("n_tok"), col("hm"))
    val stats = kept.groupBy("source").agg(sum(col("n_tok")).as("src_tokens"))
    val totals = stats.agg(sum(col("src_tokens")).as("all_tokens"),
      count(lit(1)).as("n_src"))
    val after = kept.join(broadcast(stats.crossJoin(broadcast(totals))), "source")
      .withColumn("keep",
        col("hm").cast(dec) * lit(2L) * col("n_src") * col("src_tokens") <
          col("all_tokens").cast(dec) * lit(1000000L))
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("docs_dedup"),
        big(sum(col("n_tok"))).as("tokens_dedup"),
        big(sum(when(col("keep"), 1L).otherwise(0L))).as("docs_sampled"),
        big(sum(when(col("keep"), col("n_tok")).otherwise(0L))).as("tokens_sampled"))
    // LEFT join from `before`: a source whose docs are ALL removed by
    // dedup must still appear in the before/after report (zeroed
    // dedup/sampled columns) — the inner join silently dropped exactly
    // the most duplicate-heavy case, the one this entry exists to show.
    // (Its docs can't re-enter the rate math: n_src/all_tokens are
    // derived from `stats`, which is keeper-only either way.)
    before.join(after, Seq("source"), "left")
      .select(col("source"), col("docs_before"), col("tokens_before"),
        coalesce(col("docs_dedup"), lit(0L)).as("docs_dedup"),
        coalesce(col("tokens_dedup"), lit(0L)).as("tokens_dedup"),
        coalesce(col("docs_sampled"), lit(0L)).as("docs_sampled"),
        coalesce(col("tokens_sampled"), lit(0L)).as("tokens_sampled"))
      .orderBy("source")
  }

  /** Oracle: d13's full canonical-keeper derivation (the shared
    * [[graft.ops.Dedup.ccCanonCtesOver]] text) + p06's HUGEINT mixing math
    * restricted to the keepers. */
  val p09Sql: String =
    s"""WITH RECURSIVE ${graft.ops.Dedup.LiveDocsCte},
      |${graft.ops.Dedup.ccCanonCtesOver("livedocs")},
      |keepers AS (
      |  SELECT s.doc_id FROM sized s JOIN canon c ON s.cluster_id = c.cluster_id
      |  WHERE s.doc_id = c.canonical_id),
      |docs AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % 1000000 AS hm
      |  FROM livedocs),
      |before AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_before,
      |    CAST(SUM(n_tok) AS BIGINT) AS tokens_before
      |  FROM docs GROUP BY source),
      |kept AS (SELECT d.* FROM docs d JOIN keepers k ON k.doc_id = d.doc_id),
      |stats AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens FROM kept GROUP BY source),
      |totals AS (
      |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_src FROM stats),
      |after AS (
      |  SELECT d.source,
      |    CAST(COUNT(*) AS BIGINT) AS docs_dedup,
      |    CAST(SUM(d.n_tok) AS BIGINT) AS tokens_dedup,
      |    CAST(SUM(CASE WHEN CAST(d.hm AS HUGEINT) * 2 * t.n_src * s.src_tokens
      |                       < CAST(1000000 AS HUGEINT) * t.all_tokens
      |              THEN 1 ELSE 0 END) AS BIGINT) AS docs_sampled,
      |    CAST(SUM(CASE WHEN CAST(d.hm AS HUGEINT) * 2 * t.n_src * s.src_tokens
      |                       < CAST(1000000 AS HUGEINT) * t.all_tokens
      |              THEN d.n_tok ELSE 0 END) AS BIGINT) AS tokens_sampled
      |  FROM kept d JOIN stats s ON s.source = d.source, totals t
      |  GROUP BY d.source)
      |SELECT b.source, b.docs_before, b.tokens_before,
      |  CAST(COALESCE(a.docs_dedup, 0) AS BIGINT) AS docs_dedup,
      |  CAST(COALESCE(a.tokens_dedup, 0) AS BIGINT) AS tokens_dedup,
      |  CAST(COALESCE(a.docs_sampled, 0) AS BIGINT) AS docs_sampled,
      |  CAST(COALESCE(a.tokens_sampled, 0) AS BIGINT) AS tokens_sampled
      |FROM before b LEFT JOIN after a ON a.source = b.source
      |ORDER BY b.source""".stripMargin

  /** p10: JSONL ROUND-TRIP — the interchange-format leg of the
    * pipeline suite. Training corpora arrive and ship as JSON Lines
    * (every open web-scrape release does), and until round 18 the
    * engine's batch surface was parquet-only. The entry WRITES the
    * documents table to a per-run JSONL directory (distributed,
    * partition-parallel) and READS it back through an EXPLICIT,
    * DECLARED schema — at 100 TB schema inference is a full extra pass
    * over the data, so a production JSONL read always declares — then
    * reports a per-source content digest: row count, id-residue sum
    * (numeric round-trip — doc_id REDUCED MOD 1e6 before summing,
    * round 19: a raw id sum wraps Spark's int64 at ~4e9 docs/source
    * while DuckDB's HUGEINT sum errors on the BIGINT cast, the exact
    * cross-engine divergence the residue pattern exists to prevent),
    * UTF-8 byte volume, and a content checksum — each doc's 48-bit md5
    * prefix reduced mod 1e6 the same way, so every BIGINT sum in the
    * digest stays exact on both engines out to ~10^12 docs per source.
    * The ORACLE computes the same digest from
    * the PARQUET table: any drift the round-trip introduces (escaping,
    * unicode, null handling, numeric coercion) breaks the gate hash —
    * the entry passes only if JSONL ingestion is LOSSLESS.
    *
    * Scale shape: one distributed write + one distributed scan, a
    * map-side-combined per-source aggregate; the run dir is allocated
    * by [[graft.streaming.Replay.runBase]] (round 19), whose throttled
    * sweep call makes the retention claim hold in a BATCH-ONLY session
    * too — before, the sweep fired only from replay entries, so a
    * session running only p10 accumulated corpus copies forever. */
  def p10(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val dir = graft.streaming.Replay.runBase(s, "p10")
    docs.write.json(dir)
    val back = s.read.schema(docs.schema).json(dir)
    back.groupBy("source").agg(
      big(count(lit(1))).as("n_docs"),
      big(sum(pmod(col("doc_id"), lit(1000000L)))).as("id_sum"),
      big(sum(expr("octet_length(text)"))).as("bytes"),
      big(sum(pmod(conv(substring(md5(col("text")), 1, 12), 16, 10)
        .cast(LongType), lit(1000000L)))).as("content_sum"))
      .orderBy("source")
  }

  /** Oracle over the PARQUET table — the digest the lossless JSONL
    * round-trip must reproduce (byte-based, the m01/m03 encode()
    * convention for non-ASCII agreement). Shared by s15 (the streamed
    * ingestion of the same drop format must reproduce it too). */
  val p10Sql: String =
    """SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(doc_id % 1000000) AS BIGINT) AS id_sum,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes,
      |  CAST(SUM(CAST(('0x' || substring(md5(text), 1, 12)) AS BIGINT) % 1000000) AS BIGINT) AS content_sum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** p11: the COMPOSED END-TO-END CORPUS BUILD — the artifact a data
    * team actually ships to the trainer, run as ONE pipeline over the
    * published artifact families, with a LINEAGE MANIFEST naming every
    * artifact consumed. Every stage exists and is individually gated;
    * this entry proves they COMPOSE — the property all the lifecycle
    * machinery (fingerprints, generations, retention, takedowns)
    * exists to guarantee. The chain, in pipeline order:
    *
    *  1. LIVE corpus: documents minus the tombstone census (every
    *     stage downstream is takedown-clean by construction);
    *  2. CLEAN (p01's predicate): >= 15 tokens, unique-token ratio
    *     >= 0.3; benchmark documents (doc_id < ContamBenchIds) leave
    *     the training stream here — the eval set is never trained on;
    *  3. REDACT (t14's kernel, [[TextAnalysis.redactTokens]] — the
    *     same transform t14 gates): PII placeholders, arity-preserving
    *     so token counts survive;
    *  4. DEDUP KEEP-LIST (d13 over the PUBLISHED live cluster labels —
    *     the artifact consumption, never a re-cluster): only each
    *     near-dup cluster's canonical survivor continues. The keep
    *     decision is raw-text-derived (the published labels' own
    *     contract), so redact-then-keep equals keep-then-redact;
    *  5. DECONTAMINATE (d06's shingle semantics on REDACTED text, both
    *     sides): any survivor sharing a word-3-gram with a benchmark
    *     doc is dropped. The bench side is tiny and BROADCAST, so the
    *     survivor shingle stream never shuffles — the exact join IS
    *     the scale shape here (d08's bloom exists for the shuffled
    *     case);
    *  6. MIX (p06/p09's exact wide-integer temperature flattening,
    *     rates derived from the POST-dedup post-decontamination corpus
    *     — the rate-shift ordering p09 demonstrates);
    *  7. PACK + SHUFFLE (p05/p04): epoch-0 salted-hash shard routing,
    *     per-shard deterministic order, offset packing into
    *     [[PackTokens]]-token bins.
    *
    * The final training-order artifact is WRITTEN (one row per shipped
    * doc: placement + redacted-content md5), the manifest is written
    * beside it (one row per consumed input: role, family kind,
    * fingerprint, path — Round19OpsSpec checks it against the
    * Materialize read ledger, and pins warm-run frugality: zero
    * publishes, published-artifact reads only), and the gate reads the
    * artifact back. Oracle: the SAME chain as one DuckDB CTE pipeline
    * over the shared stage texts (ccCanonCtesOver, redactListSql,
    * p06's HUGEINT predicate) — any composition bug between families
    * breaks the row hash.
    *
    * Scale shape: one corpus scan feeds clean+redact (row-local); the
    * keep-list is a keyed join against the published slim label table;
    * decontamination is a broadcast semi/anti join over survivor
    * shingles; mixing is two map-side-combined aggregates + broadcast
    * rate table; placement is p04/p05's pinned-exchange windows over
    * SLIM rows (the redacted text collapses to its md5 BEFORE the
    * placement shuffle — the wide column never rides a window
    * exchange). No collect, no all-pairs term, no kernel re-runs. */
  /** run dir of this JVM's most recent corpus build (p11 or p12) — the
    * manifest lives at `<lastBuildBase>/manifest` (spec hook; the gate
    * reads the artifact back through the returned DataFrame). */
  @volatile private[graft] var lastBuildBase: String = ""

  // ---- shared corpus-build stages (p11 full rebuild / p12 increment) —
  // ONE definition per stage so the two build modes cannot drift

  private def dec38 = DecimalType(38, 0)

  private def liveDocs(s: SparkSession, d: String) =
    documents(s, d).where(!graft.ops.Dedup.d17TombstonePred)

  /** clean (p01's predicate + benchmark exclusion) + redact (t14's
    * kernel, arity-preserving) over an arbitrary docs relation.
    * Pinned repartition BEFORE the CPU-dense split/redact/shingle work:
    * the corpus file is a single row group, so without it the whole
    * clean+redact pass (and the shingle explode above it) runs on ONE
    * core (the d06 trap; measured 3x ~1.8 s single-task stages at
    * sf0.01 — would be ~18 s each at sf0.1). */
  private def cleanRedacted(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .where(col("n_tok") >= 15 &&
        size(array_distinct(col("toks"))).cast(DoubleType) /
          col("n_tok").cast(DoubleType) >= 0.3 &&
        col("doc_id") >= graft.ops.Dedup.ContamBenchIds)
      .withColumn("red", graft.ops.TextAnalysis.redactTokens(col("toks")))
      .select(col("doc_id"), col("source"), col("n_tok"), col("red"))

  private def shingleOfRed = expr(
    s"transform(sequence(1, size(red) - ${graft.ops.Dedup.ShingleWords - 1}), " +
      s"i -> concat_ws(' ', slice(red, i, ${graft.ops.Dedup.ShingleWords})))")

  /** the benchmark's distinct REDACTED shingles (tiny — broadcast by
    * the decon join). */
  private def benchShingles(live: DataFrame): DataFrame =
    graft.core.Tables.spread(
      live.where(col("doc_id") < graft.ops.Dedup.ContamBenchIds), col("doc_id"))
      // pinned repartition (via spread) before the CPU-dense
      // redact+shingle explode, for the same single-row-group reason as
      // [[cleanRedacted]] — the OUTPUT is tiny (broadcast by the decon
      // join) but the redact pass itself otherwise runs on one core
      .withColumn("red", graft.ops.TextAnalysis.redactTokens(split(col("text"), " ")))
      .where(size(col("red")) >= graft.ops.Dedup.ShingleWords)
      .select(explode(array_distinct(shingleOfRed)).as("sh")).distinct()

  /** decontamination (d06 semantics on redacted shingles, bench side
    * broadcast) + collapse to the SLIM projection: the wide token
    * array becomes its content hash HERE, so mixing joins and the
    * placement windows shuffle slim rows only. */
  private def deconAgainstBench(kept: DataFrame, benchSh: DataFrame): DataFrame = {
    val keptSh = kept // n_tok >= 15 guarantees shingles exist
      .select(col("doc_id"), explode(array_distinct(shingleOfRed)).as("sh"))
    val contam = keptSh.join(broadcast(benchSh), "sh")
      .select("doc_id").distinct()
    kept.join(contam, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_tok"),
        md5(concat_ws(" ", col("red"))).as("redacted_md5"))
  }

  /** the per-doc mixing hash bucket ("mix:" salt, p06's) and the
    * epoch-0 placement hash ("epoch0:" salt, p04's) — a doc's sampling
    * fate and shuffle position are the same pure function of its id in
    * every build mode (full rebuild, increment). */
  private def mixHm = pmod(
    conv(substring(md5(concat(lit("mix:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
      .cast(LongType), lit(1000000L))
  private def epochH = conv(
    substring(md5(concat(lit("epoch0:"), col("doc_id").cast(StringType))), 1, 15), 16, 10)
    .cast(LongType)

  /** p06's exact wide-integer keep predicate over bound (hm, n_src,
    * src_tokens, all_tokens) columns. */
  private def mixKeep: Column =
    col("hm").cast(dec38) * lit(2L) * col("n_src") * col("src_tokens") <
      col("all_tokens").cast(dec38) * lit(1000000L)

  /** write the placement artifact + lineage manifest (+ any extra
    * build components, e.g. p12's admitted-arrival census) into a
    * leased, swept run dir; returns (run dir, artifact read-back
    * ordered). Callers must take the run dir from the RETURN VALUE for
    * anything in the data path — [[lastBuildBase]] is a spec/debug
    * hook only (a concurrent build on the same session moves it). */
  private def shipBuild(s: SparkSession, name: String, placed: DataFrame,
                        manifest: Seq[(String, String, String, String)],
                        extras: Seq[(String, DataFrame)] = Nil): (String, DataFrame) = {
    val base = graft.streaming.Replay.runBase(s, name)
    lastBuildBase = base
    placed.write.parquet(s"$base/train")
    extras.foreach { case (sub, df) => df.write.parquet(s"$base/$sub") }
    import s.implicits._
    manifest.toDF("role", "family", "fingerprint", "path")
      .coalesce(1).write.parquet(s"$base/manifest")
    (base, s.read.parquet(s"$base/train").orderBy("shard", "pos"))
  }

  /** p11's full placed-order derivation (stages 2–7), WITHOUT the
    * shipping — factored (round 20) so p13's published-placement
    * serve runs the IDENTICAL chain p11 ships: one definition, the
    * two consumers cannot drift. */
  private[graft] def p11Placed(s: SparkSession, d: String): DataFrame = {
    val live = liveDocs(s, d)
    // 2. clean + bench exclusion; 3. redact
    val cleanRed = cleanRedacted(s, live)
    // 4. keep-list consumption (published live labels; warm = one read)
    val keepers = graft.ops.Dedup.d13(s, d)
      .where(col("keep") === 1L).select("doc_id")
    val kept = cleanRed.join(keepers, "doc_id")
    // 5. decontamination on redacted shingles, bench side broadcast;
    // persisted SLIM: consumed twice (rate stats + the mixed stream),
    // so the clean/keep/decontaminate chain runs once (the harness's
    // cleanStorage releases it per entry)
    val decon = deconAgainstBench(kept, benchShingles(live))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 6. mixing rates from the post-dedup post-decon corpus (p06 math)
    val stats = decon.groupBy("source").agg(sum(col("n_tok")).as("src_tokens"))
    val totals = stats.agg(sum(col("src_tokens")).as("all_tokens"),
      count(lit(1)).as("n_src"))
    val mixed = decon.withColumn("hm", mixHm)
      .join(broadcast(stats.crossJoin(broadcast(totals))), "source")
      .where(mixKeep)
      .select(col("doc_id"), col("source"), col("n_tok"), col("redacted_md5"))
    // 7. epoch shuffle + offset packing (p04/p05's pinned exchange)
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    mixed
      .withColumn("h", epochH)
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards)).cast(LongType))
      .repartition(s.sparkContext.defaultParallelism, col("shard"))
      .withColumn("pos", row_number().over(w).cast(LongType))
      .withColumn("start_off",
        coalesce(sum(col("n_tok")).over(w) - col("n_tok"), lit(0L)))
      .select(col("shard"), col("pos"),
        (col("start_off") / PackTokens).cast(LongType).as("bin"),
        (col("start_off") % PackTokens).as("bin_off"),
        col("doc_id"), col("source"), col("n_tok"), col("redacted_md5"))
  }

  def p11(s: SparkSession, d: String): DataFrame = {
    val placed = p11Placed(s, d)
    val (labKind, labFp) = graft.ops.Dedup.liveLabelsArtifact(d)
    shipBuild(s, "p11", placed, Seq(
      ("published", labKind, labFp,
        graft.core.Materialize.tablePath(s, labKind, labFp)),
      ("input", "documents",
        graft.core.Materialize.fingerprint(d, "documents", "input", ""),
        s"$d/documents.parquet")))._2
  }

  /** Oracle: the whole composed chain as one CTE pipeline from raw
    * text — live corpus, clean, redact ([[graft.ops.TextAnalysis
    * .redactListSql]]), the d13 canonical keep derivation
    * ([[graft.ops.Dedup.ccCanonCtesOver]], shared verbatim), shingle
    * decontamination, the HUGEINT mixing predicate, and the
    * shard/bin placement windows. */
  val p11Sql: String = p11SqlOver("")

  /** p11's oracle chain with an optional WHERE over the `mixed` CTE —
    * "" yields p11Sql; p13 passes the takedown exclusion (excision
    * semantics: every doc's sampling fate and relative (h, doc_id)
    * order are frozen, only the taken-down rows leave, so filtering
    * `mixed` before the placement windows IS the repaired order). */
  private def p11SqlOver(placedFilter: String): String = {
    val benchIds = graft.ops.Dedup.ContamBenchIds
    val shw = graft.ops.Dedup.ShingleWords
    val shingleList =
      s"list_transform(generate_series(1, len(red) - ${shw - 1}), " +
        s"i -> array_to_string(list_slice(red, i, i + ${shw - 1}), ' '))"
    s"""WITH RECURSIVE ${graft.ops.Dedup.LiveDocsCte},
      |${graft.ops.Dedup.ccCanonCtesOver("livedocs")},
      |red AS (
      |  SELECT doc_id, source,
      |    ${graft.ops.TextAnalysis.redactListSql("text")} AS red,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio
      |  FROM livedocs),
      |kept AS (
      |  SELECT r.doc_id, r.source, r.red, r.n_tok
      |  FROM red r
      |  JOIN sized sz ON sz.doc_id = r.doc_id
      |  JOIN canon c ON sz.cluster_id = c.cluster_id AND r.doc_id = c.canonical_id
      |  WHERE r.n_tok >= 15 AND r.uniq_ratio >= 0.3 AND r.doc_id >= $benchIds),
      |bsh AS (
      |  SELECT DISTINCT unnest(list_distinct($shingleList)) AS sh
      |  FROM red WHERE doc_id < $benchIds AND len(red) >= $shw),
      |ksh AS (
      |  SELECT doc_id, unnest(list_distinct($shingleList)) AS sh FROM kept),
      |contam AS (SELECT DISTINCT k.doc_id FROM ksh k JOIN bsh b ON k.sh = b.sh),
      |decon AS (
      |  SELECT doc_id, source, n_tok, md5(array_to_string(red, ' ')) AS redacted_md5
      |  FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      |stats AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens FROM decon GROUP BY source),
      |totals AS (
      |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_src FROM stats),
      |mixed AS (
      |  SELECT dd.doc_id, dd.source, dd.n_tok, dd.redacted_md5,
      |    CAST(('0x' || substring(md5('epoch0:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM decon dd JOIN stats st ON st.source = dd.source, totals t
      |  WHERE CAST(CAST(('0x' || substring(md5('mix:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |          % 1000000 AS HUGEINT) * 2 * t.n_src * st.src_tokens
      |        < CAST(1000000 AS HUGEINT) * t.all_tokens),
      |placed AS (
      |  SELECT doc_id, source, n_tok, redacted_md5, h % $ShuffleShards AS shard,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShuffleShards
      |      ORDER BY h, doc_id) AS BIGINT) AS pos,
      |    COALESCE(SUM(n_tok) OVER (PARTITION BY h % $ShuffleShards ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) - n_tok AS start_off
      |  FROM mixed $placedFilter)
      |SELECT CAST(shard AS BIGINT) AS shard, pos,
      |  CAST(start_off // $PackTokens AS BIGINT) AS bin,
      |  CAST(start_off % $PackTokens AS BIGINT) AS bin_off,
      |  doc_id, source, n_tok, redacted_md5
      |FROM placed ORDER BY shard, pos""".stripMargin
  }

  /** p12: the INCREMENTAL corpus build — p11's composition contract on
    * the arrival axis: a production pipeline does not re-run the full
    * rebuild for a day of arrivals; the increment is ADMITTED at the
    * gate (d16's near-dup admission against the PUBLISHED band
    * artifact — the incremental analog of p11's cluster keep-list;
    * new docs have no cluster labels yet, by definition), cleaned,
    * redacted and decontaminated by the SAME shared stages, sampled at
    * the BASE build's mixing rates (rates are a property of the built
    * corpus, not of the increment — re-deriving them per increment
    * would churn every prior doc's sampling fate), and APPENDED to the
    * base placement: per shard, positions continue from the base
    * count and offsets from the base token total, so base ∪ increment
    * is one contiguous training order.
    *
    * Base = the standing corpus (live minus the day-1 arrival census),
    * built through clean → redact → decontaminate → mix and reduced to
    * per-shard (docs, tokens) totals; the base's doc-level near-dup
    * story is the ADMISSION GATE's job in this mode (the full-rebuild
    * keep-list is p11's axis) — the two entries deliberately test the
    * two composition axes a real pipeline alternates between. A doc's
    * mixing bucket and placement hash are the same pure function of
    * its id in both modes ([[mixHm]]/[[epochH]]), so an increment doc
    * lands exactly where the next full rebuild would put it within its
    * shard's appended region.
    *
    * Ships the increment artifact + a lineage manifest naming every
    * published artifact consumed: the admission gate's band artifacts
    * ([[graft.ops.Dedup.admissionArtifacts]] — the band table and, when
    * it exists, its collapse membership), the
    * two base-summary tables ([[p12BaseArtifacts]]), and the corpus
    * input. The RETURNED relation is the per-source build report
    * (n_arrivals / n_admitted / n_placed / tokens_placed / pos_sum /
    * bin_sum) rather than the placed rows: on a near-dup-saturated
    * corpus the admission gate truthfully rejects almost every arrival,
    * so the placed set can be legitimately empty and a row-level gate
    * would compare 0==0 vacuously — the report stays populated at any
    * scale and its pos_sum/bin_sum pin the offset-continued placement
    * arithmetic exactly. Oracle = the whole thing from raw text as one
    * CTE chain —
    * base stages (shared texts), d16's parameterized admission chain
    * ([[graft.ops.Dedup.admissionChainSql]], the same SQL d16/d18
    * instantiate), increment stages, the offset-continued placement
    * arithmetic, and the same per-source rollup.
    *
    * Scale shape: the base chain (clean/redact/decontaminate over the
    * standing ~90%) is the dominant cost of a naive incremental build,
    * so its two serving summaries — per-source mixing rates and
    * per-shard placement totals — are PUBLISHED once per (corpus,
    * census, code) fingerprint ([[p12BaseTables]]; one base-chain run
    * feeds both on the cold path) and a warm increment is
    * arrival-sized END TO END: admission is d16's audited
    * artifact-serve shape (arrival-sized signing vs the published slim
    * band table), the increment chain is arrival-sized throughout, and
    * the base-totals join onto the increment placement is a
    * ShuffleShards-row broadcast AFTER the window (the window's
    * exchange is pinned, p04's discipline). */
  def p12(s: SparkSession, d: String): DataFrame =
    // admission via the published band artifact (d16's own report —
    // ONE definition); the streaming counterpart (Replay.s16) feeds
    // the SAME build the ingest tier's drained admission outcome
    p12Over(s, d,
      graft.ops.Dedup.d16(s, d)
        .where(col("admit") === 1L)
        .select(col("new_doc_id").as("doc_id")),
      "p12")

  /** the incremental build over an arbitrary admitted-arrival id
    * relation — ONE definition for the nightly batch entry (p12,
    * admitted = d16's report) and the streaming-ingest composition
    * (s16, admitted = s14's drained report), so the two admission
    * tiers feed bit-identical builds. */
  private[graft] def p12Over(s: SparkSession, d: String,
                             admitted: DataFrame, name: String): DataFrame = {
    val mod = graft.ops.Dedup.IncrementalMod
    val rem = graft.ops.Dedup.IncrementalRem
    val live = liveDocs(s, d)
    // BASE: served from the published summaries (built once/fingerprint)
    val (bratesT, bshard) = p12BaseTables(s, d)
    val brates = broadcast(bratesT)
    val arrivals = live.where(col("doc_id") % mod === rem)
      .join(admitted, "doc_id")
    val idecon = deconAgainstBench(cleanRedacted(s, arrivals), benchShingles(live))
    // sampled at the BASE rates; an arrival from a source the base has
    // never seen passes whole (no rate exists to throttle it)
    val imix = idecon.withColumn("hm", mixHm)
      .join(brates, Seq("source"), "left")
      .where(col("src_tokens").isNull || mixKeep)
      .select(col("doc_id"), col("source"), col("n_tok"), col("redacted_md5"))
    // placement APPEND: positions/offsets continue the base's per-shard
    // totals (a ShuffleShards-row broadcast joined AFTER the pinned
    // window exchange)
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    val placed = imix
      .withColumn("h", epochH)
      .withColumn("shard", pmod(col("h"), lit(ShuffleShards)).cast(LongType))
      .repartition(s.sparkContext.defaultParallelism, col("shard"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .join(broadcast(bshard), Seq("shard"), "left")
      .withColumn("pos", coalesce(col("base_docs"), lit(0L)) + col("rn"))
      .withColumn("start_off",
        coalesce(col("base_tokens"), lit(0L)) + col("cum") - col("n_tok"))
      .select(col("shard"), col("pos"),
        (col("start_off") / PackTokens).cast(LongType).as("bin"),
        (col("start_off") % PackTokens).as("bin_off"),
        col("doc_id"), col("source"), col("n_tok"), col("redacted_md5"))
    val consumed = (graft.ops.Dedup.admissionArtifacts(s, d) ++
      p12BaseArtifacts(s, d)).map { case (k, fp) =>
      ("published", k, fp, graft.core.Materialize.tablePath(s, k, fp))
    }
    val (base, artifact) = shipBuild(s, name, placed, consumed :+
      (("input", "documents",
        graft.core.Materialize.fingerprint(d, "documents", "input", ""),
        s"$d/documents.parquet")),
      // the admitted-arrival census ships beside the placement — the
      // audit trail a production increment wants anyway, and it lets
      // the report below stay fully declarative (reading it back
      // instead of re-embedding d16's typed verify kernel in the
      // returned plan)
      extras = Seq(("admitted", arrivals.select("doc_id", "source"))))
    // GATE OUTPUT: the per-source BUILD REPORT, not the placed rows —
    // on a near-dup-saturated corpus (this testdata: hundreds of τ≥1/2
    // neighbors per doc) the admission gate truthfully rejects almost
    // every arrival (the next full rebuild would not keep them either:
    // their clusters already have standing canonicals), so the placed
    // row set can be legitimately EMPTY and a row-level gate would
    // vacuously compare 0==0. The report makes the admission outcome
    // and the placement arithmetic visible at any scale: pos_sum /
    // bin_sum pin the offset-continued append exactly (any position or
    // bin divergence breaks the sums), and the placed artifact itself
    // is spec-checked row-by-row via [[lastBuildBase]].
    val arrivalCensus = live.where(col("doc_id") % mod === rem)
      .groupBy("source").agg(big(count(lit(1))).as("n_arrivals"))
    val admittedBySrc = s.read.parquet(s"$base/admitted")
      .groupBy("source").agg(big(count(lit(1))).as("n_admitted"))
    val placedBySrc = artifact.groupBy("source").agg(
      big(count(lit(1))).as("n_placed"),
      big(sum(col("n_tok"))).as("tokens_placed"),
      big(sum(col("pos"))).as("pos_sum"),
      big(sum(col("bin"))).as("bin_sum"))
    arrivalCensus
      .join(admittedBySrc, Seq("source"), "left")
      .join(placedBySrc, Seq("source"), "left")
      .na.fill(0L, Seq("n_admitted", "n_placed", "tokens_placed", "pos_sum", "bin_sum"))
      .orderBy("source")
  }

  /** code identity of the corpus-build stage definitions — any edit to
    * the clean/redact/decontaminate/mix/placement kernels (or the
    * shared TextAnalysis/Dedup code they call into) re-keys the
    * published base summaries. */
  private lazy val pipelineCodeSalt: String =
    graft.core.Materialize.codeSalt(Pipeline.getClass,
      graft.ops.TextAnalysis.getClass, graft.ops.Dedup.getClass)

  /** fingerprint of the published BASE-build summaries: corpus
    * identity × the census split × the placement sharding × code. */
  private[graft] def p12BaseFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"corpusbase-m${graft.ops.Dedup.IncrementalMod}" +
        s"-a${graft.ops.Dedup.IncrementalRem}-sh$ShuffleShards",
      pipelineCodeSalt)

  /** (family kind, fingerprint) of the two base-summary artifacts —
    * the lineage identities p12 declares for its rate/placement
    * consumption: per-source mixing rates and per-shard totals. */
  private[graft] def p12BaseArtifacts(s: SparkSession, d: String): Seq[(String, String)] = {
    val fp = p12BaseFingerprint(s, d)
    Seq((graft.core.Materialize.scopedKind("corpusbase-rates", d), fp),
      (graft.core.Materialize.scopedKind("corpusbase-shards", d), fp))
  }

  /** serve (or cold-build) the base summaries — (per-source rates,
    * per-shard totals). The cold path runs the base chain ONCE (the
    * persisted slim decon projection feeds both publishes); every warm
    * increment reads two slim published tables instead of re-running
    * clean/redact/decontaminate over the standing corpus. */
  private[graft] def p12BaseTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val M = graft.core.Materialize
    val fp = p12BaseFingerprint(s, d)
    val Seq((rk, _), (pk, _)) = p12BaseArtifacts(s, d)
    if (!M.exists(s, rk, fp) || !M.exists(s, pk, fp)) {
      val mod = graft.ops.Dedup.IncrementalMod
      val rem = graft.ops.Dedup.IncrementalRem
      val live = liveDocs(s, d)
      val bdecon = deconAgainstBench(
        cleanRedacted(s, live.where(col("doc_id") % mod =!= rem)),
        benchShingles(live))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bstats = bdecon.groupBy("source").agg(sum(col("n_tok")).as("src_tokens"))
      val btotals = bstats.agg(sum(col("src_tokens")).as("all_tokens"),
        count(lit(1)).as("n_src"))
      M.publish(s, rk, fp)(bstats.crossJoin(broadcast(btotals)))
      val rates = broadcast(M.readTable(s, rk, fp))
      M.publish(s, pk, fp)(
        bdecon.withColumn("hm", mixHm)
          .join(rates, "source").where(mixKeep)
          .withColumn("shard", pmod(epochH, lit(ShuffleShards)).cast(LongType))
          .groupBy("shard").agg(
            count(lit(1)).as("base_docs"), sum(col("n_tok")).as("base_tokens")))
      bdecon.unpersist(blocking = false)
      // retention: one serving generation per corpus+census+code
      M.sweepKeep(s, rk, Set(fp))
      M.sweepKeep(s, pk, Set(fp))
    }
    (M.readTable(s, rk, fp), M.readTable(s, pk, fp))
  }

  /** per-shard (docs, tokens) totals of p12's BASE build — the
    * published summary table, exposed so the continuity spec can
    * assert the increment's positions start exactly one past a base
    * count the increment itself never recomputed. */
  private[graft] def p12BaseShardTotals(s: SparkSession, d: String): DataFrame =
    p12BaseTables(s, d)._2

  /** Oracle: base chain + d16's admission chain + increment chain +
    * offset-continued placement, all from raw text. */
  val p12Sql: String = {
    val mod = graft.ops.Dedup.IncrementalMod
    val rem = graft.ops.Dedup.IncrementalRem
    val benchIds = graft.ops.Dedup.ContamBenchIds
    val shw = graft.ops.Dedup.ShingleWords
    val shingleList =
      s"list_transform(generate_series(1, len(red) - ${shw - 1}), " +
        s"i -> array_to_string(list_slice(red, i, i + ${shw - 1}), ' '))"
    def stage(p: String, docsRel: String): String =
      s"""${p}clean AS (
        |  SELECT r.doc_id, r.source, r.red, r.n_tok
        |  FROM red r JOIN $docsRel dd ON dd.doc_id = r.doc_id
        |  WHERE r.n_tok >= 15 AND r.uniq_ratio >= 0.3 AND r.doc_id >= $benchIds),
        |${p}ksh AS (
        |  SELECT doc_id, unnest(list_distinct($shingleList)) AS sh FROM ${p}clean),
        |${p}contam AS (SELECT DISTINCT k.doc_id FROM ${p}ksh k JOIN bsh b ON k.sh = b.sh),
        |${p}decon AS (
        |  SELECT doc_id, source, n_tok, md5(array_to_string(red, ' ')) AS redacted_md5
        |  FROM ${p}clean WHERE doc_id NOT IN (SELECT doc_id FROM ${p}contam))""".stripMargin
    s"""WITH ${graft.ops.Dedup.LiveDocsCte},
      |red AS (
      |  SELECT doc_id, source,
      |    ${graft.ops.TextAnalysis.redactListSql("text")} AS red,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_ratio
      |  FROM livedocs),
      |bsh AS (
      |  SELECT DISTINCT unnest(list_distinct($shingleList)) AS sh
      |  FROM red WHERE doc_id < $benchIds AND len(red) >= $shw),
      |sdocs AS (SELECT * FROM livedocs WHERE doc_id % $mod <> $rem),
      |${stage("b", "sdocs")},
      |bstats AS (
      |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens FROM bdecon GROUP BY source),
      |btotals AS (
      |  SELECT CAST(SUM(src_tokens) AS BIGINT) AS all_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_src FROM bstats),
      |bshard AS (
      |  SELECT CAST(('0x' || substring(md5('epoch0:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |      % $ShuffleShards AS shard,
      |    CAST(COUNT(*) AS BIGINT) AS base_docs,
      |    CAST(SUM(dd.n_tok) AS BIGINT) AS base_tokens
      |  FROM bdecon dd JOIN bstats st ON st.source = dd.source, btotals t
      |  WHERE CAST(CAST(('0x' || substring(md5('mix:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |          % 1000000 AS HUGEINT) * 2 * t.n_src * st.src_tokens
      |        < CAST(1000000 AS HUGEINT) * t.all_tokens
      |  GROUP BY 1),
      |ndocs AS (SELECT doc_id, text FROM livedocs WHERE doc_id % $mod = $rem),
      |cdocs AS (SELECT doc_id, text FROM sdocs),
      |${graft.ops.Dedup.admissionChainSql("n", "c")},
      |admdocs AS (
      |  SELECT doc_id FROM ndocs
      |  WHERE doc_id NOT IN (SELECT ni FROM npairs)),
      |${stage("i", "admdocs")},
      |imix AS (
      |  SELECT dd.doc_id, dd.source, dd.n_tok, dd.redacted_md5,
      |    CAST(('0x' || substring(md5('epoch0:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM idecon dd LEFT JOIN bstats st ON st.source = dd.source, btotals t
      |  WHERE st.src_tokens IS NULL
      |     OR CAST(CAST(('0x' || substring(md5('mix:' || CAST(dd.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |          % 1000000 AS HUGEINT) * 2 * t.n_src * st.src_tokens
      |        < CAST(1000000 AS HUGEINT) * t.all_tokens),
      |iplace AS (
      |  SELECT doc_id, source, n_tok, redacted_md5, h % $ShuffleShards AS shard,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShuffleShards
      |      ORDER BY h, doc_id) AS BIGINT) AS rn,
      |    COALESCE(SUM(n_tok) OVER (PARTITION BY h % $ShuffleShards ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cum
      |  FROM imix),
      |placedrows AS (
      |  SELECT ip.source, ip.n_tok,
      |    COALESCE(bs.base_docs, 0) + ip.rn AS pos,
      |    CAST((COALESCE(bs.base_tokens, 0) + ip.cum - ip.n_tok) // $PackTokens AS BIGINT) AS bin
      |  FROM iplace ip LEFT JOIN bshard bs ON bs.shard = ip.shard),
      |arrsrc AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_arrivals
      |  FROM livedocs WHERE doc_id % $mod = $rem GROUP BY source),
      |admsrc AS (
      |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_admitted
      |  FROM admdocs a JOIN livedocs d ON d.doc_id = a.doc_id GROUP BY 1),
      |plsrc AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_placed,
      |    CAST(SUM(n_tok) AS BIGINT) AS tokens_placed,
      |    CAST(SUM(pos) AS BIGINT) AS pos_sum,
      |    CAST(SUM(bin) AS BIGINT) AS bin_sum
      |  FROM placedrows GROUP BY source)
      |SELECT a.source, a.n_arrivals,
      |  COALESCE(m.n_admitted, 0) AS n_admitted,
      |  COALESCE(p.n_placed, 0) AS n_placed,
      |  COALESCE(p.tokens_placed, 0) AS tokens_placed,
      |  COALESCE(p.pos_sum, 0) AS pos_sum,
      |  COALESCE(p.bin_sum, 0) AS bin_sum
      |FROM arrsrc a LEFT JOIN admsrc m ON m.source = a.source
      |  LEFT JOIN plsrc p ON p.source = a.source
      |ORDER BY a.source""".stripMargin
  }

  // ---- p13: PLACEMENT-LEVEL DELETION (round-19 verdict gap 2 / next
  // item 1): the one lifecycle cell the deletion matrix didn't cover —
  // a takedown of a doc ALREADY PLACED in a shipped training order.

  /** residue class of the takedown feed over the SHIPPED order —
    * day-2 takedown requests for docs p11 already placed. Disjoint
    * from EVERY other lifecycle residue (7 = day-1 arrivals, 3 =
    * pre-build tombstones, 9 = day-2 appends, 5 = d20's day-3 chain
    * appends — the collision the round-20 self-review caught: 5 would
    * have conflated 'newly appended on day 3' with 'taken down'), so
    * the five lifecycle axes stay independently testable on one
    * corpus. Bench ids (< [[graft.ops.Dedup.ContamBenchIds]]) in this
    * residue are never placed, so the feed's inner join makes them
    * no-ops by construction. */
  val TakedownRem = 1L

  /** (family kind, fingerprint) of the PUBLISHED full placement — the
    * shipped training order as a serveable artifact (p11's placed
    * rows land in a per-run dir; the repair tier needs a durable,
    * lineage-keyed copy to consume, so it is published once per
    * (corpus, sharding, code) like every other served kernel). */
  private[graft] def placementArtifact(s: SparkSession, d: String): (String, String) =
    (graft.core.Materialize.scopedKind("placement-full", d),
      graft.core.Materialize.fingerprint(d, "documents",
        s"placement-sh$ShuffleShards-pk$PackTokens", pipelineCodeSalt))

  /** serve (or cold-build) the published placement — [[p11Placed]]'s
    * chain run ONCE per fingerprint; every repair reads the table. */
  private[graft] def placementTable(s: SparkSession, d: String): DataFrame = {
    val M = graft.core.Materialize
    val (k, fp) = placementArtifact(s, d)
    if (!M.exists(s, k, fp)) {
      M.publish(s, k, fp)(p11Placed(s, d))
      M.sweepKeep(s, k, Set(fp))
    }
    M.readTable(s, k, fp)
  }

  /** shard-local excision by BROADCAST CORRECTION — the arrival-sized
    * repair plan: each survivor's new position/offset is its old one
    * minus the count/token-mass of taken-down rows BEFORE it in its
    * shard, computed against a broadcast per-shard array of the
    * taken-down (pos, n_tok) pairs. NO exchange at all: each placement
    * partition corrects locally (the scan of the slim placement is the
    * whole cost — never the corpus text, never a kernel re-run), which
    * is the shape a 100 TB takedown of a handful of docs wants.
    * `survivors` = placement minus the takedown rows; `hit` = the
    * taken-down rows' (shard, pos, n_tok). */
  private[graft] def exciseBroadcast(survivors: DataFrame, hit: DataFrame): DataFrame = {
    val excByShard = hit.groupBy("shard")
      .agg(collect_list(struct(col("pos"), col("n_tok"))).as("exc"))
    val before = filter(col("exc"), e => e("pos") < col("pos"))
    survivors.join(broadcast(excByShard), Seq("shard"), "left")
      .withColumn("p_drop",
        coalesce(size(before).cast(LongType), lit(0L)))
      .withColumn("t_drop",
        coalesce(aggregate(before, lit(0L), (acc, e) => acc + e("n_tok")), lit(0L)))
      .withColumn("new_off",
        col("bin") * PackTokens + col("bin_off") - col("t_drop"))
      .select(col("shard"), (col("pos") - col("p_drop")).as("pos"),
        (col("new_off") / PackTokens).cast(LongType).as("bin"),
        (col("new_off") % PackTokens).as("bin_off"),
        col("doc_id"), col("source"), col("n_tok"), col("redacted_md5"))
  }

  /** p13: the ARRIVAL-SIZED placement repair. Semantics are EXCISION,
    * deliberately: a takedown of a shipped training order removes the
    * taken-down rows and closes the gaps (per shard: positions
    * re-rank, offsets re-accumulate, bins re-derive — a doc whose
    * preceding token mass shrank can cross a pack-bin boundary, and
    * the repair must move it), while every OTHER doc's sampling fate,
    * keep-list fate and relative order stay FROZEN — the same
    * churn-avoidance contract p12 states for its base rates:
    * re-deriving mixing rates or cluster canonicals from the shrunken
    * corpus would flip sampling/keep decisions for docs nobody took
    * down, which a shipped-order repair must never do (that churn is
    * what the next FULL rebuild is for). Consequently repair ==
    * placement-stage rebuild over (mixed minus takedown) EXACTLY —
    * not just on planted corpora — which is what the oracle replays
    * and Round20OpsSpec pins against a windowed re-rank and a
    * plain-Scala model across a pack-bin-crossing takedown.
    *
    * The repair consumes ONLY the published placement (slim rows) and
    * the id-only takedown feed: one doc_id-pruned corpus scan for the
    * feed, one anti-join + correction over the placement, zero corpus
    * text, zero kernel re-runs, zero windows.
    * Ships the repaired order + lineage manifest like every build. */
  def p13(s: SparkSession, d: String): DataFrame =
    p13Over(s, d,
      documents(s, d).select(col("doc_id"))
        .where(col("doc_id") % graft.ops.Dedup.IncrementalMod === TakedownRem),
      "p13")

  /** the repair over an arbitrary takedown-id relation — ONE definition
    * for the nightly census entry (p13) and the streamed-feed
    * composition (s18, takedown = the drained event feed), mirroring
    * d17Over/a16Over: the placement tier serves the same liveness
    * whichever axis the deletion arrives on. */
  private[graft] def p13Over(s: SparkSession, d: String, feed: DataFrame,
                             name: String): DataFrame = {
    val M = graft.core.Materialize
    val placement = placementTable(s, d)
    val hit = placement.join(feed, "doc_id")
      .select(col("shard"), col("pos"), col("n_tok"))
    val survivors = placement.join(feed, Seq("doc_id"), "left_anti")
    val (pk, pfp) = placementArtifact(s, d)
    shipBuild(s, name, exciseBroadcast(survivors, hit), Seq(
      ("published", pk, pfp, M.tablePath(s, pk, pfp)),
      ("input", "documents",
        M.fingerprint(d, "documents", s"takedown-feed-r$TakedownRem", ""),
        s"$d/documents.parquet")))._2
  }

  /** Oracle: p11's full chain with the takedown excluded at the
    * placement stage — excision freezes sampling fates and relative
    * order, so filtering `mixed` before the placement windows IS the
    * repaired shipped order. */
  val p13Sql: String = p11SqlOver(
    s"WHERE doc_id % ${graft.ops.Dedup.IncrementalMod} <> $TakedownRem")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p13_placement_takedown" -> p13 _,
    "p12_incremental_build" -> p12 _,
    "p11_corpus_build" -> p11 _,
    "p10_jsonl_roundtrip" -> p10 _,
    "p09_dedup_adjusted_mix" -> p09 _,
    "p08_source_interleave" -> p08 _,
    "p07_chunk_sliding" -> p07 _,
    "p01_clean_corpus" -> p01 _,
    "p02_stratified_sample" -> p02 _,
    "p03_split_assign" -> p03 _,
    "p04_epoch_shuffle" -> p04 _,
    "p05_sequence_pack" -> p05 _,
    "p06_source_mix" -> p06 _)
  val oracle: Map[String, String] = Map(
    "p13_placement_takedown" -> p13Sql,
    "p12_incremental_build" -> p12Sql,
    "p11_corpus_build" -> p11Sql,
    "p10_jsonl_roundtrip" -> p10Sql,
    "p09_dedup_adjusted_mix" -> p09Sql,
    "p08_source_interleave" -> p08Sql,
    "p07_chunk_sliding" -> p07Sql,
    "p01_clean_corpus" -> p01Sql,
    "p02_stratified_sample" -> p02Sql,
    "p03_split_assign" -> p03Sql,
    "p04_epoch_shuffle" -> p04Sql,
    "p05_sequence_pack" -> p05Sql,
    "p06_source_mix" -> p06Sql)
}
