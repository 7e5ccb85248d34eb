package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._

/** Text-analysis operators for training-data pipelines: language ID
  * (lexicon-overlap heuristic), quality scoring (length/stopword/token
  * shape ratios), token counting (whitespace + regex), and document
  * fingerprinting (rolling polynomial hash).
  *
  * All scores are int/int double divisions or exact integer arithmetic —
  * bit-identical across Spark and DuckDB.
  */
object TextAnalysis {

  /** tiny per-language lexicons for the n-gram/stopword heuristic. The
    * corpus vocabulary is synthetic, so real stopwords appear only for
    * 'en'; other languages fall back to 'und' below the threshold —
    * which is the honest behavior of a lexicon scorer on this data. */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "des", "et"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** t01: predicted language = arg-max lexicon-hit ratio (ties broken by
    * language code; below 5% -> 'und'). */
  def t01(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok"),
        Lexicons.map { case (lang, words) =>
          sum(when(col("w").isin(words: _*), 1L).otherwise(0L)).as(s"hits_$lang")
        }: _*)
    val scored = Lexicons.foldLeft(toks) { case (df, (lang, _)) =>
      df.withColumn(s"score_$lang",
        col(s"hits_$lang").cast(DoubleType) / col("n_tok").cast(DoubleType))
    }
    val best = Lexicons.map { case (lang, _) =>
      struct(col(s"score_$lang").as("score"), lit(lang).as("lang"))
    }
    scored
      .withColumn("best", sort_array(array(best: _*), asc = false).getItem(0))
      .select(col("doc_id"),
        when(col("best.score") >= 0.05, col("best.lang")).otherwise(lit("und")).as("pred_lang"),
        col("best.score").as("lang_score"))
      .orderBy("doc_id")
  }

  val t01Sql: String = {
    val hitCols = Lexicons.map { case (lang, words) =>
      val set = words.map(w => s"'$w'").mkString(", ")
      s"SUM(CASE WHEN w IN ($set) THEN 1 ELSE 0 END) AS hits_$lang"
    }.mkString(",\n    ")
    val structs = Lexicons.map { case (lang, _) =>
      s"{'score': CAST(hits_$lang AS DOUBLE)/CAST(n_tok AS DOUBLE), 'lang': '$lang'}"
    }.mkString(", ")
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_tok,
      |    $hitCols
      |  FROM toks GROUP BY doc_id),
      |best AS (
      |  SELECT doc_id,
      |    list_reverse_sort([$structs])[1] AS b
      |  FROM agg)
      |SELECT doc_id,
      |  CASE WHEN b.score >= 0.05 THEN b.lang ELSE 'und' END AS pred_lang,
      |  b.score AS lang_score
      |FROM best ORDER BY doc_id""".stripMargin
  }

  /** t02: quality scoring — length, token stats, stopword ratio, digit
    * ratio; composite score as exact ratio arithmetic. */
  def t02(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to")
    documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast(LongType))
      .withColumn("n_uniq", size(array_distinct(col("toks"))).cast(LongType))
      .withColumn("n_stop", size(filter(col("toks"), t => t.isin(stop: _*))).cast(LongType))
      .withColumn("n_digit_tok",
        size(filter(col("toks"), t => t.rlike("^[0-9]+$"))).cast(LongType))
      .withColumn("len_chars", length(col("text")).cast(LongType))
      .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tok").cast(DoubleType))
      .withColumn("uniq_ratio", col("n_uniq").cast(DoubleType) / col("n_tok").cast(DoubleType))
      .withColumn("avg_tok_len",
        (col("len_chars") - (col("n_tok") - 1)).cast(DoubleType) / col("n_tok").cast(DoubleType))
      .withColumn("quality_ok",
        col("n_tok") >= 15 && col("uniq_ratio") >= 0.3 && col("n_digit_tok") === 0)
      .select(col("doc_id"), col("n_tok"), col("n_uniq"), col("n_stop"),
        col("len_chars"), col("stop_ratio"), col("uniq_ratio"),
        col("avg_tok_len"), col("quality_ok"))
      .orderBy("doc_id")
  }

  val t02Sql: String =
    """SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tok,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
      |  CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS BIGINT) AS n_stop,
      |  CAST(length(text) AS BIGINT) AS len_chars,
      |  CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
      |    / CAST(len(toks) AS DOUBLE) AS stop_ratio,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
      |  CAST(length(text) - (len(toks) - 1) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_tok_len,
      |  (len(toks) >= 15
      |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.3
      |    AND len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) = 0) AS quality_ok
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** t03: token counting — whitespace split, BPE-ish regex pieces,
    * distinct tokens, per-source totals. */
  def t03(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_ws_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("n_re_tok", regexp_count(col("text"), lit("[a-z]+|[0-9]+")).cast(LongType))
      .withColumn("n_uniq_tok", size(array_distinct(split(col("text"), " "))).cast(LongType))
      .groupBy("source")
      .agg(big(count(lit(1))).as("n_docs"),
        big(sum(col("n_ws_tok"))).as("total_ws_tokens"),
        big(sum(col("n_re_tok"))).as("total_re_tokens"),
        big(sum(col("n_uniq_tok"))).as("total_uniq_tokens"))
      .orderBy("source")

  val t03Sql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS total_re_tokens,
      |  CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS total_uniq_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** t04: rolling polynomial fingerprint (h = h*31 + code mod 1e9+7)
    * over the raw characters — byte-identical across engines. */
  def t04(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("fingerprint",
        expr("aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)"))
      .groupBy("fingerprint")
      .agg(big(count(lit(1))).as("n_docs"), big(min(col("doc_id"))).as("min_doc_id"))
      .orderBy("min_doc_id")
      .limit(100)

  val t04Sql: String =
    """SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
      |FROM (SELECT doc_id,
      |        list_reduce(
      |          list_prepend(CAST(0 AS BIGINT),
      |            list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |          (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
      |      FROM documents)
      |GROUP BY fingerprint ORDER BY min_doc_id LIMIT 100""".stripMargin

  /** t05: corpus token-length histogram — the length-distribution
    * profile every curation run reports (sequence-length planning,
    * truncation-rate estimates). Bucketed (10-token bins) so the whole
    * profile is one partial-agg-friendly groupBy. */
  def t05(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .withColumn("bucket_start", (col("n_tok") - pmod(col("n_tok"), lit(10L))))
      .groupBy("bucket_start")
      .agg(
        big(count(lit(1))).as("n_docs"),
        big(sum(col("n_tok"))).as("sum_tokens"),
        big(min(col("n_tok"))).as("min_tokens"),
        big(max(col("n_tok"))).as("max_tokens"))
      .orderBy("bucket_start")

  val t05Sql: String =
    """SELECT bucket_start,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
      |  CAST(MAX(n_tok) AS BIGINT) AS max_tokens
      |FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |        CAST(len(string_split(text, ' ')) AS BIGINT)
      |          - CAST(len(string_split(text, ' ')) AS BIGINT) % 10 AS bucket_start
      |      FROM documents)
      |GROUP BY bucket_start ORDER BY bucket_start""".stripMargin

  /** t06: repetition-rule quality filters (the Gopher/C4 family): per
    * source, how many documents trip each repetition rule —
    *  - rep_word: duplicated tokens exceed 20% of all tokens;
    *  - rep_2gram: duplicated 2-grams exceed 10% of all 2-grams (the
    *    n-gram rules use tighter thresholds than the word rule, as in
    *    the published rule sets);
    *  - top_word: the single most frequent token exceeds 20%.
    * Thresholds compare as exact INTEGER cross-multiplications
    * ((total - distinct) * 5 > total), so no float threshold edge can
    * diverge between engines. Token stats come from one explode +
    * two-level aggregation (groupBy (doc, w) then doc) — the shuffles
    * are on keys, max/sum partial-aggregate map-side. */
  def t06(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val wordDoc = tok.groupBy("source", "doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("source", "doc_id")
      .agg(sum(col("c")).as("total"), count(lit(1)).as("uniq"), max(col("c")).as("maxc"))
    val grams = documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))")).as("g"))
    val gramDoc = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n2"), count(lit(1)).as("d2"))
    wordDoc.join(gramDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n2", "d2"))
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("docs"),
        big(sum(when((col("total") - col("uniq")) * 5 > col("total"), 1L).otherwise(0L)))
          .as("rep_word_docs"),
        big(sum(when((col("n2") - col("d2")) * 10 > col("n2"), 1L).otherwise(0L)))
          .as("rep_2gram_docs"),
        big(sum(when(col("maxc") * 5 > col("total"), 1L).otherwise(0L)))
          .as("top_word_docs"))
      .orderBy("source")
  }

  val t06Sql: String =
    """WITH tok AS (
      |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |wd AS (
      |  SELECT source, doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
      |ws AS (
      |  SELECT source, doc_id, SUM(c) AS total, COUNT(*) AS uniq, MAX(c) AS maxc
      |  FROM wd GROUP BY 1, 2),
      |gr AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(2, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i-1] || ' ' || string_split(text, ' ')[i])) AS g
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |gd AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY 1, 2),
      |gs AS (SELECT doc_id, SUM(c) AS n2, COUNT(*) AS d2 FROM gd GROUP BY 1)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(CASE WHEN (total - uniq) * 5 > total THEN 1 ELSE 0 END) AS BIGINT) AS rep_word_docs,
      |  CAST(SUM(CASE WHEN (COALESCE(n2, 0) - COALESCE(d2, 0)) * 10 > COALESCE(n2, 0)
      |       THEN 1 ELSE 0 END) AS BIGINT) AS rep_2gram_docs,
      |  CAST(SUM(CASE WHEN maxc * 5 > total THEN 1 ELSE 0 END) AS BIGINT) AS top_word_docs
      |FROM ws LEFT JOIN gs USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  /** t07: web-noise / boilerplate signals per source — the C4-family
    * pre-filters that strip scraped-web artifacts before training: URL
    * carriers, email carriers, lorem-ipsum boilerplate, and the clean
    * remainder ratio. Flags are substring/anchored-token predicates that
    * evaluate identically on both engines (contains == instr; the email
    * token regex is fully anchored, so Java partial-match rlike ==
    * DuckDB regexp_matches). Row-local signals, one per-source
    * aggregation — embarrassingly parallel at any scale. */
  def t07(s: SparkSession, d: String): DataFrame = {
    val emailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
    documents(s, d)
      .withColumn("lt", lower(col("text")))
      .withColumn("has_url",
        col("lt").contains("http://") || col("lt").contains("https://") ||
          col("lt").contains("www."))
      .withColumn("has_email",
        exists(split(col("text"), " "), tk => tk.rlike(emailRe)))
      .withColumn("has_lorem", col("lt").contains("lorem ipsum"))
      .withColumn("flagged", col("has_url") || col("has_email") || col("has_lorem"))
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("docs_total"),
        big(sum(when(col("has_url"), 1L).otherwise(0L))).as("url_docs"),
        big(sum(when(col("has_email"), 1L).otherwise(0L))).as("email_docs"),
        big(sum(when(col("has_lorem"), 1L).otherwise(0L))).as("lorem_docs"),
        big(sum(when(col("flagged"), 1L).otherwise(0L))).as("flagged_docs"),
        (big(sum(when(!col("flagged"), 1L).otherwise(0L))).cast(DoubleType) /
          big(count(lit(1))).cast(DoubleType)).as("clean_ratio"))
      .orderBy("source")
  }

  val t07Sql: String =
    """WITH f AS (
      |  SELECT source,
      |    (contains(lower(text), 'http://') OR contains(lower(text), 'https://')
      |      OR contains(lower(text), 'www.')) AS has_url,
      |    len(list_filter(string_split(text, ' '),
      |      tk -> regexp_matches(tk, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$'))) > 0 AS has_email,
      |    contains(lower(text), 'lorem ipsum') AS has_lorem
      |  FROM documents)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS docs_total,
      |  CAST(SUM(CASE WHEN has_url THEN 1 ELSE 0 END) AS BIGINT) AS url_docs,
      |  CAST(SUM(CASE WHEN has_email THEN 1 ELSE 0 END) AS BIGINT) AS email_docs,
      |  CAST(SUM(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS lorem_docs,
      |  CAST(SUM(CASE WHEN has_url OR has_email OR has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
      |  CAST(SUM(CASE WHEN NOT (has_url OR has_email OR has_lorem) THEN 1 ELSE 0 END) AS BIGINT)
      |    / CAST(COUNT(*) AS DOUBLE) AS clean_ratio
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** t08: tf-idf-style salient terms per source — the "what is this
    * slice of the corpus about" report a data-mixing team runs before
    * weighting sources. Classic idf uses ln(N/df); a logarithm is
    * library-rounded differently across engines, so the score here is
    * the RATIONAL rarity weight tf * N / df computed as one
    * (int*int)/int double division — same ordering as tf*ln-idf for
    * fixed tf (both monotone in N/df), and bit-identical cross-engine.
    * Shape at 100 TB: one explode + two key'd aggregations (term
    * frequencies partial-aggregate map-side), a broadcast of the
    * |vocab|-sized df table, and a per-source top-5 window. */
  def t08(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(col("source"),
      explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nSrc = documents(s, d).agg(countDistinct(col("source")).as("n_src"))
    val w = Window.partitionBy("source").orderBy(col("score").desc, col("term"))
    tf.join(broadcast(df), "term")
      .join(broadcast(nSrc), lit(true))
      .withColumn("score",
        (col("tf") * col("n_src")).cast(DoubleType) / col("df").cast(DoubleType))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("source"), col("rank").cast(LongType).as("rank"), col("term"),
        big(col("tf")).as("tf"), big(col("df")).as("df"), col("score"))
      .orderBy("source", "rank")
  }

  val t08Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |ns AS (SELECT COUNT(DISTINCT source) AS n_src FROM documents),
      |scored AS (
      |  SELECT source, term, tf, df,
      |    CAST(tf * n_src AS DOUBLE) / CAST(df AS DOUBLE) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN ns),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT source, CAST(rank AS BIGINT) AS rank, term,
      |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
      |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin

  /** t09: per-source LEXICAL DIVERSITY report — the corpus-quality
    * signals a data team reads before weighting a source: token volume,
    * vocabulary size, type-token ratio (vocab/tokens), and the hapax
    * ratio (fraction of vocabulary occurring exactly once — the classic
    * productivity/contamination indicator: templated or duplicated
    * text crushes it). All counts are exact integers aggregated
    * per-source (order-independent), with the two ratios as single
    * exact IEEE divisions at the end — bit-identical cross-engine.
    * Shape: one token explode (≈ token-count rows, the t08 shuffle
    * shape), a (source, token) count, then a per-source rollup. */
  def t09(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    tok.groupBy("source", "w").agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(
        big(sum(col("n"))).as("tokens_total"),
        big(count(lit(1))).as("vocab"),
        big(sum(when(col("n") === 1L, 1L).otherwise(0L))).as("hapax"))
      .withColumn("type_token_ratio",
        col("vocab").cast(DoubleType) / col("tokens_total").cast(DoubleType))
      .withColumn("hapax_ratio",
        col("hapax").cast(DoubleType) / col("vocab").cast(DoubleType))
      .orderBy("source")
  }

  val t09Sql: String =
    """WITH tw AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |wc AS (SELECT source, w, COUNT(*) AS n FROM tw GROUP BY source, w)
      |SELECT source,
      |  CAST(SUM(n) AS BIGINT) AS tokens_total,
      |  CAST(COUNT(*) AS BIGINT) AS vocab,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS type_token_ratio,
      |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
      |FROM wc GROUP BY source ORDER BY source""".stripMargin

  /** t10: cross-source shingle NOVELTY — the data-mixing diagnostic a
    * curation team reads before weighting sources: for each source, how
    * many of its distinct 8-token shingles ([[Dedup.SpanLen]], the d11
    * definition) FIRST appear there (global first = the corpus-wide
    * minimum doc_id carrying the shingle — deterministic, order-free)?
    * A source whose novelty fraction is low mostly restates shingles
    * other sources already contributed — its mixture weight buys less
    * new text than its token count suggests.
    *
    * Scale shape: shingle explode (volume = token count, the d11
    * class) → per-shingle min(doc_id) partial agg → slim
    * (doc_id → source) join to resolve the first source → per-source
    * distinct counts. No all-pairs term anywhere; the text column
    * never travels past the shingle projection. */
  def t10(s: SparkSession, d: String): DataFrame = {
    val occ = graft.core.Tables.spread(documents(s, d), col("doc_id"))
      // pinned repartition (via spread) before the CPU-dense
      // shingle-md5 explode: the corpus file is a single row group, so
      // the scan-rooted stage otherwise runs on ONE core (r20 diag: two
      // 1.6–1.8 s single-task stages; the cleanRedacted/d04 discipline)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= Dedup.SpanLen)
      .withColumn("sh", explode(expr(
        s"transform(sequence(1, size(toks) - ${Dedup.SpanLen - 1}), i -> md5(concat_ws(' ', slice(toks, i, ${Dedup.SpanLen}))))")))
      .select(col("source"), col("doc_id"), col("sh"))
    // ONE shingle pass (r21: was two — a min(doc_id) agg AND a distinct
    // (source, sh), each re-scanning and re-exploding the corpus): per
    // shingle, the first doc and the distinct source set together;
    // exploding the set afterwards reproduces distinct (source, sh)
    // exactly, so the per-source counts are unchanged.
    val bySh = occ.groupBy("sh").agg(
      min(col("doc_id")).as("first_doc"),
      collect_set(col("source")).as("srcs"))
    bySh
      .join(documents(s, d).select(col("doc_id").as("first_doc"),
        col("source").as("first_source")), "first_doc")
      .select(col("first_source"), explode(col("srcs")).as("source"))
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("shingles_distinct"),
        big(sum(when(col("first_source") === col("source"), 1L).otherwise(0L)))
          .as("shingles_novel"))
      .withColumn("novelty_fraction",
        col("shingles_novel").cast(DoubleType) / col("shingles_distinct").cast(DoubleType))
      .orderBy("source")
  }

  val t10Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |e AS (
      |  SELECT doc_id, source, t, unnest(generate_series(1, len(t) - ${Dedup.SpanLen - 1})) AS i
      |  FROM toks WHERE len(t) >= ${Dedup.SpanLen}),
      |occ AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + ${Dedup.SpanLen - 1} AS INT)), ' ')) AS sh
      |  FROM e),
      |fd AS (SELECT sh, MIN(doc_id) AS first_doc FROM occ GROUP BY sh),
      |fs AS (
      |  SELECT fd.sh, d.source AS first_source
      |  FROM fd JOIN documents d ON d.doc_id = fd.first_doc),
      |ds AS (SELECT DISTINCT source, sh FROM occ)
      |SELECT ds.source,
      |  CAST(COUNT(*) AS BIGINT) AS shingles_distinct,
      |  CAST(SUM(CASE WHEN fs.first_source = ds.source THEN 1 ELSE 0 END) AS BIGINT) AS shingles_novel,
      |  CAST(SUM(CASE WHEN fs.first_source = ds.source THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS novelty_fraction
      |FROM ds JOIN fs ON fs.sh = ds.sh
      |GROUP BY ds.source ORDER BY ds.source""".stripMargin

  /** t11 keeps only bigrams seen at least this often — the classic
    * minimum-support cut that stops one-off juxtapositions from topping
    * a lift ranking on spurious 1/1 counts. */
  val T11MinPairCount = 5L

  /** t11: collocation mining — the top-20 adjacent word pairs by LIFT
    * (observed bigram frequency over the frequency independence
    * predicts: c_ab·T / (c_a·c_b), the exponential of PMI), the
    * phrase/tokenizer-merit diagnostic a curation team reads to decide
    * merge candidates and spot templated boilerplate. Kept exact: the
    * numerator and denominator are BIGINT products (exact below 2^53 —
    * holds through the 50× sweep; a 100 TB run would route the two
    * products through Decimal(38,0)/HUGEINT the way p06's keep
    * predicate does) and the single IEEE division is bit-identical
    * cross-engine; ties at the top-20 boundary break on (w1, w2).
    *
    * Scale shape: token explode (volume = token count) feeds two
    * map-side-combined counts (unigrams, adjacent bigrams ≥ min
    * support); the bigram table joins the vocabulary-sized unigram
    * table twice on slim word keys (Catalyst broadcasts while it fits,
    * shuffles past that); the 1-row total rides the p06-style broadcast
    * cross; the top-20 is TakeOrdered (no global sort materialization). */
  def t11(s: SparkSession, d: String): DataFrame = {
    // NOT spread (r21 interleaved A/B, same JVM): repartitioning the
    // token arrays before the explodes measured SLOWER (off
    // 1.99/1.12/1.22 s vs on 2.18/1.95/1.53 s) — both explodes are
    // cheap `split`/element_at work and feed map-side-combined aggs,
    // so the exchange of the raw text costs more than the one-core
    // explode stage it widens (contrast t10/d15, whose per-span MD5
    // makes the explode stage CPU-dense enough to pay for it).
    val toks = documents(s, d).select(split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
    // persisted: consumed three times (c_a join, c_b join, total) — one
    // corpus-wide token pass instead of three; the table is
    // vocabulary-sized, so the cache cost is trivial at any corpus size
    val ucnt = uni.groupBy("w").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // T = Σ_w c_w — a vocab-sized aggregate over the cached table, NOT
    // another corpus scan
    val total = ucnt.agg(sum(col("c")).as("tot"))
    val bi = toks.where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
      .where(col("c_pair") >= T11MinPairCount)
    bi
      .join(ucnt.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(ucnt.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("lift", (col("c_pair") * col("tot")).cast(DoubleType) /
        (col("c1") * col("c2")).cast(DoubleType))
      .select(col("w1"), col("w2"), big(col("c_pair")).as("c_pair"), col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  val t11Sql: String =
    s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT unnest(t) AS w FROM toks),
      |ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      |tot AS (SELECT COUNT(*) AS tot FROM uni),
      |e AS (
      |  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
      |  FROM toks WHERE len(t) >= 2),
      |bcnt AS (
      |  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2, COUNT(*) AS c_pair
      |  FROM e GROUP BY 1, 2 HAVING COUNT(*) >= $T11MinPairCount)
      |SELECT b.w1, b.w2, CAST(b.c_pair AS BIGINT) AS c_pair,
      |  CAST(b.c_pair * tot.tot AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE) AS lift
      |FROM bcnt b
      |CROSS JOIN tot
      |JOIN ucnt u1 ON u1.w = b.w1
      |JOIN ucnt u2 ON u2.w = b.w2
      |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin

  /** t12 learns this many merges — enough to show the iterative
    * structure (each round's counts see the previous round's merges)
    * while keeping the unrolled DuckDB oracle readable. */
  val T12Rounds = 3

  /** t12: BPE-style MERGE LEARNING — the tokenizer-training kernel at
    * corpus scale: [[T12Rounds]] rounds of (count adjacent pairs →
    * take the global argmax, ties by (w1, w2) → merge it EVERYWHERE,
    * greedy left-to-right non-overlapping, exactly like BPE training)
    * over the whitespace-token corpus. Output: one row per round —
    * the learned merge and its adjacent-pair count at selection time.
    * Every step is window/aggregate arithmetic with a total order, so
    * the unrolled CTE chain reproduces it bit-for-bit (the a07
    * pattern).
    *
    * The greedy left-to-right rewrite is pure window algebra: within a
    * maximal run of consecutive matching positions (only possible for
    * self-pairs like "a a a"), exactly the odd offsets merge — islands
    * via pos − row_number over matches, parity via row_number within
    * the island, and the token AFTER a merged position drops via lag.
    *
    * Scale shape: per round, one map-side-combined pair count + a
    * TakeOrdered(1) argmax whose three scalars ride the driver (the
    * learned merge rule IS the model — the d04 census precedent) into
    * literal match predicates + three doc_id-partitioned windows (docs
    * are bounded, so window partitions are; the doc_id exchange is
    * reused across the round's windows). Merged tokens concatenate
    * with '_' — two different
    * merge histories can collide textually ("a_b"+"c" vs "a"+"b_c"),
    * which is harmless here because both engines see the same strings. */
  def t12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    var cur = graft.core.Tables.spread(documents(s, d), col("doc_id"))
      // pinned repartition (via spread): single-row-group
      // corpus file, same reason as t10 — and the per-round doc_id
      // windows reuse this exchange
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
      .select(col("doc_id"), (col("p") + 1).cast(LongType).as("pos"), col("tok"))
    // NOT cached per round (r21 A/B): persisting each round's table to
    // stop round k re-running rounds 1..k−1 measured no better than the
    // plain chain at T12Rounds=3 once the pinned repartition gave the
    // windows 32-way parallelism (cache 4.3/4.3/3.4 s vs no-cache
    // 5.7/3.7/3.9 s interleaved) — the rewrite chain is cheap to
    // recompute at full width, and the cache's write+read round trip
    // costs what the recompute saves. A much deeper merge loop would
    // revisit (localCheckpoint per round).
    var merges = Seq.empty[(Long, String, String, Long)]
    var done = false
    for (r <- 1 to T12Rounds if !done) {
      val paired = cur.withColumn("next", lead(col("tok"), 1).over(w))
      // global argmax pair — TakeOrdered(1). The THREE SCALARS cross the
      // driver (the d04 salt-census precedent: aggregates, not data) —
      // which is also what real BPE training does: the learned merge
      // rule IS the driver-held model. The rewrite below then matches
      // against literals: no broadcast join, no cached plan to leak,
      // and each round's lineage stays a straight window chain.
      val best = paired.where(col("next").isNotNull)
        .groupBy(col("tok").as("bw1"), col("next").as("bw2"))
        .agg(count(lit(1)).as("bc"))
        .orderBy(col("bc").desc, col("bw1"), col("bw2"))
        .limit(1).collect()
      if (best.isEmpty) done = true // no adjacent pair anywhere: nothing left to learn
      else {
        val (w1, w2, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges = merges :+ ((r.toLong, w1, w2, c))
        val flagged = paired
          .withColumn("m",
            col("next").isNotNull && col("tok") === lit(w1) && col("next") === lit(w2))
          .withColumn("rnm", row_number().over(
            Window.partitionBy(col("doc_id"), col("m")).orderBy("pos")))
          .withColumn("isl", when(col("m"), col("pos") - col("rnm")))
          .withColumn("merged", col("m") && row_number().over(
            Window.partitionBy(col("doc_id"), col("isl")).orderBy("pos")) % 2 === 1)
        cur = flagged
          .withColumn("pm", coalesce(lag(col("merged"), 1).over(w), lit(false)))
          .where(!col("pm"))
          .withColumn("tok", when(col("merged"),
            concat(col("tok"), lit("_"), col("next"))).otherwise(col("tok")))
          .withColumn("pos", row_number().over(w).cast(LongType))
          .select("doc_id", "pos", "tok")
      }
    }
    import s.implicits._
    merges.toDF("round", "w1", "w2", "occurrences").orderBy("round")
  }

  val t12Sql: String = {
    def round(k: Int): String = {
      val prev = s"t${k - 1}"
      s"""p$k AS (
        |  SELECT doc_id, pos, tok,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS next
        |  FROM $prev),
        |b$k AS (
        |  SELECT tok AS w1, next AS w2, COUNT(*) AS c
        |  FROM p$k WHERE next IS NOT NULL
        |  GROUP BY 1, 2 ORDER BY c DESC, w1, w2 LIMIT 1),
        |m$k AS (
        |  SELECT p.doc_id, p.pos, p.tok, p.next,
        |    COALESCE(p.next IS NOT NULL AND p.tok = b.w1 AND p.next = b.w2, FALSE) AS m
        |  FROM p$k p LEFT JOIN b$k b ON TRUE),
        |i$k AS (
        |  SELECT *, CASE WHEN m THEN pos -
        |    ROW_NUMBER() OVER (PARTITION BY doc_id, m ORDER BY pos) END AS isl
        |  FROM m$k),
        |g$k AS (
        |  SELECT *, (m AND
        |    ROW_NUMBER() OVER (PARTITION BY doc_id, isl ORDER BY pos) % 2 = 1) AS merged
        |  FROM i$k),
        |k$k AS (
        |  SELECT *, COALESCE(LAG(merged) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS pm
        |  FROM g$k),
        |t$k AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
        |    CASE WHEN merged THEN tok || '_' || next ELSE tok END AS tok
        |  FROM k$k WHERE NOT pm)""".stripMargin
    }
    val selects = (1 to T12Rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, w1, w2, CAST(c AS BIGINT) AS occurrences FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""WITH t0 AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[CAST(i AS INT)] AS tok FROM (
      |    SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
      |${(1 to T12Rounds).map(round).mkString(",\n")}
      |SELECT round, w1, w2, occurrences FROM (
      |  $selects) ORDER BY round""".stripMargin
  }

  /** Integer quantization scale for t13's per-bigram probabilities:
    * q = ⌊T13Scale·(c_ab+1)/(c_a+V)⌋ keeps the whole score path in
    * exact BIGINT arithmetic until one final division. */
  val T13Scale = 1000000L

  /** t13: bigram-LM quality scoring — the KenLM-style "does this text
    * look like the corpus" filter (CCNet/Dolma run exactly this shape
    * to rank web text before training): a Laplace-smoothed bigram model
    * p(b|a) = (c_ab+1)/(c_a+V) is TRAINED FROM THE CORPUS ITSELF and
    * every document is scored by its mean bigram probability. A mean of
    * per-bigram IEEE values would hash-differ across engines (summation
    * order), so each DISTINCT bigram's probability is quantized once to
    * the exact integer q = ⌊[[T13Scale]]·(c_ab+1)/(c_a+V)⌋, summed per
    * document in BIGINT, and divided ONCE at the end — bit-identical
    * cross-engine (the t08/t11 rational-score discipline). Templated/
    * in-distribution text scores high; out-of-vocabulary juxtapositions
    * score near 1/V.
    *
    * Scale shape at 100 TB: one token explode feeds the map-side-
    * combined unigram count (vocab-sized, persisted — the t11 pattern);
    * one bigram explode feeds the distinct-bigram count; q is computed
    * once per DISTINCT bigram (slim join to the unigram table + the
    * 1-row vocab broadcast cross), then one equi-join of doc-bigram
    * occurrences to the q table on slim word-pair keys and a partial-
    * aggregable per-doc sum. Volume rides the token count; the BIGINT
    * products stay below 2^53 through the sweeps (a 100 TB run would
    * route them through Decimal(38,0) the way p06 does). */
  def t13(s: SparkSession, d: String): DataFrame = {
    // NOT spread (r21 interleaved A/B, same JVM): off 2.12/1.49/1.53 s
    // vs on 2.77/2.25/1.44 s — t11's reason (cheap explodes, exchange
    // of raw text not repaid)
    val toks = documents(s, d).select(col("doc_id"), split(col("text"), " ").as("t"))
    // persisted: consumed by the q-table join AND the vocab-size
    // aggregate — one corpus token pass, vocab-sized cache (t11)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = uni.agg(count(lit(1)).as("v"))
    val docBi = toks.where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bq = docBi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .join(uni.select(col("w").as("w1"), col("c1")), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("q", expr(s"($T13Scale * (c2 + 1)) DIV (c1 + v)"))
      .select(col("w1"), col("w2"), col("q"))
    docBi.join(bq, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(big(count(lit(1))).as("n_bigrams"), big(sum(col("q"))).as("lm_q"))
      .withColumn("lm_score", col("lm_q").cast(DoubleType) /
        (lit(T13Scale) * col("n_bigrams")).cast(DoubleType))
      .orderBy("doc_id")
  }

  val t13Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ucnt AS (
      |  SELECT w, COUNT(*) AS c1
      |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
      |vocab AS (SELECT COUNT(*) AS v FROM ucnt),
      |e AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      |  FROM toks WHERE len(t) >= 2),
      |db AS (
      |  SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2 FROM e),
      |bq AS (
      |  SELECT b.w1, b.w2, ($T13Scale * (b.c2 + 1)) // (u.c1 + vocab.v) AS q
      |  FROM (SELECT w1, w2, COUNT(*) AS c2 FROM db GROUP BY 1, 2) b
      |  JOIN ucnt u ON u.w = b.w1
      |  CROSS JOIN vocab)
      |SELECT d.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(q) AS BIGINT) AS lm_q,
      |  CAST(SUM(q) AS DOUBLE) / CAST($T13Scale * COUNT(*) AS DOUBLE) AS lm_score
      |FROM db d JOIN bq ON bq.w1 = d.w1 AND bq.w2 = d.w2
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** t14: PII/noise REDACTION — the artifact t07 only reports on: every
    * token matching a carrier pattern is replaced by a typed
    * placeholder (the C4/Dolma pre-training redaction pass), with
    * per-document counts and the md5 of the redacted text as the
    * driver-hashable proof of the rewrite. Patterns are TOKEN-anchored
    * (t07's email regex precedent) so Java-regex rlike and DuckDB/RE2
    * regexp_matches agree by construction — no cross-dialect
    * regexp_replace semantics in play. Counts are taken on the
    * placeholder tokens themselves, so count and rewrite can never
    * disagree. Priority: email, then URL prefix, then long-digit runs.
    *
    * Scale shape: entirely row-local (one transform + three filters
    * per document) — zero shuffles before the output sort; the
    * embarrassingly-parallel end of the suite. */
  /** t14's per-token redaction kernel over a token-array column —
    * factored (round 19) so p11's composed corpus build applies the
    * SAME rewrite t14 gates (two inlined copies would drift). Arity-
    * preserving by construction: every token maps to exactly one
    * output token, so token counts survive redaction unchanged. */
  private[graft] def redactTokens(toks: Column): Column = {
    val emailRe = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"
    val numRe = "^[0-9]{4,}$"
    transform(toks, tk =>
      when(tk.rlike(emailRe), lit("<EMAIL>"))
        .when(lower(tk).startsWith("http://") || lower(tk).startsWith("https://") ||
          lower(tk).startsWith("www."), lit("<URL>"))
        .when(tk.rlike(numRe), lit("<NUM>"))
        .otherwise(tk))
  }

  /** the same redaction as a DuckDB list_transform over
    * `string_split(<rel-qualified> text, ' ')` — t14Sql's CASE, shared
    * with p11Sql so the two oracles state one rewrite. */
  private[graft] def redactListSql(textRef: String): String =
    s"""list_transform(string_split($textRef, ' '), tk ->
      |    CASE WHEN regexp_matches(tk, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$$') THEN '<EMAIL>'
      |         WHEN starts_with(lower(tk), 'http://') OR starts_with(lower(tk), 'https://')
      |           OR starts_with(lower(tk), 'www.') THEN '<URL>'
      |         WHEN regexp_matches(tk, '^[0-9]{4,}$$') THEN '<NUM>'
      |         ELSE tk END)""".stripMargin

  def t14(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .withColumn("red", redactTokens(split(col("text"), " ")))
      .select(col("doc_id"),
        big(size(filter(col("red"), t => t === "<EMAIL>"))).as("n_email"),
        big(size(filter(col("red"), t => t === "<URL>"))).as("n_url"),
        big(size(filter(col("red"), t => t === "<NUM>"))).as("n_num"),
        md5(concat_ws(" ", col("red"))).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val t14Sql: String =
    s"""WITH r AS (
      |  SELECT doc_id, ${redactListSql("text")} AS red
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(list_filter(red, t -> t = '<EMAIL>')) AS BIGINT) AS n_email,
      |  CAST(len(list_filter(red, t -> t = '<URL>')) AS BIGINT) AS n_url,
      |  CAST(len(list_filter(red, t -> t = '<NUM>')) AS BIGINT) AS n_num,
      |  md5(array_to_string(red, ' ')) AS redacted_md5
      |FROM r ORDER BY doc_id""".stripMargin

  /** t15: VOCABULARY GROWTH curve (Heaps' law, by corpus decile) — the
    * tokenizer-sizing diagnostic: how many NEW distinct words each
    * tenth of the corpus contributes, with running vocabulary and
    * token totals. A flattening curve says the vocab is saturating
    * (a bigger tokenizer won't pay); a linear one says the corpus
    * keeps minting terms. Deciles are id-proportional
    * (doc_id·10 div (max_id+1) — deterministic on any id distribution,
    * position-exact on the dense synthetic ids); "new" = the decile of
    * a word's corpus-wide FIRST occurrence (min doc_id — t10's partial
    * agg). All integer arithmetic; the 10-row cumulative window is
    * exact.
    *
    * Scale shape at 100 TB: one token explode feeding two map-side-
    * combined aggregations (per-word min doc — vocab-sized — and
    * per-decile token counts — 10 rows), the 1-row max-id broadcast
    * cross, and a 10-row join + window. No all-pairs term, no global
    * data sort; volume rides the token count. */
  def t15(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val nDf = documents(s, d).agg((max(col("doc_id")) + 1).as("n"))
    val tokPerDec = toks.crossJoin(broadcast(nDf))
      .withColumn("decile", expr("doc_id * 10 DIV n"))
      .groupBy("decile").agg(count(lit(1)).as("n_tokens"))
    val newPerDec = toks.groupBy("w").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(nDf))
      .withColumn("decile", expr("fd * 10 DIV n"))
      .groupBy("decile").agg(count(lit(1)).as("new_words"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tokPerDec.join(newPerDec, Seq("decile"), "left")
      .na.fill(0L, Seq("new_words"))
      .select(big(col("decile")).as("decile"),
        big(col("n_tokens")).as("n_tokens"),
        big(col("new_words")).as("new_words"))
      .withColumn("cum_tokens", big(sum(col("n_tokens")).over(w)))
      .withColumn("cum_vocab", big(sum(col("new_words")).over(w)))
      .orderBy("decile")
  }

  val t15Sql: String =
    """WITH n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |td AS (
      |  SELECT doc_id * 10 // n.n AS decile, COUNT(*) AS n_tokens
      |  FROM toks CROSS JOIN n GROUP BY 1),
      |fw AS (SELECT w, MIN(doc_id) AS fd FROM toks GROUP BY w),
      |nd AS (
      |  SELECT fd * 10 // n.n AS decile, COUNT(*) AS new_words
      |  FROM fw CROSS JOIN n GROUP BY 1)
      |SELECT CAST(td.decile AS BIGINT) AS decile,
      |  CAST(td.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(nd.new_words, 0) AS BIGINT) AS new_words,
      |  CAST(SUM(td.n_tokens) OVER (ORDER BY td.decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(nd.new_words, 0)) OVER (ORDER BY td.decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
      |FROM td LEFT JOIN nd ON nd.decile = td.decile
      |ORDER BY decile""".stripMargin

  /** t16 script classes: (name, inclusive codepoint ranges) — ONE
    * table interpolated into BOTH engines (a range drift between the
    * Spark expression and the oracle would be invisible until a
    * multi-script corpus arrives). Alphabetical order IS the dominance
    * tie-break order. Ranges are explicit codepoint windows, NOT
    * regex script properties: Java regex and DuckDB's RE2 carry
    * different Unicode table versions, so `\p{script=...}` could
    * legitimately disagree on edge codepoints — integer ranges cannot.
    *  - arabic   U+0600–U+06FF
    *  - cjk      U+3040–U+30FF (kana) + U+4E00–U+9FFF (unified ideographs)
    *  - cyrillic U+0400–U+04FF
    *  - digit    U+0030–U+0039
    *  - greek    U+0370–U+03FF
    *  - latin    A–Z, a–z, U+00C0–U+024F (Latin-1 letters + Extended A/B)
    * Everything else (spaces, punctuation, unlisted scripts) counts as
    * `other`, which never wins dominance — a doc with no classed
    * characters reports script_class = 'other'. */
  private[graft] val ScriptClasses: Seq[(String, Seq[(Int, Int)])] = Seq(
    "arabic" -> Seq((0x600, 0x6FF)),
    "cjk" -> Seq((0x3040, 0x30FF), (0x4E00, 0x9FFF)),
    "cyrillic" -> Seq((0x400, 0x4FF)),
    "digit" -> Seq((0x30, 0x39)),
    "greek" -> Seq((0x370, 0x3FF)),
    "latin" -> Seq((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F)))

  /** t16: SCRIPT/CHARSET language-class identification — the
    * multilingual-pipeline stage t01's stopword lexicons cannot cover
    * (a lexicon needs per-language word lists; script classes need only
    * codepoint arithmetic and separate Latin/CJK/Cyrillic/Arabic/Greek
    * corpora before any tokenizer runs). Per document: one histogram
    * of characters over [[ScriptClasses]] plus an `other` bucket, and
    * the DOMINANT class (max count among named classes, alphabetical
    * tie-break, 'other' when no classed character exists) — the filter
    * dimension a p06/p09-style mixing stage keys on.
    *
    * Mechanics, cross-engine exact: both engines split text into
    * CODEPOINT chunks (Spark's `split(text, '')` and DuckDB's
    * `string_split(text, '')` both yield per-codepoint strings,
    * surrogate-safe — probed on U+1F600) and take the codepoint as an
    * integer (Spark `ascii`, DuckDB `unicode` — both return the full
    * codepoint). The histogram is ONE `aggregate` fold over the
    * codepoint array (the array expression is the fold's input, so it
    * is evaluated once per row — per-class `filter` calls would inline
    * and recompute the split+codepoint work per class), entirely
    * row-local: zero shuffles before the output sort.
    *
    * Scale shape at 100 TB: embarrassingly parallel (one projection),
    * reads only (doc_id, text); volume rides character count. */
  def t16(s: SparkSession, d: String): DataFrame = {
    val n = ScriptClasses.size
    def inRanges(cp: Column, rs: Seq[(Int, Int)]): Column =
      rs.map { case (lo, hi) => cp >= lo && cp <= hi }.reduce(_ || _)
    val cps = transform(
      filter(split(col("text"), ""), c => c =!= ""), c => ascii(c))
    val zero = array(Seq.fill(n + 1)(lit(0L)): _*)
    val hist = aggregate(cps, zero, (acc, cp) => array(
      (ScriptClasses.zipWithIndex.map { case ((_, rs), i) =>
        acc.getItem(i) + when(inRanges(cp, rs), 1L).otherwise(0L)
      } :+ (acc.getItem(n) + when(
        ScriptClasses.map(c => inRanges(cp, c._2)).reduce(_ || _), 0L)
        .otherwise(1L))): _*))
    val counted = documents(s, d)
      .withColumn("hist", hist)
      .select(Seq(col("doc_id")) ++
        ScriptClasses.zipWithIndex.map { case ((name, _), i) =>
          col("hist").getItem(i).as(s"n_$name") } :+
        col("hist").getItem(n).as("n_other"): _*)
    val best = greatest(ScriptClasses.map(c => col(s"n_${c._1}")): _*)
    counted
      .withColumn("script_class",
        when(best === 0L, lit("other")).otherwise(
          ScriptClasses.foldRight(lit("other")) { case ((name, _), els) =>
            when(col(s"n_$name") === best, lit(name)).otherwise(els) }))
      .orderBy("doc_id")
  }

  val t16Sql: String = {
    def pred(rs: Seq[(Int, Int)]): String =
      rs.map { case (lo, hi) => s"(cp >= $lo AND cp <= $hi)" }.mkString(" OR ")
    val classCols = ScriptClasses.map { case (name, rs) =>
      s"CAST(len(list_filter(cps, cp -> ${pred(rs)})) AS BIGINT) AS n_$name"
    }.mkString(",\n    ")
    val names = ScriptClasses.map(_._1)
    val gr = s"GREATEST(${names.map("n_" + _).mkString(", ")})"
    val caseArms = names.map(nm => s"WHEN n_$nm = $gr THEN '$nm'")
      .mkString("\n         ")
    s"""WITH cp AS (
      |  SELECT doc_id, list_transform(
      |    list_filter(string_split(text, ''), c -> c <> ''),
      |    c -> unicode(c)) AS cps
      |  FROM documents),
      |cnt AS (
      |  SELECT doc_id, CAST(len(cps) AS BIGINT) AS n_all,
      |    $classCols
      |  FROM cp)
      |SELECT doc_id, ${names.map("n_" + _).mkString(", ")},
      |  n_all - (${names.map("n_" + _).mkString(" + ")}) AS n_other,
      |  CASE WHEN $gr = 0 THEN 'other'
      |         $caseArms END AS script_class
      |FROM cnt ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t16_script_class" -> t16 _,
    "t15_vocab_growth" -> t15 _,
    "t14_pii_redaction" -> t14 _,
    "t13_lm_score" -> t13 _,
    "t12_bpe_merges" -> t12 _,
    "t11_bigram_lift" -> t11 _,
    "t10_source_novelty" -> t10 _,
    "t09_lexical_diversity" -> t09 _,
    "t08_tfidf_terms" -> t08 _,
    "t01_lang_id" -> t01 _,
    "t02_quality_score" -> t02 _,
    "t03_token_count" -> t03 _,
    "t04_fingerprint" -> t04 _,
    "t05_length_histogram" -> t05 _,
    "t06_repetition_rules" -> t06 _,
    "t07_web_noise" -> t07 _)

  val oracle: Map[String, String] = Map(
    "t16_script_class" -> t16Sql,
    "t15_vocab_growth" -> t15Sql,
    "t14_pii_redaction" -> t14Sql,
    "t13_lm_score" -> t13Sql,
    "t12_bpe_merges" -> t12Sql,
    "t11_bigram_lift" -> t11Sql,
    "t10_source_novelty" -> t10Sql,
    "t09_lexical_diversity" -> t09Sql,
    "t08_tfidf_terms" -> t08Sql,
    "t01_lang_id" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t03_token_count" -> t03Sql,
    "t04_fingerprint" -> t04Sql,
    "t05_length_histogram" -> t05Sql,
    "t06_repetition_rules" -> t06Sql,
    "t07_web_noise" -> t07Sql)
}
