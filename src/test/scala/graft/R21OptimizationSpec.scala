package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-21 optimization equivalence: the single-pass rewrites of t10
  * and d11 (one corpus scan + explode where there were two) must return
  * EXACTLY the rows of the original two-pass formulations, which are
  * kept alive here as inline reference implementations over the same
  * public inputs. The plan-shape side of the claim — one exploded
  * corpus scan, not two — is asserted structurally so a refactor cannot
  * silently reintroduce the second pass. (d14's one-pass rewrite is
  * covered by its DuckDB oracle row, whose SQL is the two-subtree
  * formulation; no private-state replica is needed here.) */
class R21OptimizationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  import graft.core.Tables.{documents, big}

  private def spanOcc(d: String): DataFrame =
    documents(spark, d)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= graft.ops.Dedup.SpanLen)
      .withColumn("sh", explode(expr(
        s"transform(sequence(1, size(toks) - ${graft.ops.Dedup.SpanLen - 1}), " +
          s"i -> md5(concat_ws(' ', slice(toks, i, ${graft.ops.Dedup.SpanLen}))))")))
      .select(col("source"), col("doc_id"), col("sh"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("t10 one-pass == the original two-pass formulation") {
    // the pre-r21 t10: one agg subtree for min(doc_id) per shingle, a
    // SECOND full scan+explode for distinct (source, sh)
    val occ = spanOcc(sf)
    val firstDoc = occ.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    val firstSource = firstDoc
      .join(documents(spark, sf).select(col("doc_id").as("first_doc"),
        col("source").as("first_source")), "first_doc")
      .select(col("sh"), col("first_source"))
    val reference = occ.select("source", "sh").distinct()
      .join(firstSource, "sh")
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("shingles_distinct"),
        big(sum(when(col("first_source") === col("source"), 1L).otherwise(0L)))
          .as("shingles_novel"))
      .withColumn("novelty_fraction",
        col("shingles_novel").cast(DoubleType) / col("shingles_distinct").cast(DoubleType))
      .orderBy("source")
    val current = graft.ops.TextAnalysis.t10(spark, sf)
    assert(rows(current) === rows(reference),
      "t10's single-pass rewrite changed the per-source novelty rows")
  }

  test("d11 two-level rollup == the original occurrence-join formulation") {
    val occ = spanOcc(sf)
    val spanDocs = occ.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val reference = occ.join(spanDocs, "sh")
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("spans_total"),
        big(sum(when(col("nd") >= 2, 1L).otherwise(0L))).as("spans_duplicated"))
      .withColumn("dup_fraction",
        col("spans_duplicated").cast(DoubleType) / col("spans_total").cast(DoubleType))
      .orderBy("source")
    val current = graft.ops.Dedup.d11(spark, sf)
    assert(rows(current) === rows(reference),
      "d11's two-level (sh, source) rollup changed the span-coverage rows")
  }

  test("t10 and d11 plans really are single-pass over the exploded corpus") {
    // structural half of the claim, sharpened per the round-21 ADVICE
    // low: the old two-pass shapes ALSO had exactly two Generate nodes
    // (two corpus explodes, no re-expansion), so a total-explode cap of
    // 2 could not catch a revert. What distinguishes the shapes is
    // WHERE the explode sits: a CORPUS explode pass reaches the
    // documents scan with no aggregate in between, while the rewrites'
    // re-expansion explodes sit ABOVE the per-shingle aggregate. Count
    // corpus explodes in the optimized logical plan and pin them to 1.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // "raw corpus below": the explode's input is scanned corpus rows,
    // modulo project/filter/repartition — crossing an Aggregate OR a
    // Join means the explode re-expands DERIVED data (the rewrites'
    // intended re-expansion explodes sit above the per-shingle
    // aggregate, and t10's sits above the first-source join too)
    def rawCorpusBelow(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false
      case _: Join => false
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains("documents.parquet"))
        case _ => false
      }
      case other => other.children.exists(rawCorpusBelow)
    }
    def corpusExplodes(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case g: Generate if rawCorpusBelow(g.child) => g
      }.size
    // t10: exactly 1 corpus shingle explode (the first-source lookup
    // scan is explode-free; the source-set re-expansion sits above the
    // groupBy(sh) aggregate, so it does not count)
    assert(corpusExplodes(graft.ops.TextAnalysis.t10(spark, sf)) === 1,
      "t10 grew a second corpus explode pass (or lost its only one)")
    // d11: exactly 1 corpus span explode (the per-source struct-list
    // re-expansion sits above the (sh, source) rollup)
    assert(corpusExplodes(graft.ops.Dedup.d11(spark, sf)) === 1,
      "d11 grew a second corpus explode pass (or lost its only one)")
  }

  test("d11's rollup premise holds: every doc_id maps to exactly one source") {
    // d11's nd = sum(nd_so) equals countDistinct(doc_id) per span ONLY
    // under this functional dependency (round-21 ADVICE low): a corpus
    // where one doc_id appears under two sources would silently
    // overcount nd and inflate spans_duplicated. Pin the premise so a
    // corpus regeneration that breaks it fails loudly HERE, not as an
    // oracle hash mismatch three rounds later.
    val maxSrcPerDoc = documents(spark, sf)
      .groupBy("doc_id").agg(countDistinct(col("source")).as("ns"))
      .agg(max(col("ns"))).head().getLong(0)
    assert(maxSrcPerDoc === 1L,
      s"documents has a doc_id under $maxSrcPerDoc sources — d11's " +
        "sum(nd_so) rollup (and t10's first-source join) presume one")
  }
}
