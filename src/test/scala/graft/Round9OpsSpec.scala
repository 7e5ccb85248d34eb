package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.TextAnalysis

/** Round-9 operator contracts: t13's bigram-LM score pinned to
  * hand-computed smoothed counts on a synthetic fixture, and t14's
  * redaction pinned token-by-token (placeholders, counts, md5 of the
  * rewritten text) plus no-op behavior on clean text.
  */
class Round9OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  private def fixtureDir(docs: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_r9_fixture").toString
    docs.map { case (id, text) =>
      (id, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t13: smoothed bigram quantization matches hand computation") {
    // corpus: c(a,b)=3, c(b,a)=1, c(b,c)=1; c_a=3, c_b=3, c_c=1; V=3
    // q(a,b) = 1e6*(3+1) DIV (3+3) = 666666
    // q(b,a) = q(b,c) = 1e6*(1+1) DIV (3+3) = 333333
    val dir = fixtureDir(Seq(1L -> "a b a b", 2L -> "a b c"))
    val rows = TextAnalysis.t13(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == Seq(
      (1L, 3L, 666666L + 333333L + 666666L, 1666665d / 3000000d),
      (2L, 2L, 666666L + 333333L, 999999d / 2000000d)))
  }

  test("t13: single-token docs have no bigrams and drop out") {
    val dir = fixtureDir(Seq(1L -> "solo", 2L -> "a a"))
    val rows = TextAnalysis.t13(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("t13 @ sf: score in (0,1], lm_q == n_bigrams-weighted quantized sum bound") {
    val df = TextAnalysis.t13(spark, sf)
    assert(df.where(col("lm_score") <= 0d || col("lm_score") > 1d).count() == 0)
    // every per-bigram q is < T13Scale (probability < 1), so the exact
    // integer sum is bounded by n_bigrams * scale
    assert(df.where(col("lm_q") >= col("n_bigrams") * TextAnalysis.T13Scale).count() == 0)
  }

  test("t14: placeholders, counts, and redacted md5 pinned; clean text untouched") {
    val dir = fixtureDir(Seq(
      1L -> "contact bob@x.com or WWW.foo.com id 12345 ok",
      2L -> "plain text with short 123 number"))
    val rows = TextAnalysis.t14(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(rows.toSeq == Seq(
      (1L, 1L, 1L, 1L, md5hex("contact <EMAIL> or <URL> id <NUM> ok")),
      // 3-digit token survives the {4,} long-number rule; text unchanged
      (2L, 0L, 0L, 0L, md5hex("plain text with short 123 number"))))
  }

  test("s08: admission-controlled backlog drain == batch token counts (no loss/dup through bounded micro-batches)") {
    // 500 docs at sf0.001 vs the 256-record cap: the drain NEEDS
    // multiple micro-batches by construction (bound enforcement itself
    // is proven in StreamingSpec S11/S11b)
    val out = graft.streaming.Replay.s08(spark, sf)
    val batch = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"))
    assert(out.count() == batch.count())
    assert(out.except(batch).count() == 0 && batch.except(out).count() == 0)
  }

  test("m04: frame energies, silence classification and trim indexes pinned by hand") {
    // doc 1: 32×'a' then 8×' ' — frame 1 energy 32·(97−128)² = 30752
    // (silent: 30752·32 < 60000·32), frame 2 energy 8·(32−128)² = 73728
    // (voiced: 73728·32 ≥ 60000·8) → trim window [2, 2]
    // doc 2: "aa" — one 2-sample frame, energy 1922, 1922·32 < 60000·2:
    // all silence → first_voiced = last_voiced = 0
    val dir = fixtureDir(Seq(1L -> ("a" * 32 + " " * 8), 2L -> "aa"))
    val rows = graft.ops.Multimodal.m04(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.toSeq == Seq(
      (1L, 40L, 2L, 1L, 2L, 2L, 30752L + 73728L),
      (2L, 2L, 1L, 1L, 0L, 0L, 1922L)))
  }

  test("m04 @ sf: both silence classes populated; frames tile the byte stream") {
    val df = graft.ops.Multimodal.m04(spark, sf).cache()
    try {
      assert(df.where(col("n_silent") > 0).count() > 0)
      assert(df.where(col("n_silent") < col("n_frames")).count() > 0)
      // ceil tiling: n_frames == (n_samples + 31) div 32
      assert(df.where(col("n_frames") =!=
        ((col("n_samples") + 31L) / 32L).cast("long")).count() == 0)
      // trim window is well-formed
      assert(df.where(col("first_voiced") > col("last_voiced")).count() == 0)
    } finally df.unpersist()
  }

  test("t15: decile attribution and cumulative curve pinned by hand") {
    // ids 0-9 → one doc per decile. "a" first in doc 0; "b" first in
    // doc 5; "c" only in doc 9. Tokens: docs 0-4 "a", 5-8 "a b", 9 "c".
    val dir = fixtureDir(
      (0L to 4L).map(i => i -> "a") ++ (5L to 8L).map(i => i -> "a b") :+ (9L -> "c"))
    val rows = TextAnalysis.t15(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (0L, 1L, 1L, 1L, 1L),   // "a" minted
      (1L, 1L, 0L, 2L, 1L),
      (2L, 1L, 0L, 3L, 1L),
      (3L, 1L, 0L, 4L, 1L),
      (4L, 1L, 0L, 5L, 1L),
      (5L, 2L, 1L, 7L, 2L),   // "b" minted
      (6L, 2L, 0L, 9L, 2L),
      (7L, 2L, 0L, 11L, 2L),
      (8L, 2L, 0L, 13L, 2L),
      (9L, 1L, 1L, 14L, 3L))) // "c" minted
  }

  test("t15 @ sf: curve totals reconcile with the corpus") {
    val df = TextAnalysis.t15(spark, sf).cache()
    try {
      val last = df.orderBy(col("decile").desc).head()
      val toks = graft.core.Tables.documents(spark, sf)
        .select(explode(split(col("text"), " ")).as("w"))
      assert(last.getLong(3) == toks.count())                   // cum_tokens == all tokens
      assert(last.getLong(4) == toks.select("w").distinct().count()) // cum_vocab == |vocab|
      assert(df.count() <= 10)
    } finally df.unpersist()
  }

  test("t14 @ sf: email counts consistent with t07's email-carrier flags") {
    // t07 flags a doc if ANY token matches the same anchored email
    // regex t14 redacts on — so per-source email-doc counts must agree
    val t14docs = TextAnalysis.t14(spark, sf).where(col("n_email") > 0)
      .join(graft.core.Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n"))
    val t07docs = TextAnalysis.t07(spark, sf).select(col("source"), col("email_docs"))
    assert(t14docs.join(t07docs, "source")
      .where(col("n") =!= col("email_docs")).count() == 0)
  }
}
