package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Artifact-generation GOVERNANCE (round 16): the retention sweep that
  * closes the storage story the lifecycle operators opened. Every
  * lifecycle event mints a generation under
  * [[graft.core.Materialize]] — d18/d20's appends, d19/a17's retune
  * republishes (which leave the stale generation addressable for
  * rollback) — and nothing ever deleted a superseded one. That is a
  * storage leak with legal teeth: a tombstoned document's rows live on
  * inside the superseded raw generations. The mechanism is
  * [[graft.core.Materialize.retentionSweep]] (pin {serving, rollback},
  * age out the rest; pins provably byte-untouched); this entry is the
  * gate-checkable REPORT of one full retention cycle.
  */
object Governance {

  /** the retention demo family's kind — its own namespace under the
    * materialization root, so the gate entry can run its sweep
    * DESTRUCTIVELY every run without touching the serving artifacts of
    * the other entries (whose generations are all still consumed by
    * some lifecycle entry at gate time). The sweep over the REAL
    * minhash family — default + stale + chain generations, pinned
    * serving/rollback, post-sweep serves bit-identical — is
    * spec-exercised in an isolated mat dir (Round16OpsSpec). */
  private[graft] val Kind = "retention"

  private lazy val salt: String =
    graft.core.Materialize.codeSalt(Governance.getClass, Dedup.getClass,
      graft.core.Tables.getClass)

  private[graft] def fp(d: String, tag: String): String =
    graft.core.Materialize.fingerprint(d, "documents", s"retention-$tag", salt)

  /** one generation of the demo family: its lifecycle role, whether
    * the retention policy pins it, its fingerprint tag, its builder. */
  private final case class Gen(role: String, pinned: Boolean, tag: String,
                               build: () => DataFrame)

  /** g01: RETENTION SWEEP, reported — one full retention cycle over a
    * four-generation band-artifact family built by the REAL signature
    * kernels on the real corpus:
    *  - `superseded-full-8x2` / `superseded-full-4x4`: the raw
    *    generations (default and stale banding) signed over the FULL
    *    corpus — each retains bands × |tombstoned| rows of deleted
    *    documents (the report's `tombstone_rows_before` column);
    *  - `serving-live-8x2` / `rollback-live-4x4`: the compacted
    *    generations over the live corpus — the takedown-compliant
    *    serving artifact and its rollback twin.
    * The policy pins {serving, rollback} and sweeps the rest; the
    * report pins BOTH halves of the claim inside the gate hash:
    * superseded generations gone (`retained` 0, `rows_after` 0) and —
    * the legal teeth — ZERO tombstoned rows in every retained
    * generation (`tombstone_rows_after` 0), while the pinned
    * generations' row volumes are exactly the live corpus' (bands ×
    * |live|, data-derived in the oracle). The staging rebuild of the
    * previously-swept generations makes the entry idempotent per run —
    * the d03/d07 always-compute class (mat_pub > 0 every run, "cold"
    * marked in bench by design).
    *
    * Scale shape at 100 TB: the sweep itself is O(#generations)
    * filesystem metadata (list + delete — no data scan of swept
    * generations, ever); the report's counts are footer-count scans of
    * the retained slim artifacts. A year of daily appends/retunes
    * under this policy holds ONE serving + ONE rollback generation per
    * family, not 365. */
  def g01(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val live = docs.where(!Dedup.d17TombstonePred)
    val gens = Seq(
      Gen("superseded-full-8x2", pinned = false, "full-8x2",
        () => Dedup.bandRowsFor(s, docs, Dedup.BandRows)),
      Gen("superseded-full-4x4", pinned = false, "full-4x4",
        () => Dedup.bandRowsFor(s, docs, Dedup.StaleBandRows)),
      Gen("serving-live-8x2", pinned = true, "live-8x2",
        () => Dedup.bandRowsFor(s, live, Dedup.BandRows)),
      Gen("rollback-live-4x4", pinned = true, "live-4x4",
        () => Dedup.bandRowsFor(s, live, Dedup.StaleBandRows)))
    // stage the timeline: all four generations published (the unpinned
    // ones were swept by the previous run — rebuild so the sweep is
    // exercised fresh each run; pinned ones read back warm)
    gens.foreach(g =>
      graft.core.Materialize.readOrCompute(s, graft.core.Materialize.scopedKind(Kind, d), fp(d, g.tag))(g.build()))
    // per-generation (rows, tombstoned rows) — footer-count scans of
    // the slim artifacts; the governance report is O(#generations)
    def counts(g: Gen): (Long, Long) =
      if (!graft.core.Materialize.exists(s, graft.core.Materialize.scopedKind(Kind, d), fp(d, g.tag))) (0L, 0L)
      else {
        val r = graft.core.Tables.parquet(s,
          graft.core.Materialize.tablePath(s, graft.core.Materialize.scopedKind(Kind, d), fp(d, g.tag)))
          .agg(count(lit(1)).as("n"),
            sum(when(col("i") % Dedup.IncrementalMod === Dedup.TombstoneRem,
              lit(1L)).otherwise(lit(0L))).as("nt")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    val before = gens.map(g => g.role -> counts(g)).toMap
    graft.core.Materialize.retentionSweep(s, graft.core.Materialize.scopedKind(Kind, d),
      gens.filter(_.pinned).map(g => fp(d, g.tag)).toSet)
    val rows = gens.map { g =>
      val (rb, tb) = before(g.role)
      val retained = graft.core.Materialize.exists(s, graft.core.Materialize.scopedKind(Kind, d), fp(d, g.tag))
      val (ra, ta) = counts(g)
      ("minhash-bands", g.role, if (g.pinned) 1L else 0L,
        if (retained) 1L else 0L, rb, tb, ra, ta)
    }
    val sess = s
    import sess.implicits._
    rows.toDF("family", "role", "pinned", "retained",
        "rows_before", "tombstone_rows_before",
        "rows_after", "tombstone_rows_after")
      .orderBy("role")
  }

  /** Oracle: every cell of the report is derivable from the corpus
    * census — full generations carry bands × |corpus| rows of which
    * bands × |tombstoned| are deleted documents' (and are swept to 0);
    * live generations carry bands × |live| with zero tombstoned rows,
    * before AND after (the privacy claim inside the gate hash). */
  val g01Sql: String = {
    val bandsDefault = Dedup.MinhashSeeds / Dedup.BandRows
    val bandsStale = Dedup.MinhashSeeds / Dedup.StaleBandRows
    s"""WITH c AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
      |    CAST(COUNT(*) FILTER (WHERE doc_id % ${Dedup.IncrementalMod} =
      |      ${Dedup.TombstoneRem}) AS BIGINT) AS tomb
      |  FROM documents)
      |SELECT family, role, pinned, retained, rows_before,
      |  tombstone_rows_before, rows_after, tombstone_rows_after
      |FROM (
      |  SELECT 'minhash-bands' AS family, 'rollback-live-4x4' AS role,
      |    CAST(1 AS BIGINT) AS pinned, CAST(1 AS BIGINT) AS retained,
      |    CAST($bandsStale * (total - tomb) AS BIGINT) AS rows_before,
      |    CAST(0 AS BIGINT) AS tombstone_rows_before,
      |    CAST($bandsStale * (total - tomb) AS BIGINT) AS rows_after,
      |    CAST(0 AS BIGINT) AS tombstone_rows_after FROM c
      |  UNION ALL SELECT 'minhash-bands', 'serving-live-8x2', 1, 1,
      |    $bandsDefault * (total - tomb), 0,
      |    $bandsDefault * (total - tomb), 0 FROM c
      |  UNION ALL SELECT 'minhash-bands', 'superseded-full-4x4', 0, 0,
      |    $bandsStale * total, $bandsStale * tomb, 0, 0 FROM c
      |  UNION ALL SELECT 'minhash-bands', 'superseded-full-8x2', 0, 0,
      |    $bandsDefault * total, $bandsDefault * tomb, 0, 0 FROM c)
      |ORDER BY role""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_retention_sweep" -> g01 _)

  val oracle: Map[String, String] = Map(
    "g01_retention_sweep" -> g01Sql)
}
