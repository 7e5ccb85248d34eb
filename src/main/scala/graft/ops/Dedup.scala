package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._

/** Deduplication operator suite for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH banding, SimHash hamming pairs,
  * character-n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Cross-engine portability: every hash is MD5 over explicit strings
  * (identical bytes in Spark and DuckDB), bit arithmetic uses
  * CAST(POWER(2,j) AS BIGINT) shifts (exact — powers of two), and all
  * ratios are int/int double divisions. No engine-specific hash
  * function appears anywhere.
  *
  * Scale notes: MinHash-LSH is THE scale path for near-dup — candidate
  * generation is a shuffle on (band, band_signature) buckets, never the
  * O(n^2) cross product; the pairwise verifier runs only on bucket
  * collisions. SimHash pairs and cosine near-dup keep their quadratic
  * oracles blocked (by band / quantized prefix) in the same spirit.
  */
object Dedup {

  // ---- d01: exact dedup summary (hash groupBy) ----

  /** The distinct key is the 16-byte MD5 of the text, not the raw
    * column: countDistinct over full documents shuffles the corpus
    * text as the grouping key at 100 TB (map-side partial distinct
    * only removes intra-partition repeats), while the hash key caps
    * the exchange at 16 bytes/doc under the suite's accepted ~2^-64
    * collision class (file header). NULL text hashes to NULL and stays
    * excluded from the distinct count, exactly like the raw column and
    * the oracle's COUNT(DISTINCT text). */
  def d01(s: SparkSession, d: String): DataFrame =
    documents(s, d).agg(
      big(count(lit(1))).as("total_docs"),
      big(countDistinct(md5(col("text")))).as("distinct_texts"),
      big(count(lit(1)) - countDistinct(md5(col("text")))).as("redundant_docs"))

  val d01Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
      |  CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_texts,
      |  CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS redundant_docs
      |FROM documents""".stripMargin

  // ---- shared token helper ----

  private def tokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))

  // ---- d02: MinHash + LSH banding (the scalable near-dup path) ----

  /** (seeds, rows-per-band) tuned for RECALL at the τ=0.5 verify
    * threshold: 8 bands × 2 rows gives 1−(1−j²)⁸ ≈ 0.90 at j=0.5
    * (vs 0.41 for the previous 4 bands × 3 rows — d14 measured that
    * shape at 0.80 on this corpus's dup mass, a 20% miss rate the
    * production dedup path can't afford at 100 TB). The price is more
    * false candidates per band (j² vs j³ collision rate), all rejected
    * by the exact Jaccard verify — candidate volume stays bucketed,
    * never all-pairs. d14 is the instrument that grades this choice;
    * d02/d14/s06's oracles all parameterize on these two constants. */
  val MinhashSeeds = 16
  val BandRows = 2 // -> 8 bands

  /** Near-dup admission threshold τ = [[TauNum]]/[[TauDen]], shared by
    * d02/d16/d17's exact-Jaccard verify AND — derived, never restated —
    * their size-ratio candidate prune: J(A,B) = |∩|/|∪| ≤ min/max, so
    * J ≥ τ forces max·TauNum ≤ min·TauDen. Expressing the prune through
    * the same rational keeps it a NECESSARY condition for every τ; the
    * round-12 advice hazard (the 0.5 verify, the 2× ratio factor and
    * the oracle SQL as three independently hard-coded places that had
    * to move together) is structurally closed — lowering τ here widens
    * the ratio gate and the oracle thresholds in the same edit. */
  val TauNum = 1L
  val TauDen = 2L
  val JaccardTau: Double = TauNum.toDouble / TauDen

  // Census-split constants for the incremental lifecycle (d16 arrival,
  // d17/a16 deletion). Declared HERE, before any oracle-SQL val that
  // interpolates them: a forward reference inside the same object
  // initializes as 0 silently (round-14 lesson — d14Sql briefly
  // shipped `doc_id % 0 <> 0`), so keep every shared census constant
  // above its first use in initialization order.

  /** The arrival-batch census split: docs with doc_id % Mod == Rem play
    * the "incoming shard"; the rest are the standing corpus. Both
    * engines derive the split in pure SQL, so the oracle samples
    * identically (the d14 census pattern). */
  val IncrementalMod = 10L
  val IncrementalRem = 7L

  /** the census residue of the DELETED slice (d17's documents, a16's
    * vectors) — distinct from [[IncrementalRem]] so the append and the
    * deletion model different rows of the same census. */
  val TombstoneRem = 3L

  /** the census residue of the DAY-2 arrival batch (d18): the docs
    * that arrive AFTER day-1's admitted batch has been appended into
    * the published band artifact — distinct from [[IncrementalRem]]
    * (day 1) and [[TombstoneRem]] (deletions) so the three lifecycle
    * events model disjoint rows of the same census. */
  val AppendRem = 9L

  /** the census residue of the DAY-3 arrival batch (d20's chain): a
    * third disjoint lifecycle slice, graded against the TWICE-appended
    * chain artifact (standing + day-1 admitted + day-2 admitted). The
    * chain world's timeline is [[ChainDays]]; its standing corpus
    * excludes ALL three days (a day's docs must not exist before they
    * arrive — d16/d18's worlds, which predate the 3-day timeline, keep
    * their own 1- and 2-day censuses and artifacts unchanged). */
  val Append2Rem = 5L

  /** the append-chain timeline: day-k arrivals are the k-th residue.
    * Order matters — it IS the ingestion order the chain folds in. */
  val ChainDays: Seq[Long] = Seq(IncrementalRem, AppendRem, Append2Rem)

  /** rows-per-band of the STALE banding generation d19's refresh
    * retires: 16 seeds / 4 rows = 4 bands — the under-banded tuning
    * whose measured live recall (0.68–0.75 across the gate SFs)
    * sits below the declared floor, vs 0.975+ for the default 8×2.
    * (The d14 scaladoc's 'previous shape that drove the retune' —
    * now modeled as an addressable artifact generation.) */
  val StaleBandRows = 4

  /** declared recall floor of the banding refresh (d19): when the
    * SERVING generation's measured live recall (the d14 instrument)
    * drops below this, the operator retunes to the default banding,
    * rebuilds + republishes the signature artifact, and cuts over.
    * 0.9 separates the stale 4×4 (≤0.75 measured) from the default
    * 8×2 (≥0.975 measured) at every gate SF. */
  val RetuneRecallThreshold = 0.9

  /** tombstone fraction above which a serve path stops anti-joining
    * per query and REWRITES the published artifact without the deleted
    * rows (compaction). Shared by d17 (pair table), the band-signature
    * live view, and a16 (IVF-PQ index): below it, the per-query
    * anti-join costs less than a rewrite; above it, every consumer pays
    * the dead-row scan + join forever and the one-time slim-table
    * rewrite (never a raw-input rescan — the published artifacts carry
    * everything the reduced artifact needs) amortizes across all
    * future serves. */
  val TombstoneCompactThreshold = 0.25

  /** the LIVE corpus as a shared oracle-SQL prefix: documents minus
    * the tombstone census residue. Every cluster-derived report oracle
    * (d07/d09/d10/d13/p09 since round 15) is stated over `livedocs` —
    * a takedown must be invisible in every report, not just the
    * pair/band serves d17/d16/d14 already restated. Declared with the
    * census constants (initialization-order rule: an oracle val that
    * interpolates a LATER val reads 0 silently). */
  private[graft] val LiveDocsCte: String =
    s"livedocs AS (SELECT * FROM documents WHERE doc_id % $IncrementalMod <> $TombstoneRem)"

  /** d02 implementation, scale-shaped end to end (the typed
    * MinHashAggregator in graft.functions is the API-surface equivalent
    * for ad-hoc Dataset use):
    *
    *  1. band rows (doc_id, band, band_sig) computed map-side in one
    *     pass (MD5 signatures; repartition spreads the CPU-bound hash
    *     work over all cores) — the candidate join stays SLIM: ids and
    *     32-char sigs only, never token payloads;
    *  2. candidates = bucket equi-join + distinct (O(docs) shuffle);
    *  3. verify: tokens are hash-encoded (first 8 MD5 bytes as a signed
    *     64-bit id — no global dictionary, so no vocab distinct/sort/
    *     zipWithIndex stages; a pairwise id collision mis-counts one
    *     intersection element at ~2^-64, the same accepted class as the
    *     60-bit band keys) into ONE SORTED LONG-ID ARRAY per doc,
    *     computed inside the SAME mapPartitions pass that already
    *     tokenizes for the signatures and carried on the band-0 row of
    *     the persisted band table — zero extra corpus scans. The
    *     candidate stream JOINS the slim (doc_id, ids) projection
    *     twice — Spark auto-broadcasts it at small corpus sizes and
    *     sort-merges when the doc table outgrows the broadcast
    *     threshold, so there is NO driver collect and NO whole-corpus
    *     broadcast. |A∩B| is a linear merge-intersect of the two sorted
    *     id arrays (the d04 kernel shape), so per-doc verify memory is
    *     O(doc tokens) — independent of global vocabulary size.
    *     The pair stream is repartitioned ONCE while still slim (i,j
    *     only); the id arrays ride broadcast-hash lookups, never an
    *     array-carrying shuffle of the candidate stream. */
  /** Table-based hex of an MD5 digest; the naive per-byte
    * format-interpolator costs ~10x the digest itself at millions of
    * hashes per partition. */
  private[graft] def hexMd5(b: Array[Byte]): String = {
    val HEX = "0123456789abcdef"
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX.charAt((b(i) >> 4) & 0xf); out(2 * i + 1) = HEX.charAt(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The pure per-doc MinHash band-key kernel d02 runs in its
    * mapPartitions pass — one 60-bit BIGINT key per band. Factored out
    * so the streaming near-dup flagger (streaming.StreamNearDup, S8)
    * buckets arriving documents with EXACTLY the batch operator's keys.
    * `md` is the caller's thread-local digest instance. */
  private[graft] def docBandKeys(md: java.security.MessageDigest,
                                 toks: Array[String]): Array[Long] =
    docBandKeysB(md, toks, BandRows)

  /** the band-key kernel under an ARBITRARY rows-per-band — the knob
    * d19's refresh retunes (the seed signatures are banding-independent;
    * only the grouping changes). */
  private[graft] def docBandKeysB(md: java.security.MessageDigest,
                                  toks: Array[String],
                                  bandRows: Int): Array[Long] = {
    val numBands = MinhashSeeds / bandRows
    val sigs = Array.tabulate(MinhashSeeds) { seed =>
      // min over hex strings == unsigned-lexicographic min over digest
      // bytes (hex is monotone per byte): compare raw bytes, hexify
      // only the winner
      var best: Array[Byte] = null
      toks.foreach { w =>
        val h = md.digest(s"$seed:$w".getBytes("UTF-8"))
        if (best == null || java.util.Arrays.compareUnsigned(h, best) < 0) best = h
      }
      hexMd5(best)
    }
    Array.tabulate(numBands) { b =>
      val h = hexMd5(md.digest(sigs.slice(b * bandRows, (b + 1) * bandRows)
        .mkString("|").getBytes("UTF-8")))
      java.lang.Long.parseLong(h.substring(0, 15), 16)
    }
  }

  /** Candidate-pair count after banding + first-match + size prune but
    * BEFORE exact verification — the volume the verify stage pays for;
    * profiling/sweep diagnostic only. */
  private[graft] def d02CandidateCount(s: SparkSession, d: String): Long =
    d02Internals(s, d)._2.count()

  /** cache key of the published MinHash band-signature table: corpus
    * identity × banding parameters × code salt (the suite-wide
    * [[dedupCodeSalt]] defined with the d03/d07 fingerprints below). */
  private[graft] def minhashFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-s$MinhashSeeds-r$BandRows", dedupCodeSalt)

  /** The OFFLINE signature build — at 100 TB the MD5-per-(seed×token)
    * pass over raw text is the dominant cost of the whole dedup suite,
    * and before round 12 every consumer (d02, d14, s06's batch
    * reference) re-ran it from scratch. One row per (doc, band):
    * 60-bit BIGINT bucket key, distinct-token count, and (band-0 rows
    * only, to keep the table slim) the doc's sorted 64-bit token-id
    * array for the exact-Jaccard verify. Explicit partition count: the
    * pass is CPU-bound and the source is a single row group — without
    * the pinned repartition it runs on one core. */
  private def buildBandTable(s: SparkSession, d: String): DataFrame =
    bandRowsFor(s, documents(s, d))

  /** The signature pass itself, over an arbitrary (doc_id, text)
    * relation — factored from the corpus build so d16 can run the SAME
    * kernel over an incoming batch that is NOT yet in the published
    * table (the incremental-ingest shape: corpus side served, batch
    * side computed fresh at arrival size). */
  /** sorted 64-bit token-id array for the verify kernel (first 8 MD5
    * bytes, big-endian signed long — internal ids, Spark-side only);
    * shared by the batch signature pass and the streaming arrival
    * pass. */
  private def tokenIds(md: java.security.MessageDigest,
                       toks: Array[String]): Array[Long] = {
    val ids = toks.map { w =>
      val h = md.digest(w.getBytes("UTF-8"))
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (h(k) & 0xffL); k += 1 }
      v
    }
    java.util.Arrays.sort(ids)
    ids
  }

  /** NULL text is cut up front, matching the SQL-expression paths'
    * semantics (split/explode of NULL emits no rows, so a null-text doc
    * is simply absent) — without the guard, one malformed row in a
    * 100 TB corpus would NPE the whole signing job hours in.
    * private[graft]: the retention demo family (graft.ops.Governance
    * g01) and its specs build REAL artifacts with this kernel — a
    * tombstoned doc's band rows are what a superseded raw generation
    * illegally retains. */
  private[graft] def bandRowsFor(s: SparkSession, docs: DataFrame,
                          bandRows: Int = BandRows): DataFrame = {
    import s.implicits._
    val numBands = MinhashSeeds / bandRows
    val par = s.sparkContext.defaultParallelism
    docs.select(col("doc_id"), col("text"))
      .where(col("text").isNotNull)
      .repartition(par, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = text.split(" ", -1).distinct
          val ids = tokenIds(md, toks)
          val bandKeys = docBandKeysB(md, toks, bandRows)
          Iterator.tabulate(numBands) { b =>
            (id, b, bandKeys(b), ids.length,
              // carry the id array once per doc (band 0 only) so the
              // published table stays slim on the other rows
              if (b == 0) ids else Array.emptyLongArray)
          }
        }
      }
      .toDF("i", "band", "sig", "n", "toks")
  }

  // ---- exact-duplicate collapse (round 17: hot-bucket mitigation) ----

  /** A band relation plus the exact-duplicate membership needed to
    * re-expand representative-level answers to document level.
    * `members` is None for an uncollapsed build (the normal corpus —
    * every helper below is then the identity and adds ZERO plan
    * operators); Some((i=member doc_id, rep)) when the build collapsed
    * an exact-duplicate mega-cluster (rows exist only for clusters of
    * size > 1, rep's own row included). The invariant every helper
    * leans on: members of one cluster have IDENTICAL text, hence
    * identical token sets, token counts, and band signatures — so a
    * representative's band rows, candidate pairs, and verified
    * Jaccards stand for every member's exactly. */
  private[graft] final case class BandView(
      rows: DataFrame, members: Option[DataFrame])

  /** Filter a view by a doc-level keep-filter (predicate or id
    * anti-join), applied at MEMBER level: a collapsed cluster survives
    * iff any member does, and its rows are relabeled to the smallest
    * surviving member (so downstream reps are always live ids — a
    * tombstoned rep must not serve for its surviving duplicates). */
  private def filteredView(v: BandView,
      keep: (DataFrame, String) => DataFrame): BandView = v.members match {
    case None => BandView(keep(v.rows, "i"), None)
    case Some(m) =>
      val liveM = keep(m, "i")
      val repMap = liveM.groupBy(col("rep")).agg(min(col("i")).as("newrep"))
      val clusterRows = v.rows
        .join(repMap.withColumnRenamed("rep", "i"), Seq("i"))
        .select(col("newrep").as("i"), col("band"), col("sig"), col("n"), col("toks"))
      val singleRows = keep(
        v.rows.join(m.select(col("rep").as("i")).distinct(), Seq("i"), "left_anti"),
        "i")
      val newMembers = liveM.join(repMap, Seq("rep"))
        .select(col("i"), col("newrep").as("rep"))
      BandView(clusterRows.unionByName(
        singleRows.select(col("i"), col("band"), col("sig"), col("n"), col("toks"))),
        Some(newMembers))
  }

  private def keepWhere(pred: Column => Column): (DataFrame, String) => DataFrame =
    (df, c) => df.where(pred(col(c)))

  private def keepMinusIds(ids: DataFrame): (DataFrame, String) => DataFrame =
    (df, c) => df.join(ids.select(col("doc_id").as(c)), Seq(c), "left_anti")

  /** The view's band rows RE-INFLATED to document level (one row set
    * per member), optionally filtered — for consumers that need
    * per-document band keys (d14's sampled eval, s06's batch
    * reference). Identity (plus the filter) when uncollapsed. */
  private[graft] def bandRowsAt(v: BandView,
      keep: (DataFrame, String) => DataFrame = (df, _) => df): DataFrame =
    v.members match {
      case None => keep(v.rows, "i")
      case Some(m) =>
        val mem = keep(m, "i")
        val clusterRows = v.rows
          .join(mem.select(col("i").as("mi"), col("rep").as("i")), Seq("i"))
          .select(col("mi").as("i"), col("band"), col("sig"), col("n"), col("toks"))
        val singleRows = keep(
          v.rows.join(m.select(col("rep").as("i")).distinct(), Seq("i"), "left_anti"),
          "i")
        clusterRows.unionByName(
          singleRows.select(col("i"), col("band"), col("sig"), col("n"), col("toks")))
    }

  /** Expand representative-level verified pairs (doc_a, doc_b,
    * jaccard) to document level: each endpoint fans out to its
    * cluster's members (identity for singletons), re-canonicalized to
    * doc_a < doc_b; plus every within-cluster pair at jaccard 1.0
    * (identical text — and always banded together, so the uncollapsed
    * kernel would emit exactly these). Identity when uncollapsed.
    * The within-cluster fan-out is the ANSWER's size, not verify work:
    * a c-duplicate cluster owes c(c−1)/2 output rows under the d02
    * contract whether or not the build collapsed; what the collapse
    * removes is the c²/2 candidate-verify volume upstream. */
  private def expandPairs(pairs: DataFrame,
                          members: Option[DataFrame]): DataFrame = members match {
    case None => pairs
    case Some(m) =>
      val ea = coalesce(col("ea"), col("doc_a"))
      val eb = coalesce(col("eb"), col("doc_b"))
      val cross = pairs
        .join(m.select(col("rep").as("doc_a"), col("i").as("ea")), Seq("doc_a"), "left")
        .join(m.select(col("rep").as("doc_b"), col("i").as("eb")), Seq("doc_b"), "left")
        .select(least(ea, eb).as("doc_a"), greatest(ea, eb).as("doc_b"),
          col("jaccard"))
      val intra = m.select(col("rep"), col("i").as("ea"))
        .join(m.select(col("rep"), col("i").as("eb")), Seq("rep"))
        .where(col("ea") < col("eb"))
        .select(col("ea").as("doc_a"), col("eb").as("doc_b"),
          lit(1.0).as("jaccard"))
      cross.unionByName(intra)
  }

  /** Expand the corpus side of verified admission pairs (ni, ci, jac):
    * a representative match stands for a match on EVERY member (n_dups
    * counts them all; best_match tie-breaks over real ids). Identity
    * when uncollapsed. */
  private[graft] def expandAdmissionPairs(pairs: DataFrame,
      members: Option[DataFrame]): DataFrame = members match {
    case None => pairs
    case Some(m) =>
      pairs
        .join(m.select(col("rep").as("ci"), col("i").as("cm")), Seq("ci"), "left")
        .select(col("ni"), coalesce(col("cm"), col("ci")).as("ci"), col("jac"))
  }

  /** exact-duplicate clusters of a corpus: (i = member doc_id, rep =
    * cluster min doc_id), rows only for clusters of size > 1 (rep row
    * included) — the d01 key (16-byte MD5, the accepted ~2^-64
    * collision class) as a grouping, never the raw text. */
  private def exactClusters(docs: DataFrame): DataFrame = {
    val dh = docs.where(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("h"))
    dh.join(
      dh.groupBy(col("h"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("c"))
        .where(col("c") > 1),
      Seq("h"))
      .select(col("doc_id").as("i"), col("rep"))
  }

  /** the pre-sign census: largest exact-duplicate cluster size — one
    * slim aggregate (16-byte keys, partial-aggregable) that decides
    * whether the signing pass may run uncollapsed. */
  private def maxExactClusterSize(docs: DataFrame): Long = {
    val r = docs.where(col("text").isNotNull)
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** the published exact-duplicate membership of the DEFAULT band
    * build, if that build collapsed (None otherwise — the normal
    * case). Published BEFORE the band table under the same
    * fingerprint, so band-table completeness implies membership
    * availability. */
  private[graft] def bandMembers(s: SparkSession, d: String): Option[DataFrame] = {
    val fp = minhashFingerprint(s, d)
    if (graft.core.Materialize.exists(s, sk("minhash-members", d), fp))
      Some(graft.core.Materialize.readTable(s, sk("minhash-members", d), fp))
    else None
  }

  /** the full-corpus band view: published rows + membership. */
  private[graft] def bandView(s: SparkSession, d: String): BandView =
    BandView(bandTable(s, d), bandMembers(s, d))

  /** The published band-signature table — a13's index build/serve
    * separation applied to the dedup suite: built ONCE per corpus
    * fingerprint through [[graft.core.Materialize]], consumed by d02
    * (candidate join + verify arrays), d14 (recall eval band keys) and
    * s06's batch reference. A warm consumer never touches raw text;
    * band-key truncation collisions and staleness are covered by the
    * fingerprint key exactly as for a13's PQ codes.
    *
    * HOT-BUCKET MITIGATION (round 17): before a cold build signs
    * anything, a slim census checks the largest exact-duplicate text
    * cluster. Over [[hotBucketCapDocs]] (crawl boilerplate — c
    * identical docs share EVERY band signature, so one bucket owes
    * ~c²/2 verify pairs that the equal-size-proof size-ratio prune
    * cannot cut), the build COLLAPSES exact duplicates to one
    * representative before signing: the published table holds the
    * representatives' rows (bucket pair volume bounded by
    * distinct-text cardinality), the membership table is published
    * alongside ([[bandMembers]]), and every consumer re-expands
    * answers to document level through it ([[expandPairs]] /
    * [[expandAdmissionPairs]] / [[bandRowsAt]]) — answers are
    * bit-identical to the uncollapsed kernel's, per the identical-text
    * invariant on [[BandView]]. */
  private[graft] def bandTable(s: SparkSession, d: String): DataFrame = {
    val fp = minhashFingerprint(s, d)
    val cold = !graft.core.Materialize.exists(s, sk("minhash", d), fp)
    if (cold) {
      // pre-sign exact-duplicate census (round 17): decide the collapse
      // BEFORE paying the signing pass — the round-16 tripwire could
      // only warn after the fact. One slim aggregate per cold build.
      val docs = documents(s, d)
      val maxC = maxExactClusterSize(docs)
      if (maxC > hotBucketCapDocs(s)) {
        System.err.println(s"[graft] minhash build: exact-duplicate " +
          s"mega-cluster of $maxC docs exceeds the ${hotBucketCapDocs(s)}-doc " +
          "bucket cap — collapsing exact duplicates to representatives " +
          "before signing (answers re-expanded through the membership table)")
        graft.core.Materialize.readOrCompute(s, sk("minhash-members", d), fp)(
          exactClusters(docs))
      }
    }
    val t = graft.core.Materialize.readOrCompute(s, sk("minhash", d), fp)(
      bandMembers(s, d) match {
        case None => buildBandTable(s, d)
        case Some(m) => // sign ONE representative per exact-dup cluster
          bandRowsFor(s, documents(s, d).join(
            m.where(col("i") =!= col("rep")).select(col("i").as("doc_id")),
            Seq("doc_id"), "left_anti"))
      })
    // post-build hot-bucket census on the COLD build only (one
    // aggregate over the just-published slim table): with the exact
    // collapse in place this fires only for a NEAR-duplicate
    // mega-cluster whose members differ textually yet share all
    // 2-row band keys — rarer, and not collapsible by an exact key;
    // surfaced for operator excision.
    if (cold)
      hotBucketWarning(s, t).foreach(m => System.err.println(s"[graft] $m"))
    t
  }

  /** docs-per-bucket ceiling before one LSH bucket's candidate volume
    * (~c²/2 verify pairs) exceeds the suite's shared pair budget
    * ([[JaccardPairBudget]] — √budget docs ⇒ ~budget/2 pairs).
    * `spark.graft.dedup.hotBucketCapDocs` overrides — an operator
    * tuning the collapse trigger to a deployment's verify budget (and
    * the randomized property spec exercising the collapse at small
    * corpus scale). The conf is read from the PASSED session (round-18
    * ADVICE: getActiveSession is thread-local, so on a driver thread
    * with no active session the override was silently ignored —
    * answer-identical either way, but a tuning knob must not be
    * thread-dependent). NOTE the cap is deliberately NOT part of the
    * artifact fingerprint: both build modes produce answer-identical
    * consumers, so a cap change re-keys nothing — it only steers which
    * representation the next COLD build publishes. */
  def hotBucketCapDocs(s: SparkSession): Long =
    s.conf.getOption("spark.graft.dedup.hotBucketCapDocs")
      .map(_.toLong)
      .getOrElse(math.sqrt(JaccardPairBudget.toDouble).toLong)

  /** Census check for LSH hot buckets — the d02-family analogue of
    * [[jaccardCapWarning]]: returns a warning naming the worst
    * (band, sig) bucket and the over-cap count when any bucket holds
    * more than [[hotBucketCapDocs]] docs. Aggregate-only (three scalars
    * reach the driver, never the census rows). Applies equally to the
    * simhash chunk buckets ([[hammingSelfJoin]]) — identical docs have
    * identical fingerprints — but runs here, on the declared scale
    * path's artifact, where every band consumer inherits it. */
  def hotBucketWarning(s: SparkSession, bandRows: DataFrame): Option[String] = {
    val cap = hotBucketCapDocs(s)
    val over = bandRows.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("c"))
      .where(col("c") > cap)
      .agg(count(lit(1)).as("n"), max(col("c")).as("worst_c"),
        expr("max_by(sig, c)").as("worst_sig"))
      .head()
    if (over.getLong(0) == 0L) None
    else {
      val worstC = over.getLong(1)
      Some(s"minhash band table: ${over.getLong(0)} LSH bucket(s) exceed " +
        s"$cap docs (worst sig ${over.getLong(2)} holds $worstC " +
        s"docs ≈ ${worstC * worstC / 2} candidate pairs, and equal-size " +
        "exact duplicates pass the τ size-ratio prune). This corpus has an " +
        "exact-duplicate mega-cluster — run an exact-dedup collapse " +
        "(the d01/q23 class) before near-dup signing, or excise the boilerplate.")
    }
  }

  def d02(s: SparkSession, d: String): DataFrame =
    neardupPairsOver(s, bandView(s, d))

  /** d02's whole serving body over an arbitrary band view — factored
    * so d17 can run the IDENTICAL candidate join + verify over the
    * published table minus tombstones: one definition, two corpus
    * views (the serveAdcTop3 pattern applied to dedup). Collapsed
    * views verify representatives and re-expand to document level
    * ([[expandPairs]] — identity when uncollapsed). */
  private[graft] def neardupPairsOver(s: SparkSession, view: BandView): DataFrame = {
    import s.implicits._
    val bandRows = view.rows
    val cand = candidatesOver(bandRows)
    val par = s.sparkContext.defaultParallelism

    // per-doc sorted 64-bit id arrays: the band-0 projection of the
    // already-persisted band table — no extra corpus scan, no vocab
    // stages (the cache scan prunes to just (i, toks))
    val docSets = bandRows.where(col("band") === 0).select(col("i"), col("toks"))

    val verified = cand
      .repartition(par, col("i"), col("j"))
      .join(docSets.select(col("i"), col("toks").as("ta")), "i")
      .join(docSets.select(col("i").as("j"), col("toks").as("tb")), "j")
      .as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (j, i, ta, tb) =>
          val n = sortedIntersectLong(ta, tb)
          val jac = n.toDouble / (ta.length + tb.length - n).toDouble
          if (jac >= JaccardTau) Iterator.single((i, j, jac)) else Iterator.empty
        }
      }
      .toDF("doc_a", "doc_b", "jaccard")
    expandPairs(verified, view.members).orderBy("doc_a", "doc_b")
  }

  private[graft] def d02Internals(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // One row per (doc, band): the bucket key for THIS band, SERVED
    // FROM THE PUBLISHED TABLE (cold first run per corpus fingerprint
    // pays the build+publish; Bench's mat_pub/"cold" marker flags it).
    // Band keys are the band-MD5 truncated to 60 bits in a BIGINT. A
    // truncation collision usually only adds a candidate pair that
    // exact verify rejects; the residual risk is a falsely-bucketed
    // pair whose true Jaccard >= 0.5 — emitted here but absent from
    // the full-128-bit oracle — at ~2^-60 per pair, accepted as
    // negligible.
    // NOT persisted: the published table is a slim column-pruned
    // parquet read (~0.3 s/scan at sf0.1) and each of the four
    // consumers (two join sides, two docSets projections) prunes a
    // DIFFERENT column set — going through the columnar cache
    // serializer for the array column measured slower than four direct
    // pruned scans, and the unfilled cache additionally made racing
    // consumers recompute the scan per stage
    val bandRows = bandTable(s, d)
    (bandRows, candidatesOver(bandRows))
  }

  /** the banded candidate join over an arbitrary band-row relation
    * (shared by d02's full-corpus pass and d17's tombstone-reduced
    * view). */
  private def candidatesOver(bandRows: DataFrame): DataFrame = {
    val a = bandRows
    val b = bandRows.select(col("i").as("j"), col("band").as("band_b"),
      col("sig").as("sig_b"), col("n").as("nb"))
    // size-ratio prune INSIDE the join predicate: jac = |∩|/|∪| ≤
    // min(|A|,|B|)/max(|A|,|B|), so J ≥ τ forces max·TauNum ≤
    // min·TauDen (the [[TauNum]]/[[TauDen]] rational — derived from the
    // SAME constants the verify threshold uses, so the prune stays a
    // necessary condition under any τ) — an exact condition evaluated
    // as codegen'd integer comparisons before any array is touched
    // (the 2-row bands of the recall-tuned 8×2 shape admit far more
    // false candidates than the old 3-row bands; this claws a slice of
    // them back for free).
    //
    // Dedup across bands is a DISTINCT over slim (i, j) pairs, NOT the
    // d03-style first-match predicate: first-match needs both docs'
    // full band-key vectors on every collision row, and at the 8×2
    // recall shape that array carriage measured 14.6 s for 10.3 M
    // candidates at sf0.1 where the 16-byte-row distinct shuffle of the
    // same 45 M collisions measures 2.6 s (test-side graft.tools.D02Prof,
    // round 9) — the collision stream is ~4× the candidate set, so
    // shuffling it slim beats materializing 2×numBands keys per row
    // in-stage. At scale the distinct's exchange volume is
    // collisions × 16 B, map-side combined within each band partition.
    val cand = a.join(b, col("band") === col("band_b") &&
        col("sig") === col("sig_b") && col("i") < col("j") &&
        greatest(col("n"), col("nb")) * lit(TauNum) <=
          lit(TauDen) * least(col("n"), col("nb")))
      .select("i", "j")
      .distinct()
    cand
  }

  private def sortedIntersectLong(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1 else j += 1
    }
    n
  }

  val d02Sql: String = d02SqlOver("TRUE")

  /** d02's oracle chain over a filtered corpus view — `docFilter`
    * restricts the ONE place documents enter the chain, so d17's
    * "pairs over the corpus minus deletions" oracle is d02's with the
    * tombstone predicate and nothing else. */
  private def d02SqlOver(docFilter: String): String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents WHERE $docFilter),
      |sigs AS (
      |  SELECT doc_id, seed, MIN(md5(seed || ':' || w)) AS sig
      |  FROM tok, (SELECT unnest(generate_series(0, ${MinhashSeeds - 1})) AS seed)
      |  GROUP BY doc_id, seed),
      |bands AS (
      |  SELECT doc_id, seed // $BandRows AS band,
      |    md5(string_agg(sig, '|' ORDER BY seed)) AS band_sig
      |  FROM sigs GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT cand.i, cand.j, COUNT(*) AS n
      |  FROM cand JOIN tok ta ON ta.doc_id = cand.i
      |            JOIN tok tb ON tb.doc_id = cand.j AND tb.w = ta.w
      |  GROUP BY 1, 2)
      |SELECT i AS doc_a, j AS doc_b,
      |  CAST(n AS DOUBLE) / CAST(ca.c + cb.c - n AS DOUBLE) AS jaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
      |WHERE CAST(n AS DOUBLE) / CAST(ca.c + cb.c - n AS DOUBLE) >= $JaccardTau
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d03: SimHash fingerprints + hamming-distance pairs ----

  val SimhashBits = 60
  val HammingMax = 6

  /** 60-bit SimHash per doc: token hash = first 15 hex chars of MD5
    * (fits a signed BIGINT, codegen'd conv/substring/md5), bit votes
    * summed per doc in a typed tight loop (groupByKey + primitive
    * arrays — an interpreted HOF vote loop here costs seconds per
    * million tokens; the kernel is nanoseconds per token). The shuffle
    * carries |tokens| rows once — not |tokens| x 60 (the naive
    * bit-explode costs 60x the shuffle for the same answer). */
  private def simhashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    tokens(s, d)
      .withColumn("h", conv(substring(md5(col("w")), 1, 15), 16, 10).cast(LongType))
      .select("doc_id", "h").as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val votes = new Array[Int](SimhashBits)
        it.foreach { case (_, h) =>
          var j = 0
          while (j < SimhashBits) {
            if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        var fp = 0L
        var j = 0
        while (j < SimhashBits) { if (votes(j) >= 0) fp |= 1L << j; j += 1 }
        (id, fp)
      }
      .toDF("doc_id", "simhash")
  }

  /** Multi-index (pigeonhole) banding: the 60-bit fingerprint is split
    * into HammingMax+1 = 7 chunks (4x9 + 3x8 bits). Two fingerprints
    * within hamming distance 6 differ in at most 6 chunks, so they MUST
    * agree exactly on at least one chunk — candidate pairs come from an
    * equi-join on (chunk_idx, chunk_value), then the exact bit_count
    * verifies. Replaces the round-1 all-pairs theta join (a
    * BroadcastNestedLoop, O(n^2) at any scale) with one hash shuffle of
    * 7 rows/doc; recall is exact, not probabilistic. */
  /** (idx, bit offset, width) for `bits` split into `n` chunks; the
    * first `bits % n` chunks get one more bit. */
  private[graft] def hammingChunkLayout(bits: Int, n: Int): Seq[(Int, Int, Int)] = {
    val base = bits / n
    val extra = bits % n // first `extra` chunks get one more bit
    val widths = Seq.tabulate(n)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).zipWithIndex.map {
      case ((off, w), idx) => (idx, off, w)
    }
  }

  val SimhashChunks: Seq[(Int, Int, Int)] = hammingChunkLayout(SimhashBits, HammingMax + 1)

  /** Pigeonhole multi-index hamming self-join as a library primitive —
    * the construction d03 uses (and plans/HammingJoinRule applies to
    * user-written joins), parameterized for any fingerprint width and
    * distance: split the `bits`-bit fingerprint into maxH+1 chunks
    * (pigeonhole: within-distance pairs agree on ≥1 chunk), equi-join
    * on (chunk idx, chunk value), keep each pair exactly once via the
    * first-match CASE chain (codegen-friendly — HOF lambdas here are
    * interpreted per joined row, measured 10x slower), verify with the
    * exact bit_count. Recall is exact, not probabilistic. Input `fps`
    * must have columns (id, fp); output (id_a, id_b, hamming) with
    * id_a < id_b and hamming <= maxH. Chunk width trades candidate
    * volume against chunk count: narrow chunks (large maxH) prune less
    * — callers at 100 TB should keep maxH small relative to `bits`,
    * exactly like d03's 7x~8-bit layout. */
  private[graft] def hammingSelfJoin(fps: DataFrame, bits: Int, maxH: Int): DataFrame = {
    // Degenerate parameters silently collapse the multi-index into one
    // bucket (an O(n^2) join): maxH+1 > bits yields zero-width chunks
    // whose mask is 0, and a naive (1L << 64) - 1 wraps to 0 on the
    // JVM. Reject the former, and compute full-width masks explicitly.
    require(bits >= 1 && bits <= 64, s"fingerprint width $bits not in [1, 64]")
    require(maxH >= 0 && maxH + 1 <= bits,
      s"maxH=$maxH needs ${maxH + 1} chunks but only $bits bits — " +
        "zero-width chunks would degenerate to a single-bucket join")
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    val defs = hammingChunkLayout(bits, maxH + 1)
    val chunked = fps.select(col("id"), col("fp"),
      explode(array(defs.map { case (idx, off, w) =>
        struct(lit(idx).as("ck"),
          shiftright(col("fp"), off).bitwiseAND(lit(mask(w))).as("cv"))
      }: _*)).as("c"))
      .select(col("id"), col("fp"), col("c.ck").as("ck"), col("c.cv").as("cv"))
    val a = chunked.select(col("id").as("id_a"), col("fp").as("fa"),
      col("ck"), col("cv"))
    val b = chunked.select(col("id").as("id_b"), col("fp").as("fb"),
      col("ck").as("ck_b"), col("cv").as("cv_b"))
    def chunkEq(k: Int): Column = {
      val (_, off, w) = defs(k)
      (shiftright(col("fa"), off).bitwiseAND(lit(mask(w)))) ===
        (shiftright(col("fb"), off).bitwiseAND(lit(mask(w))))
    }
    val firstMatch = (1 until defs.length)
      .foldLeft(when(col("ck") === 0, lit(true))) { (acc, idx) =>
        acc.when(col("ck") === idx, !(0 until idx).map(chunkEq).reduce(_ || _))
      }
      .otherwise(lit(false))
    // predicate order matters: the exact hamming verify (xor+popcount,
    // ~3 codegen ops) runs BEFORE the first-match chain (O(chunks²)
    // shift/compare ops) — almost every candidate fails the verify, so
    // the chain only runs on true pairs. Worth ~15% on m03's 15-chunk
    // worst case (9.2 s -> 7.9 s verify stage at sf0.1; the remaining
    // cost is the candidate-row volume itself, which only the chunk
    // width / threshold trade can change).
    a.join(b, col("ck") === col("ck_b") && col("cv") === col("cv_b") &&
        col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))).cast(LongType))
      .where(col("hamming") <= maxH)
      .where(firstMatch)
      .select("id_a", "id_b", "hamming")
  }

  /** Multi-word generalization of [[hammingSelfJoin]] for fingerprints
    * wider than one BIGINT: the fingerprint is the little-endian
    * concatenation of `wordBits.length` long columns `fp0, fp1, ...`
    * (word k holds bits `[sum(wordBits.take(k)), +wordBits(k))`; each
    * word ≤ 63 bits so values stay non-negative and arithmetic
    * shiftright is safe on both engines). Chunks are laid out over the
    * CONCATENATED bit space — a chunk may straddle a word boundary, in
    * which case its value is assembled from two masked pieces — so a
    * 120-bit fingerprint at maxH=14 gets 15 uniform 8-bit chunks
    * (256-way buckets) instead of the 4-bit (16-way) chunks a 60-bit
    * hash is forced into: 16x less birthday-collision candidate volume
    * on hash-uniform corpora at identical exact recall. This is m03's
    * scale fix (round-7 verdict); input (id, fp0, fp1, ...), output
    * (id_a, id_b, hamming) with id_a < id_b, hamming summed across
    * words. */
  private[graft] def hammingSelfJoinWide(fps: DataFrame, wordBits: Seq[Int],
                                         maxH: Int): DataFrame = {
    require(wordBits.nonEmpty && wordBits.forall(b => b >= 1 && b <= 63),
      s"word widths $wordBits must each be in [1, 63]")
    val bits = wordBits.sum
    require(maxH >= 0 && maxH + 1 <= bits,
      s"maxH=$maxH needs ${maxH + 1} chunks but only $bits bits")
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    val nWords = wordBits.length
    val wordOff = wordBits.scanLeft(0)(_ + _) // start bit of each word
    // chunk value at [off, off+w) of the concatenated space, assembled
    // from the overlapping piece(s) of the given word columns
    def extract(words: Seq[Column], off: Int, w: Int): Column =
      (0 until nWords).flatMap { k =>
        val lo = math.max(off, wordOff(k))
        val hi = math.min(off + w, wordOff(k) + wordBits(k))
        if (hi <= lo) None
        else Some(shiftleft(
          shiftright(words(k), lo - wordOff(k)).bitwiseAND(lit(mask(hi - lo))),
          lo - off))
      }.reduce(_.bitwiseOR(_))
    val defs = hammingChunkLayout(bits, maxH + 1)
    val fpCols = (0 until nWords).map(k => col(s"fp$k"))
    val chunked = fps.select((col("id") +: fpCols) :+
      explode(array(defs.map { case (idx, off, w) =>
        struct(lit(idx).as("ck"), extract(fpCols, off, w).as("cv"))
      }: _*)).as("c"): _*)
      .select((col("id") +: fpCols) ++
        Seq(col("c.ck").as("ck"), col("c.cv").as("cv")): _*)
    val a = chunked.select((col("id").as("id_a") +:
      (0 until nWords).map(k => col(s"fp$k").as(s"fa$k"))) ++
      Seq(col("ck"), col("cv")): _*)
    val b = chunked.select((col("id").as("id_b") +:
      (0 until nWords).map(k => col(s"fp$k").as(s"fb$k"))) ++
      Seq(col("ck").as("ck_b"), col("cv").as("cv_b")): _*)
    val faCols = (0 until nWords).map(k => col(s"fa$k"))
    val fbCols = (0 until nWords).map(k => col(s"fb$k"))
    def chunkEq(k: Int): Column = {
      val (_, off, w) = defs(k)
      extract(faCols, off, w) === extract(fbCols, off, w)
    }
    val firstMatch = (1 until defs.length)
      .foldLeft(when(col("ck") === 0, lit(true))) { (acc, idx) =>
        acc.when(col("ck") === idx, !(0 until idx).map(chunkEq).reduce(_ || _))
      }
      .otherwise(lit(false))
    val hamming = (0 until nWords)
      .map(k => bit_count(faCols(k).bitwiseXOR(fbCols(k))))
      .reduce(_ + _).cast(LongType)
    // same predicate order as the single-word kernel: cheap exact
    // verify first, O(chunks^2) first-match chain only on true pairs
    a.join(b, col("ck") === col("ck_b") && col("cv") === col("cv_b") &&
        col("id_a") < col("id_b"))
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxH)
      .where(firstMatch)
      .select("id_a", "id_b", "hamming")
  }

  /** d03 IS the pair-generation kernel: it always computes fresh (it is
    * the thing being measured) and PUBLISHES the pair table at its
    * corpus fingerprint for every downstream consumer (d07's
    * clustering, d10's leakage matrix). */
  def d03(s: SparkSession, d: String): DataFrame =
    publishPairs(s, d).orderBy("doc_a", "doc_b")

  /** Unordered d03 pair stream — shared by d03 (which orders it for the
    * oracle) and d07 (which feeds it to connected components). The
    * pigeonhole construction itself lives in [[hammingSelfJoin]]. */
  def d03Pairs(s: SparkSession, d: String): DataFrame = {
    // pinned partition count: the probe side of the bucket join is
    // CPU-dense with tiny bytes (candidate evals, codegen predicate) —
    // left to byte-based sizing it lands on one core.
    val f = simhashes(s, d).repartition(
      s.sparkContext.defaultParallelism, col("doc_id"))
    hammingSelfJoin(f.select(col("doc_id").as("id"), col("simhash").as("fp")),
      SimhashBits, HammingMax)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
  }

  /** shared oracle prefix: simhash fingerprints (`fp(doc_id, simhash)`)
    * — d03's pair predicate and every report built on it start here.
    * Parameterized by the corpus relation: d03 (the kernel measure)
    * states it over `documents`; every cluster-derived REPORT states
    * it over `livedocs` (round 15 — deletion reaches the reports). */
  private def simhashFpCteOver(rel: String): String =
    s"""tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM $rel),
      |th AS (
      |  SELECT doc_id, CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) AS h FROM tok),
      |votes AS (
      |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM th, (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS j)
      |  GROUP BY doc_id, j),
      |fp AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN vote >= 0 THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  private val simhashFpCte: String = simhashFpCteOver("documents")

  /** the d03 pair predicate + the transitive-closure labelling, over an
    * arbitrary corpus relation — the shared tail of every clustering
    * oracle (d07/d09 directly; d13/p09 via [[ccCanonCtesOver]]). Ends
    * at `lab(doc, cluster_id)`. */
  private def ccLabCtesOver(rel: String): String =
    s"""${simhashFpCteOver(rel)},
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(doc, label) AS (
      |  SELECT doc_id, doc_id FROM $rel
      |  UNION
      |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
      |  WHERE r.label <> e.dst),
      |lab AS (SELECT doc, MIN(label) AS cluster_id FROM reach GROUP BY doc)""".stripMargin

  val d03Sql: String =
    s"""WITH $simhashFpCte
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d10: cross-source near-dup LEAKAGE matrix — for every unordered
    * pair of sources, how many d03 near-dup pairs straddle them
    * (including same-source pairs on the diagonal). This is the
    * train/test-contamination report a data team reads before declaring
    * two slices independent: exact cross-source dups are zero on this
    * corpus, but near-dup leakage is not. Shape at 100 TB: the report
    * CONSUMES the MATERIALIZED pair table ([[pairsTable]] — pair
    * generation dominates at scale and runs once per corpus
    * fingerprint, not once per report) and feeds it through two keyed
    * joins against the slim (doc_id, source) projection —
    * Catalyst/AQE broadcasts that side at bench scale and falls back
    * to a shuffle join when the doc map outgrows the threshold — then
    * a tiny |sources|^2 aggregation. */
  def d10(s: SparkSession, d: String): DataFrame = {
    // DELETION-AWARE since round 15: the report reads the LIVE pair
    // view (published d03 pairs minus tombstone-touching rows — exact,
    // because pair membership is a property of the two docs alone), so
    // a takedown can no longer inflate the contamination matrix with
    // pairs of documents that no longer exist. The source map stays the
    // full projection: only live pairs reach the join, and pruning it
    // would add a second anti-join for rows the join already drops.
    val src = documents(s, d).select(col("doc_id"), col("source"))
    liveD03Pairs(s, d)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(big(count(lit(1))).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  val d10Sql: String =
    s"""WITH $LiveDocsCte,
      |${simhashFpCteOver("livedocs")},
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax)
      |SELECT LEAST(da.source, db.source) AS src_a,
      |  GREATEST(da.source, db.source) AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM pairs
      |JOIN livedocs da ON da.doc_id = pairs.doc_a
      |JOIN livedocs db ON db.doc_id = pairs.doc_b
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- d07: near-dup CLUSTERS — connected components over d03 pairs ----

  /** d07: the dedup endgame — pairwise matches are only half the
    * pipeline; canonicalization needs CLUSTERS (pick one representative
    * per group of mutual near-dups). Components of the d03 similarity
    * graph via iterative min-label propagation, the standard distributed
    * CC construction (each round every vertex takes the min label among
    * itself and its neighbors; fixpoint = every vertex holds its
    * component's min doc_id):
    *
    *  - per-round cost is ONE equi-join of the edge list against the
    *    current labels plus a groupBy-min — all shuffles on keys, no
    *    driver data;
    *  - rounds = graph diameter. Near-dup clusters are dense (band
    *    collisions make them near-cliques), so diameter is small; the
    *    corpus converges in <= 4 rounds. (At adversarial diameters the
    *    classic fix is alternating small-star/large-star, same join
    *    shape; documented, not needed here.)
    *  - each round localCheckpoints the label table: truncates the
    *    growing lineage (iterative plans re-optimize the whole history
    *    otherwise) and drops the shuffle dependency chain;
    *  - convergence check is a LIMIT-1 count of labels that shrank — a
    *    driver scalar, never rows.
    *
    * Output: (doc_id, cluster_id = component min doc_id, cluster_size),
    * singletons included — exactly the table a canonicalizer joins
    * against to keep `doc_id == cluster_id` rows. */
  /** rounds of the last connectedComponents run on this JVM —
    * observability for specs and perf triage (the INFO log is usually
    * filtered). */
  @volatile private[graft] var lastCcRounds: Int = -1

  /** Generic distributed connected components: `vertices` is one LONG
    * column (any name), `pairs` two LONG columns (any names) of
    * undirected edges over those vertices. Returns (vertex, label) with
    * label = the component's minimum vertex id. Iterative min-label
    * propagation with a pointer-jumping step per round — see the d07
    * scaladoc for the construction and its scale shape. */
  def connectedComponents(s: SparkSession, vertices: DataFrame,
                          pairs0: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val pc = pairs0.columns
    val pairs = pairs0.select(col(pc(0)).as("doc_a"), col(pc(1)).as("doc_b"))
    // both edge directions in ONE pass over the pair stream: a
    // union(pairs, swap(pairs)) instantiates the whole upstream
    // pair-generation DAG twice (no exchange to reuse at the union
    // boundary) — explode emits (a,b) and (b,a) per input row instead
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(par, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Block hygiene: each round's localCheckpoint persists a new label
    // RDD; without explicit release the superseded rounds sit in block
    // storage until ContextCleaner GC — two CC runs per bench
    // accumulated enough to pressure the tmpfs-backed local dirs (the
    // r4 3x bench inflation). Track the id(s) each checkpoint adds and
    // unpersist the previous round's as soon as the next materializes.
    def persistedIds: Set[Int] = s.sparkContext.getPersistentRDDs.keySet.toSet
    def dropIds(ids: Set[Int]): Unit =
      ids.foreach(id => s.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    val beforeInit = persistedIds
    var labels = vertices
      .select(col(vertices.columns.head).as("doc"))
      .select(col("doc"), col("doc").as("label"))
      .localCheckpoint(true)
    var labelIds = persistedIds -- beforeInit
    // The label table is (vertex, label) for every vertex — broadcast it
    // into the edge join while it fits (checkpointed plans carry no
    // stats, so Catalyst would otherwise sort-merge and re-shuffle the
    // FULL edge table every round — measured 2x the whole loop). Past
    // the broadcast regime (~tens of millions of vertices) the hint is
    // skipped and the rounds run as co-partitioned shuffle joins — the
    // standard large-graph CC shape. Broadcastability is decided from
    // the INPUT plan's size stats (file-size based for parquet scans —
    // a conservative over-estimate of the 16-byte/vertex label rows),
    // not a count() job: one fewer action per CC invocation.
    val labelsBroadcastable =
      vertices.queryExecution.optimizedPlan.stats.sizeInBytes <= 256L * 1024 * 1024
    def hinted(df: DataFrame): DataFrame = if (labelsBroadcastable) broadcast(df) else df
    var converged = false
    var iter = 0
    val ccTiming = sys.env.contains("GRAFT_CC_TIMING")
    while (!converged && iter < 64) {
      val roundT0 = System.nanoTime()
      // pointer-jumping step on the MATERIALIZED label table (both join
      // sides read the checkpoint, so the dual consumption is free):
      // follow label -> label(label). Labels are always vertex ids, so
      // the lookup always hits; each jump halves the remaining distance
      // to the component min, turning the diameter-bounded flood into
      // O(log diameter) rounds.
      def jump(ls: DataFrame): DataFrame = ls.as("x")
        .join(hinted(ls.select(col("doc").as("ldoc"), col("label").as("llabel"))),
          col("x.label") === col("ldoc"))
        .select(col("x.doc").as("doc"), col("llabel").as("label"))
      // neighbor step: min label over incident edges (partial aggs
      // shrink the shuffle to <= |V| rows)
      def relax(ls: DataFrame): DataFrame = {
        val prop = edges.join(hinted(ls), col("src") === col("doc"))
          .select(col("dst").as("doc"), col("label"))
        ls.union(prop).groupBy("doc").agg(min("label").as("label"))
      }
      // THREE relax steps per materialized job: every job on a cluster
      // is a scheduler round-trip, and the loop is round-LATENCY-bound
      // (the per-round data is tiny) — composing relaxes cuts the
      // checkpoint count at identical total edge-scan work (measured:
      // 2/round = 4 rounds, 3/round = 3 rounds on the bench corpus; a
      // 4th cannot beat the 2-effective+1-confirm floor). Each relax's
      // result is consumed TWICE by the next (broadcast join side +
      // union member); it is only |V| rows, so persist each for the
      // round instead of recomputing the 2|E|-row join+agg per consumer
      // — the blocks are released as soon as the round materializes.
      // round 1's labels are the identity map, so jump() would be a
      // no-op self-join — skip it (one fewer stage on the startup path)
      val inner = relax(if (iter == 0) labels else jump(labels))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val inner2 = relax(inner)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stepped = relax(inner2)
      // convergence detection rides the SAME job that materializes the
      // round (join the old label back — broadcast-cheap — and observe
      // the shrunk-label count) instead of a second action. observe()
      // keeps the projection inside whole-stage codegen where the
      // earlier typed .map-with-accumulator deoptimized the stage.
      val obs = org.apache.spark.sql.Observation(s"cc-round-$iter")
      val before = persistedIds
      val next = stepped
        .join(hinted(labels.select(col("doc"), col("label").as("old"))), "doc")
        .observe(obs, coalesce(sum(when(col("label") < col("old"), 1L)
          .otherwise(0L)), lit(0L)).as("shrunk"))
        .select(col("doc"), col("label"))
        .localCheckpoint(true)
      inner.unpersist(blocking = false)
      inner2.unpersist(blocking = false)
      val nextIds = persistedIds -- before
      // next is materialized (eager checkpoint truncates its lineage),
      // so the previous round's blocks are dead weight — release now.
      dropIds(labelIds)
      labelIds = nextIds
      converged = obs.get("shrunk").asInstanceOf[Long] == 0L
      labels = next
      iter += 1
      if (ccTiming) System.err.println(
        f"[cc] round $iter ${(System.nanoTime() - roundT0) / 1e9}%.2fs converged=$converged")
    }
    lastCcRounds = iter
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $iter rounds — " +
          "refusing to return partial (wrong) labels")
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"connected components converged in $iter rounds")
    edges.unpersist(blocking = false)
    labels
  }

  /** Code salt for every materialized dedup artifact (pair table,
    * cluster labels): MD5 of the compiled bytecode of `Dedup$` (the
    * pair predicate + CC construction) AND its semantic dependency
    * `Tables$` (corpus loading/schema). Any recompiled change to these
    * classes changes every fingerprint and the caches self-invalidate —
    * no manual version-bump discipline. (Classes OUTSIDE this list are
    * not covered; the salt's guarantee is exactly this set.) */
  private lazy val dedupCodeSalt: String =
    graft.core.Materialize.codeSalt(Dedup.getClass, graft.core.Tables.getClass)

  /** per-corpus kind namespace (see
    * [[graft.core.Materialize.scopedKind]]): retention families are
    * corpus lineages — the sf0.01 gate, the sf0.1 bench and the sweep
    * corpora share one root and must never reap each other. */
  private def sk(base: String, d: String): String =
    graft.core.Materialize.scopedKind(base, d)

  /** Fingerprint key of the materialized cluster-label table. */
  private[graft] def ccFingerprint(d: String): String =
    graft.core.Materialize.fingerprint(d, "documents", "cc-minlabel", dedupCodeSalt)

  /** Fingerprint key of the materialized d03 near-dup pair table. */
  private[graft] def pairsFingerprint(d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"simhash-pairs-b$SimhashBits-h$HammingMax", dedupCodeSalt)

  /** Always-fresh pair generation + publication at the corpus
    * fingerprint — the entry point for d03, the job that IS the
    * measured kernel. */
  private[graft] def publishPairs(s: SparkSession, d: String): DataFrame = {
    val t = graft.core.Materialize.publish(s, sk("pairs", d), pairsFingerprint(d))(d03Pairs(s, d))
    // retention at the kernel publish (round 17): the simhash pair line
    // designates the full table + its current compacted rewrite; prior
    // corpora/code residue is reaped
    graft.core.Materialize.sweepKeep(s, sk("pairs", d),
      Set(pairsFingerprint(d), compactedD03PairsFingerprint(d)))
    t
  }

  /** The d03 pair table if this exact corpus+algorithm has been paired
    * on this storage, else compute-and-publish. Consumed by d07 (as CC
    * input) and d10 (leakage matrix) — at 100 TB pair generation
    * dominates those jobs, and it runs ONCE per corpus fingerprint. */
  private[graft] def pairsTable(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("pairs", d), pairsFingerprint(d))(d03Pairs(s, d))

  /** the published d03 pair table minus every pair touching a doc of an
    * ARBITRARY delete set — exact, because d03 pair membership (two
    * simhash fingerprints within [[HammingMax]]) is a property of the
    * TWO docs alone: removing docs removes pairs, never creates or
    * rescores one. Same algebra as [[livePairs]] for the d02 artifact. */
  private[graft] def liveD03PairsOver(s: SparkSession, d: String,
                                      tombstones: DataFrame): DataFrame =
    pairsTable(s, d)
      .join(tombstones.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(tombstones.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  private[graft] def compactedD03PairsFingerprint(d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"simhash-pairs-b$SimhashBits-h$HammingMax" +
        s"-minusdel-m$IncrementalMod-t$TombstoneRem", dedupCodeSalt)

  /** COMPACTION of the d03 pair artifact: the published table rewritten
    * without tombstone-touching rows, under its own fingerprint — the
    * d17 contract applied to the simhash pair family. Reads the
    * PUBLISHED table, never raw text, never the pigeonhole kernel. */
  private[graft] def compactedD03PairsTable(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("pairs", d), compactedD03PairsFingerprint(d))(
      liveD03PairsOver(s, d, d17Tombstones(s, d)))

  /** The LIVE view of the d03 pair artifact — what every report built
    * on the simhash pair family (d10's leakage matrix, the cluster
    * repair below) reads instead of [[pairsTable]]: id-only anti-join
    * below the shared [[TombstoneCompactThreshold]], the compacted
    * rewrite above it. d03 itself stays on the full table — it is the
    * pair-generation kernel measure, exactly as d02 stays on the full
    * band table. */
  private[graft] def liveD03Pairs(s: SparkSession, d: String): DataFrame =
    if (aboveCompactThreshold(s, d)) compactedD03PairsTable(s, d)
    else liveD03PairsOver(s, d, d17Tombstones(s, d))

  /** Compute cluster labels (doc, label) for the d03 similarity graph
    * and MATERIALIZE them at the fingerprint key (atomic publish, temp
    * cleanup and concurrency semantics in [[graft.core.Materialize]]) —
    * the artifact every downstream canonicalization/report job
    * consumes. Pair generation itself comes from [[pairsTable]]. */
  private def computeAndMaterializeLabels(s: SparkSession, d: String): DataFrame = {
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    val out = graft.core.Materialize.publish(s, sk("labels", d), ccFingerprint(d))(
      connectedComponents(s,
        documents(s, d).select(col("doc_id")),
        pairsTable(s, d).select(col("doc_a"), col("doc_b"))))
    // the parquet table IS the materialization now — release the CC
    // result's checkpoint blocks instead of leaving them to the cleaner
    (s.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      .foreach(id => s.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    // retention at the clustering publish (round 17): the label line
    // designates the full-corpus labels + the current deletion repair
    graft.core.Materialize.sweepKeep(s, sk("labels", d),
      Set(ccFingerprint(d), liveLabelsFingerprint(d)))
    out
  }

  /** The clustering's materialized output if this exact input+algorithm
    * has been clustered on this storage, else compute-and-materialize.
    * The production contract: clustering runs ONCE (d07); reports (d09)
    * consume its output table rather than re-clustering — re-running
    * pair generation + CC per report would be the anti-pattern at
    * 100 TB. The fingerprint key (input file identity + algo + code
    * salt) makes staleness structurally impossible, and the standalone
    * fallback keeps every entry runnable in isolation. */
  private def ccLabels(s: SparkSession, d: String): DataFrame = {
    val fp = ccFingerprint(d)
    if (graft.core.Materialize.exists(s, sk("labels", d), fp))
      graft.core.Materialize.readTable(s, sk("labels", d), fp)
    else this.synchronized { computeAndMaterializeLabels(s, d) }
  }

  // ---- the cluster-label artifact under deletion (round 15) ----

  /** Deletion-localized REPAIR of the cluster-label artifact, over an
    * ARBITRARY delete set. The label table is the one published dedup
    * artifact that CANNOT be served by an id-only anti-join (documented
    * divergence from the pair/band/index families): connectivity is
    * GLOBAL — deleting a bridge doc SPLITS its component in the reduced
    * graph, and deleting a component's min-id doc leaves every survivor
    * carrying the DELETED doc's id as its label (a takedown leaking
    * into the output — the exact failure this view exists to close).
    * An anti-join keeps both wrong answers; the property spec's random
    * delete sets would catch it.
    *
    * The repair is still O(touched), never O(corpus): components are
    * independent subgraphs, so labels(corpus ∖ D) decomposes as
    *  - components with NO deleted member — served verbatim from the
    *    published full-corpus label table (their subgraph, and hence
    *    their min-id label, is untouched);
    *  - components WITH a deleted member — re-labelled by the same
    *    distributed CC, seeded only with those components' surviving
    *    docs and their live pairs (from the published pair table; both
    *    inputs are id-keyed semi/anti-joins, no raw text, no pair
    *    kernel). Touched work is |tombstones| × avg component, a
    *    vanishing fraction of a 100 TB corpus for any takedown wave. */
  private[graft] def liveLabelsOver(s: SparkSession, d: String,
                                    tombstones: DataFrame,
                                    livePairsIn: DataFrame): DataFrame = {
    val full = ccLabels(s, d)
    val tomb = tombstones.select(col("doc_id").as("doc"))
    val touched = full.join(tomb, "doc").select("label").distinct()
    val untouched = full.join(touched, Seq("label"), "left_anti")
      .select(col("doc"), col("label"))
    val repairDocs = full.join(touched, Seq("label"), "left_semi")
      .join(tomb, Seq("doc"), "left_anti")
      .select(col("doc"))
    // a live pair inside a touched component has BOTH endpoints in it
    // (pairs respect components), so one endpoint semi-join suffices
    val repairPairs = livePairsIn
      .join(repairDocs.select(col("doc").as("doc_a")), Seq("doc_a"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
    untouched.union(connectedComponents(s, repairDocs, repairPairs))
  }

  private[graft] def liveLabelsFingerprint(d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"cc-minlabel-minusdel-m$IncrementalMod-t$TombstoneRem", dedupCodeSalt)

  /** publish the repaired (live) label table at its deletion-keyed
    * fingerprint, releasing the repair CC's checkpoint blocks — the
    * parquet table is the materialization. */
  private def computeAndMaterializeLiveLabels(s: SparkSession, d: String): DataFrame = {
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    val out = graft.core.Materialize.publish(s, sk("labels", d), liveLabelsFingerprint(d))(
      liveLabelsOver(s, d, d17Tombstones(s, d), liveD03Pairs(s, d)))
    (s.sparkContext.getPersistentRDDs.keySet.toSet -- before)
      .foreach(id => s.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    out
  }

  /** The LIVE view of the cluster-label artifact, consumed by every
    * cluster-derived report (d09's savings, d13's keep-list, p09's
    * mixing rates). Unlike the pair/band live views there is no
    * below-threshold anti-join branch to serve per query — the correct
    * serve is the component repair ([[liveLabelsOver]]), an ITERATIVE
    * job, and re-running it per report is the anti-pattern the
    * published-artifact doctrine exists to prevent — so the repaired
    * table is always published at its deletion-keyed fingerprint and
    * reports read parquet (one slim write per corpus × delete-set,
    * amortized over every report; the compaction economics that are
    * only conditionally right for a per-query anti-join are
    * unconditionally right here). */
  private[graft] def liveCcLabels(s: SparkSession, d: String): DataFrame = {
    val fp = liveLabelsFingerprint(d)
    if (graft.core.Materialize.exists(s, sk("labels", d), fp))
      graft.core.Materialize.readTable(s, sk("labels", d), fp)
    else this.synchronized { computeAndMaterializeLiveLabels(s, d) }
  }

  /** (family kind, fingerprint) of the live-label artifact
    * [[liveCcLabels]] serves — the lineage-manifest identity p11
    * declares for its keep-list consumption. */
  private[graft] def liveLabelsArtifact(d: String): (String, String) =
    (sk("labels", d), liveLabelsFingerprint(d))

  def d07(s: SparkSession, d: String): DataFrame = {
    // SERVE/REPORT form since round 18 (the round-17 verdict's perf
    // item: d07 was the heaviest batch entry at 10.4 s because it
    // deliberately paid full CC + live repair + two publishes EVERY
    // run). It now follows the same kernel/report split as every other
    // artifact family: the first run at a corpus fingerprint builds and
    // publishes both label artifacts (cold-marked via the publish
    // counter, exactly like d02's band table), every later run is a
    // parquet read of the live labels + the size join. The CC kernel
    // itself stays measurable on demand (test-side graft.tools.D07Rounds,
    // and any corpus/code change re-keys the fingerprint and re-runs it).
    // liveCcLabels -> computeAndMaterializeLiveLabels -> ccLabels
    // guarantees the full-corpus table is built before the repair
    // needs it; pair INPUT comes from the materialized pair table —
    // the d03 kernel runs once per corpus fingerprint, not once per
    // job.
    val labels = liveCcLabels(s, d)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n"))
    labels.join(sizes, "label")
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"),
        big(col("n")).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** d09: the dedup ENDGAME report — canonicalize each d07 cluster to
    * its min-id representative and report what a training run saves:
    * per source, documents and tokens before vs after near-dup removal.
    * This is the number a data team actually acts on. It consumes the
    * CLUSTERING'S MATERIALIZED OUTPUT (`ccLabels`) — the production
    * shape: a report never re-runs pair generation + CC; it joins the
    * cluster table the d07 job left behind (with a standalone
    * compute-if-absent fallback, so the entry stays runnable in
    * isolation and the DuckDB oracle still checks the WHOLE pipeline
    * end-to-end from raw text). Join shapes: cluster labels are
    * (doc, label) — the documents join is a doc_id equi-join, the
    * accounting a per-source aggregation. */
  def d09(s: SparkSession, d: String): DataFrame = {
    // LIVE labels (round 15): the savings report is stated over the
    // corpus minus tombstones — the inner doc_id join against the live
    // label table cuts deleted docs from every count, and the repair
    // guarantees cluster ids are live docs (no takedown id in output).
    val labels = liveCcLabels(s, d)
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"))
    documents(s, d)
      .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
      .join(labels, "doc_id")
      .groupBy("source")
      .agg(
        big(count(lit(1))).as("docs_total"),
        big(sum(when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))).as("docs_kept"),
        big(sum(col("n_tok"))).as("tokens_total"),
        big(sum(when(col("doc_id") === col("cluster_id"), col("n_tok")).otherwise(0L)))
          .as("tokens_kept"))
      .orderBy("source")
  }

  /** Oracle: d07's recursive-CTE closure joined back to the LIVE
    * corpus — the whole chain (fingerprints, pairs, closure, report)
    * stated over documents-minus-tombstones. */
  val d09Sql: String =
    s"""WITH RECURSIVE $LiveDocsCte,
      |${ccLabCtesOver("livedocs")}
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS docs_total,
      |  CAST(SUM(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN doc_id = cluster_id THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS tokens_kept
      |FROM livedocs JOIN lab ON lab.doc = livedocs.doc_id
      |GROUP BY source ORDER BY source""".stripMargin

  /** d13: the canonical KEEP-LIST — the artifact a dedup pipeline
    * actually ships to the trainer: for every document, its cluster,
    * the cluster's canonical survivor, and the keep/remove decision.
    * Canonical selection is QUALITY-aware, not id-arbitrary: the
    * LONGEST document per cluster wins (ties → min doc_id) — real
    * pipelines keep the most complete instance of a near-dup family,
    * not whichever arrived first. Consumes the MATERIALIZED cluster
    * labels (like d09 — no re-clustering); the canonical choice is one
    * per-cluster max of a (n_tok, -doc_id) struct (partial-aggregable,
    * no window over the full corpus) joined back on the cluster key.
    * At 100 TB: two keyed shuffles over slim (doc, label, n_tok) rows;
    * the wide text column is never carried past the length projection. */
  def d13(s: SparkSession, d: String): DataFrame = {
    // LIVE labels (round 15): the keep-list ships to the trainer — a
    // deleted doc surviving here as a row, a canonical pick, or a
    // cluster id is the legal failure mode; the live label view
    // excludes all three by construction.
    val labels = liveCcLabels(s, d)
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"))
    val sized = documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .join(labels, "doc_id")
    val canon = sized.groupBy("cluster_id")
      .agg(max(struct(col("n_tok"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("cluster_id"), (-col("m.neg_id")).as("canonical_id"))
    sized.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  /** the d07 closure + per-cluster canonical ranking, as a reusable CTE
    * prefix (ends at `canon`): d13's whole derivation, shared verbatim
    * by p09's oracle so the keep-list both entries reason about is ONE
    * SQL text, not two copies that can drift. */
  private[graft] def ccCanonCtesOver(rel: String): String =
    s"""${ccLabCtesOver(rel)},
      |sized AS (
      |  SELECT lab.doc AS doc_id, lab.cluster_id,
      |    len(string_split(d.text, ' ')) AS n_tok
      |  FROM lab JOIN $rel d ON d.doc_id = lab.doc),
      |ranked AS (
      |  SELECT doc_id, cluster_id,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |                       ORDER BY n_tok DESC, doc_id ASC) AS rn
      |  FROM sized),
      |canon AS (SELECT cluster_id, doc_id AS canonical_id FROM ranked WHERE rn = 1)""".stripMargin

  /** Oracle: the d07 closure + a per-cluster (n_tok DESC, doc ASC)
    * ranking for the canonical pick. */
  val d13Sql: String =
    s"""WITH RECURSIVE $LiveDocsCte,
      |${ccCanonCtesOver("livedocs")}
      |SELECT s.doc_id, s.cluster_id, c.canonical_id,
      |  CAST(CASE WHEN s.doc_id = c.canonical_id THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM sized s JOIN canon c ON s.cluster_id = c.cluster_id
      |ORDER BY s.doc_id""".stripMargin

  /** Oracle: transitive closure by recursive CTE (labels flood the
    * component; MIN per doc = component min), over the same d03 pair
    * predicate — on the LIVE corpus, so a deleted bridge doc splits
    * its cluster and a deleted min-id doc never labels survivors
    * (exactly what the component repair must reproduce). */
  val d07Sql: String =
    s"""WITH RECURSIVE $LiveDocsCte,
      |${ccLabCtesOver("livedocs")}
      |SELECT doc AS doc_id, cluster_id,
      |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      |FROM lab ORDER BY doc_id""".stripMargin

  // ---- d04: character-3-gram Jaccard near-dup (blocked by source) ----

  /** Pair-space salt fan-out: a block of B docs has B^2/2 pairs; round 1
    * computed them all in ONE task (straggler/OOM when a block is big).
    * Each doc gets salt doc_id % P and is replicated to the P triangle
    * cells (s1,s2) it participates in; cell (s1,s2) computes only pairs
    * between its salt-s1 and salt-s2 members — every pair exactly once,
    * max task work ~ (B/P)^2, and the fan-out costs P copies of each
    * feature set in the shuffle (bounded, vs unbounded task size).
    *
    * P is DERIVED PER BLOCK from a cheap pre-aggregation of block sizes
    * (round 2 hardcoded P=8, so task work grew quadratically with block
    * size): the work bound keeps the salt-class size G = ceil(B/P) near
    * sqrt(JaccardPairBudget) so no cell exceeds ~JaccardPairBudget
    * pairwise intersects, and the fill bound keeps the total cell count
    * >= 2x the cluster parallelism even when blocks are small. */
  val JaccardPairBudget: Long = 4L * 1000 * 1000
  val JaccardMaxSalts: Int = 256

  /** Salts for one block of `blockDocs` docs among `numBlocks` blocks on
    * a cluster with `par` slots. Deterministic pure function of corpus
    * stats — every replica of a doc computes the same P for its block.
    * The JaccardMaxSalts cap bounds shuffle duplication (each feature
    * set is shuffled P times); a block big enough to hit the cap at the
    * pair budget (~512M intra-block pairs) is past the point where
    * exact all-pairs is sane and the LSH path (d02) is the answer. */
  def jaccardSalts(blockDocs: Long, numBlocks: Long, par: Int): Int = {
    val targetClass = math.sqrt(JaccardPairBudget.toDouble) // G: docs per salt class
    val pWork = math.ceil(blockDocs.toDouble / targetClass).toInt
    // fill: numBlocks * P(P+1)/2 cells >= 2*par  =>  quadratic in P
    val cellsNeeded = math.max(1.0, 2.0 * par / math.max(1L, numBlocks).toDouble)
    val pFill = math.ceil((math.sqrt(8.0 * cellsNeeded + 1) - 1) / 2).toInt
    math.min(JaccardMaxSalts, math.max(1, math.max(pWork, pFill)))
  }

  /** Largest block size the salt cap can still bound: past
    * `sqrt(pairBudget) * maxSalts` docs (~512M intra-block pairs at the
    * defaults) the derived P saturates at [[JaccardMaxSalts]] and task
    * work starts growing quadratically again. */
  def jaccardCapDocs: Long =
    (math.sqrt(JaccardPairBudget.toDouble) * JaccardMaxSalts).toLong

  /** Census check for the salt-cap cliff: given the (bk, bn) block-count
    * table, returns a warning message naming the worst offending block
    * and the over-cap count when any block exceeds [[jaccardCapDocs]] —
    * the signal that exact all-pairs is no longer sane for that block
    * and the LSH path (d02) should be used instead. Aggregate-only
    * (three scalars reach the driver, never the census rows). */
  def jaccardCapWarning(counts: DataFrame): Option[String] = {
    val over = counts.where(col("bn") > jaccardCapDocs)
      .agg(count(lit(1)).as("n"), max(col("bn")).as("worst_n"),
        expr("max_by(bk, bn)").as("worst_bk"))
      .head()
    if (over.getLong(0) == 0L) None
    else {
      val worstN = over.getLong(1)
      Some(s"blockedJaccard: ${over.getLong(0)} block(s) exceed the " +
        s"JaccardMaxSalts=$JaccardMaxSalts work bound (cap $jaccardCapDocs docs/block); " +
        s"worst block '${over.getString(2)}' has $worstN docs " +
        s"(~${worstN * worstN / 2} intra-block pairs). Task work grows past the " +
        s"${JaccardPairBudget}-pair budget — use the MinHash-LSH path (d02) for this corpus, " +
        "or set spark.graft.jaccard.strict=true to fail fast.")
    }
  }

  /** Blocked pairwise set-similarity kernel shared by d04/q26: group docs
    * by (blocking key, salt-pair cell), then merge-intersect sorted
    * feature arrays pair-wise inside each cell. The shuffle carries each
    * doc's feature set P times, never the exploded feature-pair join
    * (which is quadratic in shuffle bytes for low-cardinality
    * vocabularies). Emits (doc_a, doc_b, inter_cnt, union_cnt, jaccard).
    */
  def blockedJaccard(s: SparkSession, feats: DataFrame,
                     threshold: Double): DataFrame = {
    import s.implicits._
    blockedJaccardTyped(s, feats.as[(String, Long, Array[String])], threshold)
  }

  /** Typed variant: callers with JVM-side feature extraction (cheaper
    * than interpreted HOF lambdas for per-char work) pass the Dataset
    * directly. A pinned round-robin repartition spreads the CPU-bound
    * sort/replicate map work regardless of source file layout.
    *
    * Per-block salt counts come from a map-side-combined groupBy count
    * of the block keys (one cheap extra pass), joined back to the
    * feature stream — Spark auto-broadcasts the tiny count table, the
    * derived P rides along in each replica row, and no block census
    * ever lands on the driver (only the scalar block COUNT does). */
  def blockedJaccardTyped(s: SparkSession,
                          feats: org.apache.spark.sql.Dataset[(String, Long, Array[String])],
                          threshold: Double): DataFrame =
    blockedJaccardTyped(s, feats, threshold, None)

  /** `census`: optional precomputed (block_key, count) table. The block
    * census never needs the FEATURES — callers whose feature extraction
    * is expensive (d04's per-char shingling) pass a count over the raw
    * source instead of paying the extraction twice (the typed lambda is
    * opaque to Catalyst, so it cannot prune it out of the count path). */
  def blockedJaccardTyped(s: SparkSession,
                          feats: org.apache.spark.sql.Dataset[(String, Long, Array[String])],
                          threshold: Double,
                          census: Option[DataFrame]): DataFrame = {
    import s.implicits._
    val par = s.sparkContext.defaultParallelism
    val counts = census.getOrElse(feats.groupByKey(_._1).count().toDF("bk", "bn"))
      .toDF("bk", "bn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val numBlocks = counts.count()
    // salt-cap cliff guard: warn (or fail fast under the strict conf)
    // instead of silently letting task work grow past the pair budget
    jaccardCapWarning(counts).foreach { msg =>
      if (s.conf.getOption("spark.graft.jaccard.strict").exists(_.toBoolean))
        throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    val withCnt = feats.toDF("src", "id", "fs")
      .join(counts, col("src") === col("bk"))
      .select(col("src"), col("id"), col("fs"), col("bn"))
      .as[(String, Long, Array[String], Long)]
    withCnt
      .repartition(par)
      .flatMap { case (src, id, fs, bn) =>
        java.util.Arrays.sort(fs, java.util.Comparator.naturalOrder[String]())
        val p = jaccardSalts(bn, numBlocks, par)
        val sd = (id % p).toInt
        Iterator.tabulate(p) { other =>
          (src, math.min(sd, other), math.max(sd, other), id, fs, p)
        }
      }
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key: (String, Int, Int), it: Iterator[(String, Int, Int, Long, Array[String], Int)]) =>
        val (_, s1, s2) = key
        var p = 1
        val docs = it.map { case (_, _, _, id, fs, pp) => p = pp; (id, fs) }.toArray.sortBy(_._1)
        val pairs =
          if (s1 == s2) {
            // diagonal cell: all unordered pairs within the salt class
            for {
              x <- docs.indices.iterator
              y <- (x + 1 until docs.length).iterator
            } yield (docs(x), docs(y))
          } else {
            val g1 = docs.filter { case (id, _) => id % p == s1 }
            val g2 = docs.filter { case (id, _) => id % p == s2 }
            for {
              a <- g1.iterator
              b <- g2.iterator
            } yield if (a._1 < b._1) (a, b) else (b, a)
          }
        pairs.flatMap { case ((ia, fa), (ib, fb)) =>
          val n = sortedIntersect(fa, fb)
          val u = fa.length + fb.length - n
          val jac = n.toDouble / u.toDouble
          if (jac >= threshold) Iterator.single((ia, ib, n.toLong, u.toLong, jac))
          else Iterator.empty
        }
      }
      .toDF("doc_a", "doc_b", "inter_cnt", "union_cnt", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  private def sortedIntersect(a: Array[String], b: Array[String]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1 else j += 1
    }
    n
  }

  def d04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // 3-gram extraction in the typed kernel: an interpreted
    // transform/sequence HOF here costs ~1us per character; the JVM
    // substring loop is ~100x cheaper (measured 4.5s -> <0.5s at sf0.1)
    val feats = documents(s, d)
      .select(col("source"), col("doc_id"), col("text"))
      // pin the parallelism BEFORE the CPU-dense typed shingling map —
      // documents.parquet is one row group, so without this the
      // extraction runs as a single task
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .as[(String, Long, String)]
      .map { case (src, id, text) =>
        val n = math.max(0, text.length - 2)
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i < n) { seen.add(text.substring(i, i + 3)); i += 1 }
        (src, id, seen.toArray(new Array[String](seen.size)))
      }
    // block census straight off the raw table: counting docs per source
    // does not need the 3-gram features
    val census = documents(s, d).groupBy("source").count().toDF("bk", "bn")
    blockedJaccardTyped(s, feats, 0.6, Some(census))
      .select("doc_a", "doc_b", "jaccard")
  }

  val d04Sql: String =
    """WITH grams AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(
      |      generate_series(1, len(text) - 2),
      |      i -> substring(text, CAST(i AS INT), 3)))) AS g
      |  FROM documents),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS n
      |  FROM grams a JOIN grams b
      |    ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i AS doc_a, j AS doc_b,
      |  CAST(n AS DOUBLE) / CAST(ca.c + cb.c - n AS DOUBLE) AS jaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
      |WHERE CAST(n AS DOUBLE) / CAST(ca.c + cb.c - n AS DOUBLE) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- d05: embedding-cosine near-dup over quantized vectors ----

  /** Exact all-pairs cosine is inherently O(n^2) in COMPUTE — the
    * approximate scale paths are a02/a03 — but the DATA movement here is
    * fully distributed block-matrix: vectors are grouped into
    * B blocks (one shuffle), the B(B+1)/2 block PAIRS become
    * the unit of parallelism (a second tiny shuffle of block rows), and
    * each task runs the tight primitive long-array kernel over its two
    * blocks. No driver collect, no whole-corpus broadcast (round 1
    * collected every vector to the driver — OOM at scale); per-task
    * memory is two blocks (~n/B vectors each).
    * Arithmetic is unchanged: exact integer dots/norms, IEEE double
    * division — bit-identical to the oracle.
    *
    * B is DERIVED from the corpus size (round 2 hardcoded B=16, so
    * per-task memory grew linearly with the corpus): the memory bound
    * caps blocks at CosineBlockTargetVecs vectors (two blocks of 32-dim
    * quantized longs ~= a few MB per task, constant in n), and the fill
    * bound keeps B(B+1)/2 block-pair tasks >= 2x cluster parallelism.
    * Block membership (id % B) changes with B but the enumerated pair
    * set — all unordered pairs — does not, so output is B-invariant. */
  val CosineBlockTargetVecs: Long = 4096L

  /** Block count for an n-vector corpus on a `par`-slot cluster. */
  def cosineBlocks(n: Long, par: Int): Int = {
    val bMem = math.ceil(n.toDouble / CosineBlockTargetVecs.toDouble).toInt
    // fill: B(B+1)/2 >= 2*par  =>  B >= (sqrt(16*par + 1) - 1) / 2
    val bFill = math.ceil((math.sqrt(16.0 * par + 1) - 1) / 2).toInt
    math.max(1, math.max(bMem, bFill))
  }

  def d05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // scalar count only (parquet metadata read) — never the vectors
    val B = cosineBlocks(embeddings(s, d).count(),
      s.sparkContext.defaultParallelism)
    // (block, id, quantized vector, norm2): norms computed once, map-side
    val blocked = embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
      .as[(Long, Array[Long])]
      .map { case (id, v) =>
        var n = 0L; var i = 0
        while (i < v.length) { n += v(i) * v(i); i += 1 }
        ((id % B).toInt, id, v, n)
      }
    // one row per block, carrying its member vectors
    val blocks = blocked
      .groupByKey(_._1)
      .mapGroups { (b, it) =>
        (b, it.map { case (_, id, v, n) => (id, v, n) }.toArray.sortBy(_._1))
      }
    // block-pair join (B x B tiny rows) -> repartition so every pair is
    // its own task -> fused kernel
    val left = blocks.toDF("pb", "va")
    val right = blocks.toDF("qb", "vb")
    left.join(right, col("pb") <= col("qb"))
      .repartition(s.sparkContext.defaultParallelism, col("pb"), col("qb"))
      .as[(Int, Array[(Long, Array[Long], Long)], Int, Array[(Long, Array[Long], Long)])]
      .flatMap { case (pb, va, qb, vb) =>
        val pairs =
          if (pb == qb)
            for {
              x <- va.indices.iterator
              y <- (x + 1 until va.length).iterator
            } yield (va(x), va(y))
          else
            for {
              a <- va.iterator
              b <- vb.iterator
            } yield if (a._1 < b._1) (a, b) else (b, a)
        pairs.flatMap { case ((ia, qa, na), (ib, qb2, nb)) =>
          var dot = 0L; var j = 0
          while (j < qa.length) { dot += qa(j) * qb2(j); j += 1 }
          val cosine = dot.toDouble / math.sqrt(na.toDouble * nb.toDouble)
          if (cosine >= 0.4) Iterator.single((ia, ib, cosine)) else Iterator.empty
        }
      }
      .toDF("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  val d05Sql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS BIGINT) AS norm2
      |  FROM q),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v FROM n),
      |dots AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2)
      |SELECT va AS vec_a, vb AS vec_b,
      |  CAST(dot AS DOUBLE) / SQRT(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)) AS cosine
      |FROM dots JOIN n na ON na.vec_id = va JOIN n nb ON nb.vec_id = vb
      |WHERE CAST(dot AS DOUBLE) / SQRT(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---- d06: benchmark decontamination (n-gram overlap vs a held-out set) ----

  /** d06: training-corpus decontamination — flag corpus documents whose
    * word-3-gram shingles overlap a benchmark/eval set (here: docs with
    * doc_id < ContamBenchIds stand in for the benchmark). The join is
    * the standard decontamination shape: explode both sides to distinct
    * shingles, equi-join on the shingle, aggregate per corpus doc. At
    * 100 TB the shingle column would be a 64-bit hash with a bloom-filter
    * pre-join on the benchmark side — same plan shape, smaller shuffle;
    * the string join here keeps the oracle exact. */
  val ContamBenchIds = 20
  val ShingleWords = 3

  private def shingles(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // single-row-group source + per-doc split/slice work: pin the
      // partition count or the whole shingle pass runs on one core
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      // guard BEFORE sequence(): Spark's sequence(1, n) with n < 1 counts
      // DOWN (yielding bogus indexes) while DuckDB's generate_series is
      // empty — short docs must not reach the expression
      .where(size(col("toks")) >= ShingleWords)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(toks) - ${ShingleWords - 1}), i -> concat_ws(' ', slice(toks, i, $ShingleWords)))")))
        .as("sh"))

  def d06(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val bench = sh.where(col("doc_id") < ContamBenchIds)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val corpus = sh.where(col("doc_id") >= ContamBenchIds)
    corpus.join(bench, "sh")
      .groupBy("doc_id")
      .agg(
        big(countDistinct(col("sh"))).as("matched_shingles"),
        big(countDistinct(col("bench_id"))).as("benchmarks_hit"))
      .orderBy("doc_id")
  }

  /** d08: d06's documented 100 TB shape made real — a Bloom filter built
    * over the benchmark shingles (distributed sketch aggregation; the
    * driver holds only the bitset, which rides the plan as a constant)
    * pre-filters the corpus shingle stream BEFORE the equi-join, so the
    * shuffle carries only shingles that might hit the benchmark instead
    * of the whole exploded corpus. Bloom false positives are dropped by
    * the exact join that follows, so the result — and the oracle — are
    * IDENTICAL to d06; at a 1% fpp the join input shrinks by ~99% of
    * the non-contaminated volume at scale.
    *
    * Both the sketch build and the probe are NATIVE Catalyst
    * expressions — Spark's own runtime-filter pair
    * (BloomFilterAggregate / BloomFilterMightContain) over
    * xxhash64-encoded shingles — so the corpus-side probe stays inside
    * whole-stage codegen. The previous typed `Dataset.filter(lambda)`
    * forced a DeserializeToObject/SerializeFromObject round-trip on
    * every corpus shingle row exactly where the volume peaks (the
    * round-11 verdict's one plan defect; 6.6× control-normalized in
    * the driver run). PlanAuditSpec now asserts d08's plan carries no
    * object round-trip. The xxhash64 long-encoding collides at ~2^-64
    * per pair — it can only ADD a false candidate that the exact join
    * rejects, the same accepted class as the sketch's own fpp. */
  def d08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.GraftInterop
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val sh = shingles(s, d)
    // consumed three times (census count, sketch build, exact join):
    // ~20 docs of shingles, cheap to keep and free to not recompute
    val bench = sh.where(col("doc_id") < ContamBenchIds)
      .select(col("doc_id").as("bench_id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = sh.where(col("doc_id") >= ContamBenchIds)
    val nBench = bench.select("sh").distinct().count()
    // empty benchmark: nothing to pre-filter against (and a zero-item
    // sketch is degenerate) — the exact join below yields the (empty)
    // answer
    val pre =
      if (nBench == 0L) corpus
      else {
        val nBits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(nBench, 0.01)
        val sketch = new BloomFilterAggregate(
          GraftInterop.expression(xxhash64(col("sh"))),
          CLit(nBench), CLit(nBits)).toAggregateExpression()
        val bytes = bench.select(GraftInterop.column(sketch).as("bf"))
          .head().getAs[Array[Byte]](0)
        corpus.where(GraftInterop.column(BloomFilterMightContain(
          CLit(bytes, BinaryType),
          GraftInterop.expression(xxhash64(col("sh"))))))
      }
    pre.join(bench, "sh")
      .groupBy("doc_id")
      .agg(
        big(countDistinct(col("sh"))).as("matched_shingles"),
        big(countDistinct(col("bench_id"))).as("benchmarks_hit"))
      .orderBy("doc_id")
  }

  /** d08 emits exactly d06's rows (bloom only prunes the join input). */
  def d08Sql: String = d06Sql

  val d06Sql: String =
    s"""WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - ${ShingleWords - 1}),
      |    i -> array_to_string(list_slice(string_split(text, ' '), i, i + ${ShingleWords - 1}), ' ')))) AS sh
      |  FROM documents WHERE len(string_split(text, ' ')) >= $ShingleWords)
      |SELECT c.doc_id,
      |  CAST(COUNT(DISTINCT c.sh) AS BIGINT) AS matched_shingles,
      |  CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS benchmarks_hit
      |FROM sh c JOIN sh b ON c.sh = b.sh
      |WHERE c.doc_id >= $ContamBenchIds AND b.doc_id < $ContamBenchIds
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---- d11: duplicate-span coverage (substring-level dedup report) ----

  /** shingle length for span-level duplication: 8 consecutive tokens —
    * the scale used by the "Deduplicating Training Data Makes Language
    * Models Better" family of pipelines for exact substring dedup. */
  val SpanLen = 8

  /** d11: span-level duplication coverage — document-level dedup (d01,
    * d02/d03) misses text REUSED ACROSS distinct documents (boilerplate,
    * quotes, templates); the substring-dedup literature measures it as:
    * of all [[SpanLen]]-token spans (with multiplicity), what fraction
    * occurs in ≥2 distinct documents? Reported per source — the number
    * that decides whether a source needs span-level (not just doc-level)
    * dedup before training.
    *
    * Shape at 100 TB: spans are hashed (MD5 — engine-portable, same
    * rule as every hash here) so the shuffle carries slim fixed-width
    * keys; one groupBy computes distinct-doc counts per span hash, one
    * keyed join marks occurrences, one per-source aggregation reports.
    * All shuffles keyed, volume ≈ token count. Spans are row-local
    * (transform over a sequence + slice, the p07 construction) with
    * the <SpanLen-token guard (Spark's sequence() counts DOWN on an
    * empty range). */
  def d11(s: SparkSession, d: String): DataFrame = {
    val occ = graft.core.Tables.spread(documents(s, d), col("doc_id"))
      // pinned repartition (via spread): the corpus file is
      // one row group, so the span-md5 explode otherwise runs on one
      // core (t10/d04 discipline)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= SpanLen)
      .withColumn("sh", explode(expr(
        s"transform(sequence(1, size(toks) - ${SpanLen - 1}), i -> md5(concat_ws(' ', slice(toks, i, $SpanLen))))")))
      .select(col("source"), col("doc_id"), col("sh"))
    // ONE explode pass (r21: was two — a countDistinct agg AND the full
    // occurrence stream re-exploded into a join against it). Level 1
    // groups by (sh, source): per-source multiplicity n_so plus
    // per-source distinct docs nd_so; a doc has exactly one source, so
    // the per-sh distinct-doc count is Σ nd_so. Level 2 folds the ≤
    // #sources rows per sh; the per-source struct list re-expands to
    // exactly the old join's (occurrence, nd) pairs pre-aggregated by
    // multiplicity — identical spans_total / spans_duplicated.
    val perSrc = occ.groupBy("sh", "source").agg(
      count(lit(1)).as("n_so"),
      countDistinct(col("doc_id")).as("nd_so"))
    val bySh = perSrc.groupBy("sh").agg(
      sum(col("nd_so")).as("nd"),
      collect_list(struct(col("source"), col("n_so"))).as("per_src"))
    bySh.select(col("nd"), explode(col("per_src")).as("e"))
      .groupBy(col("e.source").as("source"))
      .agg(
        big(sum(col("e.n_so"))).as("spans_total"),
        big(sum(when(col("nd") >= 2, col("e.n_so")).otherwise(0L)))
          .as("spans_duplicated"))
      .withColumn("dup_fraction",
        col("spans_duplicated").cast(DoubleType) / col("spans_total").cast(DoubleType))
      .orderBy("source")
  }

  val d11Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |e AS (
      |  SELECT doc_id, source, t, unnest(generate_series(1, len(t) - ${SpanLen - 1})) AS i
      |  FROM toks WHERE len(t) >= $SpanLen),
      |occ AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + ${SpanLen - 1} AS INT)), ' ')) AS sh
      |  FROM e),
      |nd AS (SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY sh)
      |SELECT occ.source,
      |  CAST(COUNT(*) AS BIGINT) AS spans_total,
      |  CAST(SUM(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS spans_duplicated,
      |  CAST(SUM(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS dup_fraction
      |FROM occ JOIN nd ON nd.sh = occ.sh
      |GROUP BY occ.source ORDER BY occ.source""".stripMargin

  /** d12: directional SPAN CONTAINMENT — the sub-document dup detector
    * symmetric measures miss: a truncated/excerpted document A inside a
    * longer B scores low Jaccard (|B| dominates the union) but high
    * containment |spans(A)∩spans(B)| / |spans(A)|. Emits ordered pairs
    * with containment ≥ 1/2, compared in INTEGER arithmetic
    * (2·shared ≥ total — no float threshold), the ratio itself one
    * exact division for the report. Shape at 100 TB: distinct
    * (doc, span-hash) pairs feed a keyed self-equi-join on the span
    * hash (the d06 contamination shape) + two count aggregations; span
    * frequency is corpus-driven — a real deployment drops
    * boilerplate-hot spans first (the d11 report is exactly the census
    * for that decision). */
  def d12(s: SparkSession, d: String): DataFrame = {
    val occ = graft.core.Tables.spread(documents(s, d), col("doc_id"))
      // pinned repartition (via spread): single-row-group
      // scan, one-core explode otherwise (t10/d04 discipline)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= SpanLen)
      .withColumn("sh", explode(expr(
        s"transform(sequence(1, size(toks) - ${SpanLen - 1}), i -> md5(concat_ws(' ', slice(toks, i, $SpanLen))))")))
      .select(col("doc_id"), col("sh")).distinct()
    val cnt = occ.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val inter = occ.join(occ.select(col("doc_id").as("in_doc_id"), col("sh")), "sh")
      .where(col("doc_id") =!= col("in_doc_id"))
      .groupBy("doc_id", "in_doc_id")
      .agg(count(lit(1)).as("n"))
    inter.join(cnt, "doc_id")
      .where(col("n") * 2 >= col("c"))
      .select(col("doc_id"), col("in_doc_id"),
        big(col("n")).as("spans_shared"), big(col("c")).as("spans_total"),
        (col("n").cast(DoubleType) / col("c").cast(DoubleType)).as("containment"))
      .orderBy("doc_id", "in_doc_id")
  }

  val d12Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |e AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t) - ${SpanLen - 1})) AS i
      |  FROM toks WHERE len(t) >= $SpanLen),
      |occ AS (
      |  SELECT DISTINCT doc_id,
      |    md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + ${SpanLen - 1} AS INT)), ' ')) AS sh
      |  FROM e),
      |cnt AS (SELECT doc_id, COUNT(*) AS c FROM occ GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id, b.doc_id AS in_doc_id, COUNT(*) AS n
      |  FROM occ a JOIN occ b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT inter.doc_id, in_doc_id,
      |  CAST(n AS BIGINT) AS spans_shared, CAST(c AS BIGINT) AS spans_total,
      |  CAST(n AS DOUBLE) / CAST(c AS DOUBLE) AS containment
      |FROM inter JOIN cnt ON cnt.doc_id = inter.doc_id
      |WHERE n * 2 >= c
      |ORDER BY inter.doc_id, in_doc_id""".stripMargin

  // ---- d15: duplicated-span EXCISION (the cleaned-corpus artifact) ----

  /** d15: span EXCISION — the artifact a pipeline actually trains on,
    * where d11/d12 only REPORT span duplication: for every occurrence
    * of a [[SpanLen]]-token span that appears ≥ 2 times corpus-wide
    * (counting every position, so intra-document repeats count — the
    * substring-dedup definition of Lee et al.'s fixed-length-span
    * form, no suffix array needed), keep the GLOBAL FIRST occurrence
    * (lexicographic min (doc_id, position)) and mark every other
    * occurrence's token range removed. Overlapping/adjacent removed
    * ranges merge per document (gaps-and-islands over a running max),
    * so the output is the minimal set of (doc_id, rm_from, rm_to)
    * 1-based inclusive token intervals a cleaner applies; kept text is
    * the complement.
    *
    * Scale shape at 100 TB: one position-explode (≈ token count rows),
    * a partial-aggregable groupBy(span-hash) for (count, first) — the
    * survivors table is slim (hash + 2 ids) — one hash join back on
    * the span hash, then per-DOCUMENT windows (bounded by doc length,
    * never corpus-wide). Volume rides the token count, the same rail
    * as d11; no pairwise term anywhere. */
  def d15(s: SparkSession, d: String): DataFrame = {
    // spread: single-row-group scan would run the span-md5 explode on
    // one core, and this subtree executes TWICE (the firsts agg and the
    // occurrence join both consume it). Interleaved A/B, same JVM
    // (r21): spread 2.55/2.13 s vs unspread 4.30/2.78 s — the per-span
    // MD5 is dense enough to repay the exchange (t11/t13, whose
    // explodes are plain split/element_at, measured the opposite).
    val e = spread(documents(s, d), col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= SpanLen) // sequence() counts DOWN below this
      .select(col("doc_id"), col("toks"),
        explode(expr(s"sequence(1, size(toks) - ${SpanLen - 1})")).as("i"))
      .select(col("doc_id"), col("i").cast(LongType).as("i"),
        expr(s"md5(concat_ws(' ', slice(toks, CAST(i AS INT), $SpanLen)))").as("sh"))
    val firsts = e.groupBy("sh")
      .agg(count(lit(1)).as("cnt"), min(struct(col("doc_id"), col("i"))).as("f"))
      .where(col("cnt") >= 2)
      .select(col("sh"), col("f.doc_id").as("fd"), col("f.i").as("fi"))
    val rm = e.join(firsts, "sh")
      .where(!(col("doc_id") === col("fd") && col("i") === col("fi")))
      .select(col("doc_id"), col("i").as("s"),
        (col("i") + (SpanLen - 1)).as("e"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("s")
    val prevEnd = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    rm.withColumn("newi",
        when(prevEnd.isNull || col("s") > prevEnd + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("newi")).over(w))
      .groupBy("doc_id", "grp")
      .agg(big(min(col("s"))).as("rm_from"), big(max(col("e"))).as("rm_to"))
      .select(col("doc_id"), col("rm_from"), col("rm_to"),
        (col("rm_to") - col("rm_from") + 1).as("tokens_removed"))
      .orderBy("doc_id", "rm_from")
  }

  val d15Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |e AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t) - ${SpanLen - 1})) AS i
      |  FROM toks WHERE len(t) >= $SpanLen),
      |occ AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS i,
      |    md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + ${SpanLen - 1} AS INT)), ' ')) AS sh
      |  FROM e),
      |marked AS (
      |  SELECT doc_id, i,
      |    COUNT(*) OVER (PARTITION BY sh) AS cnt,
      |    ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn
      |  FROM occ),
      |rm AS (
      |  SELECT doc_id, i AS s, i + ${SpanLen - 1} AS e
      |  FROM marked WHERE cnt >= 2 AND rn > 1),
      |g AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
      |      THEN 1 ELSE 0 END AS newi
      |  FROM rm),
      |isl AS (
      |  SELECT doc_id, s, e,
      |    SUM(newi) OVER (PARTITION BY doc_id ORDER BY s) AS grp
      |  FROM g)
      |SELECT doc_id, CAST(MIN(s) AS BIGINT) AS rm_from,
      |  CAST(MAX(e) AS BIGINT) AS rm_to,
      |  CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS tokens_removed
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, rm_from""".stripMargin

  // ---- d14: LSH recall evaluation on a deterministic sample ----

  /** d14 bounds its exact ground-truth computation to about this many
    * sampled documents — pair volume stays ≤ target² regardless of
    * corpus size, the same census-derived-parameter pattern as d04's
    * salt count and a08's K(N). */
  val D14SampleTarget = 512L

  /** d14: MinHash-LSH RECALL evaluation — the dedup-quality report a
    * curation team runs before trusting d02's sketch at 100 TB, and
    * the dedup-suite analogue of a10's ANN recall grade: on a
    * DETERMINISTIC census-derived sample (doc_id % step == 0 with
    * step = ⌈N/[[D14SampleTarget]]⌉ — derivable in pure SQL, so the
    * oracle samples identically), compute the EXACT set of true
    * near-dup pairs (token-set Jaccard ≥ 0.5 via the integer
    * cross-multiply 3·|∩| ≥ |A|+|B| — exactly d02's verify
    * definition) through a token inverted-index join, and the set of
    * pairs d02's band kernel ([[docBandKeys]], the batch operator's
    * exact keys) would surface; recall = found / true. Exact ground
    * truth at full corpus scale is unpayable (that is WHY d02 exists)
    * — the bounded sample is the production eval shape.
    *
    * Output (one row): sampled_docs, true_pairs, found_pairs, recall
    * (1.0 when the sample holds no true pair — vacuous). The expected
    * recall of the current 8 bands × 2 rows at exactly τ=0.5 is
    * 1−(1−0.5²)⁸ ≈ 0.90 (this instrument measured the previous
    * 4×3 shape at 0.80 on this corpus and drove the retune) — a
    * diagnostic with real signal, not a tautology. */
  def d14(s: SparkSession, d: String): DataFrame =
    d14Over(s, d, liveBandView(s, d))

  /** the recall instrument over an ARBITRARY band view — factored
    * (round 15) so d19's refresh can grade the STALE banding
    * generation with the IDENTICAL eval that grades the serving one
    * (the view carries (i, band, sig) under any banding; truth is
    * banding-independent). The DataFrame overload wraps a member-level
    * relation (the stale generation is never collapsed). */
  private[graft] def d14Over(s: SparkSession, d: String,
                             bandRelation: DataFrame): DataFrame =
    d14OverCached(s, d, BandView(bandRelation, None))._1

  private[graft] def d14Over(s: SparkSession, d: String,
                             view: BandView): DataFrame =
    d14OverCached(s, d, view)._1

  /** [[d14Over]] plus handles to its persisted intermediates, for the
    * one caller that DISCARDS a report after reading its scalar (d19's
    * retune branch grades the stale generation, then serves the fresh
    * one): the discarded instrument's caches would otherwise ride the
    * harness-clears-state contract for the rest of the session
    * (round-16 verdict nit — double-persist residue). */
  private[graft] def d14OverCached(s: SparkSession, d: String,
                             view: BandView): (DataFrame, Seq[DataFrame]) = {
    // the eval grades the LIVE corpus (round 14): deleted docs are cut
    // from the census, the sample, AND the band keys — a recall number
    // computed over signatures of documents that no longer exist would
    // grade retrieval quality the serving tier can never deliver
    val live = !d17TombstonePred
    val n = documents(s, d).where(live).count() // census (pruned count)
    val step = math.max(1L, (n + D14SampleTarget - 1) / D14SampleTarget)
    // persisted: the ≤512-row sample feeds the token explode, the MD5
    // band pass AND the report's sampled_docs count (d02's persist
    // rationale for exactly this multi-consumer self-join shape; the
    // harness clears per-query persisted state between entries)
    val sample = documents(s, d)
      .where(col("doc_id") % step === 0 && live)
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the shared tokens() definition, filtered to the sample (the
    // doc_id predicate pushes below the generate) — one tokenization
    // definition to keep in step with the oracle's string_split;
    // persisted for the same multi-consumer reason as sample/bands
    // (it feeds sizes plus BOTH sides of the inverted-index self-join)
    val tok = tokens(s, d)
      .where(col("doc_id") % step === 0 && live)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("nn"))
    val inter = tok.select(col("doc_id").as("a"), col("w"))
      .join(tok.select(col("doc_id").as("b"), col("w")), "w")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("a"), col("nn").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("nn").as("nb")), "b")
      .where(col("c") * 3 >= col("na") + col("nb"))
      .select("a", "b")
    // band keys for the sampled docs, SERVED from the LIVE view of the
    // published signature table (round-12: the a13 build/serve pattern
    // — the eval must grade the batch operator's EXACT keys, and
    // reading the published table makes that structural instead of
    // kernel-call-identical; round-14: tombstoned docs' bands are cut
    // by [[liveBandTable]]). Persisted: both sides of the (band, key)
    // self-join would re-scan the parquet otherwise.
    // per-DOCUMENT keys: a collapsed view re-inflates the sampled
    // members through the membership table (identity when uncollapsed)
    val bands = bandRowsAt(view, keepWhere(_ % step === 0))
      .select(col("i").as("doc_id"), col("band"), col("sig").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bands.select(col("band"), col("key"), col("doc_id").as("a"))
      .join(bands.select(col("band"), col("key"), col("doc_id").as("b")), Seq("band", "key"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    // ONE pass over truth (r21): true_pairs and found_pairs used to be
    // two separate aggregate subtrees (truth.agg ⨯ (truth⋈cand).agg),
    // so the UNPERSISTED truth — whose inverted-index self-join is the
    // instrument's dominant stage — executed twice per report. A left
    // join against the (already DISTINCT) candidate set counts both in
    // one evaluation: found = truth rows with a candidate match.
    val report = sample.agg(big(count(lit(1))).as("sampled_docs"))
      .crossJoin(
        truth.join(cand.withColumn("f", lit(1)), Seq("a", "b"), "left")
          .agg(big(count(lit(1))).as("true_pairs"),
            big(sum(when(col("f").isNotNull, 1L).otherwise(0L)))
              .as("found_pairs")))
      .withColumn("recall",
        when(col("true_pairs") === 0, lit(1.0))
          .otherwise(col("found_pairs").cast(DoubleType) / col("true_pairs").cast(DoubleType)))
    (report, Seq(sample, tok, bands))
  }

  val d14Sql: String =
    s"""WITH st AS (
      |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / ${D14SampleTarget}.0) AS BIGINT)) AS step
      |  FROM documents WHERE doc_id % $IncrementalMod <> $TombstoneRem),
      |sample AS (
      |  SELECT doc_id, text FROM documents, st
      |  WHERE doc_id % st.step = 0 AND doc_id % $IncrementalMod <> $TombstoneRem),
      |tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM sample),
      |sizes AS (SELECT doc_id, COUNT(*) AS nn FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS c
      |  FROM tok x JOIN tok y ON x.w = y.w AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT a, b FROM inter
      |    JOIN sizes sa ON sa.doc_id = a
      |    JOIN sizes sb ON sb.doc_id = b
      |  WHERE c * 3 >= sa.nn + sb.nn),
      |sigs AS (
      |  SELECT doc_id, seed, MIN(md5(seed || ':' || w)) AS sig
      |  FROM tok, (SELECT unnest(generate_series(0, ${MinhashSeeds - 1})) AS seed)
      |  GROUP BY doc_id, seed),
      |bands AS (
      |  SELECT doc_id, seed // $BandRows AS band,
      |    CAST(('0x' || substring(md5(string_agg(sig, '|' ORDER BY seed)), 1, 15)) AS BIGINT) AS key
      |  FROM sigs GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
      |found AS (SELECT t.a, t.b FROM truth t JOIN cand c ON t.a = c.a AND t.b = c.b)
      |SELECT
      |  CAST((SELECT COUNT(*) FROM sample) AS BIGINT) AS sampled_docs,
      |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS true_pairs,
      |  CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS found_pairs,
      |  CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1.0
      |       ELSE CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
      |            / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) END AS recall""".stripMargin

  /** Oracle: the retune always fires on the census corpus (stale 4×4
    * recall ≤ 0.75 < 0.9 at every gate SF, measured), so the answer is
    * the DEFAULT banding's recall report — d14's chain verbatim — with
    * the served generation and banding parameters pinned; a gen-1
    * (stale-banding) answer breaks the hash loudly, a17's exact
    * oracle doctrine. */
  val d19Sql: String =
    s"""SELECT q.*, CAST(2 AS BIGINT) AS gen,
      |  CAST(${MinhashSeeds / BandRows} AS BIGINT) AS bands,
      |  CAST($BandRows AS BIGINT) AS band_rows
      |FROM ($d14Sql) q""".stripMargin

  // ---- d16: incremental batch-vs-corpus near-dup admission ----

  // IncrementalMod/IncrementalRem/TombstoneRem/TombstoneCompactThreshold
  // are declared with the top-of-object constants (initialization-order
  // constraint: d14Sql interpolates them).

  /** d16: INCREMENTAL near-dup admission — the shape a production
    * ingest actually runs every day: a NEW batch of documents arrives
    * and must be deduplicated AGAINST THE STANDING CORPUS without
    * rescanning it. The corpus side is served from the published
    * MinHash band-signature table ([[bandTable]] — built once per
    * corpus fingerprint; a column-pruned parquet read with the
    * batch-exclusion predicate pushed to the scan), while the batch
    * side runs the SAME signature kernel ([[bandRowsFor]]) fresh at
    * arrival size — at 100 TB the corpus pass is unpayable per batch
    * and the batch pass is tiny, which is exactly why the published
    * table exists. Candidates come from the directed (batch band ×
    * corpus band) bucket equi-join with d02's size-ratio prune;
    * survivors get d02's exact merge-intersect Jaccard verify; the
    * report is one row PER BATCH DOC: how many standing near-dups it
    * has (τ = 0.5), its best match (highest Jaccard, tie → smallest
    * corpus id), and the admission flag a filtering pipeline keys on.
    * Batch-internal duplicates are deliberately out of scope — d02
    * covers intra-corpus pairs; this operator grades ARRIVALS.
    *
    * Scale shape: no all-pairs anywhere — the join is banded exactly
    * like d02's; the batch side (bands + verify arrays) is persisted
    * once and is arrival-sized; the corpus side is the slim published
    * table, never raw text. Dup-free batch docs survive via the left
    * join (the p09 lesson: the rows an admission report exists for are
    * exactly the ones an inner join would drop). DELETION-AWARE since
    * round 14: the corpus side is [[liveBandTable]] (published bands
    * minus tombstones), so arrivals are never rejected for matching
    * deleted documents; oracle = the chain over the corpus minus both
    * the arrival and tombstone residues. */
  def d16(s: SparkSession, d: String): DataFrame = {
    // arrival-sized: bands for the ~N/10 incoming docs, persisted for
    // the three consumers (candidate join, verify arrays, report base).
    // Deliberately NOT unpersisted here (same accepted contract as
    // a06Parts): the Verify/Bench harness clears per-query persisted
    // state between entries, the copies are arrival-sized, and
    // cross-call memoization would leak session state. The `pairs`
    // persist inside the report core carries the same contract.
    val batchPred = col("doc_id") % IncrementalMod === IncrementalRem
    val newBands = bandRowsFor(s, documents(s, d).where(batchPred))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus side = the LIVE band view (round 14): tombstoned docs are
    // cut before the candidate join, so an arrival is never rejected
    // for matching a document that has been DELETED — the d16∘d17
    // composition failure the round-13 verdict named (a takedown that
    // keeps blocking re-ingestion forever). Below the compaction
    // threshold this is an id-only anti-join on the published table;
    // above it, the compacted artifact.
    admissionReportOver(s, newBands, admissionCorpusView(s, d))
  }

  /** the standing-corpus view both admission tiers grade against (d16
    * nightly, s14 at the ingest tier): the live band view minus the
    * arrival residue itself. */
  private[graft] def admissionCorpusView(s: SparkSession, d: String): BandView =
    filteredView(liveBandView(s, d),
      keepWhere(_ % IncrementalMod =!= IncrementalRem))

  /** (family kind, fingerprint) of every published artifact the
    * admission corpus view serves from — the lineage identities p12
    * declares for its admission consumption. Mirrors [[liveBandView]]'s
    * decision exactly: the compacted live companion above the tombstone
    * threshold; the default band table (plus its collapse membership,
    * when one was published) below it. */
  private[graft] def admissionArtifacts(s: SparkSession, d: String): Seq[(String, String)] =
    if (aboveCompactThreshold(s, d))
      Seq((sk("minhash-live", d), compactedBandFingerprint(s, d)))
    else {
      val fp = minhashFingerprint(s, d)
      val members =
        if (graft.core.Materialize.exists(s, sk("minhash-members", d), fp))
          Seq((sk("minhash-members", d), fp)) else Nil
      (sk("minhash", d), fp) +: members
    }

  /** the admission kernel d16/d18 share, over an arbitrary (arrival
    * bands, corpus bands) split: directed banded candidate join with
    * the τ-derived size-ratio prune, exact merge-intersect Jaccard
    * verify, one report row per arrival doc. Factored (round 15) so
    * next-day admission (d18 — corpus side = the APPENDED artifact)
    * runs the IDENTICAL kernel as day-1 admission. */
  private[graft] def admissionReportOver(s: SparkSession, newBands: DataFrame,
                                  corpusView: BandView): DataFrame = {
    import s.implicits._
    val corpusBands = corpusView.rows
    val cand = newBands
      .select(col("i").as("ni"), col("band"), col("sig"), col("n").as("na"))
      .join(corpusBands.select(col("i").as("ci"), col("band").as("band_b"),
          col("sig").as("sig_b"), col("n").as("nb")),
        col("band") === col("band_b") && col("sig") === col("sig_b") &&
          greatest(col("na"), col("nb")) * lit(TauNum) <=
            lit(TauDen) * least(col("na"), col("nb")))
      .select("ni", "ci").distinct()
    val newSets = newBands.where(col("band") === 0)
      .select(col("i").as("ni"), col("toks").as("ta"))
    val corpusSets = corpusBands.where(col("band") === 0)
      .select(col("i").as("ci"), col("toks").as("tb"))
    val pairs = verifyCandidates(cand
      .join(newSets, "ni")
      .join(corpusSets, "ci")
      .select(col("ni"), col("ci"), col("ta"), col("tb")))
    admissionReportFrom(s,
      newBands.where(col("band") === 0).select(col("i").as("new_doc_id")),
      // a collapsed corpus rep's match stands for every member — the
      // report's n_dups/best_match are document-level (identity when
      // uncollapsed)
      expandAdmissionPairs(pairs, corpusView.members))
  }

  /** the exact merge-intersect Jaccard verify over a (ni, ci, ta, tb)
    * candidate relation — ONE kernel definition for the batch
    * admissions (d16/d18) AND the streaming admission (s14, where it
    * runs stateless inside the micro-batch). Emits (ni, ci, jac) for
    * pairs at or above τ. */
  private[graft] def verifyCandidates(cand: DataFrame): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand.as[(Long, Long, Array[Long], Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (ni, ci, ta, tb) =>
          val x = sortedIntersectLong(ta, tb)
          val jac = x.toDouble / (ta.length + tb.length - x).toDouble
          if (jac >= JaccardTau) Iterator.single((ni, ci, jac)) else Iterator.empty
        }
      }
      .toDF("ni", "ci", "jac")
  }

  /** the arrival-side signature pass as a STREAM transform: per
    * arriving doc, all band rows with the sorted token-id array on
    * EVERY row (the batch table carries it on band 0 only and joins it
    * back — a stream cannot self-join, so the arrival tier pays
    * numBands copies of each doc's ids inside the micro-batch; the
    * payload never lands in an artifact). Same digest/banding kernel
    * as [[bandRowsFor]] via the shared [[docBandKeys]]/[[tokenIds]]. */
  private[graft] def streamArrivalBandRows(docs: org.apache.spark.sql.Dataset[(Long, String)]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val numBands = MinhashSeeds / BandRows
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, text) =>
        val toks = text.split(" ", -1).distinct
        val ids = tokenIds(md, toks)
        val bandKeys = docBandKeys(md, toks)
        Iterator.tabulate(numBands)(b => (id, b, bandKeys(b), ids.length, ids))
      }
    }.toDF("i", "band", "sig", "n", "toks")
  }

  /** the report-assembly half of the admission, over an ALREADY
    * verified (ni, ci, jac) pair relation — factored (round 15) so the
    * streaming admission (s14: pairs verified IN the stream, drained
    * to the sink) assembles the identical report d16/d18 emit. */
  private[graft] def admissionReportFrom(s: SparkSession,
                                         arrivalIds: DataFrame,
                                         pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = pairs.groupBy("ni").agg(big(count(lit(1))).as("n_dups"))
    val best = pairs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("ni")
          .orderBy(col("jac").desc, col("ci"))))
      .where(col("rn") === 1)
      .select(col("ni").as("bi"), col("ci").as("best_match"), col("jac"))
    arrivalIds.select(col("new_doc_id"))
      .join(agg, col("new_doc_id") === col("ni"), "left")
      .join(best, col("new_doc_id") === col("bi"), "left")
      .select(
        col("new_doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("jac"), lit(0.0)).as("best_jaccard"),
        big(when(col("n_dups").isNull, 1L).otherwise(0L)).as("admit"))
      .orderBy("new_doc_id")
  }

  /** the admission-chain oracle CTEs, parameterized by the two docs
    * relations (`${np}docs` = arrivals, `${cp}docs` = corpus): MinHash
    * signatures + banding for both sides, banded candidate join, exact
    * token-intersect Jaccard, τ-filtered pairs — the SQL twin of
    * [[admissionReportOver]], shared by d16 and both of d18's days so
    * the admission semantics exist as ONE text. */
  private[graft] def admissionChainSql(np: String, cp: String): String =
    s"""${np}tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM ${np}docs),
      |${cp}tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM ${cp}docs),
      |${np}sig AS (
      |  SELECT doc_id, seed, MIN(md5(seed || ':' || w)) AS sig
      |  FROM ${np}tok, (SELECT unnest(generate_series(0, ${MinhashSeeds - 1})) AS seed)
      |  GROUP BY 1, 2),
      |${np}band AS (
      |  SELECT doc_id, seed // $BandRows AS band,
      |    CAST(('0x' || substring(md5(string_agg(sig, '|' ORDER BY seed)), 1, 15)) AS BIGINT) AS key
      |  FROM ${np}sig GROUP BY 1, 2),
      |${cp}sig AS (
      |  SELECT doc_id, seed, MIN(md5(seed || ':' || w)) AS sig
      |  FROM ${cp}tok, (SELECT unnest(generate_series(0, ${MinhashSeeds - 1})) AS seed)
      |  GROUP BY 1, 2),
      |${cp}band AS (
      |  SELECT doc_id, seed // $BandRows AS band,
      |    CAST(('0x' || substring(md5(string_agg(sig, '|' ORDER BY seed)), 1, 15)) AS BIGINT) AS key
      |  FROM ${cp}sig GROUP BY 1, 2),
      |${np}cand AS (
      |  SELECT DISTINCT n.doc_id AS ni, c.doc_id AS ci
      |  FROM ${np}band n JOIN ${cp}band c ON n.band = c.band AND n.key = c.key),
      |${np}nc AS (SELECT doc_id, COUNT(*) AS c FROM ${np}tok GROUP BY doc_id),
      |${np}cc AS (SELECT doc_id, COUNT(*) AS c FROM ${cp}tok GROUP BY doc_id),
      |${np}inter AS (
      |  SELECT cand.ni, cand.ci, COUNT(*) AS x
      |  FROM ${np}cand cand JOIN ${np}tok a ON a.doc_id = cand.ni
      |            JOIN ${cp}tok b ON b.doc_id = cand.ci AND b.w = a.w
      |  GROUP BY 1, 2),
      |${np}pairs AS (
      |  SELECT ni, ci, CAST(x AS DOUBLE) / CAST(na.c + cb.c - x AS DOUBLE) AS jac
      |  FROM ${np}inter JOIN ${np}nc na ON na.doc_id = ni JOIN ${np}cc cb ON cb.doc_id = ci
      |  WHERE CAST(x AS DOUBLE) / CAST(na.c + cb.c - x AS DOUBLE) >= $JaccardTau)""".stripMargin

  /** the admission-report oracle tail over `${np}pairs`/`${np}docs` —
    * one row per arrival, d16's exact report shape. */
  private def admissionReportSql(np: String): String =
    s"""${np}best AS (
      |  SELECT ni, ci, jac,
      |    ROW_NUMBER() OVER (PARTITION BY ni ORDER BY jac DESC, ci) AS rn
      |  FROM ${np}pairs),
      |${np}agg AS (SELECT ni, COUNT(*) AS nd FROM ${np}pairs GROUP BY ni)
      |SELECT d.doc_id AS new_doc_id,
      |  CAST(COALESCE(agg.nd, 0) AS BIGINT) AS n_dups,
      |  CAST(COALESCE(b.ci, -1) AS BIGINT) AS best_match,
      |  COALESCE(b.jac, 0.0) AS best_jaccard,
      |  CAST(CASE WHEN agg.nd IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admit
      |FROM ${np}docs d LEFT JOIN ${np}agg agg ON agg.ni = d.doc_id
      |  LEFT JOIN ${np}best b ON b.ni = d.doc_id AND b.rn = 1
      |ORDER BY new_doc_id""".stripMargin

  val d16Sql: String =
    s"""WITH ndocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod = $IncrementalRem),
      |cdocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod <> $IncrementalRem
      |    AND doc_id % $IncrementalMod <> $TombstoneRem),
      |${admissionChainSql("n", "c")},
      |${admissionReportSql("n")}""".stripMargin

  /** Oracle: the two-day census timeline stated end to end — day-1
    * admission against the standing corpus (day-2 docs not yet
    * arrived, tombstones cut), the admitted docs folded into the
    * corpus, then day-2 admission against corpus+admitted. The same
    * admission chain text three relations apart — an appended artifact
    * that drifted from rebuild-on-(corpus+admitted) hash-mismatches. */
  val d18Sql: String =
    s"""WITH xdocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod = $IncrementalRem),
      |ydocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod NOT IN
      |    ($IncrementalRem, $AppendRem, $TombstoneRem)),
      |${admissionChainSql("x", "y")},
      |admitted AS (
      |  SELECT doc_id, text FROM xdocs
      |  WHERE doc_id NOT IN (SELECT ni FROM xpairs)),
      |ndocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod = $AppendRem),
      |zdocs AS (
      |  SELECT doc_id, text FROM ydocs
      |  UNION ALL SELECT doc_id, text FROM admitted),
      |${admissionChainSql("n", "z")},
      |${admissionReportSql("n")}""".stripMargin

  // ---- d17: DELETION against the published band table (tombstones) ----

  /** the arriving delete set: doc ids only (a takedown/revocation list
    * carries no text), census-derived like d16's arrival split but on
    * the [[TombstoneRem]] residue. The scan is a doc_id-pruned read —
    * deletion must never need the deleted documents' CONTENT. */
  private[graft] def d17TombstonePred: Column =
    col("doc_id") % IncrementalMod === TombstoneRem

  private[graft] def d17Tombstones(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id")).where(d17TombstonePred)

  /** cache key of the published VERIFIED PAIR table (the full-corpus
    * d02 answer as an artifact) — corpus identity × banding × τ × code
    * salt. Deliberately independent of any delete set: tombstones
    * change daily, the pair artifact only with the corpus. */
  private[graft] def d02PairsFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-pairs-s$MinhashSeeds-r$BandRows-tau$TauNum-$TauDen", dedupCodeSalt)

  /** The published full-corpus verified pair table — the d03-pairs/
    * d07-labels doctrine applied to d02's answer: the candidate join +
    * exact verify run ONCE per corpus fingerprint (via
    * [[neardupPairsOver]] over the published band table — the same
    * kernel the d02 entry measures every run) and every REPORT over
    * the pair set consumes the slim (doc_a, doc_b, jaccard) artifact.
    * d17 is the first consumer. */
  private[graft] def pairsTableD02(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("minhash-pairs", d), d02PairsFingerprint(s, d))(
      // document-level by construction (expansion inside the kernel),
      // so pair consumers never need the membership table
      neardupPairsOver(s, bandView(s, d)))

  /** the published pair table minus every pair touching a tombstoned
    * doc — the anti-join serve view (id-only delete side, both
    * endpoints; Catalyst broadcasts it while it fits and degrades to a
    * shuffled hash anti-join when a takedown wave outgrows it; either
    * way the published artifacts are untouched). Valid because pair
    * membership is a property of the TWO docs alone: removing docs
    * can only remove pairs, never create or rescore one — so
    * pairs(corpus ∖ D) == pairs(corpus) ∖ {p : p ∩ D ≠ ∅} exactly. */
  private def livePairs(s: SparkSession, d: String,
                        tombstones: DataFrame): DataFrame =
    pairsTableD02(s, d)
      .join(tombstones.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(tombstones.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      // using-column joins move each key to column 0 — restore d02's
      // output order (the spec compares rows positionally)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  private[graft] def compactedPairsFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-pairs-s$MinhashSeeds-r$BandRows-tau$TauNum-$TauDen" +
        s"-minusdel-m$IncrementalMod-t$TombstoneRem", dedupCodeSalt)

  /** COMPACTION: rewrite the published pair table without the
    * tombstone-touching rows, under its own fingerprint. The compute
    * reads the PUBLISHED pair table, never raw text and never the
    * verify kernel — a compaction that re-verified the corpus would
    * defeat the reason the artifact exists. */
  private[graft] def compactedPairsTable(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("minhash-pairs", d), compactedPairsFingerprint(s, d))(
      livePairs(s, d, d17Tombstones(s, d)))

  /** d17: DELETION-AWARE near-dup serve — the other half of the
    * incremental lifecycle d16/a15 started: documents get REMOVED
    * (takedowns, license revocations, dedup losers) at least as often
    * as batches arrive, and a real pipeline must serve "the near-dup
    * pairs of the corpus minus the deleted docs" WITHOUT re-running
    * the dedup kernel. The delete set is an id-only relation
    * ([[d17Tombstones]]); the serve path anti-joins BOTH endpoints of
    * the published pair table ([[pairsTableD02]] — built once per
    * corpus fingerprint by d02's own kernel, so the artifact cannot
    * drift from the operator). When the tombstone fraction exceeds
    * [[TombstoneCompactThreshold]], the path switches to the COMPACTED
    * pair table ([[compactedPairsTable]]): a one-time rewrite of the
    * slim artifact that future serves read tombstone-free. Output
    * contract: exactly d02 computed on the reduced corpus (sound
    * because pair membership depends on the two docs alone — see
    * [[livePairs]]; the oracle states it that way), so a leaked
    * deleted doc — the legal failure mode — breaks the row hash.
    *
    * Scale shape at 100 TB: THE kernel is not re-run — at scale the
    * candidate join + verify is the dominant dedup cost, and the first
    * cut of this operator re-ran it per report (3.67 s at sf0.1, d02's
    * own price); the pair-table serve reads O(|pairs|) + an id-only
    * anti-join instead (the published-artifact doctrine d09/d10/d13
    * already follow for d07's labels and d03's pairs). The plan-audit
    * spec pins "no raw-text scan, no republish when warm"; compaction
    * costs one slim scan + write, amortized over every later serve.
    * The threshold decision reads two counters from a doc_id-pruned
    * scan (a driver-side scalar steering WHICH of two equal-result
    * plans runs — the AQE decision class, not data movement). */
  def d17(s: SparkSession, d: String): DataFrame = {
    val above = aboveCompactThreshold(s, d)
    val pairs =
      if (above) compactedPairsTable(s, d)
      else livePairs(s, d, d17Tombstones(s, d))
    // retention at the compaction owner (round 17): the pair line keeps
    // TWO designated artifacts — the full-corpus pair table (the
    // compaction's source; resweeping it would force the verify kernel
    // to re-run) and the current compacted rewrite — and reaps
    // prior-corpus/prior-code residue
    graft.core.Materialize.sweepKeep(s, sk("minhash-pairs", d),
      Set(d02PairsFingerprint(s, d), compactedPairsFingerprint(s, d)))
    pairs.orderBy("doc_a", "doc_b")
  }

  /** the shared compaction trigger: tombstoned fraction of the corpus
    * against [[TombstoneCompactThreshold]] — two counters from a
    * doc_id-pruned scan (the AQE-class plan-choice scalar), consumed by
    * d17's pair serve AND the live band view so every deletion-aware
    * consumer flips to its compacted artifact at the same point. */
  private def aboveCompactThreshold(s: SparkSession, d: String): Boolean = {
    val t = documents(s, d).agg(
      count(lit(1)).as("n"),
      sum(when(d17TombstonePred, lit(1L)).otherwise(lit(0L))).as("nd")).head()
    val n = t.getLong(0)
    val nd = if (t.isNullAt(1)) 0L else t.getLong(1)
    n > 0 && nd.toDouble / n > TombstoneCompactThreshold
  }

  // ---- the band-signature artifact under deletion (round 14) ----

  private[graft] def compactedBandFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-s$MinhashSeeds-r$BandRows-minusdel-m$IncrementalMod-t$TombstoneRem",
      dedupCodeSalt)

  /** COMPACTION of the signature artifact itself: the published band
    * table rewritten without the tombstoned docs' rows, under its own
    * fingerprint — d17's compaction contract applied to the MinHash
    * artifact (round-13 verdict item 3: d17 compacted the *pair* table
    * but the *signature* table kept deleted docs' bands forever, so
    * d14's recall eval and s06's batch reference still saw them). The
    * compute reads the PUBLISHED band table, never raw text. */
  private[graft] def compactedBandTable(s: SparkSession, d: String): DataFrame = {
    val fp = compactedBandFingerprint(s, d)
    // its own lifecycle line (kind "minhash-live", round 17): the
    // compacted rewrite is the banding line's live COMPANION, not a
    // superseded generation of it — housing it under "minhash" would
    // put it in the blast radius of d19's cutover sweep.
    // DOCUMENT-LEVEL even over a collapsed build (bandRowsAt
    // re-inflates before the tombstone cut): compaction is a full
    // rewrite anyway, and a member-level artifact lets every
    // above-threshold consumer skip the membership machinery.
    val t = graft.core.Materialize.readOrCompute(s, sk("minhash-live", d), fp)(
      bandRowsAt(bandView(s, d),
        keepMinusIds(d17Tombstones(s, d)))
        .select(col("i"), col("band"), col("sig"), col("n"), col("toks")))
    // retention policy: this line serves exactly one generation — the
    // current corpus+code compaction; prior-round/prior-corpus residue
    // is superseded the moment this one is published
    graft.core.Materialize.sweepKeep(s, sk("minhash-live", d), Set(fp))
    t
  }

  /** The LIVE view of the band-signature artifact — what every
    * deletion-aware consumer (d16's corpus side, d14's recall eval,
    * s06's batch reference) reads instead of [[bandTable]]: the
    * published table minus tombstoned docs via id-only anti-join below
    * the shared threshold, the compacted rewrite above it (one slim
    * scan+write, never raw text, amortized over all future serves).
    * d02 deliberately still consumes the FULL table: it is the
    * nightly full-corpus kernel measure; its deletion-aware serve is
    * d17. */
  private[graft] def liveBandTable(s: SparkSession, d: String): DataFrame =
    liveBandView(s, d).rows

  /** the live view at DOCUMENT level regardless of collapse — for the
    * per-doc-key consumers (s06's batch reference). */
  private[graft] def liveBandRowsByDoc(s: SparkSession, d: String): DataFrame =
    bandRowsAt(liveBandView(s, d))

  /** the live view WITH its collapse membership (round 17): below the
    * compaction threshold the id-only tombstone cut is applied at
    * MEMBER level (a tombstoned representative must not keep serving
    * for its surviving duplicates — [[filteredView]] relabels);
    * above it the compacted artifact is document-level by
    * construction and carries no membership. Uncollapsed corpora take
    * exactly the pre-round-17 plan (members None, the filters are the
    * same anti-join). */
  private[graft] def liveBandView(s: SparkSession, d: String): BandView =
    if (aboveCompactThreshold(s, d)) BandView(compactedBandTable(s, d), None)
    else filteredView(bandView(s, d), keepMinusIds(d17Tombstones(s, d)))

  // ---- d18: dedup-side artifact APPEND (round 15, the a15 analog) ----

  /** census predicate of the DAY-2 arrival batch. */
  private[graft] def d18ArrivalPred: Column =
    col("doc_id") % IncrementalMod === AppendRem

  /** the standing-corpus band view of the d18 world: the live artifact
    * minus BOTH arrival residues (day-1 docs are graded by admission,
    * day-2 docs have not arrived yet). */
  private[graft] def d18StandingView(s: SparkSession, d: String): BandView =
    filteredView(liveBandView(s, d),
      keepWhere(i => i % IncrementalMod =!= IncrementalRem &&
        i % IncrementalMod =!= AppendRem))

  private[graft] def d18StandingBands(s: SparkSession, d: String): DataFrame =
    d18StandingView(s, d).rows

  /** day-1 admission inside the d18 timeline: d16's kernel with the
    * day-2 residue excluded from the corpus side (those docs do not
    * exist yet when day-1 is graded). Returns the admitted doc ids. */
  private[graft] def d18Day1AdmittedIds(s: SparkSession, d: String): DataFrame = {
    val day1 = bandRowsFor(s,
      documents(s, d).where(col("doc_id") % IncrementalMod === IncrementalRem))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    admissionReportOver(s, day1, d18StandingView(s, d))
      .where(col("admit") === 1L)
      .select(col("new_doc_id").as("doc_id"))
  }

  /** fingerprint of the APPENDED band artifact: corpus identity ×
    * banding × the census slices folded in (day-1 admitted, tombstones
    * cut) — a new generation of the signature table, the old one left
    * addressable under its own fingerprint. */
  private[graft] def appendedBandFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-s$MinhashSeeds-r$BandRows-append-m$IncrementalMod" +
        s"-a$IncrementalRem-adm-x$AppendRem-minusdel-t$TombstoneRem",
      dedupCodeSalt)

  /** The APPENDED band-signature artifact — the a15 contract on the
    * dedup side: after day-1 admission, the admitted arrivals' band
    * rows are MERGED into the published artifact under a new
    * fingerprint, so next-day admission serves corpus+day-1 without
    * re-signing either (the round-14 verdict's gap 2: without append,
    * daily ingest re-pays the arrival signing forever and the corpus
    * artifact goes stale on day one). Band signatures depend only on
    * the doc (the same invariance a15's frozen-codebook encode
    * exploits), so append == full rebuild over corpus+admitted holds
    * row-for-row — Round15OpsSpec pins it. The build reads the
    * published live view + signs ONLY the admitted docs (arrival-
    * sized); the standing corpus' raw text is never touched. */
  private[graft] def appendedBandTable(s: SparkSession, d: String): DataFrame = {
    val fp = appendedBandFingerprint(s, d)
    // the append line's own kind (round 17): the appended generation is
    // superseded by the NEXT append (or by a retune cutover), never by
    // the banding line's generations — and vice versa, so it must not
    // share d19's sweep namespace
    val t = graft.core.Materialize.readOrCompute(s, sk("minhash-append", d), fp) {
      val admittedDocs = documents(s, d)
        .where(col("doc_id") % IncrementalMod === IncrementalRem)
        .join(d18Day1AdmittedIds(s, d), Seq("doc_id"), "left_semi")
      d18StandingBands(s, d).unionByName(bandRowsFor(s, admittedDocs))
    }
    // retention policy at append-publish time: pin the generation just
    // published (its rollback — the standing artifact — lives in the
    // "minhash" kind and needs no pin here); everything else in the
    // line is a superseded prior append
    graft.core.Materialize.sweepKeep(s, sk("minhash-append", d), Set(fp))
    t
  }

  /** d18: NEXT-DAY admission over the appended artifact — the proof
    * the append is consumable: a second arrival batch (the
    * [[AppendRem]] census residue) is graded against corpus + day-1
    * admitted docs, served entirely from [[appendedBandTable]] (warm:
    * one published-table scan; no standing-corpus or day-1 re-signing
    * anywhere in the plan). Day-1 rejected docs are NOT in the
    * artifact — a rejected duplicate must not become the evidence that
    * rejects its own future copies; its standing near-dup already is.
    * Output/oracle contract: exactly d16's report shape, stated over
    * the two-day census timeline. */
  def d18(s: SparkSession, d: String): DataFrame = {
    val day2 = bandRowsFor(s, documents(s, d).where(d18ArrivalPred))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the appended artifact's collapsed part is its standing half —
    // the admitted day-1 rows are signed member-level — so the
    // standing view's membership re-expands its matches (None when
    // uncollapsed)
    admissionReportOver(s, day2,
      BandView(appendedBandTable(s, d), d18StandingView(s, d).members))
  }

  // ---- d19: banding REFRESH (round 15, the a17 analog) ----

  /** fingerprint of the STALE banding generation (4 bands × 4 rows
    * from the same 16 seeds) — the pre-retune serving artifact, kept
    * addressable for rollback after the cutover, exactly like a17's
    * stale index generation. */
  private[graft] def staleBandFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-s$MinhashSeeds-r$StaleBandRows-stalegen", dedupCodeSalt)

  private[graft] def staleBandTable(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("minhash", d), staleBandFingerprint(s, d))(
      bandRowsFor(s, documents(s, d), StaleBandRows))

  /** the stale generation's live view: tombstones cut by id-only
    * anti-join (no compaction flavor — the stale artifact is
    * pre-cutover history; the rewrite economics belong to the SERVING
    * generation). */
  private[graft] def staleLiveBands(s: SparkSession, d: String): DataFrame =
    staleBandTable(s, d)
      .join(d17Tombstones(s, d).select(col("doc_id").as("i")), Seq("i"), "left_anti")

  /** d19: RECALL-TRIGGERED banding refresh — retune → rebuild →
    * republish → cutover, the a17 lifecycle on the dedup side (the
    * round-14 verdict's gap 3: d14 measured recall but nothing acted
    * on it). The serving artifact is the STALE 4×4 banding generation
    * ([[staleBandTable]] — the under-banded tuning d14's scaladoc
    * credits with driving the original retune, now modeled as an
    * addressable generation); the d14 instrument grades it on the
    * live corpus, and when measured recall falls below the declared
    * [[RetuneRecallThreshold]] the operator retunes to the default
    * 8×2 banding, rebuilds the signature artifact and republishes it
    * under THE default fingerprint ([[minhashFingerprint]] via
    * [[bandTable]]) — deliberately not a third flavor, so the cutover
    * is every band consumer (d02/d14/d16/s06) flipping to the fresh
    * artifact, a17's exact cutover semantics. The stale generation
    * stays addressable under [[staleBandFingerprint]] for rollback.
    * Output: the served generation's recall report + (gen, bands,
    * band_rows) — the cutover decision sits inside the gate hash (on
    * the census corpus stale recall is 0.68–0.75 < 0.9, the retune
    * always fires, and the oracle pins gen 2 with the DEFAULT
    * banding's report; a gen-1 answer breaks the hash loudly).
    *
    * Scale shape at 100 TB: the trigger is the sample-bounded d14
    * instrument (≤512 docs regardless of corpus size) + one driver
    * scalar (the AQE-class plan choice); the retune itself is the one
    * deliberate full-corpus signature pass — the cost the monitor
    * exists to justify — published once and amortized over every
    * consumer after cutover. */
  def d19(s: SparkSession, d: String): DataFrame = {
    // EAGER at DataFrame-construction time by design: the .head() IS
    // the monitor reading — it runs the sample-bounded stale-generation
    // instrument (publishing the stale artifact if absent) to obtain
    // the one scalar the cutover decision needs (the d17/a16/a17
    // AQE-class plan-choice read). The instrument result is REUSED for
    // the gen-1 branch (one d14Over construction, one set of persists
    // — round-15 advice), so a no-retune serve never grades the stale
    // generation twice.
    val (staleReport, staleCaches) =
      d14OverCached(s, d, BandView(staleLiveBands(s, d), None))
    val staleRecall = staleReport.select(col("recall")).head().getDouble(0)
    val out =
      if (staleRecall < RetuneRecallThreshold) {
        // the stale instrument's report is discarded here (only its
        // scalar was read) — release its caches instead of leaving
        // them to the harness (round-16 double-persist nit)
        staleCaches.foreach(_.unpersist(blocking = false))
        d14Over(s, d, liveBandView(s, d)) // bandTable publishes if absent = the rebuild
          .withColumn("gen", lit(2L))
          .withColumn("bands", lit((MinhashSeeds / BandRows).toLong))
          .withColumn("band_rows", lit(BandRows.toLong))
      } else
        staleReport
          .withColumn("gen", lit(1L))
          .withColumn("bands", lit((MinhashSeeds / StaleBandRows).toLong))
          .withColumn("band_rows", lit(StaleBandRows.toLong))
    // retention AT the cutover (round-17: policy, not just mechanism):
    // the banding line now designates {serving, rollback} = {the
    // generation just cut over to (or still serving), the one it
    // supersedes} — both published by the instrument runs above —
    // and every other generation of the line (older bandings,
    // prior-code/prior-corpus residue) is reaped here rather than
    // accumulating until a manual Governance pass
    graft.core.Materialize.sweepKeep(s, sk("minhash", d),
      Set(minhashFingerprint(s, d), staleBandFingerprint(s, d)))
    // the collapse membership line rides the banding line's lifecycle:
    // when the current build is collapsed this reaps prior-fingerprint
    // membership residue; when it is uncollapsed the pin names nothing
    // and sweepKeep defers (stale membership is fingerprint-addressed
    // and never read, so deferring is harmless)
    graft.core.Materialize.sweepKeep(s, sk("minhash-members", d),
      Set(minhashFingerprint(s, d)))
    out
  }

  // ---- d20: the MULTI-DAY append chain (round 16, d18 iterated) ----

  /** constant-length key component naming the folded-day prefix: an
    * MD5 of the ChainDays prefix, NOT the concatenated day list — the
    * round-15 verdict's key-growth concern (appendedBandFingerprint
    * spells its census slices into the key; chaining that per day
    * grows the key string with k). Same-length key at any chain depth;
    * a different timeline or ingestion ORDER is a different key. */
  private def chainDaysKey(gen: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(ChainDays.take(gen).mkString(",").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  /** fingerprint of chain generation k: corpus identity × banding ×
    * (generation number + folded-day-prefix hash) × code salt. */
  private[graft] def chainFingerprint(s: SparkSession, d: String, gen: Int): String =
    graft.core.Materialize.fingerprint(d, "documents",
      s"minhash-s$MinhashSeeds-r$BandRows-chain-g$gen-${chainDaysKey(gen)}" +
        s"-m$IncrementalMod-minusdel-t$TombstoneRem",
      dedupCodeSalt)

  /** the chain world's standing corpus: the live band view minus EVERY
    * day's residue — on day 0 none of the timeline's arrivals exist
    * yet. (d16/d18 keep their own 1- and 2-day censuses: their worlds
    * predate the 3-day timeline and their artifacts are unchanged.) */
  private[graft] def chainStandingView(s: SparkSession, d: String): BandView =
    ChainDays.foldLeft(liveBandView(s, d)) { (v, r) =>
      filteredView(v, keepWhere(_ % IncrementalMod =!= r))
    }

  private[graft] def chainStandingBands(s: SparkSession, d: String): DataFrame =
    chainStandingView(s, d).rows

  private def chainDayBands(s: SparkSession, d: String, day: Long): DataFrame =
    bandRowsFor(s,
      documents(s, d).where(col("doc_id") % IncrementalMod === day))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** chain generation k of the band artifact: generation k−1 plus the
    * band rows of day-k's ADMITTED arrivals, published under the
    * constant-length chain fingerprint. Generation 0 is the standing
    * view (derived, not published — it is already a filter of the
    * published live artifact). The recursion only executes COLD: a
    * warm generation k is one published-table read, so day-(k+1)
    * admission never re-signs the standing corpus or any earlier day
    * (the d18 invariant, by induction — Round16OpsSpec pins
    * generation k == a rebuild over standing + all admitted through
    * day k, on random corpora). Because each generation is a FULL
    * standalone band table, generation k SUPERSEDES k−1: retention
    * (graft.core.Retention) may sweep earlier generations without
    * touching any warm serve — the fingerprint keying needs no per-day
    * growth and the compaction/retention story absorbs the chain. */
  private[graft] def chainArtifact(s: SparkSession, d: String, gen: Int): DataFrame =
    if (gen == 0) chainStandingBands(s, d)
    else {
      // the chain line's own kind (round 17): generation k supersedes
      // k−1 WITHIN this line only — housing the chain under "minhash"
      // would let d20's retention sweep reap the banding line's serving
      // generations and vice versa
      val fp = chainFingerprint(s, d, gen)
      if (graft.core.Materialize.exists(s, sk("minhash-chain", d), fp))
        graft.core.Materialize.readTable(s, sk("minhash-chain", d), fp)
      else {
        val day = ChainDays(gen - 1)
        // built OUTSIDE the publish closure so the cached day batch can
        // be released once the generation is on disk (round-16 verdict
        // nit: one leaked MEMORY_AND_DISK copy per chain build
        // otherwise accumulates across a year-long chain's session)
        val dayBands = chainDayBands(s, d, day)
        try {
          graft.core.Materialize.readOrCompute(s, sk("minhash-chain", d), fp) {
            val admittedIds =
              admissionReportOver(s, dayBands, chainViewOf(s, d, gen - 1))
                .where(col("admit") === 1L)
                .select(col("new_doc_id").as("doc_id"))
            val admittedDocs = documents(s, d)
              .where(col("doc_id") % IncrementalMod === day)
              .join(admittedIds, Seq("doc_id"), "left_semi")
            // the second chainArtifact(gen-1) read hits the published
            // table the report's own call just ensured exists — no
            // double compute
            chainArtifact(s, d, gen - 1).unionByName(bandRowsFor(s, admittedDocs))
          }
        } finally dayBands.unpersist(blocking = false)
      }
    }

  /** day-`day`'s admission report inside the chain timeline (1-based):
    * d16's kernel over (day-`day` arrival bands, chain generation
    * `day`−1) — the one definition the chain's internal folds AND the
    * d20 gate entry both run, exposed for the induction spec. */
  private[graft] def chainDayReport(s: SparkSession, d: String, day: Int): DataFrame =
    admissionReportOver(s, chainDayBands(s, d, ChainDays(day - 1)),
      chainViewOf(s, d, day - 1))

  /** chain generation `gen` as a view: the published artifact's
    * collapsed part is its standing half (admitted day rows are
    * member-level), so the standing view's membership re-expands
    * matches — None when uncollapsed. */
  private def chainViewOf(s: SparkSession, d: String, gen: Int): BandView =
    BandView(chainArtifact(s, d, gen), chainStandingView(s, d).members)

  /** d20: DAY-3 admission over the TWICE-appended chain artifact — the
    * multi-day iteration the round-15 verdict ordered (d18 proved ONE
    * append generation; a real pipeline folds every day's admitted
    * docs in and grades the next day against the accumulated
    * artifact). Day-1 and day-2 admissions and their appends run
    * inside [[chainArtifact]] (cold only — warm, generation 2 is one
    * published read); day-3 ([[Append2Rem]]) is graded by the
    * IDENTICAL kernel d16/d18 run ([[admissionReportOver]]). Oracle:
    * the 3-day timeline stated end to end — the same admission-chain
    * SQL text instantiated three relations apart, each day's admitted
    * docs folded into the next day's corpus; an appended generation
    * that drifted from rebuild-on-(standing + admitted-so-far)
    * hash-mismatches at the gate.
    *
    * Scale shape: day-k admission signs ONLY day-k's arrivals
    * (arrival-sized); the corpus side is one published artifact scan
    * at every depth; fingerprint keys are constant-length in k
    * ([[chainDaysKey]]); superseded generations are retention
    * candidates, so a year of daily appends holds ONE serving
    * artifact, not 365. */
  def d20(s: SparkSession, d: String): DataFrame = {
    // construction is eager about the artifacts: chainDayReport's
    // corpus side ensures chain generations 1..size−1 are published
    val out = chainDayReport(s, d, ChainDays.size)
    // retention AT the append fold (round 17): the chain designates
    // {serving, rollback} = {generation size−1, size−2}; every older
    // generation is superseded (each gen is a FULL standalone band
    // table) — this is the policy that holds a year of daily appends
    // at TWO live generations instead of 365
    graft.core.Materialize.sweepKeep(s, sk("minhash-chain", d),
      Set(ChainDays.size - 1, ChainDays.size - 2)
        .filter(_ >= 1).map(chainFingerprint(s, d, _)))
    out
  }

  /** Oracle: the 3-day census timeline end to end — day-1 admission
    * against the standing corpus (days 2–3 not yet arrived, tombstones
    * cut), admitted docs folded in; day-2 against standing+admitted1;
    * day-3 against standing+admitted1+admitted2. */
  val d20Sql: String =
    s"""WITH xdocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod = $IncrementalRem),
      |ydocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod NOT IN
      |    ($IncrementalRem, $AppendRem, $Append2Rem, $TombstoneRem)),
      |${admissionChainSql("x", "y")},
      |admitted1 AS (
      |  SELECT doc_id, text FROM xdocs
      |  WHERE doc_id NOT IN (SELECT ni FROM xpairs)),
      |mdocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod = $AppendRem),
      |zdocs AS (
      |  SELECT doc_id, text FROM ydocs
      |  UNION ALL SELECT doc_id, text FROM admitted1),
      |${admissionChainSql("m", "z")},
      |admitted2 AS (
      |  SELECT doc_id, text FROM mdocs
      |  WHERE doc_id NOT IN (SELECT ni FROM mpairs)),
      |ndocs AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % $IncrementalMod = $Append2Rem),
      |vdocs AS (
      |  SELECT doc_id, text FROM zdocs
      |  UNION ALL SELECT doc_id, text FROM admitted2),
      |${admissionChainSql("n", "v")},
      |${admissionReportSql("n")}""".stripMargin

  /** d17's anti-join serve over an ARBITRARY delete set — exposed for
    * the property spec: the "deletion == never ingested" contract is
    * an algebraic claim about pair locality, so it must hold for ANY
    * id set, not just the census residue the gate entry uses (no
    * compaction branch here: the compacted fingerprint is keyed to the
    * census set; ad-hoc delete sets always serve via anti-join). */
  private[graft] def d17Over(s: SparkSession, d: String,
                             tombstones: DataFrame): DataFrame =
    livePairs(s, d, tombstones).orderBy("doc_a", "doc_b")

  /** the oracle IS d02's over the reduced corpus — deletion must be
    * indistinguishable from never having ingested the deleted docs. */
  val d17Sql: String = d02SqlOver(s"doc_id % $IncrementalMod <> $TombstoneRem")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d20_append_chain" -> d20 _,
    "d19_band_retune_cutover" -> d19 _,
    "d18_incremental_append" -> d18 _,
    "d17_tombstone_neardup" -> d17 _,
    "d16_incremental_neardup" -> d16 _,
    "d15_span_excision" -> d15 _,
    "d14_lsh_recall" -> d14 _,
    "d12_span_containment" -> d12 _,
    "d11_dup_span_coverage" -> d11 _,
    "d06_contamination" -> d06 _,
    "d01_dedup_exact_stats" -> d01 _,
    "d02_minhash_lsh_neardup" -> d02 _,
    "d03_simhash_hamming" -> d03 _,
    "d04_ngram_jaccard" -> d04 _,
    "d05_cosine_neardup" -> d05 _,
    "d07_neardup_clusters" -> d07 _,
    "d08_contamination_bloom" -> d08 _,
    "d09_dedup_savings" -> d09 _,
    "d10_cross_source_leakage" -> d10 _,
    "d13_canonical_keep" -> d13 _)

  val oracle: Map[String, String] = Map(
    "d20_append_chain" -> d20Sql,
    "d19_band_retune_cutover" -> d19Sql,
    "d18_incremental_append" -> d18Sql,
    "d17_tombstone_neardup" -> d17Sql,
    "d16_incremental_neardup" -> d16Sql,
    "d15_span_excision" -> d15Sql,
    "d14_lsh_recall" -> d14Sql,
    "d12_span_containment" -> d12Sql,
    "d11_dup_span_coverage" -> d11Sql,
    "d06_contamination" -> d06Sql,
    "d01_dedup_exact_stats" -> d01Sql,
    "d02_minhash_lsh_neardup" -> d02Sql,
    "d03_simhash_hamming" -> d03Sql,
    "d04_ngram_jaccard" -> d04Sql,
    "d05_cosine_neardup" -> d05Sql,
    "d07_neardup_clusters" -> d07Sql,
    "d08_contamination_bloom" -> d08Sql,
    "d09_dedup_savings" -> d09Sql,
    "d10_cross_source_leakage" -> d10Sql,
    "d13_canonical_keep" -> d13Sql)
}
