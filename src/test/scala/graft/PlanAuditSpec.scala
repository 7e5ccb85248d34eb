package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan anti-pattern audit over EVERY declared query: the scan
  * shapes that die at 100 TB must not silently reappear in a refactor.
  * CartesianProduct is banned outright; BroadcastNestedLoopJoin is
  * allowed only where a broadcast-cross against a constant-size side IS
  * the computation (codebooks, block metadata, single-row aggregates) —
  * each allowance named and bounded here. */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  /** queries whose plan legitimately contains a BNLJ, with the reason. */
  private val bnljAllowed: Map[String, String] = Map(
    "q01_pricing_summary" -> "crossJoin vs broadcast 1-row global aggregate",
    "q05_anti_join_no_orders" -> "crossJoin vs broadcast 1-row global count (anti join itself is hash)",
    "q25_knn_cosine" -> "vector x broadcast 10-row probe set (the k-NN product), self excluded by inequality",
    "a01_ann_bruteforce_topk" -> "vector x broadcast 10-row probe set (the k-NN product), self excluded by inequality",
    "d05_cosine_neardup" -> "theta join over ~dozens of single-row block-metadata rows",
    "a03_ann_ivf" -> "vector x 16-row broadcast coarse codebook (the assignment product)",
    "a05_pq_encode" -> "vector x 8-row broadcast PQ codebook (the encoding product)",
    "a06_ivfpq_adc" -> "vector x constant-size broadcast codebooks/ADC tables",
    "p06_source_mix" -> "crossJoin vs broadcast 1-row totals aggregate (rate derivation)",
    "p11_corpus_build" -> "p06's crossJoin vs broadcast 1-row post-decontamination totals aggregate (every other join in the composed chain is hash)",
    "p12_incremental_build" -> "p06's crossJoin inside the COLD base-summary publish (rate derivation, once per fingerprint); the warm increment reads the published summaries — admission + placement joins are hash/broadcast",
    "p09_dedup_adjusted_mix" -> "p06's crossJoin vs broadcast 1-row post-dedup totals aggregate (the keeper joins themselves are hash)",
    "t08_tfidf_terms" -> "crossJoin vs broadcast 1-row distinct-source count (the N of tf*N/df)",
    "a07_kmeans" -> "vector x broadcast <=8-row centroid model (the Lloyd assignment product)",
    "a08_semantic_dedup" -> "a07's centroid-model broadcast (the within-cluster pair join itself is hash)",
    "a10_ann_recall" -> "composes a01/a02/a03 (their allowed broadcast probe/codebook crosses) + 1-row x 1-row hits/total aggregates",
    "p08_source_interleave" -> "crossJoin vs broadcast 1-row source-count aggregate (position arithmetic)",
    "t11_bigram_lift" -> "crossJoin vs broadcast 1-row total-token aggregate (the T of c_ab*T/(c_a*c_b))",
    "a11_ann_rerank" -> "a06's constant-size broadcast codebook/ADC crosses (the shortlist re-rank itself is hash)",
    "a12_mmr_diversified" -> "a06's constant-size broadcast codebook/ADC crosses (the shortlist pair build and greedy MMR steps are hash joins + per-probe windows)",
    "a13_ivfpq_index_serve" -> "probe-side constant-size broadcast codebook/ADC crosses (the index consumption itself is hash joins over the published table)",
    "a14_ann_filtered" -> "a13's probe-side constant-size broadcast crosses (the label filter itself is a hash equi-join on the slim metadata projection)",
    "a15_ivfpq_index_append" -> "a13's probe-side constant-size broadcast crosses (the shard encode reads only codebook + shard rows; the append is a union, not a join)",
    "a16_ivfpq_tombstone_serve" -> "a13's probe-side constant-size broadcast crosses (the deletion itself is an id-only hash anti-join against the published index)",
    "s13_stream_index_tombstones" -> "a16's serve plan over the drained delete relation (the same probe-side constant-size broadcast crosses)",
    "a17_ivfpq_retrain_cutover" -> "a13's probe-side constant-size broadcast crosses (the cutover serves the retrained published index; the retrain decision is two pruned counters)",
    "d14_lsh_recall" -> "crossJoin of two 1-row aggregates: sampled_docs x the combined true/found counts (the report row assembly; r21 folded the separate found subtree into one left-join aggregate)",
    "d19_band_retune_cutover" -> "d14's crossJoin of two 1-row aggregates (the served generation's recall report)",
    "t13_lm_score" -> "crossJoin vs broadcast 1-row vocab-size aggregate (the V of (c_ab+1)/(c_a+V))",
    "t15_vocab_growth" -> "crossJoin vs broadcast 1-row max-id aggregate (the decile denominator)")

  /** queries whose plan legitimately leaves whole-stage codegen for a
    * typed kernel (DeserializeToObject -> lambda -> Serialize), with
    * the reason the kernel genuinely needs object space. The round-11
    * d08 regression was exactly a lambda where a Catalyst expression
    * fits — any entry NOT named here that grows an object round-trip
    * fails this audit. */
  private val objectKernelAllowed: Map[String, String] = Map(
    "d02_minhash_lsh_neardup" -> "sorted-array merge-intersect verify over broadcast token-id arrays (adjudicated kernel class)",
    "d04_ngram_jaccard" -> "salted blocked-Jaccard cell kernel (per-block sorted-set intersections)",
    "d05_cosine_neardup" -> "block-matrix cosine kernel (per-cell quantized dot products)",
    "m01_multimodal_decode" -> "batched codec dispatcher (ImageIO decode / stub) — imperative per-blob work",
    "m04_audio_frames" -> "batched PCM framing/energy kernel — imperative per-blob byte work (m01's codec class)",
    "q26_jaccard_neardup" -> "delegates to the shared salted blockedJaccardTyped kernel (d04's class)",
    "m03_dhash_neardup" -> "per-blob dHash dispatcher (ImageIO decode / byte-block stub)",
    "m03b_dhash_planted" -> "planted-PNG ImageIO encode + per-blob dHash dispatcher (m03's codec class; 24 rows, fixed)",
    "m05_patch_extract" -> "per-blob patch dispatcher (ImageIO decode -> luminance tile / char stub)",
    "d16_incremental_neardup" -> "d02's signature + merge-intersect verify kernels over the arrival batch (the corpus side is the published table, kernel-free)",
    "d18_incremental_append" -> "d16's kernels over the DAY-2 arrival batch (the corpus side is the published APPENDED table, kernel-free)",
    "d20_append_chain" -> "d16's kernels over the DAY-3 arrival batch (the corpus side is the published chain generation-2 table, kernel-free)")
  // d17 is deliberately NOT in the object-kernel allow-list: its serve
  // plan is a pure anti-join read of the published pair table — a
  // MapPartitions appearing in it would mean the report regressed to
  // re-running the verify kernel per query.

  /** Every declared entry's executed plan at sf0.001, planned once for
    * both sweep tests, and Spark's rule metering over exactly that
    * planning (reset first). */
  private lazy val (plans, ruleMetering) = {
    val sf = "/root/testdata/sf0.001"
    RuleExecutor.resetMetrics()
    val planned = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).queryExecution.executedPlan.toString
    }
    (planned, RuleExecutor.dumpTimeSpent())
  }

  test("no CartesianProduct anywhere; BNLJ and object kernels only where named") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val objectKernelSeen = scala.collection.mutable.Set.empty[String]
    plans.foreach { case (name, plan) =>
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed.contains(name))
        offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      if (plan.contains("DeserializeToObject")) {
        objectKernelSeen += name
        if (!objectKernelAllowed.contains(name))
          offenders += s"$name: unexpected object round-trip (DeserializeToObject)"
      }
    }
    // stale allowances must fail too — a dead entry here would let a
    // future typed-lambda regression hide behind an old excuse
    (objectKernelAllowed.keySet -- objectKernelSeen).toSeq.sorted.foreach { n =>
      offenders += s"$n: allow-listed object kernel no longer present (remove the allowance)"
    }
    assert(offenders.isEmpty, s"plan anti-patterns:\n  ${offenders.mkString("\n  ")}")
  }

  test("every optimizer rule GraftExtensions injects rewrites a declared entry") {
    // a metering line: rule, effective / total ns, effective / total runs
    val line = """(\S+)\s+\d+ / \d+\s+(\d+) / (\d+)""".r
    val effective = ruleMetering.linesIterator.map(_.trim)
      .collect { case line(rule, eff, _) => rule -> eff.toLong }.toMap
    val counts = graft.plans.GraftExtensions.OptimizerRules
      .map(r => r.ruleName -> effective.getOrElse(r.ruleName, 0L))
    assert(counts.forall(_._2 > 0), s"effective runs over ${plans.size} entries: $counts")
  }

  test("d08's bloom pre-filter stays native — no object round-trip in the plan") {
    // the round-11 regression class: a typed Dataset.filter(lambda)
    // where a Catalyst expression fits breaks whole-stage codegen on
    // the highest-volume stream of the query. d08's probe must be the
    // native BloomFilterMightContain expression, never a lambda.
    val plan = graft.ops.Dedup.d08(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      s"d08 plan carries an object round-trip:\n$plan")
    assert(plan.contains("might_contain"),
      "d08 plan lost its native bloom probe (BloomFilterMightContain)")
  }
}
