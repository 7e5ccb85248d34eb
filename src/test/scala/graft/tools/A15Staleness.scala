// Codebook-staleness measurement for a15 (round 13). Run:
//   sbt "Test/runMain graft.tools.A15Staleness [sfDir]"
//
// a15 appends an arriving shard under FROZEN codebooks; its scaladoc
// names codebook staleness (the corpus distribution drifting away from
// codebooks trained before the append) as the real-world failure axis.
// This harness MEASURES it on the census split the incremental family
// uses: serve the FULL corpus (standing + appended shard) once with
// codebooks drawn only from the STANDING half — the first IvfCentroids/
// PqCentroids standing vec_ids, i.e. what "trained before the shard
// arrived" means under the first-k-rows codebook convention — and once
// with the default full-corpus codebooks (the rebuild), grading each
// against the exact cosine top-3 with a10's recall join. The printed
// delta is the recall a deployment forfeits by NOT retraining after
// this append; the number is cited in a15's scaladoc and BASELINE.md.
package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

object A15Staleness {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session(32)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops.{Ann, Dedup}

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val standing = !(col("vec_id") % Dedup.IncrementalMod === Dedup.IncrementalRem)
    def firstIds(pred: org.apache.spark.sql.Column, k: Int): Seq[Long] =
      emb.where(pred).select("vec_id").orderBy("vec_id")
        .limit(k).collect().map(_.getLong(0)).toSeq

    // frozen codebooks: trained before the shard existed = first-k
    // rows of the STANDING corpus
    val coarseStale = firstIds(standing, Ann.IvfCentroids)
    val pqStale = firstIds(standing, Ann.PqCentroids)
    // fresh codebooks: the rebuild's first-k rows of the FULL corpus
    val coarseFresh = firstIds(lit(true), Ann.IvfCentroids)
    val pqFresh = firstIds(lit(true), Ann.PqCentroids)
    println(s"[a15stale] coarse frozen=$coarseStale")
    println(s"[a15stale] coarse fresh =$coarseFresh")

    // exact integer-L2 top-3 over the full corpus — the ground truth
    // both serves are graded against. L2, not cosine: ADC approximates
    // squared L2, so grading it against cosine truth (a10's a01 join)
    // conflates metric mismatch with codebook quality — the first cut
    // of this tool did exactly that and read recall 0.17 for BOTH
    // codebook sets, drowning the staleness signal it exists to see.
    val qv = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("q"))
    val probes = qv.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"))
    val exact = qv.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("edist", aggregate(zip_with(col("pq"), col("q"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
          .orderBy(col("edist"), col("vec_id"))))
      .where(col("rank") <= 3)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      .persist()
    val total = exact.count()

    def recallOf(tag: String, approx: org.apache.spark.sql.DataFrame): Double = {
      val hits = approx.select(col("probe_id"), col("neighbor_id"))
        .join(exact, Seq("probe_id", "neighbor_id")).count()
      val r = hits.toDouble / total
      println(f"[a15stale] $tag: hits=$hits/$total recall@3=$r%.4f")
      r
    }

    def isin(ids: Seq[Long]) = col("vec_id").isin(ids: _*)
    val fresh = recallOf("fresh-codebooks (rebuild)",
      Ann.a06WithCodebooks(spark, dir, isin(coarseFresh), isin(pqFresh)))
    val stale = recallOf("frozen-codebooks (a15 append)",
      Ann.a06WithCodebooks(spark, dir, isin(coarseStale), isin(pqStale)))
    println(f"""{"metric":"a15_codebook_staleness","sf":"$dir",""" +
      f""""recall_fresh":$fresh%.4f,"recall_frozen":$stale%.4f,""" +
      f""""delta":${fresh - stale}%.4f}""")
    exact.unpersist()

    // ---- CANDIDATE-STAGE recall: the quantity staleness degrades ----
    // End-to-end ADC top-3 convolves two effects: coarse-codebook
    // PRUNING (did a true neighbor survive into the probed clusters?)
    // and PQ RANKING crudeness (can 8 product centroids order the
    // survivors?). Staleness attacks the first — a frozen coarse
    // codebook has no centroid near a drifted region, so that region's
    // vectors scatter across clusters and pruning loses them. Measure
    // it directly: fraction of exact-L2 top-3 truths that appear in the
    // IVF candidate set (assignment + IvfProbeClusters probing under a
    // given codebook-row selection), 100 probes for a usable n.
    def candidateRecall(emb: DataFrame, coarseIds: Seq[Long],
                        nProbes: Int, tag: String): Double = {
      val qv = emb.select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long")).as("q"))
        .withColumn("n2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
        .persist()
      val cents = qv.where(col("vec_id").isin(coarseIds: _*))
        .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
      val sims = qv.crossJoin(broadcast(cents))
        .withColumn("dot", aggregate(zip_with(col("q"), col("cq"),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x))
        .withColumn("csim", col("dot").cast("double") /
          sqrt(col("n2").cast("double") * col("cn2").cast("double")))
        .withColumn("crank", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))))
      val assigned = sims.where(col("crank") === 1)
        .select(col("vec_id"), col("cid").as("cluster"))
      val probeClusters = sims
        .where(col("vec_id") < nProbes && col("crank") <= Ann.IvfProbeClusters)
        .select(col("vec_id").as("probe_id"), col("cid").as("pcluster"))
      val cands = assigned.join(broadcast(probeClusters),
          col("cluster") === col("pcluster") && col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      val probes = qv.where(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("q").as("pq"))
      val truth = qv.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("edist", aggregate(zip_with(col("pq"), col("q"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
        .withColumn("rank", row_number().over(
          Window.partitionBy("probe_id").orderBy(col("edist"), col("vec_id"))))
        .where(col("rank") <= 3)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      val total = truth.count()
      val hits = truth.join(cands, Seq("probe_id", "neighbor_id")).count()
      // cluster-balance diagnostic: stale codebooks may keep recall
      // (a drifted region HERDS into whichever centroid wins the noise
      // tiebreak, staying findable) while concentrating scan cost —
      // the max-cluster fraction is the symptom that fires then
      val sizes = assigned.groupBy("cluster").count()
        .orderBy(col("count").desc).limit(3).collect()
        .map(r0 => s"${r0.getLong(0)}:${r0.getLong(1)}").mkString(", ")
      val nAll = emb.count()
      qv.unpersist()
      val r = hits.toDouble / total
      println(f"[a15stale] $tag: candidate-stage hits=$hits/$total recall=$r%.4f" +
        s" top-clusters [$sizes] of $nAll")
      r
    }

    val emb100 = emb
    val cFreshCensus = candidateRecall(emb100, coarseFresh, 100,
      "census fresh-codebooks")
    val cStaleCensus = candidateRecall(emb100, coarseStale, 100,
      "census frozen-codebooks")
    println(f"""{"metric":"a15_candidate_staleness","sf":"$dir",""" +
      f""""recall_fresh":$cFreshCensus%.4f,"recall_frozen":$cStaleCensus%.4f,""" +
      f""""delta":${cFreshCensus - cStaleCensus}%.4f}""")

    // ---- POSITIVE CONTROL: a corpus whose append actually drifts ----
    // The census corpus is stationary (uniform random vectors: every
    // codebook choice is exchangeable, so a null delta is the CORRECT
    // reading, not a dead instrument). To prove the monitor fires when
    // staleness is real, build a corpus that drifts DIRECTIONALLY
    // (coarse pruning is cosine-based — a magnitude-only shift is
    // invisible to it): standing vectors carry their energy in the
    // first half of the dimensions, the census-appended shard in the
    // second half, so cosine(standing, shard) ≈ 0. Frozen codebooks
    // (standing-only rows) have no shard-direction centroid — shard
    // vectors scatter by noise and pruning loses the drifted probes'
    // true neighbors; the rebuild's codebooks include shard-direction
    // rows and recover them. The drift delta must sit WELL above the
    // census noise floor.
    val driftDir = java.nio.file.Files.createTempDirectory("graft-a15-drift").toString
    val rnd = new scala.util.Random(101)
    import spark.implicits._
    (0 until 800).map { i =>
      val inShard = i % Dedup.IncrementalMod == Dedup.IncrementalRem
      val v = Array.tabulate(16) { k =>
        val hot = if (inShard) k >= 8 else k < 8
        if (hot) 0.5f + rnd.nextFloat() * 0.5f else rnd.nextFloat() * 0.02f
      }
      (i.toLong, v, (i % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$driftDir/embeddings.parquet")
    val dEmb = spark.read.parquet(s"$driftDir/embeddings.parquet")
    def dFirstIds(pred: org.apache.spark.sql.Column, k: Int): Seq[Long] =
      dEmb.where(pred).select("vec_id").orderBy("vec_id")
        .limit(k).collect().map(_.getLong(0)).toSeq
    val dFresh = candidateRecall(dEmb, dFirstIds(lit(true), Ann.IvfCentroids), 100,
      "drift-control fresh-codebooks")
    val dStale = candidateRecall(dEmb, dFirstIds(standing, Ann.IvfCentroids), 100,
      "drift-control frozen-codebooks")
    println(f"""{"metric":"a15_candidate_staleness_drift_control",""" +
      f""""recall_fresh":$dFresh%.4f,"recall_frozen":$dStale%.4f,""" +
      f""""delta":${dFresh - dStale}%.4f}""")
    spark.stop()
  }
}
