package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables._

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * a01 (brute-force cosine top-k) is the exact baseline — see
  * TextSim.q25. a02 is the scale path: random-hyperplane LSH bucketing.
  * Plane weights are a deterministic integer formula (no RNG, no
  * engine-specific hash), so Spark and DuckDB produce identical buckets;
  * at 100 TB the bucket join replaces the O(n*m) probe-candidate cross
  * product with a shuffle on bucket ids.
  */
object Ann {

  /** a01: brute-force cosine top-k — the exact-answer baseline every ANN
    * variant is measured against — via the native codegen
    * QuantizedCosineSimilarity kernel (fused primitive loop, no UDF, no
    * HOF interpretation). Runs over the 3-decimal quantized vectors so
    * dot/norms are exact integers and the single double division is
    * bit-identical in DuckDB — which makes the full oracle expressible
    * (round 1 shipped this over raw floats with no oracle; the gate then
    * records `no_oracle` forever). Same result contract as TextSim.q25,
    * which computes the identical answer through Spark's built-in HOFs:
    * the pair (q25, a01) cross-checks the custom kernel against the
    * built-in path at the driver level. */
  def a01(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CosineSimilarity.quantized_cosine
    val e = embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
    val probes = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"))
    val pairs = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("sim", quantized_cosine(col("pq"), col("q")))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("probe_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("probe_id", "rank")
  }

  /** Oracle: identical SQL to q25 (quantized ints + IEEE division). */
  val a01Sql: String = graft.queries.TextSim.q25Sql

  /** 30 hyperplanes grouped into 10 independent hash tables of 3 planes
    * each — MULTI-TABLE LSH, the same banding amplification d02 applies
    * to MinHash. A single 6-plane table measured recall@3 = 0.03 on
    * this corpus (a10, round 8): the true top-3 neighbors sit at
    * cosine ~0.26–0.49 (θ≈70°, per-plane agreement p≈0.61), so one
    * k-plane bucket catches p^k of them — hopeless for any single
    * table. Round-12 RECALL RETUNE (the d02-retune playbook, driven by
    * the a10 instrument): 5 tables measured recall 0.767 — a miss rate
    * the serving path shouldn't ship; doubling to 10 tables amplifies
    * the measured per-table catch q≈0.25 to 1−(1−q)¹⁰ ≈ 0.94 (a10
    * re-measures the delivered value) at exactly 2× the candidate
    * volume — still bucketed, still 10 slim band rows per vector
    * (identical scale shape to d02's band join), and every false
    * candidate dies in the exact quantized-cosine rank. */
  val NumPlanes = 30
  val LshTables = 15
  val LshPlanesPerTable = 2 // NumPlanes = LshTables * LshPlanesPerTable

  /** bucket id for a quantized vector: sign bits of the 15 plane dots,
    * via the native codegen [[graft.functions.HyperplaneBucket]] kernel
    * (one fused primitive loop; the round-3 interpreted nested-HOF
    * formulation was the last interpreted hot loop in the ANN suite) —
    * computed ONCE per vector, then split into the 5 per-table 3-bit
    * keys with shift/mask columns. Candidates are the UNION over
    * tables of same-key vectors (slim distinct on (probe, cand) ids);
    * the pair similarity runs through QuantizedCosineSimilarity — the
    * same exact-integer dot/norm + IEEE division the oracle computes. */
  def a02(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CosineSimilarity.quantized_cosine
    import graft.functions.HyperplaneBucket.hyperplane_bucket
    val mask = (1 << LshPlanesPerTable) - 1
    val q = embeddings(s, d)
      // single-row-group source + CPU-heavy bucket math: pin the
      // partition count or the whole pass runs on one core
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
    val bucketed = q.withColumn("bucket", hyperplane_bucket(col("q"), NumPlanes))
      // probes AND candidates both read this; persist so the quantize +
      // bucket pass runs once per vector, not once per consumer
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one slim (vec_id, tbl, tkey) row per vector per table — a
    // generator fan-out (no join), shift/mask pulls table t's 3 sign
    // bits out of the single 15-bit bucket
    def bandsOf(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs), col("bucket"))
        .select(col(idAs),
          explode(expr(s"sequence(0, ${LshTables - 1})")).as("tbl"), col("bucket"))
        .select(col(idAs), col("tbl"),
          expr(s"shiftright(bucket, CAST(tbl AS INT) * $LshPlanesPerTable) & $mask")
            .as("tkey"))
    val probes = bucketed.where(col("vec_id") < 10)
    val pairIds = bandsOf(bucketed, "vec_id")
      .join(broadcast(bandsOf(probes, "probe_id")), Seq("tbl", "tkey"))
      .where(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id").distinct()
    val pairs = pairIds
      .join(bucketed.select(col("vec_id"), col("q")), "vec_id")
      .join(broadcast(probes.select(col("vec_id").as("probe_id"), col("q").as("pq"))),
        "probe_id")
      .withColumn("sim", quantized_cosine(col("pq"), col("q")))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("probe_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("probe_id", "rank")
  }


  val a02Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS BIGINT) AS norm2
      |  FROM q),
      |planes AS (
      |  SELECT p.p, i.i, CAST(((p.p * 73856093 + i.i * 19349663) % 2003) - 1001 AS BIGINT) AS wt
      |  FROM (SELECT unnest(generate_series(0, ${NumPlanes - 1})) AS p) p,
      |       (SELECT unnest(generate_series(0,
      |          (SELECT MAX(len(embedding)) - 1 FROM embeddings))) AS i) i),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS i, unnest(qv) AS v FROM n),
      |pdots AS (
      |  SELECT ex.vec_id, planes.p, CAST(SUM(ex.v * planes.wt) AS BIGINT) AS pdot
      |  FROM ex JOIN planes ON planes.i = ex.i GROUP BY 1, 2),
      |bands AS (
      |  SELECT vec_id, p // $LshPlanesPerTable AS tbl,
      |    CAST(SUM(CASE WHEN pdot >= 0 THEN CAST(POWER(2, p % $LshPlanesPerTable) AS BIGINT) ELSE 0 END) AS BIGINT) AS tkey
      |  FROM pdots GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id AS cand_id
      |  FROM bands pb JOIN bands cb ON cb.tbl = pb.tbl AND cb.tkey = pb.tkey
      |  WHERE pb.vec_id < 10 AND cb.vec_id <> pb.vec_id),
      |dots AS (
      |  SELECT cand.probe_id, cand.cand_id, CAST(SUM(pa.v * ca.v) AS BIGINT) AS dot
      |  FROM cand JOIN ex pa ON pa.vec_id = cand.probe_id
      |            JOIN ex ca ON ca.vec_id = cand.cand_id AND ca.i = pa.i
      |  GROUP BY 1, 2),
      |sims AS (
      |  SELECT probe_id, cand_id,
      |    CAST(dot AS DOUBLE) / SQRT(CAST(np.norm2 AS DOUBLE) * CAST(nc.norm2 AS DOUBLE)) AS sim
      |  FROM dots JOIN n np ON np.vec_id = probe_id JOIN n nc ON nc.vec_id = cand_id),
      |ranked AS (
      |  SELECT probe_id, cand_id AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
      |  FROM sims)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
      |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  // ---- a03: IVF (inverted-file) ANN — coarse quantizer + cluster probe ----

  val IvfCentroids = 16
  val IvfProbeClusters = 2

  /** a03: IVF search — vectors are assigned to their nearest centroid
    * (deterministic coarse codebook: the first K vectors by id), probes
    * scan only their nearest `IvfProbeClusters` clusters. At 100 TB the
    * assignment is one broadcast-centroid map pass and the search is a
    * shuffle on cluster id — the classic IVF partition-pruning shape.
    * All similarity math is quantized-integer + IEEE division, so the
    * DuckDB oracle matches exactly. */
  def a03(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id")) // see a02
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
      .withColumn("norm2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = q.where(col("vec_id") < IvfCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("norm2").as("cnorm2"))
    def simCol = col("dot").cast(DoubleType) /
      sqrt(col("norm2").cast(DoubleType) * col("cnorm2").cast(DoubleType))
    // assignment: nearest centroid per vector (broadcast codebook)
    val assignW = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))
    val assigned = q.join(broadcast(cents), lit(true))
      .withColumn("dot", aggregate(zip_with(col("q"), col("cq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("csim", simCol)
      .withColumn("crank", row_number().over(assignW))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("q"), col("norm2"), col("cid").as("cluster"))
      // consumed twice (probe-cluster selection + candidate probe side):
      // persist the |V|-row assignment instead of re-running the
      // vector-x-codebook HOF expansion per consumer
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probes search their nearest IvfProbeClusters clusters
    val probeClusters = assigned.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("norm2").as("pnorm2"))
      .join(broadcast(cents), lit(true))
      .withColumn("dot", aggregate(zip_with(col("pq"), col("cq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("csim", col("dot").cast(DoubleType) /
        sqrt(col("pnorm2").cast(DoubleType) * col("cnorm2").cast(DoubleType)))
      .withColumn("crank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("csim").desc, col("cid"))))
      .where(col("crank") <= IvfProbeClusters)
      .select(col("probe_id"), col("pq"), col("pnorm2"), col("cid").as("pcluster"))
    val pairs = assigned.join(broadcast(probeClusters),
        col("cluster") === col("pcluster") && col("vec_id") =!= col("probe_id"))
      .withColumn("dot", aggregate(zip_with(col("pq"), col("q"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("sim", col("dot").cast(DoubleType) /
        sqrt(col("pnorm2").cast(DoubleType) * col("norm2").cast(DoubleType)))
    pairs.withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))))
      .where(col("rank") <= 3)
      .select(col("probe_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("probe_id", "rank")
  }

  val a03Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS BIGINT) AS norm2
      |  FROM q),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v FROM n),
      |cents AS (SELECT vec_id AS cid, norm2 AS cnorm2 FROM n WHERE vec_id < $IvfCentroids),
      |cdots AS (
      |  SELECT a.vec_id, c.vec_id AS cid, CAST(SUM(a.v * c.v) AS BIGINT) AS dot
      |  FROM ex a JOIN ex c ON c.i = a.i AND c.vec_id < $IvfCentroids
      |  GROUP BY 1, 2),
      |csims AS (
      |  SELECT cdots.vec_id, cdots.cid,
      |    CAST(dot AS DOUBLE) / SQRT(CAST(nv.norm2 AS DOUBLE) * CAST(cents.cnorm2 AS DOUBLE)) AS csim
      |  FROM cdots JOIN n nv ON nv.vec_id = cdots.vec_id
      |             JOIN cents ON cents.cid = cdots.cid),
      |assigned AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
      |    FROM csims) WHERE crank = 1),
      |probe_clusters AS (
      |  SELECT vec_id AS probe_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
      |    FROM csims WHERE vec_id < 10) WHERE crank <= $IvfProbeClusters),
      |cand AS (
      |  SELECT pc.probe_id, a.vec_id AS cand_id
      |  FROM probe_clusters pc JOIN assigned a
      |    ON a.cluster = pc.cluster AND a.vec_id <> pc.probe_id),
      |dots AS (
      |  SELECT cand.probe_id, cand.cand_id, CAST(SUM(p.v * c.v) AS BIGINT) AS dot
      |  FROM cand JOIN ex p ON p.vec_id = cand.probe_id
      |            JOIN ex c ON c.vec_id = cand.cand_id AND c.i = p.i
      |  GROUP BY 1, 2),
      |sims AS (
      |  SELECT probe_id, cand_id,
      |    CAST(dot AS DOUBLE) / SQRT(CAST(np.norm2 AS DOUBLE) * CAST(nc.norm2 AS DOUBLE)) AS sim
      |  FROM dots JOIN n np ON np.vec_id = probe_id JOIN n nc ON nc.vec_id = cand_id),
      |ranked AS (
      |  SELECT probe_id, cand_id AS neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
      |  FROM sims)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
      |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  /** a04: symmetric int8 quantization of the embedding column — the
    * standard ANN-index compression step (scale = 127/amax per vector,
    * q_i = floor(v_i * 127 / amax)). Row-local, partition-parallel, one
    * stats aggregation; all math is float->double exact conversions and
    * IEEE double multiply/divide/floor, so the DuckDB oracle matches
    * bit-for-bit. Emits per-vector quantization stats (the index
    * builder's sanity report), not the raw arrays (array output columns
    * are not driver-hashable). */
  def a04(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("amax", array_max(transform(col("embedding"),
        x => abs(x.cast(DoubleType)))))
      .where(col("amax") > 0)
      .withColumn("q", transform(col("embedding"),
        x => floor(x.cast(DoubleType) * lit(127.0) / col("amax")).cast(LongType)))
      .select(
        col("vec_id"),
        col("amax"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy("vec_id")
      .limit(100)

  val a04Sql: String =
    """SELECT vec_id, amax,
      |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
      |  CAST(list_aggregate(q, 'min') AS BIGINT) AS q_min,
      |  CAST(list_aggregate(q, 'max') AS BIGINT) AS q_max
      |FROM (SELECT vec_id, amax,
      |        list_transform(embedding,
      |          x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / amax) AS BIGINT)) AS q
      |      FROM (SELECT vec_id,
      |              list_aggregate(list_transform(embedding,
      |                x -> ABS(CAST(x AS DOUBLE))), 'max') AS amax
      |              , embedding
      |            FROM embeddings)
      |      WHERE amax > 0)
      |ORDER BY vec_id LIMIT 100""".stripMargin

  // ---- a05: product quantization (PQ) encoding ----

  val PqSubspaces = 4
  val PqCentroids = 8

  /** a05: product-quantization encoding — the compression half of an
    * IVF-PQ index (a03 is the coarse quantizer; PQ compresses the
    * residual-free vectors here). Each quantized vector splits into
    * [[PqSubspaces]] subvectors; each subvector is assigned its nearest
    * of [[PqCentroids]] deterministic codebook entries (the first K
    * vectors' subvectors, as in a03's coarse codebook) by exact integer
    * L2 distance with centroid-id tie-breaks. Output per vector: the PQ
    * code (one BIGINT per subspace) and the total integer distortion —
    * the index builder's compression-quality report.
    *
    * Scale shape: the codebook is K=8 rows broadcast; distance math is
    * per-(vector, centroid) HOFs over 16-element slices (per-doc work,
    * where interpreted HOFs are fine), then a (vec, subspace) window
    * picks the argmin — all shuffles are on vec_id, never all-pairs.
    *
    * Remainder-dimension contract: when the embedding dimension is not
    * a multiple of [[PqSubspaces]], the trailing `dim mod 4` elements
    * are DROPPED on both engines — slice() takes exactly 4*w elements
    * here, and the oracles filter `i <= w * 4` to match (a05Sql /
    * a06Sql), so the two sides can never diverge on odd dimensions. */
  def a05(s: SparkSession, d: String): DataFrame = {
    val wExpr = s"CAST(size(q) / $PqSubspaces AS INT)"
    val q = embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id")) // see a02
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
    val cents = q.where(col("vec_id") < PqCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    val distCols = (0 until PqSubspaces).map { sub =>
      expr(s"""aggregate(zip_with(
        slice(q, 1 + $sub * $wExpr, $wExpr),
        slice(cq, 1 + $sub * $wExpr, $wExpr),
        (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as(s"d$sub")
    }
    val pairs = q.join(broadcast(cents), lit(true))
      .select(col("vec_id") +: col("cid") +: distCols: _*)
    val long = pairs.selectExpr("vec_id", "cid",
      s"stack($PqSubspaces, ${(0 until PqSubspaces).map(i => s"$i, d$i").mkString(", ")}) AS (sub, dist)")
    val best = long
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "sub").orderBy(col("dist"), col("cid"))))
      .where(col("rn") === 1)
    best.groupBy("vec_id")
      .agg(
        sum(when(col("sub") === 0, col("cid"))).cast(LongType).as("code0"),
        sum(when(col("sub") === 1, col("cid"))).cast(LongType).as("code1"),
        sum(when(col("sub") === 2, col("cid"))).cast(LongType).as("code2"),
        sum(when(col("sub") === 3, col("cid"))).cast(LongType).as("code3"),
        sum(col("dist")).cast(LongType).as("distortion"))
      .orderBy("vec_id")
  }

  val a05Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v,
      |         len(qv) // $PqSubspaces AS w FROM q),
      |dists AS (
      |  SELECT e.vec_id, c.vec_id AS cid, CAST((e.i - 1) // e.w AS BIGINT) AS sub,
      |    CAST(SUM((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS dist
      |  FROM ex e JOIN ex c ON c.i = e.i AND c.vec_id < $PqCentroids
      |  WHERE e.i <= e.w * $PqSubspaces
      |  GROUP BY 1, 2, 3),
      |best AS (
      |  SELECT vec_id, sub, cid, dist,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
      |  FROM dists)
      |SELECT vec_id,
      |  CAST(SUM(CASE WHEN sub = 0 THEN cid END) AS BIGINT) AS code0,
      |  CAST(SUM(CASE WHEN sub = 1 THEN cid END) AS BIGINT) AS code1,
      |  CAST(SUM(CASE WHEN sub = 2 THEN cid END) AS BIGINT) AS code2,
      |  CAST(SUM(CASE WHEN sub = 3 THEN cid END) AS BIGINT) AS code3,
      |  CAST(SUM(dist) AS BIGINT) AS distortion
      |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- a06: IVF-PQ search (coarse pruning + ADC over PQ codes) ----

  /** a06: the industry-standard ANN query path end-to-end — IVF coarse
    * pruning (a03) composed with PQ compression (a05) and asymmetric
    * distance computation: each probe searches only its nearest
    * [[IvfProbeClusters]] clusters, and candidate distances are NOT
    * computed against the raw vectors but against the probe's
    * 8-entry-per-subspace distance TABLE (integer L2 probe-subvector ->
    * codebook-entry), summed over the candidate's 4 PQ code lookups —
    * the memory-bound trick that lets a real index scan billions of
    * compressed codes. Everything is exact integer arithmetic, so the
    * full composite has a DuckDB oracle. Output: top-3 candidates per
    * probe by ADC distance (ascending, tie on vec_id).
    *
    * Scale shape: codebooks broadcast (8 + 16 rows); the ADC table is
    * probes x 8 x 4 = tiny broadcast; candidates come from the cluster
    * equi-join (partition pruning), never a scan of all codes. */
  def a06(s: SparkSession, d: String): DataFrame = {
    val (cands, codes, adcTable, _) = a06Parts(s, d)
    adcScores(cands, codes, adcTable)
      .where(col("arank") <= 3)
      .select(col("probe_id"), col("arank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
      .orderBy("probe_id", "rank")
  }

  /** ADC scoring + per-probe ranking shared by a06 (top-3 IS the
    * answer) and a11 (top-[[A11Shortlist]] is the rerank shortlist). */
  private def adcScores(cands: DataFrame, codes: DataFrame,
      adcTable: DataFrame): DataFrame =
    cands
      .join(codes, "vec_id")
      .join(broadcast(adcTable), Seq("probe_id", "sub"))
      .where(col("pcid") === col("code"))
      .groupBy("probe_id", "vec_id")
      .agg(sum(col("dist")).cast(LongType).as("adist"))
      .withColumn("arank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("adist"), col("vec_id"))))

  /** a11 shortlist depth: candidates that survive the ADC stage and get
    * an exact re-scoring. 10 per probe — the standard 3–10× over-fetch
    * for a top-3 answer. */
  val A11Shortlist = 10

  /** the ADC-ranked shortlist cut (pure shaping over [[adcScores]]). */
  private def shortlistFrom(cands: DataFrame, codes: DataFrame,
      adcTable: DataFrame): DataFrame =
    adcScores(cands, codes, adcTable)
      .where(col("arank") <= A11Shortlist)
      .select(col("probe_id"), col("vec_id"))

  /** a11's stage-1 shortlist, exposed for the spec's exact-top-3-of-
    * shortlist invariant. */
  private[graft] def a11ShortlistDf(s: SparkSession, d: String): DataFrame = {
    val (cands, codes, adcTable, _) = a06Parts(s, d)
    shortlistFrom(cands, codes, adcTable)
  }

  /** a11: two-stage retrieval — the production ANN serving shape: the
    * compressed index (a06's IVF-PQ ADC path, verbatim via
    * [[adcScores]]) over-fetches a [[A11Shortlist]]-deep shortlist per
    * probe, and only those few candidates are re-scored EXACTLY
    * (integer L2 over the raw quantized vectors) to fix the ranking
    * errors lossy PQ compression introduces. Output: top-3 per probe by
    * exact distance.
    *
    * Scale shape: the expensive part is a06's (linear-in-N candidate
    * volume, broadcast codebooks); the re-rank joins a PROBES×10-row
    * shortlist back to the vector table on vec_id — an equi-join whose
    * probe side is negligible, so the raw vectors are touched only for
    * shortlisted ids (the re-rank HOF is interpreted but runs on ~10
    * rows per probe, not per candidate). */
  def a11(s: SparkSession, d: String): DataFrame = {
    val (cands, codes, adcTable, q) = a06Parts(s, d)
    shortlistFrom(cands, codes, adcTable)
      .join(q.select(col("vec_id"), col("q").as("cq")), "vec_id")
      .join(q.select(col("vec_id").as("probe_id"), col("q").as("pq")), "probe_id")
      .withColumn("edist", aggregate(zip_with(col("pq"), col("cq"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("edist"), col("vec_id"))))
      .where(col("rank") <= 3)
      .select(col("probe_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("edist"))
      .orderBy("probe_id", "rank")
  }

  /** The scale-determining diagnostic for a06: how many (probe,
    * candidate) pairs survive the coarse pruning — i.e. the number of
    * ADC scorings the index performs. Grows with probes × probed-cluster
    * size (≈ 10 · [[IvfProbeClusters]] · N/[[IvfCentroids]] — LINEAR in
    * N at fixed probe count), never N²; the sweep table in BASELINE.md
    * records the measured values. */
  private[graft] def a06CandidateVolume(s: SparkSession, d: String): Long =
    a06Parts(s, d)._1.count()

  /** a06's internals, shared verbatim by the query, a11's re-rank and
    * the candidate-volume diagnostic: (candidate pairs, PQ codes, probe
    * ADC tables, quantized vectors). Each CALL persists its own `q`
    * copy — two a06-family entries evaluated in one pass (e.g. a06 +
    * a06CandidateVolume in a sweep iteration) hold duplicate cached
    * copies until the harness's per-entry clearCache. Accepted: the
    * copies are slim (id + quantized vector), the harness clears them,
    * and cross-call memoization would leak session state. */
  private def a06Parts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val q = ivfQ(s, d)
    val assigned = coarseAssigned(q)
    val codes = pqCodes(q)
    val (probeClusters, adcTable) = probeSide(q)
    // candidates from the probed clusters, scored by 4 table lookups
    val cands = assigned.join(broadcast(probeClusters.select("probe_id", "pcluster")),
        col("cluster") === col("pcluster") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    (cands, codes, adcTable, q)
  }

  // The IVF-PQ building blocks, factored so the a06/a11/a12 query path
  // and a13's OFFLINE INDEX BUILD share one definition each — any drift
  // between "index as built" and "index as the query assumes" is a
  // production ANN corruption class, structurally excluded here.

  /** quantized + norm'd vector table shared by every IVF-PQ path. */
  private def ivfQ(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
      .withColumn("norm2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[ivfQ]] restricted to the rows the ONLINE serve path needs: the
    * probe vectors (vec_id < 10) and the codebook rows (vec_id <
    * [[IvfCentroids]] ⊇ [[PqCentroids]]). The vec_id predicate pushes
    * into the parquet scan, so a13's warm serve touches ≤ IvfCentroids
    * source rows instead of re-quantizing (and persisting) the whole
    * corpus per query — at 100 TB the difference between "read the
    * published 4-int index + 16 rows" and "rescan the embeddings".
    * No repartition/persist: the result is constant-size. */
  private def ivfQServe(s: SparkSession, d: String): DataFrame =
    ivfQWhere(s, d, col("vec_id") < math.max(IvfCentroids, 10).toLong)

  /** [[ivfQ]] restricted by an arbitrary pushdown predicate — the
    * pruned-read construction shared by the serve path (probes +
    * codebooks) and a15's shard encode (codebooks + arriving shard).
    * No repartition/persist: callers pass predicates that keep the
    * result far below corpus size. */
  private def ivfQWhere(s: SparkSession, d: String, pred: Column): DataFrame =
    embeddings(s, d)
      .where(pred)
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
      .withColumn("norm2", aggregate(col("q"), lit(0L), (a, x) => a + x * x))

  /** default codebook-row selections — the corpus's first rows; the
    * staleness instrument ([[a06WithCodebooks]]) passes alternatives. */
  private def defaultCoarseSel: Column = col("vec_id") < IvfCentroids
  private def defaultPqSel: Column = col("vec_id") < PqCentroids

  private def coarseCents(q: DataFrame,
                          sel: Column = defaultCoarseSel): DataFrame =
    q.where(sel)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("norm2").as("cnorm2"))

  /** coarse codebook assignment (a03's construction): (vec_id, q, cluster). */
  private def coarseAssigned(q: DataFrame,
                             sel: Column = defaultCoarseSel): DataFrame =
    q.join(broadcast(coarseCents(q, sel)), lit(true))
      .withColumn("dot", aggregate(zip_with(col("q"), col("cq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("csim", col("dot").cast(DoubleType) /
        sqrt(col("norm2").cast(DoubleType) * col("cnorm2").cast(DoubleType)))
      .withColumn("crank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cid"))))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("q"), col("cid").as("cluster"))

  /** per-subspace distances of `vecs` (vector column named `q`) against
    * the PQ codebook: (id, pcid, sub, dist). */
  private def subDists(q: DataFrame, vecs: DataFrame, idCol: String,
                       pqSel: Column = defaultPqSel): DataFrame = {
    val wExpr = s"CAST(size(q) / $PqSubspaces AS INT)"
    val pqCents = q.where(pqSel)
      .select(col("vec_id").as("pcid"), col("q").as("cq"))
    val distCols = (0 until PqSubspaces).map { sub =>
      expr(s"""aggregate(zip_with(
        slice(q, 1 + $sub * $wExpr, $wExpr),
        slice(cq, 1 + $sub * $wExpr, $wExpr),
        (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as(s"d$sub")
    }
    vecs.join(broadcast(pqCents), lit(true))
      .select(col(idCol) +: col("pcid") +: distCols: _*)
      .selectExpr(idCol, "pcid",
        s"stack($PqSubspaces, ${(0 until PqSubspaces).map(i => s"$i, d$i").mkString(", ")}) AS (sub, dist)")
  }

  /** PQ codes (a05's construction, codes only): (vec_id, sub, code). */
  private def pqCodes(q: DataFrame, pqSel: Column = defaultPqSel): DataFrame =
    subDists(q, q.select(col("vec_id"), col("q")), "vec_id", pqSel)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "sub").orderBy(col("dist"), col("pcid"))))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("pcid").as("code"))

  /** ONLINE probe-side structures: nearest-cluster probe list (a03's
    * construction) + the per-probe ADC distance tables. */
  private def probeSide(q: DataFrame,
                        coarseSel: Column = defaultCoarseSel,
                        pqSel: Column = defaultPqSel): (DataFrame, DataFrame) = {
    val probeClusters = q.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("norm2").as("pnorm2"))
      .join(broadcast(coarseCents(q, coarseSel)), lit(true))
      .withColumn("dot", aggregate(zip_with(col("pq"), col("cq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("csim", col("dot").cast(DoubleType) /
        sqrt(col("pnorm2").cast(DoubleType) * col("cnorm2").cast(DoubleType)))
      .withColumn("crank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("csim").desc, col("cid"))))
      .where(col("crank") <= IvfProbeClusters)
      .select(col("probe_id"), col("pq"), col("cid").as("pcluster"))
    // probe-side ADC distance table: (probe, sub, codebook entry) -> dist
    val adcTable = subDists(q,
      probeClusters.select(col("probe_id"), col("pq").as("q")).distinct(), "probe_id",
      pqSel)
      .select(col("probe_id"), col("sub"), col("pcid"), col("dist"))
    (probeClusters, adcTable)
  }

  /** a06's full answer under ARBITRARY codebook-row selections — the
    * instrument behind the a15 CODEBOOK-STALENESS measurement (test
    * tool A15Staleness): serve the FULL corpus (standing + appended
    * shard) once with codebooks drawn only from the standing half (the
    * frozen-at-append situation a15 models) and once with the default
    * full-corpus codebooks (the rebuild), and grade each against the
    * exact cosine truth with a10's recall join. Not a gate entry — a
    * measurement harness; the measured delta is cited in a15's
    * scaladoc and BASELINE.md. */
  private[graft] def a06WithCodebooks(s: SparkSession, d: String,
      coarseSel: Column, pqSel: Column): DataFrame = {
    val q = ivfQ(s, d)
    val assigned = coarseAssigned(q, coarseSel)
    val codes = pqCodes(q, pqSel)
    val (probeClusters, adcTable) = probeSide(q, coarseSel, pqSel)
    val cands = assigned.join(broadcast(probeClusters.select("probe_id", "pcluster")),
        col("cluster") === col("pcluster") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    adcScores(cands, codes, adcTable)
      .where(col("arank") <= 3)
      .select(col("probe_id"), col("arank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
      .orderBy("probe_id", "rank")
  }

  /** the IVF-PQ CTE chain (through per-candidate ADC ranking), shared
    * by a06's answer and a11's shortlist — one definition, two cuts. */
  private def ivfPqCtes: String =
    s"""q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS BIGINT) AS norm2
      |  FROM q),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS v,
      |         len(qv) // $PqSubspaces AS w FROM q),
      |cents AS (SELECT vec_id AS cid, norm2 AS cnorm2 FROM n WHERE vec_id < $IvfCentroids),
      |cdots AS (
      |  SELECT a.vec_id, c.vec_id AS cid, CAST(SUM(a.v * c.v) AS BIGINT) AS dot
      |  FROM ex a JOIN ex c ON c.i = a.i AND c.vec_id < $IvfCentroids
      |  GROUP BY 1, 2),
      |csims AS (
      |  SELECT cdots.vec_id, cdots.cid,
      |    CAST(dot AS DOUBLE) / SQRT(CAST(nv.norm2 AS DOUBLE) * CAST(cents.cnorm2 AS DOUBLE)) AS csim
      |  FROM cdots JOIN n nv ON nv.vec_id = cdots.vec_id
      |             JOIN cents ON cents.cid = cdots.cid),
      |assigned AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
      |    FROM csims) WHERE crank = 1),
      |probe_clusters AS (
      |  SELECT vec_id AS probe_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
      |    FROM csims WHERE vec_id < 10) WHERE crank <= $IvfProbeClusters),
      |subdists AS (
      |  SELECT e.vec_id, c.vec_id AS pcid, CAST((e.i - 1) // e.w AS BIGINT) AS sub,
      |    CAST(SUM((e.v - c.v) * (e.v - c.v)) AS BIGINT) AS dist
      |  FROM ex e JOIN ex c ON c.i = e.i AND c.vec_id < $PqCentroids
      |  WHERE e.i <= e.w * $PqSubspaces
      |  GROUP BY 1, 2, 3),
      |codes AS (
      |  SELECT vec_id, sub, pcid AS code FROM (
      |    SELECT vec_id, sub, pcid, dist,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY dist, pcid) AS rn
      |    FROM subdists) WHERE rn = 1),
      |cand AS (
      |  SELECT pc.probe_id, a.vec_id
      |  FROM probe_clusters pc JOIN assigned a
      |    ON a.cluster = pc.cluster AND a.vec_id <> pc.probe_id),
      |scored AS (
      |  SELECT cand.probe_id, cand.vec_id, CAST(SUM(t.dist) AS BIGINT) AS adist
      |  FROM cand
      |    JOIN codes k ON k.vec_id = cand.vec_id
      |    JOIN subdists t ON t.vec_id = cand.probe_id AND t.sub = k.sub AND t.pcid = k.code
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT probe_id, vec_id AS neighbor_id, adist,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rank
      |  FROM scored)""".stripMargin

  val a06Sql: String =
    s"""WITH $ivfPqCtes
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist
      |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  val a11Sql: String =
    s"""WITH $ivfPqCtes,
      |shortlist AS (
      |  SELECT probe_id, neighbor_id FROM ranked WHERE rank <= $A11Shortlist),
      |exact AS (
      |  SELECT sl.probe_id, sl.neighbor_id,
      |    CAST(SUM((p.v - c.v) * (p.v - c.v)) AS BIGINT) AS edist
      |  FROM shortlist sl
      |    JOIN ex p ON p.vec_id = sl.probe_id
      |    JOIN ex c ON c.vec_id = sl.neighbor_id AND c.i = p.i
      |  GROUP BY 1, 2),
      |rr AS (
      |  SELECT probe_id, neighbor_id, edist,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY edist, neighbor_id) AS rank
      |  FROM exact)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, edist
      |FROM rr WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  /** a12: MMR-DIVERSIFIED retrieval — the serving-side answer to "the
    * top-k are all near-duplicates of each other": a11's exact-rescored
    * [[A11Shortlist]]-deep shortlist is reduced to 3 results by greedy
    * Maximal Marginal Relevance (Carbonell & Goldstein '98) instead of
    * pure distance rank. Selection score (λ = 1/2 in pure integers:
    * maximize min-distance-to-already-selected MINUS query distance, tie
    * → min vec_id): rank 1 is the true nearest (= a11's rank 1, spec-
    * pinned); ranks 2–3 trade closeness for spread, so a pocket of
    * mutual near-dups can contribute at most one result. Every quantity
    * is exact integer L2 over the quantized vectors, so the unrolled
    * 3-step greedy is reproducible bit-for-bit in the DuckDB oracle.
    *
    * Scale shape: everything downstream of the ADC stage operates on
    * ≤[[A11Shortlist]] rows per probe — the candidate-candidate distance
    * table is probes × k(k−1) rows (k fixed at 10), never corpus-sized,
    * and the greedy steps are per-probe window ranks over those rows.
    * The interpreted HOF distance runs on shortlist members only (the
    * adjudicated a11 pattern). At 100 TB the cost center remains a06's
    * linear-in-N candidate volume; diversification adds O(probes·k²). */
  def a12(s: SparkSession, d: String): DataFrame = {
    val (cands, codes, adcTable, q) = a06Parts(s, d)
    // exact-rescored shortlist: (probe_id, vec_id, edist, cq) — persisted:
    // it feeds BOTH sides of the pair build plus all three greedy steps
    val sl = shortlistFrom(cands, codes, adcTable)
      .join(q.select(col("vec_id"), col("q").as("cq")), "vec_id")
      .join(q.select(col("vec_id").as("probe_id"), col("q").as("pq")), "probe_id")
      .withColumn("edist", aggregate(zip_with(col("pq"), col("cq"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .select(col("probe_id"), col("vec_id"), col("edist"), col("cq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate-candidate exact distances within each probe's shortlist
    // (k(k-1) rows per probe, k = A11Shortlist) — the diversity term
    val pair = sl.select(col("probe_id"), col("vec_id").as("ci"), col("cq").as("qi"))
      .join(sl.select(col("probe_id"), col("vec_id").as("cj"), col("cq").as("qj")),
        Seq("probe_id"))
      .where(col("ci") =!= col("cj"))
      .withColumn("cd", aggregate(zip_with(col("qi"), col("qj"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
      .select(col("probe_id"), col("ci"), col("cj"), col("cd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def pairTo(sel: String) = pair.select(col("probe_id"),
      col("ci").as("vec_id"), col("cj").as(sel), col("cd").as(s"d_$sel"))
    // greedy step 1: plain nearest (MMR with an empty selected set)
    val s1 = sl.withColumn("rn", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("edist"), col("vec_id"))))
      .where(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("s1"), col("edist").as("e1"))
    // step 2: maximize d(c, s1) - d(q, c)
    val s2 = sl.join(s1, "probe_id").where(col("vec_id") =!= col("s1"))
      .join(pairTo("s1"), Seq("probe_id", "vec_id", "s1"))
      .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
        .orderBy((col("d_s1") - col("edist")).desc, col("vec_id"))))
      .where(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("s2"), col("edist").as("e2"))
    // step 3: maximize least(d(c, s1), d(c, s2)) - d(q, c)
    val s3 = sl.join(s1, "probe_id").join(s2, "probe_id")
      .where(col("vec_id") =!= col("s1") && col("vec_id") =!= col("s2"))
      .join(pairTo("s1"), Seq("probe_id", "vec_id", "s1"))
      .join(pairTo("s2"), Seq("probe_id", "vec_id", "s2"))
      .withColumn("rn", row_number().over(Window.partitionBy("probe_id")
        .orderBy((least(col("d_s1"), col("d_s2")) - col("edist")).desc, col("vec_id"))))
      .where(col("rn") === 1)
      .select(col("probe_id"), col("vec_id").as("s3"), col("edist").as("e3"))
    s1.select(col("probe_id"), lit(1L).as("rank"),
        col("s1").as("neighbor_id"), col("e1").as("edist"))
      .unionByName(s2.select(col("probe_id"), lit(2L).as("rank"),
        col("s2").as("neighbor_id"), col("e2").as("edist")))
      .unionByName(s3.select(col("probe_id"), lit(3L).as("rank"),
        col("s3").as("neighbor_id"), col("e3").as("edist")))
      .orderBy("probe_id", "rank")
  }

  val a12Sql: String =
    s"""WITH $ivfPqCtes,
      |shortlist AS (
      |  SELECT probe_id, neighbor_id FROM ranked WHERE rank <= $A11Shortlist),
      |exact AS (
      |  SELECT sl.probe_id, sl.neighbor_id,
      |    CAST(SUM((p.v - c.v) * (p.v - c.v)) AS BIGINT) AS edist
      |  FROM shortlist sl
      |    JOIN ex p ON p.vec_id = sl.probe_id
      |    JOIN ex c ON c.vec_id = sl.neighbor_id AND c.i = p.i
      |  GROUP BY 1, 2),
      |paird AS (
      |  SELECT s1.probe_id, s1.neighbor_id AS ci, s2.neighbor_id AS cj,
      |    CAST(SUM((x.v - y.v) * (x.v - y.v)) AS BIGINT) AS cd
      |  FROM shortlist s1
      |    JOIN shortlist s2 ON s2.probe_id = s1.probe_id
      |      AND s2.neighbor_id <> s1.neighbor_id
      |    JOIN ex x ON x.vec_id = s1.neighbor_id
      |    JOIN ex y ON y.vec_id = s2.neighbor_id AND y.i = x.i
      |  GROUP BY 1, 2, 3),
      |sel1 AS (
      |  SELECT probe_id, neighbor_id, edist FROM (
      |    SELECT probe_id, neighbor_id, edist,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id
      |        ORDER BY edist, neighbor_id) AS rn
      |    FROM exact) WHERE rn = 1),
      |sel2 AS (
      |  SELECT probe_id, neighbor_id, edist FROM (
      |    SELECT e.probe_id, e.neighbor_id, e.edist,
      |      ROW_NUMBER() OVER (PARTITION BY e.probe_id
      |        ORDER BY (p1.cd - e.edist) DESC, e.neighbor_id) AS rn
      |    FROM exact e
      |      JOIN sel1 ON sel1.probe_id = e.probe_id
      |        AND e.neighbor_id <> sel1.neighbor_id
      |      JOIN paird p1 ON p1.probe_id = e.probe_id
      |        AND p1.ci = e.neighbor_id AND p1.cj = sel1.neighbor_id)
      |  WHERE rn = 1),
      |sel3 AS (
      |  SELECT probe_id, neighbor_id, edist FROM (
      |    SELECT e.probe_id, e.neighbor_id, e.edist,
      |      ROW_NUMBER() OVER (PARTITION BY e.probe_id
      |        ORDER BY (LEAST(p1.cd, p2.cd) - e.edist) DESC, e.neighbor_id) AS rn
      |    FROM exact e
      |      JOIN sel1 ON sel1.probe_id = e.probe_id
      |      JOIN sel2 ON sel2.probe_id = e.probe_id
      |      JOIN paird p1 ON p1.probe_id = e.probe_id
      |        AND p1.ci = e.neighbor_id AND p1.cj = sel1.neighbor_id
      |      JOIN paird p2 ON p2.probe_id = e.probe_id
      |        AND p2.ci = e.neighbor_id AND p2.cj = sel2.neighbor_id
      |    WHERE e.neighbor_id <> sel1.neighbor_id
      |      AND e.neighbor_id <> sel2.neighbor_id)
      |  WHERE rn = 1)
      |SELECT probe_id, CAST(1 AS BIGINT) AS rank, neighbor_id, edist FROM sel1
      |UNION ALL
      |SELECT probe_id, CAST(2 AS BIGINT) AS rank, neighbor_id, edist FROM sel2
      |UNION ALL
      |SELECT probe_id, CAST(3 AS BIGINT) AS rank, neighbor_id, edist FROM sel3
      |ORDER BY probe_id, rank""".stripMargin

  // ---- a13: IVF-PQ index BUILD / SERVE separation ----

  /** cache key of the published IVF-PQ index: corpus identity ×
    * index parameters × the bytecode of this object and the loaders. */
  private[graft] def ivfpqFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "embeddings",
      s"ivfpq-c$IvfCentroids-pq$PqCentroids-s$PqSubspaces", annCodeSalt)

  /** the OFFLINE index build: one flattened table (vec_id, cluster,
    * sub, code) — the coarse assignment joined to the PQ codes, both
    * from the SAME shared constructions the query path uses. */
  private def buildIvfPqIndex(s: SparkSession, d: String): DataFrame =
    buildIvfPqIndexWith(s, d, defaultCoarseSel, defaultPqSel)

  /** the index build under ARBITRARY codebook-row selections — one
    * definition for a13's default build and a17's stale-generation
    * build, so "index as built" can never drift from "index as the
    * serve assumes" across generations. */
  private def buildIvfPqIndexWith(s: SparkSession, d: String,
      coarseSel: Column, pqSel: Column): DataFrame =
    buildIvfPqIndexOver(ivfQ(s, d), coarseSel, pqSel)

  /** the index build over an ARBITRARY quantized relation — factored
    * (round 16) so the deletion-aware retrain can encode a REDUCED
    * corpus (live rows only) with the same single definition the
    * default build uses; drift between "index as built" and "index as
    * rebuilt after deletion" is thereby structurally excluded. */
  private def buildIvfPqIndexOver(q: DataFrame,
      coarseSel: Column, pqSel: Column): DataFrame =
    coarseAssigned(q, coarseSel).select(col("vec_id"), col("cluster"))
      .join(pqCodes(q, pqSel), "vec_id")
      .select(col("vec_id"), col("cluster"), col("sub"), col("code"))

  /** a13: a06's ANN search SERVED FROM THE PUBLISHED INDEX — the
    * production separation every real ANN deployment has and a06 (which
    * re-encodes the corpus per query, fine for a benchmark kernel)
    * deliberately does not: the compressed index (coarse assignment +
    * PQ codes, [[buildIvfPqIndex]]) is built ONCE per corpus
    * fingerprint and published through [[graft.core.Materialize]]; the
    * online query path reads it back, computes only the PROBE-side
    * structures (probe cluster lists + ADC tables — tiny, per-query),
    * and scores candidates by table lookups against the stored codes.
    * Result contract: bit-identical to a06 (same oracle SQL; the spec
    * asserts row-for-row equality), so index staleness or build/serve
    * drift — the ANN corruption class — breaks the driver gate.
    *
    * Scale shape at 100 TB: the index build is the one pass that
    * touches every vector (linear, partial-aggregable constructions);
    * serving never rescans the corpus — it reads the slim
    * (vec_id, cluster, sub, code) table (4 ints/vector vs the raw
    * 64-float embedding: the ~30× compression IS the point of PQ) plus
    * the probe vectors. */
  def a13(s: SparkSession, d: String): DataFrame =
    serveAdcTop3(s, d, publishedIndex(s, d))

  /** The published index, persisted for the serve paths (consumed for
    * assignment + codes). */
  private def publishedIndex(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("ivfpq", d), ivfpqFingerprint(s, d))(
        buildIvfPqIndex(s, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The unfiltered candidate stream of an index serve: coarse
    * assignments from `idx` equi-joined with the broadcast probe
    * cluster list. ONE definition for a13/a14/a15 — any change to the
    * serve shape (the self-exclusion, the cluster join) applies to all
    * three by construction. */
  private def candsFor(idx: DataFrame, probeClusters: DataFrame): DataFrame =
    idx.select(col("vec_id"), col("cluster")).distinct()
      .join(broadcast(probeClusters.select("probe_id", "pcluster")),
        col("cluster") === col("pcluster") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))

  /** a06's query served from an arbitrary index table: probe-side
    * structures from the pre-filtered read ([[ivfQServe]] — no corpus
    * rescan), candidates from [[candsFor]], ADC top-3. a13 passes the
    * published index, a15 its appended one — the consumption block
    * exists once so the two can never drift. */
  private def serveAdcTop3(s: SparkSession, d: String, idx: DataFrame): DataFrame =
    serveAdcTop3From(ivfQServe(s, d), idx, defaultCoarseSel, defaultPqSel)

  /** the serve body over an arbitrary pruned read + codebook-row
    * selections — a13/a15/a16 pass the defaults; a17's stale-generation
    * serve passes the pre-append codebook rows (its `q` must include
    * them, see [[a17StaleServe]]). */
  private def serveAdcTop3From(q: DataFrame, idx: DataFrame,
      coarseSel: Column, pqSel: Column): DataFrame = {
    val (probeClusters, adcTable) = probeSide(q, coarseSel, pqSel)
    adcScores(candsFor(idx, probeClusters),
        idx.select(col("vec_id"), col("sub"), col("code")), adcTable)
      .where(col("arank") <= 3)
      .select(col("probe_id"), col("arank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"))
      .orderBy("probe_id", "rank")
  }

  // ---- a14: metadata-FILTERED ANN over the published index ----

  /** a14: FILTERED vector search — the serving shape real retrieval
    * systems run far more often than unfiltered k-NN: "nearest
    * neighbors of this probe AMONG vectors satisfying a metadata
    * predicate" (here: same `label` as the probe — the category-
    * restricted search). The filter is applied AT CANDIDATE GENERATION
    * (pre-ADC): the published index's candidate stream is equi-joined
    * with the slim (vec_id, label) metadata projection and cut to
    * label-matching rows BEFORE any distance work — the "pre-filtering"
    * strategy. The naive alternative (post-filtering: rank top-k first,
    * discard non-matching) silently returns FEWER than k results
    * whenever the true neighbors are label-diverse; pre-filtering
    * spends ADC lookups only on admissible candidates and its top-3 is
    * the correct filtered answer by construction. Output adds the
    * shared label so the constraint is visible in the report.
    *
    * Scale shape: everything a13 established (published 4-int index,
    * no corpus rescan, broadcast probe side) plus one hash equi-join
    * against a two-column metadata projection — the filter prunes the
    * candidate stream, so the ADC stage can only get CHEAPER than
    * a13's. Fewer than 3 admissible candidates in the probed clusters
    * ⇒ fewer than 3 output rows for that probe (the IVF recall
    * contract, unchanged by filtering). */
  def a14(s: SparkSession, d: String): DataFrame = {
    val idx = publishedIndex(s, d)
    val (probeClusters, adcTable) = probeSide(ivfQServe(s, d))
    // slim metadata projection: vec_id + label only — column-pruned
    // scan, never the embedding payload
    val labels = embeddings(s, d)
      .select(col("vec_id"), col("label").cast(LongType).as("label"))
    val probeLabels = labels.where(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("label").as("plabel"))
    val fcands = candsFor(idx, probeClusters)
      .join(labels, "vec_id")
      .join(broadcast(probeLabels), "probe_id")
      .where(col("label") === col("plabel"))
      .select(col("probe_id"), col("vec_id"))
    adcScores(fcands, idx.select(col("vec_id"), col("sub"), col("code")), adcTable)
      .where(col("arank") <= 3)
      .join(broadcast(probeLabels), "probe_id")
      .select(col("probe_id"), col("arank").cast(LongType).as("rank"),
        col("vec_id").as("neighbor_id"), col("adist"),
        col("plabel").as("label"))
      .orderBy("probe_id", "rank")
  }

  // ---- a15: incremental index APPEND (frozen-codebook shard encode) ----

  /** a15's census-derived "arriving shard": d16's split constants
    * ([[graft.ops.Dedup.IncrementalMod]]/[[graft.ops.Dedup.IncrementalRem]]
    * — referenced, not restated, so the two "same census pattern"
    * splits cannot drift independently) transplanted to vectors,
    * EXCLUDING the codebook rows (vec_id < [[IvfCentroids]] ⊇
    * [[PqCentroids]]) — the premise of an append is that the codebooks
    * derive from the standing corpus and are FROZEN when the shard
    * arrives. */
  private[graft] def a15ShardPred: Column =
    col("vec_id") % graft.ops.Dedup.IncrementalMod === graft.ops.Dedup.IncrementalRem &&
      col("vec_id") >= IvfCentroids.toLong

  /** a15: INCREMENTAL INDEX APPEND — the ANN counterpart of d16 and
    * the other half of a13's production story: when a new embedding
    * shard arrives, a real deployment does not rebuild the index; it
    * encodes the shard against the FROZEN codebooks (coarse centroids
    * + PQ codebooks) and appends the rows. Because a vector's coarse
    * assignment and PQ codes depend only on its own quantized values
    * and the codebook rows, shard-encode-at-arrival is EXACTLY equal
    * to that vector's rows in a full rebuild — append introduces zero
    * drift (Round12OpsSpec proves row-for-row equality), and the
    * served answer is a06's bit-for-bit, so the gate would catch any
    * encode/rebuild divergence. The standing index here is the
    * published table minus the shard rows (a pruned scan — in
    * production it IS the standing artifact); the shard encode reads
    * only codebook + shard rows ([[ivfQWhere]] pushdown, arrival-sized,
    * never the corpus).
    *
    * Scale shape at 100 TB: the rebuild this entry avoids is the one
    * pass that touches every vector; the append touches
    * O(|shard| × codebook) — the same asymmetry d16 exploits for
    * dedup. Frozen codebooks are also the real-world failure axis
    * (codebook staleness as the corpus distribution drifts) — and
    * round 13 MEASURED it on this census (tools/A15Staleness, exact-L2
    * ground truth, [[a06WithCodebooks]]): recall@3 0.1667 with rebuilt
    * full-corpus codebooks vs 0.2333 with codebooks frozen before the
    * shard — a |delta| ≤ 0.07 = ≤2 of 30 truths, inside sampling
    * noise, i.e. ONE census append costs no measurable recall on this
    * distribution (the corpus is stationary by construction; drift
    * would need the shard distribution to move, which the monitor now
    * exists to catch — BASELINE.md "a15 codebook staleness" row). */
  def a15(s: SparkSession, d: String): DataFrame = {
    val standing = publishedIndex(s, d).where(!a15ShardPred)
    // serve a06's query from the APPENDED index — the identical
    // consumption block a13 runs ([[serveAdcTop3]])
    serveAdcTop3(s, d, standing.unionByName(a15ShardRows(s, d)))
  }

  /** a15's arrival-time encode: codebook rows + shard rows only
    * ([[ivfQWhere]] pushdown — the factored constructions compute
    * assignments for the codebook rows too, cut to the shard after);
    * also exposed for the append-equals-rebuild spec. */
  private[graft] def a15ShardRows(s: SparkSession, d: String): DataFrame = {
    val enc = ivfQWhere(s, d,
      a15ShardPred || col("vec_id") < math.max(IvfCentroids, PqCentroids).toLong)
    coarseAssigned(enc).select(col("vec_id"), col("cluster"))
      .join(pqCodes(enc), "vec_id")
      .select(col("vec_id"), col("cluster"), col("sub"), col("code"))
      .where(a15ShardPred)
  }

  /** a06's CTE chain + the label filter spliced between candidate
    * generation and ADC scoring — the oracle states pre-filtering
    * declaratively, exactly where the engine applies it. */
  val a14Sql: String =
    s"""WITH $ivfPqCtes,
      |labels AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
      |fcand AS (
      |  SELECT c.probe_id, c.vec_id
      |  FROM cand c
      |    JOIN labels cl ON cl.vec_id = c.vec_id
      |    JOIN labels pl ON pl.vec_id = c.probe_id
      |  WHERE cl.label = pl.label),
      |fscored AS (
      |  SELECT fcand.probe_id, fcand.vec_id, CAST(SUM(t.dist) AS BIGINT) AS adist
      |  FROM fcand
      |    JOIN codes k ON k.vec_id = fcand.vec_id
      |    JOIN subdists t ON t.vec_id = fcand.probe_id AND t.sub = k.sub AND t.pcid = k.code
      |  GROUP BY 1, 2),
      |franked AS (
      |  SELECT probe_id, vec_id AS neighbor_id, adist,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rank
      |  FROM fscored)
      |SELECT f.probe_id, CAST(f.rank AS BIGINT) AS rank, f.neighbor_id, f.adist,
      |  pl.label
      |FROM franked f JOIN labels pl ON pl.vec_id = f.probe_id
      |WHERE f.rank <= 3 ORDER BY f.probe_id, f.rank""".stripMargin

  /** ONE-ROW serving bundle for the STREAMING serve path (s11): the
    * published index pivoted to one (cluster, vec_id, codes[sub])
    * entry per vector, plus the coarse/PQ codebooks from the pruned
    * serve read — collapsed into a single row the stream crossJoins as
    * a broadcast (the s07 model-serving shape, applied to the index).
    * This is the REPLICATED-index serving model every low-latency ANN
    * deployment runs (the index rides each serving node; queries never
    * shuffle). Arrays are sorted so the PQ codebook index IS pcid and
    * the bundle is byte-deterministic.
    *
    * DELETION-AWARE (round 14): the bundle is built over
    * [[liveIndex]] — the published index minus tombstones, the view
    * a16's batch serve reads — NOT the raw published artifact. Before
    * this, the streaming tier kept answering with vectors a16's batch
    * tier had already deleted: exactly the takedown-leak failure mode
    * d17's scaladoc names, live between two serving tiers of the same
    * index. s11's oracle is a16's (reduced-corpus) chain, so a leaked
    * deleted vector breaks the gate hash. */
  private[graft] def ivfpqServeBundle(s: SparkSession, d: String): DataFrame = {
    // one (cluster, vec_id, codes[sub]) entry per LIVE vector
    val indexRow = liveIndex(s, d)
      .groupBy(col("vec_id"), col("cluster"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("cluster"), col("vec_id"),
        expr("transform(sc, x -> CAST(x.code AS BIGINT))").as("codes"))
      .agg(array_sort(collect_list(struct(col("cluster"), col("vec_id"), col("codes"))))
        .as("index"))
    indexRow.crossJoin(ivfpqCodebooksRow(s, d))
  }

  /** the constant-size codebook half of the serving state (coarse
    * centroids + PQ codebook, one row) that [[ivfpqServeBundle]] joins
    * to its index row. */
  private def ivfpqCodebooksRow(s: SparkSession, d: String): DataFrame = {
    val q = ivfQServe(s, d)
    val centsRow = coarseCents(q).agg(
      array_sort(collect_list(struct(col("cid"), col("cq"), col("cnorm2")))).as("cents"))
    val pqRow = q.where(col("vec_id") < PqCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"))
      .agg(array_sort(collect_list(struct(col("pcid"), col("cq")))).as("pq"))
      // the stream tier maps a PQ code to its codebook entry BY ARRAY
      // POSITION (element_at(adc_row, code + 1)) — sound only if the
      // codebook ids present are exactly 0..size-1 (codes are pcids,
      // so position == pcid must hold for every entry; fewer than
      // PqCentroids rows is fine — a small corpus's codes then only
      // reference the rows that exist). The batch path joins on pcid
      // and would tolerate a gap; the bundle makes the premise
      // executable so a gapped codebook fails loudly at build instead
      // of silently diverging the two tiers (round-13 advice).
      // assert_true returns NULL on pass, so the filter keeps the row;
      // on violation the build throws.
      .where(expr(
        s"""assert_true(size(pq) = 0 OR
           |  forall(zip_with(pq, sequence(0, size(pq) - 1),
           |                  (p, i) -> p.pcid = i), x -> x),
           |  'ivfpqServeBundle: PQ codebook ids not contiguous from 0')"""
          .stripMargin).isNull)
    centsRow.crossJoin(pqRow)
  }

  // ---- a16: tombstone DELETION against the published IVF-PQ index ----

  /** a16's arriving delete set: vec ids only (d17's census residue,
    * [[graft.ops.Dedup.TombstoneRem]] — referenced, not restated),
    * excluding codebook rows (vec_id < [[IvfCentroids]]): deleting a
    * codebook vector would change every OTHER vector's encoding — that
    * is a retrain (new fingerprint, full rebuild), not a deletion, and
    * the operator refuses to model it as one. */
  private[graft] def a16TombstonePred: Column =
    col("vec_id") % graft.ops.Dedup.IncrementalMod === graft.ops.Dedup.TombstoneRem &&
      col("vec_id") >= IvfCentroids.toLong

  private[graft] def a16Tombstones(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id")).where(a16TombstonePred)

  /** The index view every deletion-aware serving tier answers from —
    * a16's batch serve AND s11's streaming bundle build consume THIS,
    * so the two tiers cannot disagree about which vectors are live:
    * the published index minus tombstoned vectors via per-query
    * anti-join (id-only delete side; the published artifact is never
    * touched). */
  private def liveIndex(s: SparkSession, d: String): DataFrame =
    publishedIndex(s, d).join(a16Tombstones(s, d), Seq("vec_id"), "left_anti")

  /** a16: SERVE AFTER DELETE — the deletion half of the index
    * lifecycle (a15 covered append): vectors leave the corpus
    * (takedowns, dedup losers) and the served answer must stop
    * returning them WITHOUT an index rebuild. The delete set is an
    * id-only relation ([[a16Tombstones]]); the serve path anti-joins it
    * against the published index and runs the IDENTICAL consumption
    * block a13/a15 run ([[serveAdcTop3]]). Because a vector's index
    * rows depend only on itself and the frozen codebooks (the a15
    * invariant), the anti-joined index EQUALS a rebuild on the reduced
    * corpus row-for-row — so the contract "a16 == a06 on the corpus
    * minus deletions" is exact, and the oracle states it as a06's CTE
    * chain with the tombstone predicate cut into the candidate stream.
    *
    * Scale shape: no rebuild (the one pass that touches every vector
    * is exactly what deletion must avoid); the anti-join is id-only
    * vs the 4-int index. A deleted vector leaking back into a top-3 —
    * the legal failure mode — is a row-hash break at the gate. */
  def a16(s: SparkSession, d: String): DataFrame =
    serveAdcTop3(s, d, liveIndex(s, d))

  /** a16's anti-join serve over an ARBITRARY delete set — exposed for
    * the property spec (d17Over's contract on vectors): index-row
    * locality is an algebraic claim, so serve-after-delete must equal
    * a rebuild-on-reduced for ANY id set that respects the codebook
    * premise (no vec_id < IvfCentroids), not just the census residue. */
  private[graft] def a16Over(s: SparkSession, d: String,
                             tombstones: DataFrame): DataFrame =
    serveAdcTop3(s, d,
      publishedIndex(s, d).join(tombstones.select("vec_id"), Seq("vec_id"), "left_anti"))

  /** a06's chain with the deletion cut exactly where the engine applies
    * it: the candidate stream (a14's splice pattern). */
  val a16Sql: String =
    s"""WITH $ivfPqCtes,
      |dcand AS (
      |  SELECT probe_id, vec_id FROM cand
      |  WHERE NOT (vec_id % ${graft.ops.Dedup.IncrementalMod} = ${graft.ops.Dedup.TombstoneRem}
      |             AND vec_id >= $IvfCentroids)),
      |dscored AS (
      |  SELECT dcand.probe_id, dcand.vec_id, CAST(SUM(t.dist) AS BIGINT) AS adist
      |  FROM dcand
      |    JOIN codes k ON k.vec_id = dcand.vec_id
      |    JOIN subdists t ON t.vec_id = dcand.probe_id AND t.sub = k.sub AND t.pcid = k.code
      |  GROUP BY 1, 2),
      |dranked AS (
      |  SELECT probe_id, vec_id AS neighbor_id, adist,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rank
      |  FROM dscored)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist
      |FROM dranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  // ---- a17: codebook RETRAIN -> republish -> cutover (index refresh) ----

  /** declared retrain policy: when more than this fraction of the
    * corpus arrived AFTER the serving codebooks were trained, retrain.
    * The trigger is a declared-fraction rule (two pruned counters — the
    * d17/a16 AQE-class scalar) rather than a measured-recall rule
    * because it must be deterministic and oracle-expressible; the
    * recall EFFECT of not retraining is what tools/A15Staleness
    * measures (BASELINE.md "a15 codebook staleness"), and this
    * operator is what acts when a deployment's monitor fires. */
  val RetrainAppendThreshold = 0.05

  /** rows that arrived after the stale generation's codebooks were
    * trained: the census arrival residue, at ANY vec_id — unlike
    * [[a15ShardPred]] (which excludes codebook rows because an append
    * REFUSES to touch them), the training-time corpus simply did not
    * contain these rows yet, codebook-range ids included. */
  private[graft] def a17ArrivalPred: Column =
    col("vec_id") % graft.ops.Dedup.IncrementalMod === graft.ops.Dedup.IncrementalRem

  /** The stale generation's codebook row ids: the first
    * [[IvfCentroids]] ids of the PRE-APPEND corpus (first-k-rows
    * codebook convention over vec_ids the training-time corpus
    * contained; the PQ codebook is the first [[PqCentroids]] of the
    * same list). ≤16 scalars to the driver — the trained MODEL itself,
    * the adjudicated t12/s07 transfer class (a deployment distributes
    * codebook identities exactly like this). */
  private[graft] def a17StaleCodebookIds(s: SparkSession, d: String): Seq[Long] =
    embeddings(s, d).where(!a17ArrivalPred)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(IvfCentroids)
      .collect().map(_.getLong(0)).toSeq

  /** codebook-membership predicate from a driver-held id list (empty
    * corpus -> no codebook rows, not an empty IN list). */
  private def a17IdsPred(ids: Seq[Long]): Column =
    if (ids.isEmpty) lit(false) else col("vec_id").isin(ids: _*)

  private[graft] def a17StaleFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "embeddings",
      s"ivfpq-stale-c$IvfCentroids-pq$PqCentroids-s$PqSubspaces" +
        s"-m${graft.ops.Dedup.IncrementalMod}-r${graft.ops.Dedup.IncrementalRem}",
      annCodeSalt)

  /** generation 1: the FULL corpus (standing + arrived rows) encoded
    * under the STALE codebooks — the serving index of the a15 world
    * (standing index built pre-append + shard appended under frozen
    * codebooks), published under its own fingerprint. The codebook ids
    * are threaded from the caller: [[a17StaleServe]] derives the model
    * once and passes it to both the index build and the probe side —
    * deriving it independently here would run the corpus
    * scan-sort-limit job twice per gen-1 serve (round-14 review). */
  private def a17StaleIndexFor(s: SparkSession, d: String,
                               ids: Seq[Long]): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("ivfpq", d), a17StaleFingerprint(s, d))(
      buildIvfPqIndexWith(s, d,
        a17IdsPred(ids), a17IdsPred(ids.take(PqCentroids))))

  /** a06's serve from the stale generation: probe-side structures
    * (cluster ranking + ADC tables) computed against the STALE
    * codebooks — a serve that mixed generations (stale index rows,
    * fresh probe tables) would be the exact corruption class the
    * cutover must exclude, so the codebook selection threads through
    * every consumer from one id list. */
  private[graft] def a17StaleServe(s: SparkSession, d: String): DataFrame = {
    val ids = a17StaleCodebookIds(s, d)
    val q = ivfQWhere(s, d, col("vec_id") < 10 || a17IdsPred(ids))
    serveAdcTop3From(q, a17StaleIndexFor(s, d, ids),
      a17IdsPred(ids), a17IdsPred(ids.take(PqCentroids)))
  }

  /** a17: RETRAIN -> REPUBLISH -> CUTOVER — the refresh that completes
    * the index lifecycle (a13 build / a15 append / a16 delete): the
    * serving index is the STALE generation ([[a17StaleIndexFor]] —
    * codebooks trained before the census arrivals existed, the state
    * a15 leaves behind), and when the post-training arrival fraction
    * exceeds [[RetrainAppendThreshold]], the operator retrains the
    * coarse/PQ codebooks on the CURRENT corpus (the default first-k
    * selections), rebuilds the index under them, publishes it under the
    * NEW fingerprint ([[ivfpqFingerprint]] — deliberately THE default
    * build fingerprint, so the cutover is every a13-family consumer
    * flipping to the fresh artifact, not a third index flavor), and
    * serves from it. Below the threshold the stale generation keeps
    * serving — retraining on every append would pay the full-corpus
    * rebuild the append exists to avoid. Output carries the served
    * generation (`gen` 1=stale, 2=retrained) so the cutover decision
    * is inside the gate hash: on the census corpus the arrival
    * fraction is ~10% > 5%, the retrain fires, and the oracle states
    * the retrained serve (== a fresh a13 build == a06's chain) with
    * gen pinned to 2.
    *
    * Scale shape at 100 TB: the trigger reads two pruned counters; the
    * retrain itself is the one deliberate full-corpus pass of the
    * lifecycle (the same linear partial-aggregable encode as a13's
    * build — THE cost A15Staleness's monitor exists to justify
    * spending), published once and amortized over every serve after
    * cutover; the old generation's artifact stays addressable under
    * its own fingerprint for rollback. */
  def a17(s: SparkSession, d: String): DataFrame = {
    val t = embeddings(s, d).agg(
      count(lit(1)).as("n"),
      sum(when(a17ArrivalPred, lit(1L)).otherwise(lit(0L))).as("na")).head()
    val n = t.getLong(0)
    val na = if (t.isNullAt(1)) 0L else t.getLong(1)
    val out =
      if (n > 0 && na.toDouble / n > RetrainAppendThreshold)
        serveAdcTop3(s, d, publishedIndex(s, d)).withColumn("gen", lit(2L))
      else
        a17StaleServe(s, d).withColumn("gen", lit(1L))
    // retention AT the cutover (round 17, the d19 policy on the ANN
    // side): the index line designates {serving, rollback} = {the
    // retrained default-fingerprint generation, the stale pre-retrain
    // one}; anything else in the line — older codebook generations,
    // prior-round residue — is reaped here. Pins are intents: on the
    // no-retrain branch only the stale generation exists (and only it
    // is retained); the retrained pin names nothing yet.
    graft.core.Materialize.sweepKeep(s, sk("ivfpq", d),
      Set(ivfpqFingerprint(s, d), a17StaleFingerprint(s, d)))
    out
  }

  /** the oracle is the retrained serve: a06's chain with the served
    * generation pinned to 2 (the census corpus is always past the
    * declared threshold — a gen-1 answer breaks the hash loudly). */
  val a17Sql: String =
    s"""WITH $ivfPqCtes
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adist,
      |  CAST(2 AS BIGINT) AS gen
      |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  // ---- a17 ∘ deletion: the retrain a16's anti-join refuses to model ----

  /** the rebuilt index of [[a17RetrainOver]], exposed separately so the
    * spec can pin the ARTIFACT-level exclusions (no deleted vec_id row,
    * no deleted id serving as a coarse cluster or PQ code target), not
    * just the served answer. */
  private[graft] def a17RetrainIndexOver(s: SparkSession, d: String,
      tombstones: DataFrame, ids: Seq[Long]): DataFrame =
    buildIvfPqIndexOver(
      ivfQ(s, d).join(tombstones.select("vec_id"), Seq("vec_id"), "left_anti"),
      a17IdsPred(ids), a17IdsPred(ids.take(PqCentroids)))

  /** live codebook ids under a delete set: the first [[IvfCentroids]]
    * surviving vec_ids — the first-k-rows training convention applied
    * to the corpus that still legally exists. ≤16 scalars to the
    * driver (the trained model itself — the adjudicated a17/t12/s07
    * transfer class). */
  private[graft] def a17LiveCodebookIds(s: SparkSession, d: String,
      tombstones: DataFrame): Seq[Long] =
    embeddings(s, d).select(col("vec_id"))
      .join(tombstones.select("vec_id"), Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id")).limit(IvfCentroids)
      .collect().map(_.getLong(0)).toSeq

  /** a17's retrain COMPOSED WITH DELETION (round-15 verdict item 6) —
    * the one deletion a16's id-only anti-join structurally cannot
    * absorb is a codebook row (removing it re-encodes every other
    * vector), and [[a16TombstonePred]] refuses it for exactly that
    * reason, naming the retrain as the operation that handles it.
    * This is that operation: codebooks are re-trained on the LIVE
    * corpus (the first-k convention over ids NOT in the delete set — a
    * deleted vector can never be selected as a codebook row), the
    * index is rebuilt over live rows only (a deleted vector's encoding
    * never enters the artifact), and the serve reads the rebuilt
    * generation end to end. Contract, spec-pinned (Round16OpsSpec):
    * bit-identical to the default retrain executed in a world that
    * never ingested the deleted vectors, for ARBITRARY delete sets
    * that spare the probe workload (vec_id < 10 — probes are queries,
    * not corpus rows). A deployment publishes the rebuilt index under
    * THE default build fingerprint at cutover, exactly like a17's
    * gen 2 — deletion changes the input fingerprint, so no new
    * generation flavor is needed. The gate entry a17 is unchanged: the
    * census world never deletes codebook rows, so its doctrine stays
    * "full-corpus artifact + deletion at the serve view"
    * ([[liveIndex]]); this path exists for the delete sets that
    * doctrine refuses. */
  private[graft] def a17RetrainOver(s: SparkSession, d: String,
                                    tombstones: DataFrame): DataFrame = {
    val ids = a17LiveCodebookIds(s, d, tombstones)
    serveAdcTop3From(
      ivfQWhere(s, d, col("vec_id") < 10 || a17IdsPred(ids)),
      a17RetrainIndexOver(s, d, tombstones, ids),
      a17IdsPred(ids), a17IdsPred(ids.take(PqCentroids)))
  }

  // ---- a07/a08: k-means clustering + semantic dedup (SemDeDup) ----

  /** PINNED cluster count at gate scale — the value the unrolled DuckDB
    * CTE oracle is built with, and the floor of the derived K below. */
  val KmeansK = 8
  val KmeansIters = 3

  /** SemDeDup's scale contract: K must GROW with the corpus so cluster
    * size stays bounded — the a08 within-cluster pair join is quadratic
    * in cluster size, and a CONSTANT K leaves it (N/K)² ≈ O(N²) at
    * 100 TB (the whole point of the paper's construction is K scaling
    * with N). K(N) = max([[KmeansK]], ⌈N / target⌉) — the same
    * census-derived parameter pattern as d04's block fan-out. At the
    * gate SFs (500–2 000 vectors, and any corpus up to
    * K·target = 32 768) the derived K is exactly the pinned 8, so the
    * unrolled oracle stays bit-exact; past that the derivation takes
    * over and every cluster is bounded near the target, making a08's
    * pair work N·target instead of N²/K. */
  val KmeansTargetClusterSize = 4096L

  private[graft] def kmeansKFor(n: Long): Int =
    math.max(KmeansK.toLong,
      (n + KmeansTargetClusterSize - 1) / KmeansTargetClusterSize).toInt

  /** Corpus census for the K derivation: a parquet row-count is
    * metadata-only (no data scan), and it is counted once per file
    * state per JVM ([[graft.core.Tables.parquetRows]]). */
  private def embeddingsCount(s: SparkSession, d: String): Long =
    graft.core.Tables.parquetRows(s, s"$d/embeddings.parquet")
  /** same data-calibrated near-dup threshold as d05 — the corpus'
    * synthetic embeddings top out near cosine 0.5. */
  val SemDedupTau = 0.4

  /** quantized embedding table (vec_id, q): 3-decimal fixed-point, the
    * suite-wide exact-arithmetic representation. */
  private def qvecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      // pinned partition count (see a02): the assignment's zip_with
      // distance HOF is CPU-dense over tiny bytes — AQE's byte-based
      // coalescing would single-task it
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))

  /** one Lloyd assignment round: nearest centroid by EXACT integer
    * squared-L2 (quantized points, floor-of-mean integer centroids), tie
    * broken by centroid id — fully deterministic, so the unrolled DuckDB
    * CTE chain reproduces every round bit-for-bit. Broadcast of the ≤K
    * centroid rows against the point table: the classic k-means
    * data-parallel shape (model broadcast, one pass over points). */
  private def kmeansAssign(pts: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    pts.join(broadcast(cents), lit(true))
      .withColumn("dist",
        aggregate(zip_with(col("q"), col("cq"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("q"), col("cid").as("cluster"), col("dist"))
  }

  /** a07 core: [[KmeansIters]] Lloyd rounds from a deterministic init
    * (centroids = the first K vectors by id). Centroid update keeps
    * EXACT integer coordinates: per-dimension floor(sum/count) via the
    * pmod construction (numerator made exactly divisible, so the double
    * division is exact) — summation-order-independent, unlike a float
    * mean, which is what makes a cross-engine oracle possible at all.
    * Per round: one broadcast-assign pass + one (cluster, dim) partial
    * aggregation — at 100 TB the points never move, only the K×dims
    * model does. Empty clusters drop out (standard Lloyd behavior),
    * identically in both engines. */
  /** the trained model: final centroid table (cid, cq). Exposed to the
    * spec so a07's output can be checked as the true argmin against it. */
  private[graft] def kmeansModel(s: SparkSession, d: String): DataFrame = {
    val k = kmeansKFor(embeddingsCount(s, d)) // == KmeansK at gate SFs
    val pts = qvecs(s, d)
    var cents = pts.where(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    // KmeansIters ASSIGNMENT rounds total (the last one is the returned
    // kmeansAssign in kmeansFinal), so the model updates KmeansIters-1
    // times — same unrolling as the oracle's a1..aN / c1..c(N-1) chain
    for (_ <- 1 until KmeansIters) {
      val asg = kmeansAssign(pts, cents)
      cents = asg
        .select(col("cluster").as("cid"), posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("c",
          ((col("sv") - pmod(col("sv"), col("n"))) / col("n")).cast(LongType))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("cq"))
    }
    cents
  }

  private def kmeansFinal(s: SparkSession, d: String): DataFrame =
    kmeansAssign(qvecs(s, d), kmeansModel(s, d))

  /** the trained centroid model as a MATERIALIZED table (cid, cq) —
    * the assignment table alone cannot reproduce it (it encodes the
    * final assignment a_N; the model is c_{N-1}), so serving consumers
    * (s07) read this instead of re-deriving the Lloyd rounds per run:
    * training happens once per corpus fingerprint, exactly the
    * Materialize contract the other kernels follow. */
  private[graft] def kmeansModelTable(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("kmeansmodel", d), kmeansFingerprint(s, d))(
      kmeansModel(s, d))

  /** the trained model collapsed to ONE broadcastable row
    * (array<struct<cid,cq>>, sorted by cid) — the shape a stateless
    * serving path (streaming s07) carries to every executor; sorted so
    * an array_min over (dist, cid) structs reproduces kmeansAssign's
    * (dist, cid) tie-break exactly. Reads the materialized model. */
  private[graft] def kmeansModelRow(s: SparkSession, d: String): DataFrame =
    kmeansModelTable(s, d)
      .select(struct(col("cid"), col("cq")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("model"))

  /** Code salt for the materialized assignment — `Ann$` (quantization,
    * Lloyd construction, K derivation) and its dependency `Tables$`
    * (corpus loading). See [[graft.core.Materialize.codeSalt]]. */
  private lazy val annCodeSalt: String =
    graft.core.Materialize.codeSalt(Ann.getClass, graft.core.Tables.getClass)

  /** per-corpus kind namespace — see graft.ops.Dedup.sk and
    * [[graft.core.Materialize.scopedKind]]. */
  private def sk(base: String, d: String): String =
    graft.core.Materialize.scopedKind(base, d)

  /** Fingerprint key of the materialized k-means assignment: input file
    * identity + the DERIVED K (so a corpus crossing a K(N) boundary
    * re-trains) + iteration count + code salt. */
  private[graft] def kmeansFingerprint(s: SparkSession, d: String): String =
    graft.core.Materialize.fingerprint(d, "embeddings",
      s"kmeans-k${kmeansKFor(embeddingsCount(s, d))}-i$KmeansIters", annCodeSalt)

  /** Always-fresh training + publication — the entry point for a07, the
    * job that IS the measured Lloyd training. Publishes the full
    * assignment (vec_id, q, cluster, dist) so downstream consumers
    * (a08's semantic dedup) never re-train. */
  private def publishAssignment(s: SparkSession, d: String): DataFrame = {
    val fp = kmeansFingerprint(s, d)
    val t = graft.core.Materialize.publish(s, sk("kmeans", d), fp)(kmeansFinal(s, d))
    // retention at the training publish (round 17): one live generation
    // per line — reap prior-corpus/prior-code residue of both the
    // assignment and the model table (same fingerprint, two kinds)
    graft.core.Materialize.sweepKeep(s, sk("kmeans", d), Set(fp))
    graft.core.Materialize.sweepKeep(s, sk("kmeansmodel", d), Set(fp))
    t
  }

  /** The materialized assignment if this exact corpus+algorithm has
    * been trained on this storage, else compute-and-publish — the
    * production contract: training runs ONCE (a07); reports consume
    * its output table. */
  private[graft] def assignmentTable(s: SparkSession, d: String): DataFrame =
    graft.core.Materialize.readOrCompute(s, sk("kmeans", d), kmeansFingerprint(s, d))(
      kmeansFinal(s, d))

  /** quantized embedding table, exposed for the spec's brute-force
    * argmin re-derivation. */
  private[graft] def kmeansPoints(s: SparkSession, d: String): DataFrame =
    qvecs(s, d)

  /** a07: k-means over the embedding column — the clustering primitive
    * under curriculum bucketing, IVF codebook training, and a08's
    * semantic dedup. Output: every vector's final cluster and exact
    * integer distance. */
  def a07(s: SparkSession, d: String): DataFrame =
    publishAssignment(s, d)
      .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"),
        col("dist").cast(LongType).as("dist"))
      .orderBy("vec_id")

  /** DuckDB: the same rounds unrolled as a CTE chain. */
  private def kmeansCtes: String = {
    def assignCte(name: String, cents: String): String = {
      val dist = s"CAST(list_sum([ (q.qv[i]-c.cq[i])*(q.qv[i]-c.cq[i]) " +
        s"FOR i IN range(1, len(q.qv)+1) ]) AS BIGINT)"
      s"""$name AS (
        |  SELECT vec_id, qv, cluster, dist FROM (
        |    SELECT q.vec_id, q.qv, c.cid AS cluster, $dist AS dist,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $dist, c.cid) AS rk
        |    FROM q CROSS JOIN $cents c) WHERE rk = 1)""".stripMargin
    }
    def centCte(name: String, asg: String): String =
      s"""$name AS (
        |  SELECT cid, list(cv ORDER BY dim) AS cq FROM (
        |    SELECT cluster AS cid, i AS dim,
        |      CAST((SUM(v) - ((SUM(v) % COUNT(*) + COUNT(*)) % COUNT(*))) // COUNT(*) AS BIGINT) AS cv
        |    FROM (SELECT cluster, generate_subscripts(qv, 1) AS i, unnest(qv) AS v FROM $asg)
        |    GROUP BY cluster, i)
        |  GROUP BY cid)""".stripMargin
    val rounds = (1 to KmeansIters).map { t =>
      assignCte(s"a$t", if (t == 1) "c0" else s"c${t - 1}") +
        (if (t < KmeansIters) ",\n" + centCte(s"c$t", s"a$t") else "")
    }.mkString(",\n")
    s"""q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id < $KmeansK),
      |$rounds""".stripMargin
  }

  val a07Sql: String =
    s"""WITH $kmeansCtes
      |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist
      |FROM a$KmeansIters ORDER BY vec_id""".stripMargin

  /** a08: semantic dedup, SemDeDup-shaped — k-means bounds the pairwise
    * work to WITHIN-cluster pairs (the whole point of the paper's
    * construction: clusters make the quadratic step tractable), then a
    * vector is removed iff a LOWER-id vector in its cluster is
    * cosine-similar above [[SemDedupTau]] (non-greedy min-id keeper rule
    * — same contract as the text dedups, and exactly SQL-expressible).
    * Output: per-cluster kept/removed accounting. Pair similarity runs
    * the codegen QuantizedCosineSimilarity kernel; the per-cluster
    * equi-join replaces the all-pairs cross product, and with the
    * census-derived K(N) (see [[KmeansTargetClusterSize]]) each cluster
    * is bounded near the target size, so the 100 TB pair work is
    * N·target, not (N/K)². The assignment comes from the MATERIALIZED
    * table (a07 publishes it; training runs once per corpus
    * fingerprint), and the three consumers below are three scans of
    * that parquet table — no in-session persist to leak. */
  def a08(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CosineSimilarity.quantized_cosine
    val asg = assignmentTable(s, d).select(col("vec_id"), col("q"), col("cluster"))
    val l = asg.select(col("cluster"), col("vec_id").as("va"), col("q").as("qa"))
    val r = asg.select(col("cluster"), col("vec_id").as("vb"), col("q").as("qb"))
    val removed = l.join(r, Seq("cluster"))
      .where(col("va") < col("vb"))
      .withColumn("sim", quantized_cosine(col("qa"), col("qb")))
      .where(col("sim") >= SemDedupTau)
      .select(col("vb").as("vec_id")).distinct()
      .withColumn("is_removed", lit(1L))
    asg.join(removed, Seq("vec_id"), "left")
      .groupBy("cluster")
      .agg(
        big(count(lit(1))).as("n_vecs"),
        big(sum(when(col("is_removed").isNull, 1L).otherwise(0L))).as("kept"),
        big(sum(when(col("is_removed").isNotNull, 1L).otherwise(0L))).as("removed"))
      .select(col("cluster").cast(LongType).as("cluster"),
        col("n_vecs"), col("kept"), col("removed"))
      .orderBy("cluster")
  }

  val a08Sql: String =
    s"""WITH $kmeansCtes,
      |nn AS (
      |  SELECT vec_id, CAST(list_sum([ x*x FOR x IN qv ]) AS BIGINT) AS norm2
      |  FROM q),
      |rem AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM a$KmeansIters a JOIN a$KmeansIters b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  JOIN nn na ON na.vec_id = a.vec_id
      |  JOIN nn nb ON nb.vec_id = b.vec_id
      |  WHERE CASE WHEN na.norm2 = 0 OR nb.norm2 = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE CAST(CAST(list_sum([ a.qv[i]*b.qv[i] FOR i IN range(1, len(a.qv)+1) ]) AS BIGINT) AS DOUBLE)
      |      / SQRT(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)) END >= $SemDedupTau)
      |SELECT CAST(a.cluster AS BIGINT) AS cluster,
      |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CASE WHEN rem.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
      |  CAST(SUM(CASE WHEN rem.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS removed
      |FROM a$KmeansIters a LEFT JOIN rem ON rem.vec_id = a.vec_id
      |GROUP BY a.cluster ORDER BY cluster""".stripMargin

  // ---- a10: ANN recall evaluation report ----

  /** a10: the EVALUATION harness every ANN deployment needs — recall@3
    * of the approximate methods (a02 LSH buckets, a03 IVF probing)
    * against the exact brute-force baseline (a01), per method:
    * hits = |approx top-3 ∩ exact top-3| summed over the probe set,
    * recall = hits/total. Composes the existing operators (each is
    * hash-green against its own oracle, and rank ties break on
    * (sim DESC, id) identically in both engines, so the intersection
    * counts are deterministic). Integer hits/total + one exact IEEE
    * division keep the oracle bit-exact. Scale shape: the three ANN
    * scans + two slim (probe_id, neighbor_id) equi-joins + 1-row
    * aggregates — evaluation costs no more than the searches it
    * grades. */
  def a10(s: SparkSession, d: String): DataFrame = {
    val exact = a01(s, d).where(col("rank") <= 3)
      .select(col("probe_id"), col("neighbor_id"))
    def recallOf(name: String, approx: DataFrame): DataFrame =
      approx.select(col("probe_id"), col("neighbor_id"))
        .join(exact, Seq("probe_id", "neighbor_id"))
        .agg(big(count(lit(1))).as("hits"))
        // 1-row x 1-row cross: the broadcast-single-row-aggregate shape
        // (same as q01/p06), allow-listed in PlanAuditSpec
        .crossJoin(exact.agg(big(count(lit(1))).as("total")))
        .select(lit(name).as("method"), col("hits"), col("total"),
          (col("hits").cast(DoubleType) / col("total").cast(DoubleType)).as("recall"))
    recallOf("ivf", a03(s, d))
      .unionByName(recallOf("lsh", a02(s, d)))
      .orderBy("method")
  }

  val a10Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_aggregate(list_transform(qv, x -> x*x), 'sum') AS BIGINT) AS norm2
      |  FROM q),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS i, unnest(qv) AS v FROM n),
      |edots AS (
      |  SELECT pa.vec_id AS probe_id, ca.vec_id AS cand_id, CAST(SUM(pa.v * ca.v) AS BIGINT) AS dot
      |  FROM ex pa JOIN ex ca ON ca.i = pa.i AND pa.vec_id < 10 AND ca.vec_id <> pa.vec_id
      |  GROUP BY 1, 2),
      |exact AS (
      |  SELECT probe_id, cand_id AS neighbor_id FROM (
      |    SELECT probe_id, cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
      |        CAST(dot AS DOUBLE) / SQRT(CAST(np.norm2 AS DOUBLE) * CAST(nc.norm2 AS DOUBLE)) DESC,
      |        cand_id) AS rank
      |    FROM edots JOIN n np ON np.vec_id = probe_id JOIN n nc ON nc.vec_id = cand_id)
      |  WHERE rank <= 3),
      |planes AS (
      |  SELECT p.p, i.i, CAST(((p.p * 73856093 + i.i * 19349663) % 2003) - 1001 AS BIGINT) AS wt
      |  FROM (SELECT unnest(generate_series(0, ${NumPlanes - 1})) AS p) p,
      |       (SELECT unnest(generate_series(0,
      |          (SELECT MAX(len(embedding)) - 1 FROM embeddings))) AS i) i),
      |pdots AS (
      |  SELECT ex.vec_id, planes.p, CAST(SUM(ex.v * planes.wt) AS BIGINT) AS pdot
      |  FROM ex JOIN planes ON planes.i = ex.i GROUP BY 1, 2),
      |bands AS (
      |  SELECT vec_id, p // $LshPlanesPerTable AS tbl,
      |    CAST(SUM(CASE WHEN pdot >= 0 THEN CAST(POWER(2, p % $LshPlanesPerTable) AS BIGINT) ELSE 0 END) AS BIGINT) AS tkey
      |  FROM pdots GROUP BY 1, 2),
      |lcand AS (
      |  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id AS cand_id
      |  FROM bands pb JOIN bands cb ON cb.tbl = pb.tbl AND cb.tkey = pb.tkey
      |  WHERE pb.vec_id < 10 AND cb.vec_id <> pb.vec_id),
      |ldots AS (
      |  SELECT lcand.probe_id, lcand.cand_id, CAST(SUM(pa.v * ca.v) AS BIGINT) AS dot
      |  FROM lcand JOIN ex pa ON pa.vec_id = lcand.probe_id
      |             JOIN ex ca ON ca.vec_id = lcand.cand_id AND ca.i = pa.i
      |  GROUP BY 1, 2),
      |lsh AS (
      |  SELECT probe_id, cand_id AS neighbor_id FROM (
      |    SELECT probe_id, cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
      |        CAST(dot AS DOUBLE) / SQRT(CAST(np.norm2 AS DOUBLE) * CAST(nc.norm2 AS DOUBLE)) DESC,
      |        cand_id) AS rank
      |    FROM ldots JOIN n np ON np.vec_id = probe_id JOIN n nc ON nc.vec_id = cand_id)
      |  WHERE rank <= 3),
      |cdots AS (
      |  SELECT a.vec_id, c.vec_id AS cid, CAST(SUM(a.v * c.v) AS BIGINT) AS dot
      |  FROM ex a JOIN ex c ON c.i = a.i AND c.vec_id < $IvfCentroids
      |  GROUP BY 1, 2),
      |csims AS (
      |  SELECT cdots.vec_id, cdots.cid,
      |    CAST(dot AS DOUBLE) / SQRT(CAST(nv.norm2 AS DOUBLE) * CAST(cn.norm2 AS DOUBLE)) AS csim
      |  FROM cdots JOIN n nv ON nv.vec_id = cdots.vec_id
      |             JOIN n cn ON cn.vec_id = cdots.cid),
      |assigned AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
      |    FROM csims) WHERE crank = 1),
      |probe_clusters AS (
      |  SELECT vec_id AS probe_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crank
      |    FROM csims WHERE vec_id < 10) WHERE crank <= $IvfProbeClusters),
      |icand AS (
      |  SELECT pc.probe_id, a.vec_id AS cand_id
      |  FROM probe_clusters pc JOIN assigned a
      |    ON a.cluster = pc.cluster AND a.vec_id <> pc.probe_id),
      |idots AS (
      |  SELECT icand.probe_id, icand.cand_id, CAST(SUM(p.v * c.v) AS BIGINT) AS dot
      |  FROM icand JOIN ex p ON p.vec_id = icand.probe_id
      |             JOIN ex c ON c.vec_id = icand.cand_id AND c.i = p.i
      |  GROUP BY 1, 2),
      |ivf AS (
      |  SELECT probe_id, cand_id AS neighbor_id FROM (
      |    SELECT probe_id, cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
      |        CAST(dot AS DOUBLE) / SQRT(CAST(np.norm2 AS DOUBLE) * CAST(nc.norm2 AS DOUBLE)) DESC,
      |        cand_id) AS rank
      |    FROM idots JOIN n np ON np.vec_id = probe_id JOIN n nc ON nc.vec_id = cand_id)
      |  WHERE rank <= 3),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM exact)
      |SELECT method, hits, total, CAST(hits AS DOUBLE) / CAST(total AS DOUBLE) AS recall
      |FROM (
      |  SELECT 'ivf' AS method,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM ivf JOIN exact
      |       ON ivf.probe_id = exact.probe_id AND ivf.neighbor_id = exact.neighbor_id) AS hits,
      |    total FROM tot
      |  UNION ALL
      |  SELECT 'lsh' AS method,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh JOIN exact
      |       ON lsh.probe_id = exact.probe_id AND lsh.neighbor_id = exact.neighbor_id) AS hits,
      |    total FROM tot)
      |ORDER BY method""".stripMargin

  // ---- a09: random-projection dimensionality reduction ----

  val RpDims = 16

  /** a09: deterministic random-projection dimensionality reduction
    * (Johnson–Lindenstrauss style) — the standard pre-IVF/pre-index
    * compression step: project the quantized embedding onto
    * [[RpDims]] integer pseudo-random directions. The projection
    * matrix is the same deterministic integer formula family as a02's
    * LSH planes (w(p,i) = ((p·73856093 + i·19349663) mod 2003) −
    * 1001): no RNG, no stored/broadcast matrix, so Spark and DuckDB
    * derive identical weights and the output is exact BIGINT.
    * Entirely ROW-LOCAL (one scan, per-row HOF loop — fine per-doc;
    * a native codegen Expression is the next step if this ever sits
    * on a hot path), so it scales linearly with zero shuffles until
    * the output sort. Output long-format (vec_id, dim, v) — the
    * driver-hashable shape for an array-valued result. */
  def a09(s: SparkSession, d: String): DataFrame = {
    val q = qvecs(s, d)
    val projections = array((0 until RpDims).map { p =>
      aggregate(
        zip_with(col("q"), sequence(lit(0L), size(col("q")).cast(LongType) - 1L),
          (v, i) => v * (((lit(p.toLong) * 73856093L + i * 19349663L) % 2003L) - 1001L)),
        lit(0L), (acc, x) => acc + x)
    }: _*)
    q.select(col("vec_id"), posexplode(projections).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast(LongType).as("dim"), col("v"))
      .orderBy("vec_id", "dim")
  }

  val a09Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |ex AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS i, unnest(qv) AS v FROM q)
      |SELECT ex.vec_id, CAST(p.p AS BIGINT) AS dim,
      |  CAST(SUM(ex.v * (((p.p * 73856093 + ex.i * 19349663) % 2003) - 1001)) AS BIGINT) AS v
      |FROM ex, (SELECT unnest(generate_series(0, ${RpDims - 1})) AS p) p
      |GROUP BY 1, 2 ORDER BY vec_id, dim""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a07_kmeans" -> a07 _,
    "a08_semantic_dedup" -> a08 _,
    "a09_random_projection" -> a09 _,
    "a10_ann_recall" -> a10 _,
    "a11_ann_rerank" -> a11 _,
    "a12_mmr_diversified" -> a12 _,
    "a13_ivfpq_index_serve" -> a13 _,
    "a14_ann_filtered" -> a14 _,
    "a15_ivfpq_index_append" -> a15 _,
    "a16_ivfpq_tombstone_serve" -> a16 _,
    "a17_ivfpq_retrain_cutover" -> a17 _,
    "a01_ann_bruteforce_topk" -> a01 _,
    "a02_ann_lsh_bucketed" -> a02 _,
    "a03_ann_ivf" -> a03 _,
    "a04_int8_quantize" -> a04 _,
    "a05_pq_encode" -> a05 _,
    "a06_ivfpq_adc" -> a06 _)

  val oracle: Map[String, String] = Map(
    "a07_kmeans" -> a07Sql,
    "a08_semantic_dedup" -> a08Sql,
    "a09_random_projection" -> a09Sql,
    "a10_ann_recall" -> a10Sql,
    "a11_ann_rerank" -> a11Sql,
    "a12_mmr_diversified" -> a12Sql,
    "a13_ivfpq_index_serve" -> a06Sql, // served result == a06 by contract
    "a14_ann_filtered" -> a14Sql,
    "a15_ivfpq_index_append" -> a06Sql, // append == rebuild == a06 by contract
    "a16_ivfpq_tombstone_serve" -> a16Sql,
    "a17_ivfpq_retrain_cutover" -> a17Sql,

    "a01_ann_bruteforce_topk" -> a01Sql,
    "a02_ann_lsh_bucketed" -> a02Sql,
    "a03_ann_ivf" -> a03Sql,
    "a04_int8_quantize" -> a04Sql,
    "a05_pq_encode" -> a05Sql,
    "a06_ivfpq_adc" -> a06Sql)
}
