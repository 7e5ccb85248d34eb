package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ops.{Ann, Dedup, Multimodal}

/** Round-7 operator contracts:
  *  - a08's SemDeDup scale rule: K derived from the corpus census
  *    (constant K=8 left the within-cluster pair join (N/8)² at scale);
  *  - the materialized d03 pair table: d10/d07 consume it instead of
  *    re-running pair generation per report, a08 consumes a07's
  *    materialized assignment;
  *  - m03's perceptual dHash: near-identical images land within the
  *    near-dup threshold, unrelated images far outside it;
  *  - q40's data-driven recursion depth: histogram equals the
  *    closed-form floor(log2(k)) counts.
  */
class Round7OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Session(4)

  override def afterAll(): Unit = spark.stop()

  // ---- a08 scale contract: census-derived K ----

  test("kmeansKFor: pinned 8 at gate scale, grows with the corpus, bounds cluster size") {
    // gate SFs: 500 (sf0.01) and 2000 (sf0.1) vectors -> the pinned K,
    // so the unrolled DuckDB oracle stays valid
    assert(Ann.kmeansKFor(500) == Ann.KmeansK)
    assert(Ann.kmeansKFor(2000) == Ann.KmeansK)
    assert(Ann.kmeansKFor(Ann.KmeansK * Ann.KmeansTargetClusterSize) == Ann.KmeansK)
    // past K*target the derivation takes over: ceil(N/target)
    assert(Ann.kmeansKFor(Ann.KmeansK * Ann.KmeansTargetClusterSize + 1) == Ann.KmeansK + 1)
    assert(Ann.kmeansKFor(1000000) == 245) // ceil(1e6/4096)
    // the invariant that kills the (N/8)^2 bound: average cluster size
    // (= the quadratic base of a08's pair join) is bounded by the
    // target for ANY corpus size
    for (n <- Seq(1L, 4096L, 100000L, 10000000L, 10000000000L)) {
      val k = Ann.kmeansKFor(n)
      assert(n.toDouble / k <= Ann.KmeansTargetClusterSize,
        s"n=$n k=$k mean cluster ${n.toDouble / k}")
      assert(k >= Ann.KmeansK)
    }
    // monotone: more data never means fewer clusters
    val ks = Seq(1L, 1000L, 50000L, 200000L, 5000000L).map(Ann.kmeansKFor)
    assert(ks == ks.sorted)
  }

  test("kmeans fingerprint embeds the derived K (corpus census drives the key)") {
    // same corpus twice -> same key (stability); the derived-K rule is
    // embedded in the algo descriptor, so a corpus crossing a K(N)
    // boundary can never reuse a stale assignment
    val fp1 = Ann.kmeansFingerprint(spark, sf)
    assert(fp1 == Ann.kmeansFingerprint(spark, sf))
  }

  // ---- materialized-table reuse: reports consume, kernels publish ----

  test("d10 and d07 consume the d03 pair table; a08 consumes a07's assignment") {
    // isolated materialization root so this spec proves publication
    // happens HERE, not in some earlier run
    val root = java.nio.file.Files.createTempDirectory("graft-mat-spec").toString
    spark.conf.set("spark.graft.mat.dir", root)
    try {
      // d03 IS the kernel: running it publishes the pair table
      val nPairs = Dedup.d03(spark, sf).count()
      assert(Materialized.exists(spark, graft.core.Materialize.scopedKind("pairs", sf), Dedup.pairsFingerprint(sf)))
      // d10 (a report) plans a SCAN of the published table — no second
      // simhash/pair job in its plan
      def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.map(_.toString)
              case _ => Nil
            }
        }.flatten
      val d10 = Dedup.d10(spark, sf)
      assert(scanPaths(d10).exists(_.contains(s"${graft.core.Materialize.scopedKind("pairs", sf)}/${Dedup.pairsFingerprint(sf)}")),
        s"d10 must read the materialized pair table; scans: ${scanPaths(d10)}")
      assert(!d10.queryExecution.analyzed.toString.toLowerCase.contains("md5"),
        "d10 must not recompute simhash fingerprints")
      // published table == a fresh kernel run, row for row
      val published = spark.read.parquet(
        graft.core.Materialize.tablePath(spark, graft.core.Materialize.scopedKind("pairs", sf), Dedup.pairsFingerprint(sf)))
      assert(published.count() == nPairs)
      assert(Dedup.d03Pairs(spark, sf).exceptAll(published).count() == 0)

      // a07 IS the trainer: running it publishes the assignment; a08
      // (the report) plans a scan of it
      Ann.a07(spark, sf).count()
      assert(Materialized.exists(spark, graft.core.Materialize.scopedKind("kmeans", sf), Ann.kmeansFingerprint(spark, sf)))
      val a08 = Ann.a08(spark, sf)
      assert(scanPaths(a08).exists(_.contains(s"${graft.core.Materialize.scopedKind("kmeans", sf)}/${Ann.kmeansFingerprint(spark, sf)}")),
        s"a08 must read the materialized assignment; scans: ${scanPaths(a08)}")
    } finally spark.conf.unset("spark.graft.mat.dir")
  }

  test("publish: a failing compute does not orphan .inprogress temp dirs") {
    val root = java.nio.file.Files.createTempDirectory("graft-mat-fail").toString
    spark.conf.set("spark.graft.mat.dir", root)
    try {
      import org.apache.spark.sql.functions._
      val boom = graft.core.Tables.documents(spark, sf)
        .select((col("doc_id") / (col("doc_id") - col("doc_id")))
          .cast("decimal(10,0)").as("x")) // div-by-zero under ANSI -> job fails
      intercept[Throwable] {
        graft.core.Materialize.publish(spark, "pairs", "deadbeef")(boom)
      }
      val kindDir = new java.io.File(s"$root/pairs")
      val leftovers = Option(kindDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.contains(".inprogress-"))
      assert(leftovers.isEmpty, s"orphaned temp dirs: ${leftovers.mkString(",")}")
    } finally spark.conf.unset("spark.graft.mat.dir")
  }

  test("hammingSelfJoin == brute force for random fingerprints across thresholds") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // deterministic pseudo-random 60-bit fingerprints with planted
    // near-dups (id and id+1000 differ in <= 3 bits)
    val rnd = new scala.util.Random(7)
    val base = (0L until 1000L).map(i => i -> (rnd.nextLong() & ((1L << 60) - 1)))
    val dups = base.take(50).map { case (i, f) =>
      (i + 1000L) -> (f ^ (1L << rnd.nextInt(60)) ^ (1L << rnd.nextInt(60)))
    }
    val all = base ++ dups
    val fps = all.toDF("id", "fp").repartition(4)
    val brute = for {
      (ia, fa) <- all; (ib, fb) <- all
      if ia < ib
    } yield (ia, ib, java.lang.Long.bitCount(fa ^ fb))
    for (maxH <- Seq(0, 3, 6, 14)) {
      val got = Dedup.hammingSelfJoin(fps, 60, maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
      val want = brute.filter(_._3 <= maxH).toSet
      assert(got == want, s"maxH=$maxH: got ${got.size} want ${want.size}")
    }
  }

  // ---- m03: perceptual dHash ----

  /** deterministic w x h RGB test card: smooth two-axis gradient. */
  private def card(w: Int, h: Int, invert: Boolean): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val xx = if (invert) w - 1 - x else x
      img.setRGB(x, y, ((xx * 255 / math.max(1, w - 1)) << 16) |
        ((y * 255 / math.max(1, h - 1)) << 8) | 0x40)
    }
    img
  }

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"no $format writer")
    out.toByteArray
  }

  test("dhashImage: invariant to re-encode/brightness, far for unrelated images") {
    val base = card(96, 64, invert = false)
    val h0 = Multimodal.dhashImage(base)
    // JPEG re-encode (lossy) of the same content: a true near-dup
    val jpegRoundTrip = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(encode(base, "jpg")))
    val h1 = Multimodal.dhashImage(jpegRoundTrip)
    // global brightness scale preserves the adjacent-cell ordering
    val dim = new BufferedImage(96, 64, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 96) {
      val rgb = base.getRGB(x, y)
      dim.setRGB(x, y, ((((rgb >> 16) & 0xff) * 8 / 10) << 16) |
        ((((rgb >> 8) & 0xff) * 8 / 10) << 8) | ((rgb & 0xff) * 8 / 10))
    }
    val h2 = Multimodal.dhashImage(dim)
    // mirrored gradient: most adjacent comparisons flip
    val h3 = Multimodal.dhashImage(card(96, 64, invert = true))
    assert(ham(h0, h1) <= Multimodal.M03HammingMax, s"jpeg re-encode: ${ham(h0, h1)}")
    assert(ham(h0, h2) <= Multimodal.M03HammingMax, s"brightness: ${ham(h0, h2)}")
    assert(ham(h0, h3) > Multimodal.M03HammingMax, s"unrelated: ${ham(h0, h3)}")
  }

  /** hamming over the two-word 120-bit fingerprint. */
  private def ham(a: (Long, Long), b: (Long, Long)): Int =
    java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)

  test("dhashMedia dispatch: image bytes take the real path, text the byte stub") {
    val png = encode(card(32, 24, invert = false), "png")
    assert(Multimodal.dhashMedia(png) ==
      Multimodal.dhashImage(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))))
    val text = "plain text blob, definitely not an image".getBytes("UTF-8")
    assert(Multimodal.dhashMedia(text) == Multimodal.dhashBytes(text))
    // deterministic + doc_id-independent
    assert(Multimodal.dhashMedia(text) == Multimodal.dhashMedia(text))
  }

  test("m03: pair list is symmetric-free, within threshold, and plan is equi-join") {
    val df = Multimodal.m03(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "m03 must pair through the pigeonhole equi-join")
    import org.apache.spark.sql.functions._
    val bad = df.where(col("doc_a") >= col("doc_b") ||
      col("hamming") > Multimodal.M03HammingMax || col("hamming") < 0).count()
    assert(bad == 0)
    // the 120-bit hash separates true near-dups from birthday pairs:
    // the sf0.001 sample has no mutated copies, so the truthful answer
    // at the absolute threshold is EMPTY (the 60-bit hash's "pairs"
    // here were artifacts of 4-bit buckets; see DhashRows scaladoc)
    assert(df.count() == 0, "sf0.001 has no true perceptual near-dups")
  }

  test("m03 kernel: 120-bit dhash keeps mutated blobs near and unrelated blobs far") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(2048)((rnd.nextInt(26) + 'a').toByte)
    // a localized mutation (the corpus' true-near-dup shape): flip a
    // 64-byte span — only the grid cells covering it can change
    val mut = base.clone()
    for (i <- 900 until 964) mut(i) = (rnd.nextInt(26) + 'a').toByte
    val unrelated = Array.fill(2048)((rnd.nextInt(26) + 'a').toByte)
    val hb = Multimodal.dhashBytes(base)
    assert(ham(hb, Multimodal.dhashBytes(mut)) <= Multimodal.M03HammingMax,
      "localized mutation stays within the absolute threshold")
    assert(ham(hb, Multimodal.dhashBytes(unrelated)) > 2 * Multimodal.M03HammingMax,
      "unrelated blob sits in the random cloud (~60 of 120)")
  }

  test("hammingSelfJoinWide == brute force over two-word fingerprints") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val m60 = (1L << 60) - 1
    val base = (0L until 400L).map(i => (i, rnd.nextLong() & m60, rnd.nextLong() & m60))
    val dups = base.take(40).map { case (i, f0, f1) =>
      (i + 400L, f0 ^ (1L << rnd.nextInt(60)), f1 ^ (1L << rnd.nextInt(60)))
    }
    val all = base ++ dups
    val fps = all.toDF("id", "fp0", "fp1").repartition(4)
    val brute = for {
      (ia, a0, a1) <- all; (ib, b0, b1) <- all
      if ia < ib
    } yield (ia, ib,
      java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1))
    for (maxH <- Seq(0, 2, 14)) {
      val got = Dedup.hammingSelfJoinWide(fps, Seq(60, 60), maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
      val want = brute.filter(_._3 <= maxH).toSet
      assert(got == want, s"maxH=$maxH: got ${got.size} want ${want.size}")
    }
  }

  test("hamming join kernels reject degenerate single-bucket parameterizations") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val fps = Seq((1L, 2L)).toDF("id", "fp")
    // maxH+1 > bits would yield zero-width chunks (mask 0 -> one giant
    // bucket -> silent O(n^2) join); the guard must reject it
    intercept[IllegalArgumentException] { Dedup.hammingSelfJoin(fps, 4, 4) }
    intercept[IllegalArgumentException] { Dedup.hammingSelfJoin(fps, 65, 1) }
    val wide = Seq((1L, 2L, 3L)).toDF("id", "fp0", "fp1")
    intercept[IllegalArgumentException] { Dedup.hammingSelfJoinWide(wide, Seq(60, 64), 1) }
    intercept[IllegalArgumentException] { Dedup.hammingSelfJoinWide(wide, Seq(2, 2), 4) }
    // bits=64, maxH=0: a single full-width chunk — the (1L<<64)-1 wrap
    // would mask to 0; the explicit mask keeps exact equality
    val full = Seq((1L, -1L), (2L, -1L), (3L, 0L)).toDF("id", "fp")
    val got = Dedup.hammingSelfJoin(full, 64, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("d11: span accounting tiles the corpus (total == sum of per-doc span counts)") {
    import org.apache.spark.sql.functions._
    val expected = graft.core.Tables.documents(spark, sf)
      .select(col("source"), size(split(col("text"), " ")).as("n"))
      .groupBy("source")
      .agg(sum(greatest(col("n") - (Dedup.SpanLen - 1), lit(0))).as("spans"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Dedup.d11(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(g => g._1 -> g._2).toMap == expected)
    got.foreach { case (src, total, dup, frac) =>
      assert(dup >= 0 && dup <= total, src)
      assert(frac >= 0.0 && frac <= 1.0, src)
      assert(frac == dup.toDouble / total.toDouble, src)
    }
  }

  test("p08: positions are unique, dense from 0, and round-robin by source") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.Pipeline.p08(spark, sf)
      .select(col("position"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val positions = rows.map(_._1)
    assert(positions.distinct.length == positions.length, "positions unique")
    val nSrc = rows.map(_._2).distinct.length
    // the first nSrc positions are 0..nSrc-1 with nSrc distinct sources
    // (every batch window of width nSrc sees every source once while
    // all sources still have documents remaining)
    val head = rows.sortBy(_._1).take(nSrc)
    assert(head.map(_._1).toSeq == (0L until nSrc.toLong), "dense prefix")
    assert(head.map(_._2).distinct.length == nSrc, "one doc per source per window")
    // position mod nSrc identifies the source everywhere
    val bySlot = rows.groupBy(_._1 % nSrc).view.mapValues(_.map(_._2).distinct)
    bySlot.foreach { case (slot, srcs) =>
      assert(srcs.length == 1, s"slot $slot maps to one source, got $srcs")
    }
  }

  // ---- q40: data-driven recursion depth ----

  test("q40: depth histogram equals the closed-form floor(log2(k)) counts") {
    import org.apache.spark.sql.functions._
    // the walk halves keys until reaching <=1, so depth(k) = 0 for
    // k <= 1 and floor(log2(k)) otherwise — exact over the key set,
    // whatever its range (sf0.001 keys are 0..N-1)
    def depth(k: Long): Int =
      if (k <= 1L) 0 else 63 - java.lang.Long.numberOfLeadingZeros(k)
    val expected = graft.core.Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0))
      .groupBy(depth).map { case (d, ks) => d -> ks.length.toLong }
    val got = graft.queries.Skew.q40(spark, sf)
      .select(col("depth").cast("long"), col("n_customers"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(got == expected, s"got $got expected $expected")
  }
}

/** tiny local alias so the reuse test reads naturally. */
private object Materialized {
  def exists(s: SparkSession, kind: String, fp: String): Boolean =
    graft.core.Materialize.exists(s, kind, fp)
}
