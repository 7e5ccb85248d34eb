package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Upward-sweep corpus builder + timer: derives k-times corpora from
  * sf0.1 by id-offset duplication (exact copies — near-dup pair output
  * grows ~k^2, the worst case for output-bound kernels) and times the
  * requested queries at each multiple. Usage:
  *   Test/runMain graft.tools.SweepDup build      # write /tmp/graft_sweep/x{2,5}
  *   Test/runMain graft.tools.SweepDup build10    # x10 (the round-22 order-of-magnitude point)
  *   Test/runMain graft.tools.SweepDup abuild     # x{20,50} embeddings-only (a-suite)
  *   Test/runMain graft.tools.SweepDup time d07_neardup_clusters d09_dedup_savings
  * `time` walks sf0.1 + x2 + x5 by default; set SWEEP_DIRS to a comma-
  * separated dir list to override (e.g. the a-suite x20/x50 points).
  * a06/a07/a08 get extra per-dir diagnostics: a06 candidate volume
  * (ADC scorings after coarse pruning), a07's derived K, a08's
  * within-cluster pair volume — the three numbers whose growth decides
  * whether the ANN path survives 100 TB.
  */
object SweepDup {
  val Multiples = Seq(2, 5)
  /** Embeddings-only multiples past the K(N) knee (N > 8·4096 = 32768
    * vectors engages the census-derived K) — documents are not
    * duplicated at these points, so only a-suite queries may run there. */
  val AnnMultiples = Seq(20, 50)
  val Src = "/root/testdata/sf0.1"
  def dirFor(k: Int): String = s"/tmp/graft_sweep/x$k"

  def main(args: Array[String]): Unit = {
    // State provider is SHIPPED CONFIG since round 18: the admission
    // tier (s14-class pair-volume state) selects the disk-backed
    // RocksDB provider by itself (Replay.admissionSession) —
    // the x5 sweep point (~40M in-flight pair keys, which OOMs the
    // in-memory HDFS provider) completes on defaults, no knob needed.
    // SWEEP_STATE_PROVIDER=rocksdb remains for experiments: it forces
    // the disk-backed provider on EVERY stateful entry.
    val spark = graft.Session(32, sys.env.get("SWEEP_STATE_PROVIDER").toSeq.flatMap {
      case "rocksdb" => Seq("spark.sql.streaming.stateStore.providerClass" ->
        graft.streaming.Replay.RocksDbProvider)
      case _ => Nil
    }: _*)
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption match {
      case Some("build") => build(spark, Multiples)
      case Some("build10") => build(spark, Seq(10))
      case Some("abuild") => abuild(spark)
      case Some("time") => time(spark, args.drop(1).toSeq)
      case _ => System.err.println(
        "usage: SweepDup build | build10 | abuild | time <query...>")
    }
    spark.stop()
  }

  private val Offset = 10L * 1000 * 1000

  private def build(spark: SparkSession, multiples: Seq[Int]): Unit = {
    val docs = spark.read.parquet(s"$Src/documents.parquet")
    val embs = spark.read.parquet(s"$Src/embeddings.parquet")
    // events duplicated with offset event/user ids but UNCHANGED
    // timestamps: the window set stays fixed while rows-per-window
    // scale — so window-keyed state (s02/s09) must stay flat and
    // user-keyed state (s01) must scale with k; the s-suite sweep
    // measures exactly that split via Replay.lastStateRows.
    val evs = spark.read.parquet(s"$Src/events.parquet")
    multiples.foreach { k =>
      val d = (0 until k).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * Offset)))
        .reduce(_ union _)
      val e = (0 until k).map(i => embs.withColumn("vec_id", col("vec_id") + lit(i * Offset)))
        .reduce(_ union _)
      val ev = (0 until k).map(i => evs
          .withColumn("event_id", col("event_id") + lit(i * Offset))
          .withColumn("user_id", col("user_id") + lit(i * Offset)))
        .reduce(_ union _)
      d.write.mode("overwrite").parquet(s"${dirFor(k)}/documents.parquet")
      e.write.mode("overwrite").parquet(s"${dirFor(k)}/embeddings.parquet")
      ev.write.mode("overwrite").parquet(s"${dirFor(k)}/events.parquet")
      println(s"[sweep] built x$k: ${d.count()} docs, ${e.count()} vectors, ${ev.count()} events")
    }
  }

  private def abuild(spark: SparkSession): Unit = {
    val embs = spark.read.parquet(s"$Src/embeddings.parquet")
    AnnMultiples.foreach { k =>
      val e = (0 until k).map(i => embs.withColumn("vec_id", col("vec_id") + lit(i * Offset)))
        .reduce(_ union _)
      e.write.mode("overwrite").parquet(s"${dirFor(k)}/embeddings.parquet")
      println(s"[sweep] built x$k (embeddings only): ${e.count()} vectors")
    }
  }

  private def time(spark: SparkSession, names: Seq[String]): Unit = {
    // warm-up (shared codegen/IO paths)
    spark.read.parquet(s"$Src/documents.parquet").count()
    // BOTH frozen ambient probes (round 19: the state-rail protocol
    // stamps the same light/heavy controls as the bench, so rail rows
    // are control-normalizable against the round's freeze)
    def stampControls(tag: String): Unit = {
      val c = graft.Bench.controlProbe(spark, Src)
      val c2 = graft.Bench.controlProbe2(spark, Src)
      println(f"[sweep] control@$tag ${c}%.3f / control2 ${c2}%.3f")
    }
    stampControls("pre")
    val reps = sys.env.getOrElse("SWEEP_REPS", "3").toInt
    val dirs = sys.env.get("SWEEP_DIRS") match {
      case Some(ds) => ds.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      case None => Seq(Src) ++ Multiples.map(dirFor)
    }
    dirs.foreach { dir =>
      names.foreach { n =>
        val times = (1 to reps).map { _ =>
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          System.gc()
          val t0 = System.nanoTime()
          val rows = graft.SparkEntry.queries(n)(spark, dir).count()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        val med = times.map(_._1).sorted.apply(reps / 2)
        println(f"[sweep] $n @ $dir: median $med%.2fs " +
          f"(all ${times.map(t => f"${t._1}%.2f").mkString("/")}) rows=${times.head._2}" +
          (if (n.startsWith("d07")) s" rounds=${graft.ops.Dedup.lastCcRounds}" else ""))
        diag(spark, n, dir)
      }
    }
    stampControls("post")
  }

  /** Scale diagnostics for the ANN kernels — the candidate/pair volumes
    * the BASELINE.md exponents are explained against. */
  private def diag(spark: SparkSession, n: String, dir: String): Unit = {
    if (n.matches("^s\\d.*") && graft.streaming.Replay.lastStateRows >= 0)
      // peak stateOperators.numRowsTotal of the replay just timed —
      // the measured number behind the window/session state claims
      // (s09 ≈ 4× s02 on the same stream; flat in k on the id-offset
      // sweep since the window set is fixed, while s01's user-keyed
      // state scales with k)
      println(s"[sweep]   $n state rows @ $dir: ${graft.streaming.Replay.lastStateRows}")
    if (n.startsWith("a06"))
      println(s"[sweep]   a06 candidate volume @ $dir: " +
        s"${graft.ops.Ann.a06CandidateVolume(spark, dir)} ADC scorings")
    if ((n.startsWith("a07") || n.startsWith("a08")) &&
        graft.core.Materialize.exists(spark, graft.core.Materialize.scopedKind("kmeans", dir),
          graft.ops.Ann.kmeansFingerprint(spark, dir))) {
      // READ the published assignment table (guarded on it existing:
      // a07 in the timed list publishes it, so readOrCompute is a
      // parquet scan — timing a08 alone must NOT silently pay a full
      // k-means training inside an untimed diagnostic)
      val asg = graft.ops.Ann.assignmentTable(spark, dir)
        .groupBy("cluster").agg(count(lit(1)).as("n"))
      val row = asg.agg(
        count(lit(1)).as("k"),
        sum(expr("n * (n - 1) DIV 2")).as("pairs"),
        max(col("n")).as("maxc"),
        sum(col("n")).as("nvec")).head()
      // derived K(N) printed separately: empty clusters drop out of the
      // assignment (standard Lloyd), so the observed non-empty count
      // can undershoot the derivation without anything being broken
      val derivedK = graft.ops.Ann.kmeansKFor(row.getLong(3))
      println(s"[sweep]   ${n.take(3)} K(N)=$derivedK non-empty=${row.getLong(0)} " +
        s"within-cluster pairs=${row.getLong(1)} max cluster=${row.getLong(2)}")
    }
  }
}
