// Serving-shape sweep for s11 (round 14). Run:
//   sbt "Test/runMain graft.tools.SweepDup abuild"   # once: x20/x50 corpora
//   sbt "Test/runMain graft.tools.S11Sweep"
//
// The round-13 verdict graded s11 `weak` because the one-row broadcast
// bundle has a single-row ceiling a 100x index would hit; round 14
// shipped the per-cluster sharded serve as code, spec-pinned equal.
// This harness MEASURES the two shapes where they diverge: sf0.1 (8k
// vectors, the gate point where the one-row path is the chosen fast
// path) and the x20/x50 embeddings sweep corpora (160k/400k vectors,
// the a-suite scale rail past the K(N) knee). Reported per point:
//   - live index entries + the one-row bundle's estimated payload bytes
//     (the quantity with the 2 GiB ceiling) and the sharded serve's
//     max-shard entries (the quantity that stays bounded per cluster);
//   - warm wall seconds for each shape (cold run first, unreported —
//     artifact publish; the serve is what a deployment repays per query
//     stream) and row-for-row equality of the two answers.
// Numbers land in BASELINE.md ("s11 serving shapes at the ANN sweep").
package graft.tools

object S11Sweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session(32)
    spark.sparkContext.setLogLevel("ERROR")

    val dirs = sys.env.get("SWEEP_DIRS") match {
      case Some(s) => s.split(",").toSeq
      case None => Seq(SweepDup.Src) ++ SweepDup.AnnMultiples.map(SweepDup.dirFor)
    }
    dirs.foreach { d =>
      if (!new java.io.File(s"$d/embeddings.parquet").exists())
        sys.error(s"$d missing — run SweepDup abuild first")
      // ---- index/bundle geometry (the ceiling vs the bounded shard) ----
      val shards = graft.ops.Ann.ivfpqServeShards(spark, d)
        .selectExpr("cluster", "size(entries) AS n").collect()
      val entries = shards.map(_.getInt(1).toLong).sum
      val maxShard = if (shards.isEmpty) 0L else shards.map(_.getInt(1).toLong).max
      // per-entry payload in the pivoted bundle: vec_id + cluster (8 B
      // each) + PqSubspaces longs of codes + array headers (~16 B)
      val estRowBytes = entries * (8L + 8L + 8L * graft.ops.Ann.PqSubspaces + 16L)

      def timeWarm(tag: String)(f: => Seq[Seq[Any]]): (Double, Seq[Seq[Any]]) = {
        val cold = f // publishes artifacts / fills caches; unreported
        val t0 = System.nanoTime()
        val rows = f
        val secs = (System.nanoTime() - t0) / 1e9
        require(rows == cold, s"$tag: warm rerun diverged from cold run")
        (secs, rows)
      }
      val (oneRowS, oneRow) = timeWarm("one-row")(
        graft.streaming.Replay.s11OneRow(spark, d).collect().map(_.toSeq).toSeq)
      val (shardedS, sharded) = timeWarm("sharded")(
        graft.streaming.Replay.s11Sharded(spark, d).collect().map(_.toSeq).toSeq)
      val equal = oneRow == sharded
      println(f"""{"metric":"s11_shapes","dir":"$d","live_entries":$entries,""" +
        f""""bundle_row_mb":${estRowBytes / 1048576.0}%.1f,"n_shards":${shards.length},""" +
        f""""max_shard_entries":$maxShard,"one_row_warm_s":$oneRowS%.2f,""" +
        f""""sharded_warm_s":$shardedS%.2f,"equal":$equal}""")
      require(equal, s"$d: sharded != one-row — the spec invariant broke at scale")
    }
    spark.stop()
  }
}
