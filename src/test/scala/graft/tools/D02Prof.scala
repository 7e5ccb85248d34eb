// Throwaway profiling harness for d02's phases (round 9). Run:
//   sbt "Test/runMain graft.tools.D02Prof [sfDir]"
package graft.tools

object D02Prof {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session(32)
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[d02prof] $tag: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    // warm
    spark.read.parquet(s"$dir/documents.parquet").count()
    import org.apache.spark.sql.functions._
    val (bandRows, cand) = graft.ops.Dedup.d02Internals(spark, dir)
    t("signature pass (bandRows)")(println("  rows=" + bandRows.count()))
    val b = bandRows.select(col("i").as("j"), col("band").as("band_b"),
      col("sig").as("sig_b"), col("n").as("nb"))
    t("raw collisions (no prune/firstMatch)")(println("  raw=" +
      bandRows.join(b, col("band") === col("band_b") &&
        col("sig") === col("sig_b") && col("i") < col("j")).count()))
    t("after size prune")(println("  pruned=" +
      bandRows.join(b, col("band") === col("band_b") &&
        col("sig") === col("sig_b") && col("i") < col("j") &&
        greatest(col("n"), col("nb")) <= lit(2) * least(col("n"), col("nb"))).count()))
    // `cand` IS the distinct-over-slim-pairs shape since round 9 — the
    // first-match array-carriage variant it replaced measured 14.6 s
    // on this corpus against 2.6 s for the distinct (see the d02
    // scaladoc); this timing guards against regressing that choice
    t("candidates on warm bandRows")(println("  cands=" + cand.count()))
    spark.catalog.clearCache()
    t("full d02 cold")(graft.ops.Dedup.d02(spark, dir).count())
    spark.stop()
  }
}
