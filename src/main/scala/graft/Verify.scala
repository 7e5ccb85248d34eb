package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (builder-side iteration only — the driver passes
    // two): comma-separated entry-name prefixes; dump only those
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq.map(_.trim)) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = Session(Session.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    // fixture-drift tripwire (round-10 postmortem): one loud stdout line
    // naming any corpus column whose loaded type drifted from FIXTURES.md
    val probeLine = graft.core.SchemaProbe.report(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // per-query storage hygiene (same contract as Bench.cleanStorage):
    // queries persist intermediates they consume twice and rely on the
    // harness to release them — without this the 60+-query verify run
    // accumulates every query's cached tables (MEMORY_AND_DISK spills
    // rather than fails, but the storage pressure is avoidable)
    def cleanStorage(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        cleanStorage()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        cleanStorage()
        // delete any STALE output of a previous run: a failed query must
        // read as MISSING downstream, not silently pass on old results
        val p = Paths.get(s"$outDir/$name")
        if (Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          val st = Files.walk(p)
          try st.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
          finally st.close() // walk holds DirectoryStreams until closed
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(probeLine) // re-print at the tail so a capture window sees it
    spark.stop()
  }
}
