package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Bench, Rail, Verify, the
  * CLI, every test suite and every diagnostic tool plan with the same
  * planner under the same conf table:
  *
  *  - `GraftExtensions` (the shipped SQL functions and plan rules);
  *  - `local[cpus]`, one shuffle partition per core;
  *  - UTC session time zone;
  *  - Spark UI off;
  *  - the bench's 64 MiB broadcast-join threshold, so every harness
  *    plans the joins the bench measures.
  *
  * Callers add only their own settings (a mat dir, a warehouse dir, a
  * spec's legacy flag), as `key -> value` pairs applied after the
  * table. */
object Session {
  /** `SPARK_GRAFT_CPUS` if set, else the caller's default. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString)

  def apply(cpus: Int, settings: (String, String)*): SparkSession =
    (conf(cpus) ++ settings).foldLeft(SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions)
        .master(s"local[$cpus]")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
}
