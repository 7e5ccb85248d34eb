package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.streaming.LocalCheckpointFileManager

/** SparkSessionExtensions entry point:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or: spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Injects [[GraftExtensions.OptimizerRules]] and `TopKStrategy`:
  * Filter(row_number<=K) over a Window becomes the bounded-heap
  * TopKPerKeyExec (q25 and a01 plan through it). Each injected rule
  * rewrites at least one declared entry; PlanAuditSpec meters that.
  *
  * It also installs the JVM-wide engine defaults before the session's
  * SparkContext exists; see [[GraftExtensions.Defaults]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.Defaults.foreach { case (k, v) => System.getProperties.putIfAbsent(k, v) }
    GraftExtensions.OptimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  /** The optimizer rules `apply` injects. */
  val OptimizerRules: Seq[Rule[LogicalPlan]] = Seq(TopKRewriteRule)

  /** JVM-wide engine defaults, each put as a system property, only if
    * absent. `Builder.withExtensions` runs `apply` at once, before
    * `build()` creates the `SparkConf` that reads `spark.*` system
    * properties, so the first SparkContext, and every session conf it
    * seeds, sees them. A value from `.config`, `--conf` or `-D` still
    * wins. Sessions that load graft through `spark.sql.extensions`
    * apply it after their SparkContext exists and must set all three
    * themselves.
    *
    *  - codegen cache 1000 (Spark's is 100): Spark keeps every class
    *    Janino compiles in ONE JVM-wide cache, sized once from this
    *    static conf. The perfbench mix generates ~190 sources, and Guava
    *    splits the cache into 4 LRU segments of `maxEntries/4`, so at 100
    *    each pass recompiled what the last pass had compiled.
    *  - the java.nio checkpoint manager: Spark's default starts child
    *    processes for every checkpoint file on a host without the Hadoop
    *    native library. Non-`file:` paths still go to Spark's default.
    *  - artifact isolation off: the cache above is keyed on the context
    *    classloader, and with isolation each session (every streaming
    *    query runs on a clone) gets its own, so each query recompiled
    *    its sources. Off, `addArtifact` jars and files are visible to
    *    every session; graft adds none. */
  val Defaults: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    LocalCheckpointFileManager.ClassKey -> classOf[LocalCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")
}
