package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{CosineSimilarity, NonZeroVector}
import graft.streaming.LocalCheckpointFileManager

/** SparkSessionExtensions entry point:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or: spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Injects:
  *  - SQL function `cosine_similarity(a, b)` backed by the native
  *    codegen expression (usable from spark.sql text, not just the
  *    Column API);
  *  - `SelfCosineRule`, an optimizer rule folding
  *    cosine_similarity(x, x) to 1.0 — a self-join ANN pipeline emits
  *    exactly this on the diagonal, and folding it prunes the dominant
  *    branch of the filter;
  *  - `TopKRewriteRule`/`TopKStrategy`: Filter(row_number<=K) over a
  *    Window becomes the bounded-heap TopKPerKeyExec;
  *  - `HammingJoinRule`: `bit_count(a ^ b) <= k` theta joins (planned
  *    as nested loops by stock Spark) become pigeonhole chunk
  *    equi-joins with exact recall (graft.ops.Dedup.hammingSelfJoin
  *    is the hand-written kernel d03 and m03 call; both share
  *    `Pigeonhole`'s chunk layout).
  *
  * It also installs the JVM-wide engine defaults before the session's
  * SparkContext exists; see [[GraftExtensions.Defaults]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.Defaults.foreach { case (k, v) => System.getProperties.putIfAbsent(k, v) }
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("quantized_cosine"),
      new ExpressionInfo(classOf[graft.functions.QuantizedCosineSimilarity].getName,
        "quantized_cosine"),
      (children: Seq[Expression]) =>
        graft.functions.QuantizedCosineSimilarity(children(0), children(1))))
    e.injectFunction((
      new FunctionIdentifier("non_zero_vector"),
      new ExpressionInfo(classOf[NonZeroVector].getName, "non_zero_vector"),
      (children: Seq[Expression]) => NonZeroVector(children(0))))
    // hyperplane_bucket(q, numPlanes): numPlanes must be a foldable INT
    e.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneBucket].getName,
        "hyperplane_bucket"),
      (children: Seq[Expression]) => children(1) match {
        case Literal(p: Int, _) => graft.functions.HyperplaneBucket(children(0), p)
        case other => throw new IllegalArgumentException(
          s"hyperplane_bucket: numPlanes must be an INT literal, got $other")
      }))
    e.injectOptimizerRule(_ => SelfCosineRule)
    e.injectOptimizerRule(_ => TopKRewriteRule)
    e.injectOptimizerRule(_ => HammingJoinRule)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
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

/** cosine_similarity(x, x) == 1.0 for any non-degenerate x; fold the
  * diagonal of self-join similarity pipelines to
  * `IF(non_zero_vector(x), 1.0, 0.0)` — exact on the all-zero vector
  * (runtime cosine yields 0.0 there, matching CosineSimilarity's
  * `nx == 0 => 0.0` branch) while still eliminating the O(n)
  * dot-product loop: NonZeroVector short-circuits at the first non-zero
  * element. The fold only fires on NON-NULLABLE inputs: the expression
  * is null-propagating (NULL vector -> NULL sim), and If(NULL, ..)
  * would take the else branch instead of propagating. */
object SelfCosineRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CosineSimilarity(a, b) if a.deterministic && !a.nullable && a.semanticEquals(b) =>
      If(NonZeroVector(a), Literal(1.0), Literal(0.0))
  }
}
