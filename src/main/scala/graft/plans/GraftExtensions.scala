package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{CosineSimilarity, NonZeroVector}

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
  * It also sizes Spark's compiled-class cache before the session's
  * SparkContext exists; see [[GraftExtensions.CodegenCacheEntries]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    System.getProperties.putIfAbsent(
      GraftExtensions.CodegenCacheKey, GraftExtensions.CodegenCacheEntries.toString)
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
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Default for [[CodegenCacheKey]] (Spark's is 100). Spark keeps every
    * class Janino compiles in ONE JVM-wide cache, sized once when
    * `CodeGenerator` first runs from this static conf. A graft working
    * set is larger than 100 sources (the perfbench mix generates ~190),
    * and Guava splits the cache into 4 LRU segments of `maxEntries/4`,
    * so at 100 each pass evicted and recompiled what the last pass had
    * compiled, and C2 then recompiled every freshly loaded class.
    *
    * It is set as a JVM system property, and only if absent:
    * `Builder.withExtensions` runs `apply` at once, before `build()`
    * creates the `SparkConf` that reads `spark.*` system properties, so
    * the first SparkContext (and with it the cache) sees it. A value
    * from `.config`, `--conf` or `-D` still wins. Sessions that load
    * graft through `spark.sql.extensions` apply it after their
    * SparkContext exists and must set the conf themselves. */
  val CodegenCacheEntries = 1000
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
