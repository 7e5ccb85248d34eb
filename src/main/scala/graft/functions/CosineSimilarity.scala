package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

object CosineSimilarity {
  /** Column-API entry point for [[QuantizedCosineSimilarity]]. */
  def quantized_cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftInterop.column(
      QuantizedCosineSimilarity(org.apache.spark.sql.GraftInterop.expression(a),
        org.apache.spark.sql.GraftInterop.expression(b)))
}

/** Quantized-integer cosine: inputs are ARRAY<BIGINT> (3-decimal
  * quantized embeddings, floor(x*1000)). Dot product and both squared
  * norms accumulate in exact Long arithmetic, then one double division
  * over `sqrt((double)nx * (double)ny)` — the identical operation
  * sequence a SQL engine runs for
  * `CAST(dot AS DOUBLE)/SQRT(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE))`,
  * so results are bit-exact across engines (unlike float accumulation,
  * where summation order matters). A native Catalyst expression with
  * full whole-stage codegen: `doGenCode` emits a fused primitive loop
  * (no boxing, no UDF serialization) inside the generated stage, and
  * the interpreted path accumulates in the same order.
  */
case class QuantizedCosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "quantized_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var nx = 0L; var ny = 0L; var i = 0
    while (i < n) {
      val xv = x.getLong(i)
      val yv = y.getLong(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    if (nx == 0L || ny == 0L) 0.0
    else dot.toDouble / math.sqrt(nx.toDouble * ny.toDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L, $nx = 0L, $ny = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0L || $ny == 0L) ? 0.0
         |  : ((double) $dot) / java.lang.Math.sqrt(((double) $nx) * ((double) $ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
