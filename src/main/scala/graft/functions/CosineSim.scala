package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd cosine similarity over two array<double> columns — the fused
  * form of `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))`.
  *
  * Rationale (SURVEY.md §4 decision record, same escalation case as
  * [[DotProduct]]): brute-force similarity scans evaluate the cosine in
  * the innermost |probes| × |corpus| loop. Composing three `dot_product`
  * calls walks each array three times and re-derives the probe norm per
  * pair; this kernel walks each array once, accumulating dot and both
  * squared norms in the same pass — ~3× less memory traffic in the loop
  * that dominates the scan.
  *
  * Arithmetic note: each accumulator is the same sequential left-to-right
  * fold as the composed form, and the final combination
  * `dot / (sqrt(na) * sqrt(nb))` is the exact expression the composed
  * form evaluates — results are bit-identical to the three-pass version
  * (DotProductSpec asserts this), so swapping it into an oracle-declared
  * query cannot change a hash.
  *
  * Zero-norm inputs yield NaN (0/0) — identical to the composed form.
  *
  * Usage: `graft.functions.cosineSim(a, b)`; SQL users call
  * `cosine_sim(a, b)` after `graft.functions.registerAllFunctions`.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $a.getDouble($i);
          double $yi = $b.getDouble($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}
