package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native cosine-similarity expression over two `array<double>` columns.
  *
  * Replaces the `zip_with` + three `aggregate` higher-order folds the
  * declarative formulation needs: HOFs evaluate one interpreted lambda
  * call per element and allocate an intermediate array per row, while this
  * expression emits one fused whole-stage-codegen loop — no allocation,
  * no virtual calls — which is what a 100 TB similarity scan needs.
  *
  * Numerics on equal-length, nonzero-norm inputs are IDENTICAL to the fold
  * formulation and to DuckDB's `list_cosine_similarity` (verified
  * bit-equal): each accumulator (dot, |a|², |b|²) receives the same
  * additions in the same left-to-right order, then
  * `dot / (sqrt(na) * sqrt(nb))`, clamped to [-1, 1].
  *
  * Edge-case contract (explicit, where DuckDB raises an error):
  *   - mismatched array lengths → NULL (never a silent min-length truncation);
  *   - a zero-norm input vector → NULL (cosine is undefined; NaN must not
  *     leak through the clamp).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // NULL is produced for defined inputs (mismatch / zero norm), not only
  // propagated from null children.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      // NULL, never NaN (r18 review): Inf/Inf (both accumulators
      // overflowing) and NaN lanes previously leaked NaN through the
      // clamp, poisoning downstream comparisons the doc promises are
      // clamped; a finite-overflow quotient (Inf/finite) still clamps
      val r = dot / denom
      if (denom == 0.0 || java.lang.Double.isNaN(r)) null
      else math.max(-1.0, math.min(1.0, r))
    }
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
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  double ${denom}_r = $dot / $denom;
         |  if ($denom == 0.0 || java.lang.Double.isNaN(${denom}_r)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = java.lang.Math.max(-1.0, java.lang.Math.min(1.0, ${denom}_r));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
