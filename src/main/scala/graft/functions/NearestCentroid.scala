package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Nearest-centroid assignment as ONE fused expression:
  * `graft_nearest_centroid(v, centroids)` → `struct(cluster int, d2 double)`
  * where `centroids` is an `array<array<double>>` (in practice a plan
  * literal — the model is k×dim doubles, trivially literal-sized).
  *
  * Exists because both prior assignment mechanisms are wrong somewhere
  * (the trade is documented at [[graft.operators.KMeans.assignWith]]):
  * the literal-centroid EXPRESSION TREE costs O(k·dim) driver
  * codegen/compile (measured ~2 s of plan time at k=31 — the round-8
  * perf-dead-end), and the broadcast-rows + argmin-aggregate plan is a
  * shuffle stage — fine in batch, but a streaming monitor needs
  * assignment as a STATELESS PROJECTION (aggregation on a stream is
  * state). This expression is constant plan size in k AND map-only: the
  * k×dim loop runs fused inside whole-stage codegen, one row in, one
  * struct out.
  *
  * Numerics are bit-identical to `assignWith` (pinned in
  * NearestCentroidSpec): per centroid the squared distance accumulates
  * left-to-right exactly like the `zip_with`+`aggregate` fold, and the
  * strict `<` keeps the EARLIEST minimal centroid — the same
  * (d2 asc, cluster asc) tie-break as assignWith's min-struct.
  *
  * Edge contract: empty centroid list → NULL; any centroid whose length
  * differs from the vector's → NULL (a malformed model must surface as
  * missing assignments, never as a silent partial argmin).
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val okVec = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    val okCents = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _                                      => false
    }
    if (okVec && okCents) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<double>, array<array<double>>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))

  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(v: Any, cs: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val cvs = Array.tabulate(cents.numElements())(cents.getArray)
    if (cvs.isEmpty || cvs.exists(cv => cv == null || cv.numElements() != x.numElements()))
      return null
    val (bestC, bestD) = NearestCentroid.nearest(x.toDoubleArray(), cvs.map(_.toDoubleArray()))
    new GenericInternalRow(Array[Any](bestC, bestD)): InternalRow
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val k = ctx.freshName("k")
      val dim = ctx.freshName("dim")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val cv = ctx.freshName("cv")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val bestC = ctx.freshName("bestC")
      val bestD = ctx.freshName("bestD")
      val bad = ctx.freshName("bad")
      s"""
         |int $k = $cs.numElements();
         |int $dim = $v.numElements();
         |int $bestC = -1;
         |double $bestD = Double.POSITIVE_INFINITY;
         |boolean $bad = ($k == 0);
         |for (int $c = 0; !$bad && $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $cs.getArray($c);
         |  if ($cv == null || $cv.numElements() != $dim) { $bad = true; break; }
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    double $t = $v.getDouble($i) - $cv.getDouble($i);
         |    $d += $t * $t;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $bestC = $c; }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{$bestC, $bestD});
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

object NearestCentroid {

  /** The one argmin definition, shared by the interpreted path and the
    * driver-side k-means trainer (the generated code spells out the same
    * loop): per centroid a left-to-right squared-difference fold, and a
    * strict `<` keeps the EARLIEST minimal centroid. Returns (cluster, d2);
    * callers guarantee a non-empty model whose centroids match `x`'s length.
    */
  def nearest(x: Array[Double], cents: Array[Array[Double]]): (Int, Double) = {
    var bestC = -1
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d = 0.0
      var i = 0
      while (i < x.length) {
        val t = x(i) - cv(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; bestC = c }
      c += 1
    }
    (bestC, bestD)
  }
}
