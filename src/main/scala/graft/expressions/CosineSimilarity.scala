package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Expression, Literal, Round}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused cosine-similarity kernel as a native Catalyst expression.
  *
  * The HOF formulation (graft.functions.VectorOps.cosine) walks the arrays
  * three times (dot, |a|², |b|²) and allocates an intermediate zip array;
  * the reference fuses all three accumulations into one loop
  * (DotNetVectorSearch.WebAPI/Services/VectorSearchService.cs:224-241).
  * This expression reproduces that fused single pass with whole-stage
  * codegen — no per-row allocation, three accumulators in registers.
  *
  * Semantics are IDENTICAL to VectorOps.cosine (bit-for-bit: the same
  * double additions in the same order): 0.0 when either magnitude is zero
  * (reference guard, :238-239), IllegalArgumentException on dimension
  * mismatch (reference :221-222, ArgumentException), null if either input
  * is null. Accumulation is double regardless of storage element type.
  *
  * Swap-in measured by Bench (knn_topk vs knn_topk_fused) — same plan
  * shape, cheaper projection.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float>/array<double> inputs, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.cosine(a.asInstanceOf[ArrayData], elemType(left) == FloatType,
      b.asInstanceOf[ArrayData], elemType(right) == FloatType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val yGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "cosine_sim: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double xv = (double) $a.$xGet($i);
         |  final double yv = (double) $b.$yGet($i);
         |  $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** THE fused loop, shared by the interpreted [[CosineSimilarity]] and
    * the driver-side graph walk (`Hnsw`'s resident copy): dot, |x|² and
    * |y|² accumulate in doubles in index order, whatever the element
    * type of either array — so a sim computed on the driver is bit-for-bit
    * the one the expression computes on an executor. The codegen path
    * emits this same loop as Java source.
    */
  def cosine(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double = {
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: dimension mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark's own `round(_, 6)` — the [[Round]] expression itself, bound
    * to a one-column row — so driver-side rounding cannot drift from the
    * plan's.
    */
  private val roundExpr = Round(BoundReference(0, DoubleType, nullable = false), Literal(6))

  /** `round(x, 6)` evaluated on the driver by Spark's own expression. */
  def round6(x: Double): Double = roundExpr.eval(InternalRow(x)).asInstanceOf[Double]

  /** `round(cosine_sim(x, y), 6)` evaluated on the driver: the kernel
    * above, then Spark's 6-dp rounding.
    */
  def roundedCosine(x: ArrayData, xFloat: Boolean, y: ArrayData, yFloat: Boolean): Double =
    round6(cosine(x, xFloat, y, yFloat))
}
