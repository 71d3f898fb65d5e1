package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Vector dot product as a native Catalyst expression with whole-stage
  * codegen — the hot inner loop of every similarity operator (ANN
  * top-k, IVF and LSH probes, hyperplane signatures, near-dup cosine
  * verify). The `aggregate(zip_with(...))` higher-order-function
  * formulation it replaces is evaluated with interpreted lambdas —
  * one closure call per element per row; this compiles to a tight
  * primitive `for` loop inside the generated stage.
  *
  * Semantics match the HOF formulation bit-for-bit so the DuckDB
  * oracles are unaffected: elements widen to double and accumulate
  * sequentially left-to-right; mismatched lengths or a NULL element
  * yield NULL (the zip_with pad / null-poisoning behavior).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two array<float|double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  // non-null children can still produce NULL (length mismatch / NULL element)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val af = elemIsFloat(left)
    val bf = elemIsFloat(right)
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val getA =
        if (elemIsFloat(left)) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      val getB =
        if (elemIsFloat(right)) s"(double) $b.getFloat($i)"
        else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += $getA * $getB;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $sum; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Register as a SQL function so `expr("graft_dot(a, b)")` works
    * (Column-from-Expression construction is not public API in
    * Spark 4; the function registry is). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    NativeFunctions.register(spark,
      "graft_dot", exprs => DotProduct(exprs.head, exprs(1)))
}
