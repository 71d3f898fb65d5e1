package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash fingerprint as a native Catalyst expression with
  * whole-stage codegen: ONE pass over the token-hash array carrying
  * all 64 bit-counters, where the HOF formulation
  * `aggregate(sequence(0,63), ..., aggregate(hashes, ...))` it
  * replaces re-traverses the array 64 times with interpreted lambdas.
  *
  * Bit j of the result is set iff Σ over hashes h of
  * (±1 by bit j of h) is positive — identical to the HOF form
  * including its quirks (a NULL hash contributes −1 to every counter,
  * the HOF CASE's ELSE branch; an empty array yields fingerprint 0),
  * pinned bit-for-bit in DedupSpec.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires array<bigint> token hashes, got ${dt.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        var j = 0
        while (j < 64) { counts(j) -= 1; j += 1 }
      } else {
        val h = arr.getLong(i)
        var j = 0
        while (j < 64) {
          counts(j) += (if (((h >>> j) & 1L) != 0L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val counts = ctx.freshName("counts")
      val fp = ctx.freshName("fp")
      s"""
         |final int $n = $c.numElements();
         |final int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) {
         |    for (int $j = 0; $j < 64; $j++) $counts[$j] -= 1;
         |  } else {
         |    final long $h = $c.getLong($i);
         |    for (int $j = 0; $j < 64; $j++) {
         |      $counts[$j] += ((($h >>> $j) & 1L) != 0L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $fp = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($counts[$j] > 0) $fp |= (1L << $j);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Register as `graft_simhash(hashes)`. Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    NativeFunctions.register(spark,
      "graft_simhash", exprs => SimHash64(exprs.head))
}
