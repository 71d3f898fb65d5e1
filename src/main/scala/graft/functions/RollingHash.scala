package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint as a native Catalyst
  * expression with whole-stage codegen — the "custom Expression beats
  * UDF" extension point: no serialization boundary, stays inside the
  * generated loop.
  *
  * hash = Σ byte_i · B^(n-1-i)  (mod M), B = 131, M = 2^61 - 1,
  * over the UTF-8 bytes. Deterministic, order-sensitive (unlike a
  * bag-of-words hash), cheap to compute streaming — the classic
  * content-fingerprint shape used for shift-detection and doc
  * identity in text pipelines.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val B = 131L
  final val M = (1L << 61) - 1 // Mersenne prime 2^61-1

  /** Static so generated code can call it directly. mulmod keeps the
    * 122-bit product exact via Math.multiplyHigh. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = addMod(mulMod(h, B), (bytes(i) & 0xffL) % M)
      i += 1
    }
    h
  }

  private def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // (hi·2^64 + lo) mod (2^61-1): 2^64 ≡ 8 (mod M)
    val part = addMod(mulMod8(hi), lo & M)
    addMod(part, lo >>> 61)
  }

  private def mulMod8(hi: Long): Long = {
    // hi < 2^61 after inputs < M; hi*8 may exceed M — fold twice
    val x = hi << 3
    addMod(x & M, x >>> 61)
  }

  private def addMod(a: Long, b: Long): Long = {
    val s = a + b
    if (s >= M) s - M else s
  }

  /** Register as a SQL function so `expr("rolling_hash(c)")` works
    * (Column-from-Expression construction is not public API in
    * Spark 4; the function registry is). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    NativeFunctions.register(spark,
      "rolling_hash", exprs => RollingHash(exprs.head))
}
