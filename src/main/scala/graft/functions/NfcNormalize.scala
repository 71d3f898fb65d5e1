package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression with
  * whole-stage codegen (`graft_nfc`) — the canonicalization step that
  * belongs BEFORE any content hash in a text pipeline: "é" arrives
  * from the web both precomposed (U+00E9) and decomposed
  * (e + U+0301), and without NFC the two spellings of the same
  * document hash apart, defeating exact dedup, minhash shingles, and
  * content fingerprints alike.
  *
  * Spark ships no normalization builtin; the usual fallback is a
  * Scala UDF, which serializes every row out of the generated loop.
  * This stays inside codegen like [[RollingHash]]. An all-ASCII
  * string (the overwhelming case in English-heavy corpora) is
  * returned UNTOUCHED after a byte scan — no java.text.Normalizer
  * call, no copy; `java.text.Normalizer.isNormalized` short-circuits
  * most of the rest.
  *
  * Engine-replayable: NFC is a Unicode-standard pure function, so
  * DuckDB's `nfc_normalize` computes the identical bytes
  * (q_normalize_text hash-pins it end-to-end). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** Static so generated code can call it directly. */
  def nfc(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) { // non-ASCII byte → the slow path decides
        val str = s.toString
        return if (java.text.Normalizer.isNormalized(str,
            java.text.Normalizer.Form.NFC)) s
        else UTF8String.fromString(java.text.Normalizer.normalize(str,
          java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    s // pure ASCII is NFC by construction — zero-copy
  }

  /** Register as a SQL function (same registry path as
    * [[RollingHash.register]]). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    NativeFunctions.register(spark,
      "graft_nfc", exprs => NfcNormalize(exprs.head))
}
