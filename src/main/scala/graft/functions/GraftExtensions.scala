package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers graft's native Catalyst
  * functions at session build time, so a cluster can enable them with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (no per-session registration call needed).
  *
  * Equivalent per-session path: [[RollingHash.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSignature(children.head,
        children(1).eval() match { case i: Int => i; case l: Long => l.toInt },
        children(2).eval() match { case l: Long => l; case i: Int => i.toLong })))
    ext.injectFunction((
      FunctionIdentifier("graft_chargrams"),
      new ExpressionInfo(classOf[CharGramHashes].getName, "graft_chargrams"),
      (children: Seq[Expression]) => CharGramHashes(children.head,
        children(1).eval() match { case i: Int => i; case l: Long => l.toInt })))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "graft_shingles"),
      (children: Seq[Expression]) => WordShingleHashes(children.head,
        children(1).eval() match { case i: Int => i; case l: Long => l.toInt })))
  }
}

/** The per-session registration path behind each native function's
  * `register`. Operators call `register` on every use, so a name the
  * session's registry already holds is left as it is: replacing it
  * would change nothing but log a `replaced a previously registered
  * function` warning per call. */
private[functions] object NativeFunctions {
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
