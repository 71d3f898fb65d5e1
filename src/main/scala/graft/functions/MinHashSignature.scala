package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k-element MinHash signature as a native Catalyst expression with
  * whole-stage codegen: mh_j = min over gram hashes x of
  * (a_j·x + b_j) mod P, all k minima carried through ONE primitive
  * loop over the gram array. Replaces the HOF formulation
  * `transform(perms, p -> array_min(transform(hashes, ...)))`, whose
  * interpreted lambdas cost k·|grams| closure dispatches per row —
  * the dominant map-side cost of every LSH dedup pipeline here.
  *
  * Arithmetic is identical to the HOF form (same seeded coefficients,
  * same exact long math — a,b,x < 2^31 so a·x+b < 2^63 never
  * overflows), so signatures are bit-for-bit unchanged
  * (DedupSpec pins this). Empty or all-NULL gram arrays
  * yield NULL (callers filter `size > 0` first, as
  * [[graft.operators.Dedup.signatures]] does).
  */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<bigint> gram hashes, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty input -> NULL signature
  override def prettyName: String = "graft_minhash"

  @transient private lazy val flat = MinHashSignature.flatPerms(k, seed)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(MinHashSignature.P)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = arr.getLong(i)
        any = true
        var j = 0
        while (j < k) {
          val v = (flat(2 * j) * x + flat(2 * j + 1)) % MinHashSignature.P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val permsRef = ctx.addReferenceObj("minhashPerms", flat, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val any = ctx.freshName("any")
      s"""
         |final int $n = $c.numElements();
         |final long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, ${MinHashSignature.P}L);
         |boolean $any = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.isNullAt($i)) continue;
         |  final long $x = $c.getLong($i);
         |  $any = true;
         |  for (int $j = 0; $j < $k; $j++) {
         |    final long $v = ($permsRef[2 * $j] * $x + $permsRef[2 * $j + 1]) % ${MinHashSignature.P}L;
         |    if ($v < $mins[$j]) $mins[$j] = $v;
         |  }
         |}
         |if (!$any) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** Mersenne prime 2^31-1: the shingle-hash universe AND the
    * permutation modulus of the whole dedup family. */
  final val P = 2147483647L

  /** Seeded (a, b) permutation coefficients — the single source of
    * truth for both this expression and the interpreted HOF
    * reference the dedup spec checks it against. a ∈ [1, P-1],
    * b ∈ [0, P). */
  def permutations(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + rnd.nextLong(P - 1), rnd.nextLong(P)))
  }

  private[functions] def flatPerms(k: Int, seed: Long): Array[Long] =
    permutations(k, seed).flatMap { case (a, b) => Seq(a, b) }.toArray

  /** Register as `graft_minhash(hashes, k, seed)` — k and seed must
    * be foldable literals (they parameterize the generated loop).
    * Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    NativeFunctions.register(spark,
      "graft_minhash", exprs => {
        val k = exprs(1).eval() match {
          case i: Int => i
          case l: Long => l.toInt
        }
        val seed = exprs(2).eval() match {
          case l: Long => l
          case i: Int => i.toLong
        }
        MinHashSignature(exprs.head, k, seed)
      })
}
