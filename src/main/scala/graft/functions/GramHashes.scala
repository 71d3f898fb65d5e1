package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd gram hashing — the map-side front of every LSH
  * dedup pipeline here ([[graft.operators.Dedup]]). Replaces the
  * interpreted higher-order-function formulations
  * `array_distinct(transform(sequence(...), i -> pmod(xxhash64(
  * substring/concat_ws(slice(...))), P)))`, whose per-gram lambda
  * dispatch (~500/row for char-5-grams) dominated q_dedup_ngram.
  *
  * Both gram families reduce to hashing BYTE RANGES of the original
  * UTF-8 string, with zero per-gram allocation:
  *
  *  - char n-grams: `substring(text, i, n)` is the bytes between char
  *    boundaries i-1 and i-1+n — one boundary scan per row, then one
  *    xxhash64 per gram directly against the string's base memory.
  *  - word w-shingles: `split(text, ' ')` then
  *    `concat_ws(' ', slice(toks, i+1, w))` re-joins w consecutive
  *    tokens with the SAME single-space separator it split on, so the
  *    joined shingle is exactly the original bytes from token i's
  *    start to token i+w-1's end. (A space is one ASCII byte and never
  *    part of a multi-byte UTF-8 sequence, so byte-level 0x20 scanning
  *    finds the identical token boundaries.)
  *
  * Hash values are `pmod(xxhash64(gram), P)` (same seed-42 xxhash64 and
  * Mersenne modulus [[MinHashSignature.P]] as the HOF twins), dedup'd
  * preserving first occurrence exactly like `array_distinct`; DedupSpec
  * pins native == HOF bit-for-bit on the corpus. Edge cases match too:
  * text shorter than the gram yields the single whole-text gram, and
  * empty text hashes the empty gram (`sequence` lower bound / Java
  * `split("") == [""]` — both sides produce exactly one gram).
  */
object GramHashes {
  private val P = MinHashSignature.P
  private val Seed = 42L // xxhash64's default seed (Spark XxHash64)

  /** Distinct char-n-gram hashes of `s`, first-occurrence order.
    * Static so generated code calls it directly (RollingHash pattern:
    * one virtual call per row, tight loops inside). */
  def charGrams(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numBytes = s.numBytes
    // char-start byte offsets; UTF-8 continuation bytes are 10xxxxxx
    val starts = new Array[Int](numBytes + 1)
    var nc = 0
    var i = 0
    while (i < numBytes) {
      if ((Platform.getByte(base, off + i) & 0xC0) != 0x80) {
        starts(nc) = i; nc += 1
      }
      i += 1
    }
    starts(nc) = numBytes
    val grams = math.max(nc - n + 1, 1)
    val vals = new Array[Long](grams)
    var g = 0
    while (g < grams) {
      val sb = starts(g)
      val eb = starts(math.min(g + n, nc))
      val h = XXH64.hashUnsafeBytes(base, off + sb, eb - sb, Seed) % P
      vals(g) = if (h < 0) h + P else h
      g += 1
    }
    dedupeOrdered(vals)
  }

  /** Distinct word-w-shingle hashes of `s` (single-space tokenizer),
    * first-occurrence order. */
  def wordShingles(s: UTF8String, w: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val numBytes = s.numBytes
    // token start offsets under split-on-' ' with trailing empties
    // kept (Java split limit -1): numToks = #spaces + 1
    var spaces = 0
    var i = 0
    while (i < numBytes) {
      if (Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val numToks = spaces + 1
    val tokStart = new Array[Int](numToks + 1)
    tokStart(0) = 0
    var t = 1
    i = 0
    while (i < numBytes) {
      if (Platform.getByte(base, off + i) == 0x20) { tokStart(t) = i + 1; t += 1 }
      i += 1
    }
    tokStart(numToks) = numBytes + 1 // virtual space after last token
    val shingles = math.max(numToks - w, 0) + 1
    val vals = new Array[Long](shingles)
    var g = 0
    while (g < shingles) {
      val sb = tokStart(g)
      val eb = tokStart(math.min(g + w, numToks)) - 1 // end of last token
      val h = XXH64.hashUnsafeBytes(base, off + sb, eb - sb, Seed) % P
      vals(g) = if (h < 0) h + P else h
      g += 1
    }
    dedupeOrdered(vals)
  }

  /** First-occurrence-order dedup (the `array_distinct` contract) via
    * open addressing; values are in [0, P) so -1 marks empty slots. */
  private def dedupeOrdered(vals: Array[Long]): GenericArrayData = {
    val m = vals.length
    var cap = 4
    while (cap < m * 2) cap <<= 1
    val table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    val out = new Array[Long](m)
    var outN = 0
    var i = 0
    while (i < m) {
      val v = vals(i)
      var idx = ((v * 0x9E3779B97F4A7C15L) >>> 40).toInt & (cap - 1)
      var seen = false
      var probing = true
      while (probing) {
        val cur = table(idx)
        if (cur == -1L) probing = false
        else if (cur == v) { seen = true; probing = false }
        else idx = (idx + 1) & (cap - 1)
      }
      if (!seen) { table(idx) = v; out(outN) = v; outN += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN))
  }

  /** Register `graft_chargrams(text, n)` / `graft_shingles(text, w)`
    * (n, w foldable literals). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    NativeFunctions.register(spark,
      "graft_chargrams", exprs => CharGramHashes(exprs.head, litInt(exprs(1))))
    NativeFunctions.register(spark,
      "graft_shingles", exprs => WordShingleHashes(exprs.head, litInt(exprs(1))))
  }

  private def litInt(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
  }
}

/** `graft_chargrams(text, n)` → distinct char-n-gram hashes mod P. */
case class CharGramHashes(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_chargrams requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_chargrams"

  override protected def nullSafeEval(input: Any): Any =
    GramHashes.charGrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.charGrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
    copy(child = newChild)
}

/** `graft_shingles(text, w)` → distinct word-w-shingle hashes mod P. */
case class WordShingleHashes(child: Expression, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    GramHashes.wordShingles(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.wordShingles($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}
