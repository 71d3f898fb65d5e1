package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr
import graft.functions.MinHashSignature.{P, permutations}
import graft.operators.TextAnalysis

/** The interpreted higher-order-function formulations the native
  * dedup expressions replaced (`graft_shingles`, `graft_chargrams`,
  * `graft_minhash`, `graft_simhash`). They are the semantic reference:
  * DedupSpec pins every native expression equal to its twin here
  * bit-for-bit. */
object DedupReference {

  /** One interpreted lambda dispatch per shingle. The token array is
    * let-bound ([[graft.functions.Let]]) so `split` runs ONCE per row;
    * inlining it in the lambda would re-split per shingle, O(words²)
    * per row. */
  def shingleHashesHof(textCol: String, w: Int = 3): Column =
    expr(graft.functions.Let.let1(TextAnalysis.tokensSql(textCol), "toks")(
      s"""array_distinct(transform(
         |  sequence(0, greatest(size(toks) - $w, 0)),
         |  i -> pmod(xxhash64(concat_ws(' ', slice(toks, i + 1, $w))), ${P}L)))""".stripMargin))

  /** ~One interpreted substring+hash lambda dispatch per character of
    * text. Texts shorter than `n` yield one truncated gram. */
  def charShingleHashesHof(textCol: String, n: Int = 5): Column =
    expr(
      s"""array_distinct(transform(
         |  sequence(1, greatest(length($textCol) - ${n - 1}, 1)),
         |  i -> pmod(xxhash64(substring($textCol, i, $n)), ${P}L)))""".stripMargin)

  /** k interpreted `array_min` passes, one per permutation. */
  def minhashSignatureHof(hashesCol: String, k: Int = 64,
                          seed: Long = 42L): Column = {
    val perms = permutations(k, seed)
      .map { case (a, b) => s"named_struct('a', ${a}L, 'b', ${b}L)" }
      .mkString("array(", ", ", ")")
    expr(
      s"""transform($perms,
         |  p -> array_min(transform($hashesCol, x -> pmod(p.a * x + p.b, ${P}L))))""".stripMargin)
  }

  /** 64 interpreted passes over the hash array, one per bit. */
  def simhashFromHashesHof(hashesCol: String): Column =
    expr(
      s"""aggregate(
         |  sequence(0, 63),
         |  0L,
         |  (acc, i) -> acc + shiftleft(
         |    CASE WHEN aggregate(
         |           $hashesCol,
         |           0L,
         |           (s, h) -> s + CASE WHEN shiftright(h, i) % 2 != 0 THEN 1L ELSE -1L END
         |         ) > 0 THEN 1L ELSE 0L END, i))""".stripMargin)
}
