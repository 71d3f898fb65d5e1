package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-ladder generator: writes a `factor`-times-larger copy of a
  * driver testdata directory (TESTDATA.md layout) so the suite can be
  * measured beyond the largest driver-generated scale factor.
  *
  * The copies are ISOMORPHIC, not naive replicas: each copy k is
  * transformed so that within-copy structure (dup/near-dup clusters,
  * join fan-outs, similarity neighborhoods) is exactly preserved while
  * cross-copy relationships are destroyed — i.e. the scaled corpus has
  * `factor`× the data at the SAME dup rate / cluster-size / bucket-size
  * distribution, which is how a real corpus grows. A naive `unionAll`
  * of identical copies would instead make every row a member of a
  * `factor`-clone exact-dup cluster and blow the pair count up
  * quadratically — measuring the data, not the engine.
  *
  * Per-copy transforms (all deterministic, no RNG):
  *  - documents.text: per-copy Caesar substitution over `[a-zA-Z]` via
  *    `translate` — a bijective char map, so every within-copy gram
  *    equality (char-gram, shingle, token) is preserved verbatim and
  *    every cross-copy gram collides only by hash accident; length and
  *    whitespace structure (token counts) are untouched.
  *  - embeddings.embedding: per-copy cyclic rotation of the dimensions
  *    — an orthogonal transform, so within-copy cosine/dot values are
  *    bit-preserved while cross-copy vectors decorrelate.
  *  - fact keys (o_orderkey, l_orderkey, event_id, doc_id, vec_id) are
  *    offset by k·(max+1), keeping joins valid and ids unique.
  *  - dimensions (region nation customer supplier part) are copied
  *    unchanged: facts-per-dim-key grows with factor, the realistic
  *    direction (hotter keys), and FK integrity holds.
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <destDir> <factor>`.
  */
object ScaleGen {

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase

  private def caesar(alphabet: String, k: Int): String = {
    val s = ((k % alphabet.length) + alphabet.length) % alphabet.length
    alphabet.drop(s) + alphabet.take(s)
  }

  /** `factor` stacked copies of `df`, each transformed by `perCopy`.
    * Copy 0 is always the identity — the source data survives verbatim. */
  def replicate(df: DataFrame, factor: Int)(perCopy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(k => perCopy(df, k)).reduce(_ unionAll _)

  /** Offset an id column by k·(max+1) so copies never collide. */
  private def offsetKey(df: DataFrame, colName: String, k: Int, span: Long): DataFrame =
    df.withColumn(colName, col(colName) + lit(k * span))

  private def keySpan(df: DataFrame, colName: String): Long =
    df.agg(max(col(colName))).first().getLong(0) + 1L

  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val span = keySpan(docs, "doc_id")
    replicate(docs, factor) { (d, k) =>
      offsetKey(d, "doc_id", k, span)
        .withColumn("text",
          translate(col("text"), lower + upper, caesar(lower, k) + caesar(upper, k)))
    }
  }

  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val span = keySpan(emb, "vec_id")
    replicate(emb, factor) { (e, k) =>
      val rot = offsetKey(e, "vec_id", k, span)
      if (k == 0) rot
      else rot.withColumn("embedding", expr(
        s"concat(slice(embedding, ${k % 16} + 1, size(embedding) - ${k % 16}), " +
          s"slice(embedding, 1, ${k % 16}))"))
    }
  }

  def run(spark: SparkSession, src: String, dest: String, factor: Int): Unit = {
    require(factor >= 1, s"factor=$factor must be >= 1")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")

    // dimensions: unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(Tables.load(spark, src, n), n))

    val orders = Tables.orders(spark, src)
    val orderSpan = keySpan(orders, "o_orderkey")
    write(replicate(orders, factor)(offsetKey(_, "o_orderkey", _, orderSpan)), "orders")

    val lineitem = Tables.lineitem(spark, src)
    write(replicate(lineitem, factor)(offsetKey(_, "l_orderkey", _, orderSpan)), "lineitem")

    val events = Tables.events(spark, src)
    val eventSpan = keySpan(events, "event_id")
    write(replicate(events, factor)(offsetKey(_, "event_id", _, eventSpan)), "events")

    write(scaleDocuments(Tables.documents(spark, src), factor), "documents")
    write(scaleEmbeddings(Tables.embeddings(spark, src), factor), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <destDir> <factor>")
    val spark = LocalSession(32)
    try run(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }
}
