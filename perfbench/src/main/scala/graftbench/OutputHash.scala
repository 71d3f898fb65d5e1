package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-independent digest of a whole result: its row count and
  * the sum of one 64-bit hash per row. Every output column feeds the
  * row hash, so computing the digest materializes every output
  * expression; a `count()` lets the optimizer prune expressions no
  * aggregate reads.
  *
  * Values are first cast to one canonical type per kind (integers to
  * long, floats to double, decimals to their shortest text), so an
  * oracle's answer read back through Spark digests exactly like the
  * engine's own output. Columns are taken in name order, as the oracle
  * gate compares them, and each is hashed with its null flag, since
  * Spark's row hash skips nulls. */
object OutputHash {

  final case class Digest(rows: Long, hash: String)

  def canonical(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case _: DecimalType =>
      // 1.50 and 1.5 are the same value at different scales
      regexp_replace(regexp_replace(c.cast(StringType), "(\\.[0-9]*?)0+$", "$1"),
        "\\.$", "")
    case FloatType | DoubleType =>
      val d = c.cast(DoubleType)
      // -0.0 and 0.0 compare equal in the oracle gate
      when(d === lit(0.0), lit(0.0)).otherwise(d)
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case StructType(fields) =>
      struct(fields.toIndexedSeq.map(f => canonical(c.getField(f.name), f.dataType)): _*)
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** One 64-bit hash per row over all columns, in name order. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.sortBy(_.name).toIndexedSeq.flatMap { f =>
      val c = df.col(f.name)
      Seq(canonical(c, f.dataType), c.isNull)
    }: _*)

  /** Runs one job over `df` and returns its digest. */
  def of(df: DataFrame): Digest = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
