package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprint of a result: row count plus two
  * 32-bit lane sums of a per-row xxhash64, over a canonical rendering of
  * each value. The same expression runs over the engine's output (as an
  * `observe` on the measured materialization, so no second execution)
  * and over the DuckDB oracle's output read back from parquet, so both
  * sides are rendered by one function.
  *
  * Canonical rendering follows the oracle rules of `tools/check.py`:
  * columns compared by name, numbers by value whatever their width or
  * decimal scale, dates equal to the midnight timestamp, NULL distinct
  * from every value.
  */
object Fingerprint {

  private val Null = lit("\u0001N")

  private def scalar(c: Column, t: DataType): Column = t match {
    // +0.0 folds -0.0 into 0.0; decimals of any scale map to one double
    case _: NumericType => (c.cast(DoubleType) + lit(0.0)).cast(StringType)
    case DateType | TimestampType | TimestampNTZType =>
      c.cast(TimestampType).cast(StringType)
    case BinaryType => hex(c)
    case ArrayType(e, _) =>
      concat(lit("["), array_join(transform(c, x => scalar(x, e)), ",", "\u0001N"), lit("]"))
    case _: StructType | _: MapType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** Aggregates to observe; column `i` of `df` is referenced positionally,
    * so duplicate output names are harmless. */
  def aggregates(df: DataFrame): (DataFrame, Seq[Column]) = {
    val fields = df.schema.fields.toSeq
    val renamed = df.toDF(fields.indices.map(i => s"__fp$i"): _*)
    val ordered = fields.zipWithIndex.sortBy(_._1.name.toLowerCase)
      .map { case (f, i) => coalesce(scalar(col(s"__fp$i"), f.dataType), Null) }
    val h = xxhash64(concat_ws("\u0002", ordered: _*))
    (renamed, Seq(
      count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi")))
  }

  def header(df: DataFrame): Int =
    scala.util.hashing.MurmurHash3.seqHash(df.columns.map(_.toLowerCase).sorted.toSeq)

  /** `count:columns:lo:hi`; equal row multisets give equal strings. */
  def format(header: Int, n: Long, lo: Long, hi: Long): String =
    f"$n%d:$header%08x:$lo%x:$hi%x"

  /** Fingerprint by a separate aggregation (for oracle outputs). */
  def of(df: DataFrame): String = {
    val (renamed, aggs) = aggregates(df)
    val r = renamed.agg(aggs.head, aggs.tail: _*).head()
    format(header(df), r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
