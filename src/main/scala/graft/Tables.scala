package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table registry for the driver-provided Parquet corpus (TESTDATA.md).
  *
  * Every operator in this library reads through here so that the scan
  * layer stays uniform: each table is one parquet relation, letting
  * Catalyst push filters/projections into the Parquet scan. At cluster
  * scale the same entry point is where partition pruning / bucketing
  * metadata would attach; nothing downstream would change.
  *
  * Relations are resolved once per session ([[read]]), not once per
  * query construction.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The relation of `path` read as `format`, memoized per session in
    * [[SessionResources.memo]] with `path` as its source. Resolving a
    * path is a file listing plus a schema-inference job over the footers
    * (past 32 paths the listing is a distributed job too) — paid here
    * once instead of at every query construction. Only source METADATA
    * is reused: the schema and the file index. Every query still scans
    * the files, and a rewritten path is re-resolved.
    */
  def read(s: SparkSession, path: String, format: String): DataFrame =
    SessionResources.memo(s, s"$format:$path", path)(s.read.format(format).load(path))

  def parquet(s: SparkSession, path: String): DataFrame =
    read(s, path, "parquet")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)     = t(s, d, "region")
  def nation(s: SparkSession, d: String)     = t(s, d, "nation")
  def customer(s: SparkSession, d: String)   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)   = t(s, d, "supplier")
  def part(s: SparkSession, d: String)       = t(s, d, "part")
  def orders(s: SparkSession, d: String)     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)   = t(s, d, "lineitem")
  /** `events.ts` varies across driver testdata generations:
    * TIMESTAMP(NANOS) parquet (which Spark's vectorized reader
    * rejects — read as raw nanos via the legacy conf that
    * `GraftSession.attach` sets, and truncate to µs with integer
    * `div`, since ns-since-epoch exceeds double's 2^53 mantissa) or
    * native TIMESTAMP_MICROS without timezone
    * metadata (read as TIMESTAMP_NTZ). Both normalize here to a
    * session-timezone (UTC) microsecond TIMESTAMP — the same values
    * DuckDB sees through `CAST(ts AS TIMESTAMP)`, and one stable type
    * for everything downstream.
    */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(s: SparkSession, d: String): DataFrame = normalizeTs(t(s, d, "events"))
  def documents(s: SparkSession, d: String)  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")

  /** Parsed-events layout: `events.props` (semi-structured JSON text)
    * parsed ONCE per (session, sfDir) into both typed forms — the
    * struct projection (`k`) and the full `map<string,bigint>` (`m`) —
    * and persisted. Every consumer of event properties reads this
    * layout instead of re-running `from_json` per query.
    *
    * This is the ingestion contract that holds at 100 TB: parse
    * semi-structured input once at ingest time and store it typed
    * (columnar struct/map in Parquet), so the per-row JSON parse cost
    * is paid exactly once per corpus rather than once per query. The
    * layout is a real write-once parquet table under the warehouse
    * (`Layouts.ensureLayout`) — written on first use, re-attached
    * (never re-parsed) by every later query and session.
    */
  def eventsParsed(s: SparkSession, d: String): DataFrame =
    graft.sources.Layouts.ensureLayout(s, d, "events_parsed") {
      import org.apache.spark.sql.types.{LongType, MapType, StringType,
        StructField, StructType}
      events(s, d)
        .select(col("event_id"), col("event_type"), col("ts"), col("value"),
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k").as("k"),
          from_json(col("props"), MapType(StringType, LongType)).as("m"))
    }

  /** Delete `dir` and everything under it (children first; symlinks are
    * removed, never followed). A missing `dir` is a no-op.
    */
  private[graft] def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
}

/** Exact-arithmetic helpers for oracle parity.
  *
  * Monetary/ratio doubles are cast to DECIMAL before aggregation so
  * both Spark and the DuckDB oracle do *exact* decimal arithmetic —
  * the result is independent of partial-aggregation order, which is
  * the property that survives a 1000-executor shuffle unchanged. The
  * final cast back to DOUBLE yields bit-identical values in both
  * engines.
  */
object Exact {
  val D18 = DecimalType(18, 2) // prices/quantities (sf0.1 sums < 1e11)
  val D4  = DecimalType(4, 2)  // discount/tax rates in [0,1)

  def money(c: Column): Column = c.cast(D18)
  def rate(c: Column): Column  = c.cast(D4)
  def one: Column              = lit(1).cast(D4)

  /** Exact sum of a money column, surfaced as DOUBLE. */
  def sumMoney(c: Column): Column = sum(money(c)).cast("double")
}
