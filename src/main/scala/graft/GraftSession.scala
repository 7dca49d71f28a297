package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession tuned for this engine with all
  * graft SQL functions registered.
  *
  * A user of the engine calls `GraftSession.create()` (or `attach` on
  * an existing session) and gets the full surface: the built-in
  * DataFrame API plus `cosine_sim`, `shingles3`, `minhash16`,
  * `simhash64`, `rolling_fp`, and `text_stats` usable from SQL and
  * `expr(...)`.
  *
  * Conf choices mirror the scale guidance this engine is built
  * around: AQE on (runtime re-planning, skew-join splitting), UTC
  * session time, shuffle parallelism sized to the machine rather than
  * Spark's 200 default.
  */
object GraftSession {

  /** Register every graft SQL function, the binned-range-join
    * operator and the small-sort strategy on an existing session, and
    * set the session conf every query relies on:
    *  - `nanosAsLong`: `events.parquet` stores TIMESTAMP(NANOS), which
    *    Spark reads only as a long (normalized by `Tables.normalizeTs`);
    *  - `autoBucketedScan` off: Spark keeps a bucketed scan only for
    *    operators that need its partitioning, so without this a bare
    *    key filter on a bucketed layout reads every bucket instead of
    *    the one its key hashes to.
    * Query functions set no session conf themselves, so how a session
    * plans does not depend on which queries ran first.
    */
  def attach(spark: SparkSession): SparkSession = {
    functions.VectorFunctions.register(spark)
    functions.HashFunctions.register(spark)
    functions.TextFunctions.register(spark)
    plans.RangeJoin.register(spark)
    plans.SmallSort.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark
  }

  def create(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    attach(spark)
  }
}
