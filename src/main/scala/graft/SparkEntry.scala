package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the complete operator inventory (SURVEY.md §2), each
  * entry a self-contained `(SparkSession, sfDir) => DataFrame` that
  * registers the graft functions it uses (the session conf queries
  * rely on is set once, by `GraftSession.attach`);
  * `oracleSql` carries the DuckDB-equivalent ANSI SQL for every query
  * whose semantics are SQL-expressible (hash/sketch/LSH queries are
  * rows-only by contract).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3 shape: two broadcast-dim hops + fact join + agg + top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val c = Tables.customer(spark, d)
    val o = Tables.orders(spark, d)
    val l = Tables.lineitem(spark, d)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"), col("c_mktsegment"))
      .agg(Exact.sumMoney(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.Core.queries ++
      operators.Relational.queries ++
      operators.Windows.queries ++
      operators.Scalars.queries ++
      operators.Extras.queries ++
      operators.Advanced.queries ++
      operators.Analytics.queries ++
      operators.Integrity.queries ++
      operators.Skew.queries ++
      operators.Olap.queries ++
      operators.Graph.queries ++
      operators.AsOf.queries ++
      sources.Layouts.queries ++
      text.TextOps.queries ++
      text.Quality.queries ++
      text.Corpus.queries ++
      text.Splits.queries ++
      text.Sft.queries ++
      text.Bpe.queries ++
      text.Memorize.queries ++
      text.Ifeval.queries ++
      text.Rft.queries ++
      text.Batching.queries ++
      text.Arena.queries ++
      text.Watermark.queries ++
      dedup.Dedup.queries ++
      sim.Similarity.queries ++
      sim.Ivf2.queries ++
      sim.Pca.queries ++
      media.Multimodal.queries ++
      streaming.Streams.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.Core.oracle ++
      operators.Relational.oracle ++
      operators.Windows.oracle ++
      operators.Scalars.oracle ++
      operators.Extras.oracle ++
      operators.Advanced.oracle ++
      operators.Analytics.oracle ++
      operators.Integrity.oracle ++
      operators.Skew.oracle ++
      operators.Olap.oracle ++
      operators.Graph.oracle ++
      operators.AsOf.oracle ++
      sources.Layouts.oracle ++
      text.TextOps.oracle ++
      text.Quality.oracle ++
      text.Corpus.oracle ++
      text.Splits.oracle ++
      text.Sft.oracle ++
      text.Bpe.oracle ++
      text.Memorize.oracleSql ++
      text.Ifeval.oracleSql ++
      text.Rft.oracleSql ++
      text.Batching.oracleSql ++
      text.Arena.oracleSql ++
      text.Watermark.oracleSql ++
      dedup.Dedup.oracle ++
      sim.Similarity.oracle ++
      sim.Ivf2.oracle ++
      media.Multimodal.oracle ++
      streaming.Streams.oracle
}
