package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: a global sort over an input estimated at one AQE
  * advisory partition or less runs as one task.
  *
  * Spark plans every global `Sort` over a range exchange: a
  * `RangePartitioner` sampling job that recomputes the whole child, a
  * map stage, then a result stage that AQE coalesces to one partition
  * whenever the shuffled data fits in one advisory partition. When
  * AQE and its partition coalescing are on and the child's size
  * estimate is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * this strategy plans the sort as
  * `SortExec(global = true, CoalesceExec(1, child))` instead: the same
  * ordering in the same single output partition, with no sampling job,
  * no map stage and no stage boundary.
  *
  * The size-only estimate ignores filter selectivity, so a selective
  * scan under the sort is judged by its unfiltered size; joins estimate
  * as the product of their sides. Both only keep more sorts on the
  * range exchange. With AQE off (streaming micro-batches, the AQE-off
  * exchange probes in `graft.Tools`) the strategy never applies.
  *
  * Registration: [[SmallSort.register]] (runtime, via
  * `spark.experimental.extraStrategies`) or [[graft.GraftExtensions]]
  * (build-time, via `SparkSessionExtensions.injectPlannerStrategy`).
  */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fitsOnePartition(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    conf.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED) &&
      conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  /** Install the strategy on an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(SmallSort))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ SmallSort
}
