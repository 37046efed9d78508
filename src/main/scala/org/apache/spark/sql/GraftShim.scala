package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Access shim for graft's custom logical operators: `Dataset.ofRows` is
  * `private[sql]`, and surfacing a hand-built [[LogicalPlan]] (e.g.
  * [[graft.plans.TopKPerKey]]) as a DataFrame needs it. Placing one
  * forwarding object inside `org.apache.spark.sql` is the standard
  * extension-library pattern (Delta, Iceberg, Sedona all do the same);
  * nothing else from the internal API is re-exported.
  */
object GraftShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The named `observe()` metrics row of `df`'s LAST plan execution —
    * read off the executed plan's CollectMetrics accumulators, so it is
    * populated by ANY action that ran the plan (including the
    * `toRdd`-path actions like `checkpoint`/`localCheckpoint`, which
    * never fire QueryExecutionListener and therefore can't serve an
    * `Observation`). This is what lets an iterative kernel's per-round
    * driver decision (wave/survivor count) ride the round's checkpoint
    * job instead of a second job (round 22, guide §1.2).
    */
  def observedMetric(df: DataFrame, name: String): Option[Row] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.observedMetrics.get(name)

  /** Drain the listener bus so task-metric listeners (the Stress
    * power-law skew leg) see every event of the job they just ran —
    * `listenerBus.waitUntilEmpty` is `private[spark]`, reachable from
    * this package only.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Rebuild a checkpointed DataFrame's [[execution.LogicalRDD]] WITHOUT
    * its origin statistics, and WITH the hash partitioning `source` (the
    * Dataset that was checkpointed) produced.
    *
    * Stats: `Dataset.localCheckpoint` deliberately
    * carries the optimized source plan's stats into the LogicalRDD —
    * usually what you want, but fatal for long iterative self-join
    * loops: a k-core round's survivors⋈edges⋈survivors estimate is
    * (size)³, so sizeInBytes grows as 3^rounds across checkpoint
    * boundaries, and after ~100 rounds (the coreness decomposition's
    * phases × peels) Catalyst's stats visitor is multiplying BigInts
    * with millions of bits — a measured 28-minute PLANNING hang at
    * sf0.01 (round 19). Dropping origin stats resets each round to the
    * conservative default (joins of checkpointed state stay
    * SortMergeJoin — the shape the PLANS notes already document; the
    * hot-loop broadcasts are explicit hints, unaffected).
    *
    * Partitioning: see [[keptPartitioning]]. No-op on non-LogicalRDD
    * plans.
    */
  def dropStats(df: DataFrame, source: DataFrame): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    d.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        classic.Dataset.ofRows(
          d.sparkSession,
          execution.LogicalRDD(
            l.output, l.rdd, keptPartitioning(source, l).getOrElse(l.outputPartitioning),
            l.outputOrdering, l.isStreaming, l.stream)(d.sparkSession, None, None))
      case _ => df
    }
  }

  /** The hash partitioning of `source`'s executed plan, restated over
    * the checkpoint `l`'s output. Spark's checkpoint reads the partitioning
    * off the executed plan's ROOT, which under AQE is the
    * `AdaptiveSparkPlanExec` wrapper and reports `UnknownPartitioning(0)`;
    * this reads the FINAL adaptive plan instead (or the plan itself
    * without AQE). Partition i of either checkpoint RDD is partition i of
    * that plan, so the claim is exact when all of these hold; otherwise
    * None:
    *   - the partitioning (first leaf of a `PartitioningCollection`, as
    *     Spark's own checkpoint takes it) is exactly a `HashPartitioning`
    *     — a coalesced or skew-split AQE read, a range or a single
    *     partition is not;
    *   - its partition count equals the checkpoint RDD's;
    *   - its expressions reference only the plan's output columns, which
    *     map by position onto `l`'s output.
    */
  private def keptPartitioning(
      source: DataFrame, l: execution.LogicalRDD): Option[HashPartitioning] = {
    val plan = source.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => Some(a).filter(_.isFinalPlan).map(_.executedPlan)
      case p => Some(p)
    }
    @scala.annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    plan.flatMap { p =>
      firstLeaf(p.outputPartitioning) match {
        case h: HashPartitioning
            if h.numPartitions == l.rdd.getNumPartitions &&
              p.output.size == l.output.size &&
              h.references.subsetOf(AttributeSet(p.output)) =>
          val byPosition = AttributeMap(p.output.zip(l.output))
          Some(h.transform { case a: Attribute => byPosition(a) }.asInstanceOf[HashPartitioning])
        case _ => None
      }
    }
  }
}
