package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LeafNode, LogicalPlan, Offset, Repartition, RepartitionByExpression, Sort, Tail, UnaryNode, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** A small query's closing ORDER BY, sorted in one partition.
  *
  * Spark plans a global `Sort` over `Exchange rangepartitioning`, and the
  * `RangePartitioner` behind that exchange first runs a sampling job that
  * evaluates the whole child plan once more. AQE then coalesces the range
  * reducers (`CoalesceShufflePartitions`) toward a target size of
  * max(minPartitionSize, min(advisoryPartitionSizeInBytes, shuffle bytes /
  * minimum partitions)). The minimum is the default parallelism while
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst` is on (Spark's
  * default, kept by the mains and the tests) and 1 when it is off, unless
  * `coalescePartitions.minPartitionNum` sets it. So a shuffle of at most
  * [[oneReducerBytes]] always ends in one reducer: minPartitionSize (1 MB by
  * default) when the minimum is above 1, else the larger of the two sizes.
  *
  * The sort's input is not known before the query runs. It is taken as the
  * larger of two sizes: the query's leaf relations summed, and Spark's
  * estimate for the Sort's child, which multiplies a join's sides. For a
  * query where both are at most that many bytes, this puts a
  * single-partition shuffle (`Repartition(1)`) under the root Sort:
  * the plan becomes `Exchange SinglePartition` → `Sort`, which meets the
  * Sort's ordering requirement, so no partitioner is built, no sampling job
  * runs and the child is evaluated once. Rows come out in the same order:
  * ties keep the order in which the one reducer receives them, as in the
  * merged range reducer. Neither size bounds the sort's input: an explode
  * or a widening projection can shuffle more than either. plans/pr13
  * measures every declared query the wrapper changes at sf0.01 and sf0.1;
  * the largest sort input was 2.9 MB, and every query above 1 MB ran
  * faster sorted in one partition. The leaf sum alone let one join
  * (d57, 30 MB of sort input from 0.6 MB of leaves) through, 1.26× slower.
  *
  * Left as it is: a plan whose root is not a global Sort, a Sort whose child
  * already plans as one partition (where the insert would add an exchange),
  * and a query over more input than one coalesced reducer takes, whose range
  * sort spreads over the reducers AQE keeps.
  *
  * Reads `queryExecution.analyzed`: re-analyzing `logical` would resolve
  * the SQL-built queries' temp views again, after they are gone.
  */
object PresentationSort {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.analyzed match {
      case s @ Sort(_, true, child, _)
          if !onePartition(child) && inputBytes(s).max(child.stats.sizeInBytes) <= oneReducerBytes(ds.sparkSession) =>
        classic.Dataset.ofRows(ds.sparkSession, s.copy(child = Repartition(1, shuffle = true, child)))
      case _ => df
    }
  }

  /** The most shuffle bytes that AQE always coalesces into one reducer
    * under `spark`'s conf; 0 when AQE does not coalesce. */
  private def oneReducerBytes(spark: classic.SparkSession): Long = {
    val conf = spark.sessionState.conf
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) spark.sparkContext.defaultParallelism else 1)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) 0L
    else if (minPartitions > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  /** Summed `sizeInBytes` of the plan's leaves, subquery plans included. */
  private def inputBytes(plan: LogicalPlan): BigInt =
    plan.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum

  /** Whether Spark plans `plan` with one output partition, so that a global
    * Sort over it needs no exchange. A `false` where the physical plan has
    * one partition would add an exchange; PresentationSortSpec's census
    * pins that none does. */
  private def onePartition(plan: LogicalPlan): Boolean = plan match {
    case _: GlobalLimit | _: Offset | _: Tail => true
    case r: Repartition => r.numPartitions == 1
    case r: RepartitionByExpression => r.numPartitions == 1
    case r: LogicalRDD => r.outputPartitioning == SinglePartition
    case a: Aggregate => a.groupingExpressions.isEmpty || onePartition(a.child)
    case w: Window => w.partitionSpec.isEmpty || onePartition(w.child)
    case j: Join => j.children.forall(onePartition)
    case u: Union => u.children.forall(onePartition)
    case u: UnaryNode => onePartition(u.child)
    case _ => false
  }
}
