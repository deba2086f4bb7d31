package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LeafNode, LogicalPlan, Offset, Repartition, RepartitionByExpression, Sort, Tail, UnaryNode, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.internal.SQLConf

/** How a small declared query is planned: in one partition, because its
  * input fits the one reducer AQE would coalesce its shuffles into anyway.
  *
  * AQE coalesces a shuffle's reducers (`CoalesceShufflePartitions`) toward
  * a target size of max(minPartitionSize, min(advisoryPartitionSizeInBytes,
  * shuffle bytes / minimum partitions)). The minimum is the default
  * parallelism while `spark.sql.adaptive.coalescePartitions.parallelismFirst`
  * is on (Spark's default, kept by the mains and the tests) and 1 when it is
  * off, unless `coalescePartitions.minPartitionNum` sets it. So a shuffle of
  * at most [[oneReducerBytes]] always ends in one reducer: minPartitionSize
  * (1 MB by default) when the minimum is above 1, else the larger of the two
  * sizes. Every such exchange still costs its own AQE query stage: a job,
  * the driver's re-optimization between jobs, and the shuffle write and
  * read.
  *
  * One decision, taken on the analyzed plan:
  *
  *  - '''The whole query in one partition.''' When the query's leaf
  *    relations, subquery plans included, sum to at most that many bytes and
  *    the query declares no parallelism of its own (no shuffling
  *    `Repartition` or `RepartitionByExpression` to more than one
  *    partition, such as [[graft.queries.Tables.fanned]]'s), every leaf is
  *    read through `Repartition(1, shuffle = false)`, and so is the child
  *    of every global Sort. `CoalesceExec(1)` reports `SinglePartition`,
  *    which meets every join, aggregate, window and global Sort
  *    requirement, so `EnsureRequirements` inserts no shuffle, AQE creates
  *    no query stage and the query runs as one job. Filters and column
  *    pruning push through the `Repartition` to the scan. The plan is
  *    taken only when it then runs as one task per job. It must have no
  *    exchange at all: an operator that does not keep `SinglePartition`
  *    (a `Union` of several leaves, an `Expand`, a `Generate`) still gets
  *    a shuffle above it, and a small build side still a broadcast, and
  *    such a plan keeps stages while giving up the scans' parallelism (at
  *    sf0.001, d1, d25, d29, d33 and d75 would keep 2 or 3 of their
  *    exchanges). And no file scan may read several files: a directory
  *    of compressed parts read in one task decompresses them one after
  *    another (a16 at sf0.1, 1.45× slower).
  *  - '''Only the closing ORDER BY in one partition.''' Otherwise, when the
  *    root is a global Sort whose child does not already plan as one
  *    partition, and both the leaf sum and Spark's estimate for the Sort's
  *    child (which multiplies a join's sides) are within the bound, a
  *    shuffling `Repartition(1)` goes under the Sort. Spark plans `Exchange
  *    SinglePartition` → `Sort`, which meets the Sort's ordering, so no
  *    `RangePartitioner` is built and no sampling job evaluates the child a
  *    second time.
  *
  * Rows come out in the same order: a global Sort is stable over its input,
  * and ties keep the order in which the one partition receives them, as in
  * the merged range reducer. Neither size bounds what the plan computes: a
  * join or an explode can produce far more rows than its leaves hold.
  * plans/pr13 and plans/pr14 time the queries each branch changes at sf0.01
  * and sf0.1 against their parent's plans.
  *
  * Left as it is: a query over more input than one coalesced reducer takes,
  * whose exchanges spread over the reducers AQE keeps. A query that sets
  * its own partition count, or whose one-partition plan would still run
  * several tasks, gets at most the sort branch.
  *
  * Reads `queryExecution.analyzed`: re-analyzing `logical` would resolve
  * the SQL-built queries' temp views again, after they are gone.
  */
object SmallQueryPlan {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.queryExecution.analyzed
    val bound = oneReducerBytes(ds.sparkSession)
    val leafBytes = inputBytes(plan)
    lazy val onePartitionPlan = classic.Dataset.ofRows(ds.sparkSession, plan.transformUpWithSubqueries {
      case l: LeafNode => Repartition(1, shuffle = false, l)
      case s @ Sort(_, true, child, _) => s.copy(child = Repartition(1, shuffle = false, child))
    })
    plan match {
      case _ if leafBytes <= bound && !declaresParallelism(plan) &&
          runsAsOneTask(onePartitionPlan.queryExecution.executedPlan) =>
        onePartitionPlan
      case s @ Sort(_, true, child, _) if !onePartition(child) && leafBytes.max(child.stats.sizeInBytes) <= bound =>
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

  /** Whether the plan, subqueries included, shuffles to a partition count
    * of its own above 1. */
  private def declaresParallelism(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case r: Repartition if r.shuffle && r.numPartitions > 1 => r
      case r: RepartitionByExpression if r.optNumPartitions.exists(_ > 1) => r
    }.nonEmpty

  /** Whether the physical plan, AQE's initial plan and subquery plans
    * included, runs as one task per job: no shuffle or broadcast exchange,
    * and no file scan over several files (its parallel reads, such as one
    * decompression stream per file, would go through one task). A single
    * file within the bound is one split: Spark splits files by at least
    * `spark.sql.files.openCostInBytes`, 4 MB by default. */
  private def runsAsOneTask(plan: SparkPlan): Boolean =
    plan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => runsAsOneTask(a.initialPlan)
      case _: Exchange => false
      case s: FileSourceScanExec => s.relation.location.inputFiles.length <= 1
    }.forall(identity)

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
