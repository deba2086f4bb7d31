package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join, LeafNode, LogicalPlan, Offset, Repartition, RepartitionByExpression, Sort, Tail, UnaryNode, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import _root_.graft.SparkEntry

/** Census of `SmallQueryPlan`'s one-partition branch at `local[4]` with 4
  * shuffle partitions (perfbench's session shape); prints a TSV table on
  * stdout.
  *
  * For every declared query at each directory of PROBE_DIRS (comma
  * separated): the leaf relations' summed `sizeInBytes`, whether the rule
  * reads every leaf through `Repartition(1, shuffle = false)`, and the
  * `Exchange` lines of the planned query under the parent's wrapper
  * (`PresentationSort`, copied below as [[ParentWrapper]]) and under
  * `SparkEntry.queries`. Each query the rule collapses is then timed:
  * median wall time of a fresh build and `collect()`, parent wrapper
  * against `SparkEntry.queries`, interleaved (the order alternates per
  * repetition) after one untimed run of each; PROBE_REPS repetitions
  * (default 5). PROBE_ONLY=q1,q2 restricts the queries.
  *
  * Run it as a test suite: copy it to
  * `src/test/scala/org/apache/spark/sql/graft/` (it calls Spark's
  * package-private `Dataset.ofRows`), then
  * `sbt "testOnly org.apache.spark.sql.graft.CollapseProbe"`, and remove
  * it again: its `local[4]` session would replace the suite's shared one.
  */
class CollapseProbe extends AnyFunSuite {
  private lazy val spark = {
    val spark = SparkSession.builder().master("local[4]").appName("collapse-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def exchanges(p: SparkPlan): Int =
    p.toString.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))

  private def coalescedLeaves(p: LogicalPlan): Int =
    p.collectWithSubqueries { case Repartition(1, false, _: LeafNode) => 1 }.size

  test("collapse probe") {
    val reps = sys.env.getOrElse("PROBE_REPS", "5").toInt
    val only = sys.env.get("PROBE_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.declared.keys.toSeq.sorted.filter(q => only.forall(_(q)))
    println("dir\tquery\tleaf_bytes\tcollapsed\tparent_exchanges\tchange_exchanges\tparent_ms\tchange_ms\tratio")
    for (dir <- sys.env.getOrElse("PROBE_DIRS", "").split(",").toSeq.filter(_.nonEmpty); q <- queries) {
      def parent = ParentWrapper(SparkEntry.declared(q)(spark, dir))
      def change = SparkEntry.queries(q)(spark, dir)
      val (p, c) = (parent, change)
      val leaf = p.queryExecution.analyzed.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum
      val collapsed = coalescedLeaves(c.queryExecution.analyzed) > coalescedLeaves(p.queryExecution.analyzed)
      val (pe, ce) = (exchanges(p.queryExecution.executedPlan), exchanges(c.queryExecution.executedPlan))
      if (!collapsed) println(s"$dir\t$q\t$leaf\tfalse\t$pe\t$ce\t\t\t")
      else {
        def ms(f: => Unit): Double = { val t = System.nanoTime; f; (System.nanoTime - t) / 1e6 }
        val a = collection.mutable.ArrayBuffer[Double](); val b = collection.mutable.ArrayBuffer[Double]()
        for (i <- 0 to reps) {
          def x = ms(parent.collect()); def y = ms(change.collect())
          val (xr, yr) = if (i % 2 == 0) { val t = x; (t, y) } else { val t = y; (x, t) }
          if (i > 0) { a += xr; b += yr }
        }
        def med(v: Seq[Double]) = v.sorted.apply(v.size / 2)
        val (ma, mb) = (med(a.toSeq), med(b.toSeq))
        println(f"$dir\t$q\t$leaf\ttrue\t$pe\t$ce\t$ma%.1f\t$mb%.1f\t${mb / ma}%.3f")
      }
    }
  }
}

/** The parent commit's `PresentationSort`: a small query's root ORDER BY
  * sorts over `Exchange SinglePartition`, nothing else changes. */
object ParentWrapper {
  def apply(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.analyzed match {
      case s @ Sort(_, true, child, _)
          if !onePartition(child) && inputBytes(s).max(child.stats.sizeInBytes) <= oneReducerBytes(ds.sparkSession) =>
        classic.Dataset.ofRows(ds.sparkSession, s.copy(child = Repartition(1, shuffle = true, child)))
      case _ => df
    }
  }

  private def oneReducerBytes(spark: classic.SparkSession): Long = {
    val conf = spark.sessionState.conf
    val minPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) spark.sparkContext.defaultParallelism else 1)
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) 0L
    else if (minPartitions > 1) minSize
    else math.max(minSize, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }

  private def inputBytes(plan: LogicalPlan): BigInt =
    plan.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum

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
