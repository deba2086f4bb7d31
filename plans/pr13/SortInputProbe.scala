package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Repartition, Sort}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec, ShuffleQueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

import _root_.graft.SparkEntry
import _root_.graft.queries.{GroupA, GroupB, GroupC, GroupD}

/** Two probes of `PresentationSort`'s guard, at `local[4]` with 4 shuffle
  * partitions; each prints a TSV table on stdout.
  *
  * "sort input probe": for every declared query that `SparkEntry.queries`
  * changes, the leaf relations' summed `sizeInBytes`, Spark's size estimate
  * for the Sort's child, and the bytes its single-partition shuffle wrote
  * (the sort's input, from the map statistics AQE coalesces by).
  * PROBE_RUNS=<sfDir>=<q1,q2|*>;...
  *
  * "sort timing probe": median `collect()` wall time, raw against the same
  * query with `Repartition(1)` forced under its root Sort, interleaved.
  * TIMING_RUNS=<sfDir>=<q1,q2>;... and TIMING_REPS.
  *
  * Run it as a test suite: copy it to
  * `src/test/scala/org/apache/spark/sql/graft/` (it calls Spark's
  * package-private `Dataset.ofRows`), then
  * `sbt "testOnly org.apache.spark.sql.graft.SortInputProbe"`, and remove
  * it again: its `local[4]` session would replace the suite's shared one.
  */
class SortInputProbe extends AnyFunSuite {
  private lazy val spark = {
    val spark = SparkSession.builder().master("local[4]").appName("sort-input-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  test("sort input probe") {
    def sortShuffle(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => sortShuffle(a.executedPlan)
      case r: ResultQueryStageExec => sortShuffle(r.plan)
      case s: SortExec if s.global => s.collectFirst { case q: ShuffleQueryStageExec => q }
        .flatMap(_.mapStats).map(_.bytesByPartitionId.sum)
      case u: UnaryExecNode => sortShuffle(u.child)
      case _ => None
    }
    val runs = sys.env.getOrElse("PROBE_RUNS", "").split(";").toSeq.filter(_.nonEmpty).map { r =>
      val Array(dir, qs) = r.split("=")
      dir -> (if (qs == "*") SparkEntry.queries.keys.toSeq.sorted else qs.split(",").toSeq)
    }
    println("dir\tquery\tleaf_bytes\test_bytes\tsort_shuffle_bytes\tratio")
    for ((dir, qs) <- runs; q <- qs) {
      val df = SparkEntry.queries(q)(spark, dir)
      val a = df.queryExecution.analyzed
      a match {
        case s @ Sort(_, true, Repartition(1, true, child), _) =>
          val leaf = s.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum
          val est = child.stats.sizeInBytes
          df.collect()
          val shuf = sortShuffle(df.queryExecution.executedPlan).getOrElse(-1L)
          println(f"$dir\t$q\t$leaf\t$est\t$shuf\t${shuf.toDouble / leaf.toDouble}%.3f")
        case _ =>
      }
    }
  }

  /** The query with `Repartition(1)` under its root Sort, whatever its size. */
  private def forced(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.queryExecution.analyzed match {
      case s @ Sort(_, true, child, _) =>
        classic.Dataset.ofRows(ds.sparkSession, s.copy(child = Repartition(1, shuffle = true, child)))
      case _ => sys.error("no root Sort")
    }
  }

  /** Median wall time of `collect()`, raw against [[forced]], interleaved
    * (the order alternates per repetition) after one warm-up of each:
    * TIMING_RUNS=dir=q1,q2;... and TIMING_REPS (default 7). */
  test("sort timing probe") {
    val raw = GroupA.queries ++ GroupB.queries ++ GroupC.queries ++ GroupD.queries
    val reps = sys.env.getOrElse("TIMING_REPS", "7").toInt
    println("dir\tquery\traw_ms\tone_partition_ms\tratio")
    for (r <- sys.env.getOrElse("TIMING_RUNS", "").split(";").toSeq.filter(_.nonEmpty);
         Array(dir, qs) = r.split("="); q <- qs.split(",")) {
      def ms(f: => Unit): Double = { val t = System.nanoTime; f; (System.nanoTime - t) / 1e6 }
      val a = collection.mutable.ArrayBuffer[Double](); val b = collection.mutable.ArrayBuffer[Double]()
      for (i <- 0 to reps) {
        def x = ms(raw(q)(spark, dir).collect()); def y = ms(forced(raw(q)(spark, dir)).collect())
        val (xr, yr) = if (i % 2 == 0) { val t = x; (t, y) } else { val t = y; (x, t) }
        if (i > 0) { a += xr; b += yr }
      }
      def med(v: Seq[Double]) = v.sorted.apply(v.size / 2)
      println(f"$dir\t$q\t${med(a.toSeq)}%.1f\t${med(b.toSeq)}%.1f\t${med(b.toSeq) / med(a.toSeq)}%.3f")
    }
  }
}
