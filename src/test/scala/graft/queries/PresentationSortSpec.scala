package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** The declared queries' closing ORDER BY, as `SparkEntry.queries` builds
  * it through `PresentationSort`: the census over every query, the jobs it
  * saves, and the rows it keeps in order.
  */
class PresentationSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val raw = GroupA.queries ++ GroupB.queries ++ GroupC.queries ++ GroupD.queries

  private def exchanges(p: SparkPlan): Int =
    p.toString.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))

  /** Whether the first global Sort down the plan's root spine sits on a
    * range exchange. */
  private def rangeSorted(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => rangeSorted(a.initialPlan)
    case s: SortExec if s.global => s.child match {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _: ShuffleExchangeExec => false
    case u: UnaryExecNode => rangeSorted(u.child)
    case _ => false
  }

  private def planned(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Queries that keep their range sort at sf0.001. b34's root is a
    * `WithCTE`, not a Sort. The next seven read checkpointed frames
    * (`LogicalRDD`) whose size estimates, carried over from the plans they
    * checkpoint, exceed the 1 MB bound: 382 MB for d100, 10^16 bytes and
    * more for the rest. In the second set Spark's estimate for the Sort's
    * child exceeds 1 MB, mostly because it multiplies a join's sides. */
  private val keepsRangeSort = Set("b34_recursive_spine", "d14_dedup_clusters", "d22_pipeline_e2e",
    "d31_dedup_clusters_star", "d46_dedup_keep_best", "d80_image_clusters", "d81_image_keep_best",
    "d100_gated_frontier_plan") ++ Set(
    "b1_inner_join", "b24_range_join", "b2_outer_join", "b30_tpch_q5", "b35_salted_join",
    "b36_merge_scd", "b4_broadcast_join", "b50_tpch_q15", "b51_tpch_q7", "b52_tpch_q8",
    "b53_tpch_q13", "b56_tpch_q12", "b57_tpch_q9", "b59_tpch_q11", "b60_tpch_q16",
    "c18_warc_revisit", "c2_dedup_near", "c7_containment", "d11_ann_ivf", "d13_ann_topk",
    "d19_decontaminate", "d1_dedup_minhash_lsh", "d23_bloom_decon", "d24_fuzzy_join",
    "d2_dedup_simhash", "d30_containment_probe", "d33_ann_pq", "d35_filtered_knn",
    "d36_filtered_ann", "d37_split_sharded", "d3_knn_join", "d42_outlier_docs",
    "d43_containment_minhash", "d44_contamination_report", "d47_source_overlap", "d48_label_knn",
    "d49_label_purity", "d4_ann_lsh", "d50_temperature_sample", "d51_embedding_drift",
    "d52_label_knn_ann", "d55_snapshot_diff", "d57_fuzzy_join2", "d58_lm_score", "d60_ann_ivfpq",
    "d61_budget_assembly", "d62_hard_negatives", "d68_data_card", "d73_bpe_encode",
    "d76_lang_confusion", "d77_remove_shared_chunks", "d78_image_dedup", "d82_audio_dedup",
    "d84_png_dedup", "d85_video_dedup", "d86_cross_format_dedup", "d87_gif_dedup", "d97_fetch_plan")

  test("census: no query gains an exchange, and no small query's root Sort is range-partitioned") {
    val grown = Seq.newBuilder[String]
    val ranged = Seq.newBuilder[String]
    for (q <- raw.keys.toSeq.sorted) {
      val before = planned(raw(q)(spark, sf))
      val after = planned(SparkEntry.queries(q)(spark, sf))
      if (exchanges(after) > exchanges(before)) grown += s"$q: ${exchanges(before)} -> ${exchanges(after)}"
      if (rangeSorted(after)) ranged += q
    }
    val g = grown.result()
    val r = ranged.result().toSet
    assert(g.isEmpty && r == keepsRangeSort, s"more exchanges: ${g.mkString(", ")}; range-sorted: ${r.toSeq.sorted}")
  }

  /** c13 reads one ~65 KB table at sf0.001, against the bytes AQE always
    * coalesces into one reducer: minPartitionSize (1 MB) while
    * parallelismFirst keeps the test session's 2 cores as the minimum
    * partition count, the larger of minPartitionSize and
    * advisoryPartitionSizeInBytes (64 MB) without it, none when AQE does
    * not coalesce. Each case: conf set on a new session, whether c13 keeps
    * its range sort. */
  private val guardCases = Seq(
    Map.empty[String, String] -> false,
    Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") -> true,
    Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") -> false,
    Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1") -> true,
    Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1") -> false,
    Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false") -> true)

  for ((conf, keeps) <- guardCases)
    test(s"c13 ${if (keeps) "keeps" else "drops"} its range sort under ${if (conf.isEmpty) "the defaults" else conf.mkString(", ")}") {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      assert(rangeSorted(planned(SparkEntry.queries("c13_url_normalize")(s, sf))) == keeps)
    }

  test("a cold c13 runs 2 Spark jobs through the wrapper, 3 raw (the range sample is gone)") {
    val q = "c13_url_normalize"
    val before = TestSpark.jobsDuring(raw(q)(spark, sf).collect())
    val after = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, sf).collect())
    assert(before.size == 3 && after.size == 2, s"raw $before, wrapped $after")
  }

  /** The perfbench queries, the queries whose Sort child already plans as
    * one partition (the wrapper leaves them as they are), and queries whose
    * sort keys tie (b12: 1,261 rows over 1,129 distinct keys at sf0.01). */
  private val orderChecked = Seq(
    "d27_kmeans", "c13_url_normalize", "c14_outlink_harvest", "d92_url_dedup",
    "d84_png_dedup", "d86_cross_format_dedup",
    "b40_tpch_q3", "b41_tpch_q10", "b42_tpch_q18", "c10_media_dedup_card", "d25_profile",
    "d38_bpe_pairs", "d56_pipeline_funnel", "d65_token_drift", "d66_skew_report",
    "d90_media_pipeline_e2e", "d93_url_pipeline_e2e", "d94_av_pipeline_e2e",
    "d96_crawl_ingest_e2e", "d99_warc_pipeline_e2e",
    "b12_set_ops", "a9_schema_drift")

  for (q <- orderChecked)
    test(s"$q: the wrapped query collects the raw query's rows in the same order (sf0.01)") {
      val dir = "/root/testdata/sf0.01"
      val wrapped = SparkEntry.queries(q)(spark, dir).collect().toSeq
      assert(wrapped == raw(q)(spark, dir).collect().toSeq)
    }
}
