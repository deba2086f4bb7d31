package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LeafNode, LocalLimit, LogicalPlan, Project, Repartition, Sort, WithCTE}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** The declared queries as `SparkEntry.queries` builds them through
  * `SmallQueryPlan`: a small query runs in one partition with no exchange,
  * and otherwise a small closing ORDER BY sorts in one partition. The
  * census over every query, the jobs each branch saves, the guard's bound
  * and shape rule, and the rows kept, in order.
  */
class PresentationSortSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val raw = SparkEntry.declared

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
    * child exceeds 1 MB, mostly because it multiplies a join's sides, and
    * the query does not run in one partition (b36, d2, d55 and the media
    * self-joins d78, d82, d84–d87 do, with no exchange left to sort over). */
  private val keepsRangeSort = Set("b34_recursive_spine", "d14_dedup_clusters", "d22_pipeline_e2e",
    "d31_dedup_clusters_star", "d46_dedup_keep_best", "d80_image_clusters", "d81_image_keep_best",
    "d100_gated_frontier_plan") ++ Set(
    "b1_inner_join", "b24_range_join", "b2_outer_join", "b30_tpch_q5", "b35_salted_join",
    "b4_broadcast_join", "b50_tpch_q15", "b51_tpch_q7", "b52_tpch_q8",
    "b53_tpch_q13", "b56_tpch_q12", "b57_tpch_q9", "b59_tpch_q11", "b60_tpch_q16",
    "c18_warc_revisit", "c2_dedup_near", "c7_containment", "d11_ann_ivf", "d13_ann_topk",
    "d19_decontaminate", "d1_dedup_minhash_lsh", "d23_bloom_decon", "d24_fuzzy_join",
    "d30_containment_probe", "d33_ann_pq", "d35_filtered_knn",
    "d36_filtered_ann", "d37_split_sharded", "d3_knn_join", "d42_outlier_docs",
    "d43_containment_minhash", "d44_contamination_report", "d47_source_overlap", "d48_label_knn",
    "d49_label_purity", "d4_ann_lsh", "d50_temperature_sample", "d51_embedding_drift",
    "d52_label_knn_ann", "d57_fuzzy_join2", "d58_lm_score", "d60_ann_ivfpq",
    "d61_budget_assembly", "d62_hard_negatives", "d68_data_card", "d73_bpe_encode",
    "d76_lang_confusion", "d77_remove_shared_chunks", "d97_fetch_plan")

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

  /** Leaves the plan reads through `Repartition(1, shuffle = false)`,
    * subquery plans included. */
  private def coalescedLeaves(df: DataFrame): Int =
    df.queryExecution.analyzed.collectWithSubqueries { case Repartition(1, false, _: LeafNode) => 1 }.size

  /** The leaf relations' summed size estimate, subquery plans included. */
  private def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LeafNode => l.stats.sizeInBytes }.sum

  private def collapsed(q: String, s: org.apache.spark.sql.SparkSession = spark, dir: String = sf): Boolean =
    coalescedLeaves(SparkEntry.queries(q)(s, dir)) > coalescedLeaves(raw(q)(s, dir))

  /** Queries that run in one partition with no exchange at sf0.001. The
    * rest: b34, c10, d100, d11, d14, d22, d31, d46, d56, d60, d80, d81,
    * d90, d94 and d97 read checkpointed frames (`LogicalRDD`) whose size
    * estimates exceed the 1 MB bound; d24 and d57 repartition their join
    * input to the session's parallelism, d95 and d98 read `Tables.fanned`
    * documents; the round-trips that read back a directory of part files
    * scan several files; the others would keep an exchange above a
    * `Union`, an `Expand` or a `Generate`, or a broadcast. */
  private val collapses = Set(
    "a11_orc_roundtrip", "a12_xml_roundtrip", "a13_avro_roundtrip", "a1_scan_project",
    "a2_filter_conditionals", "a5_defective_rows", "a6_header_inference", "a8_constant_column",
    "b10_topk_per_group", "b11_sort_limit", "b13_scalar_funcs", "b16_time_window", "b17_pivot",
    "b18_unpivot", "b19_array_agg", "b20_filtered_agg", "b21_percentile", "b22_asof_join",
    "b23_lead_lag", "b27_udaf_wmedian", "b28_set_ops_all", "b31_window_extras", "b32_sessionize",
    "b33_stats_corr", "b36_merge_scd", "b37_topk_native", "b38_range_frame", "b43_tpch_q1",
    "b44_tpch_q6", "b5_hash_agg", "b8_window_rank", "b9_window_frame", "c11_markup_extract",
    "c12_markup_gopher", "c13_url_normalize", "c14_outlink_harvest", "c15_robots_gate",
    "c16_warc_extract", "c1_dedup_exact", "c4_text_analysis", "c5_multimodal_cols", "c6_pii_redact",
    "c8_media_meta", "c9_media_card", "d12_sketch_stats", "d15_stratified_split", "d17_quota_sample",
    "d18_repetition", "d20_pack_sequences", "d21_quantize_embed", "d26_mix_upsample", "d27_kmeans",
    "d28_chunk_overlap", "d2_dedup_simhash", "d38_bpe_pairs", "d40_length_histogram",
    "d41_bigram_novelty_cms", "d53_ivf_maintain", "d55_snapshot_diff", "d63_bpe_train", "d64_hashed_tf",
    "d65_token_drift", "d69_gopher_rules", "d6_quality_score", "d70_zipf_fit", "d71_doc_entropy",
    "d74_cdc_chunks", "d78_image_dedup", "d79_image_resize", "d7_token_count", "d82_audio_dedup",
    "d84_png_dedup", "d85_video_dedup", "d86_cross_format_dedup", "d87_gif_dedup", "d8_fingerprint",
    "d91_domain_cap", "d92_url_dedup")

  test("census: the queries that run in one partition with no exchange") {
    val got = raw.keys.filter(q => collapsed(q)).toSet
    assert(got == collapses, s"in one partition: ${got.toSeq.sorted.mkString("\"", "\", \"", "\"")}")
    val staged = got.filter(q => exchanges(planned(SparkEntry.queries(q)(spark, sf))) > 0)
    assert(staged.isEmpty, s"exchanges left: $staged")
  }

  test("a cold c13 runs 1 Spark job through the wrapper, 3 raw (no exchange, no range sample)") {
    val q = "c13_url_normalize"
    assert(exchanges(planned(SparkEntry.queries(q)(spark, sf))) == 0)
    val before = TestSpark.jobsDuring(raw(q)(spark, sf).collect())
    val after = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, sf).collect())
    assert(before.size == 3 && after.size == 1, s"raw $before, wrapped $after")
  }

  test("d84's self-join plans no Exchange and a cold run is 1 Spark job") {
    val q = "d84_png_dedup"
    assert(exchanges(planned(SparkEntry.queries(q)(spark, sf))) == 0)
    val jobs = TestSpark.jobsDuring(SparkEntry.queries(q)(spark, sf).collect())
    assert(jobs.size == 1, s"jobs: $jobs")
  }

  for (q <- Seq("d57_fuzzy_join2", "d95_frontier_discovery"))
    test(s"$q sets its own partition count and is not read in one partition") {
      assert(leafBytes(raw(q)(spark, sf)) <= BigInt(1 << 20),
        s"$q is over the bound at $sf; the case would not test the shape rule")
      assert(!collapsed(q))
      assert(exchanges(planned(SparkEntry.queries(q)(spark, sf))) == exchanges(planned(raw(q)(spark, sf))))
    }

  test("c13's leaves 1 byte over the bound are left alone; at the bound they run in one partition") {
    val q = "c13_url_normalize"
    val leaves = leafBytes(raw(q)(spark, sf))
    def at(bound: BigInt): Boolean = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", bound.toString)
      collapsed(q, s)
    }
    assert(at(leaves) && !at(leaves - 1))
  }

  for ((conf, keeps) <- guardCases)
    test(s"c13 ${if (keeps) "stays as declared" else "runs in one partition"} under ${if (conf.isEmpty) "the defaults" else conf.mkString(", ")}") {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      assert(collapsed("c13_url_normalize", s) == !keeps)
    }

  /** Whether the query's rows come out in a declared order: a global Sort
    * at the root, under projections and limits. */
  private def ordered(p: LogicalPlan): Boolean = p match {
    case Sort(_, true, _, _) => true
    case w: WithCTE => ordered(w.plan)
    case _: Project | _: GlobalLimit | _: LocalLimit => ordered(p.children.head)
    case _ => false
  }

  test("every query read in one partition collects the declared query's rows, in order where it ends in ORDER BY") {
    val differ = Seq.newBuilder[String]
    for (q <- collapses.toSeq.sorted) {
      val declared = raw(q)(spark, sf)
      val want = declared.collect().toSeq
      val got = SparkEntry.queries(q)(spark, sf).collect().toSeq
      val same = if (ordered(declared.queryExecution.analyzed)) got == want
        else got.map(_.toString).sorted == want.map(_.toString).sorted
      if (!same) differ += q
    }
    assert(differ.result().isEmpty, s"rows differ: ${differ.result().mkString(", ")}")
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
