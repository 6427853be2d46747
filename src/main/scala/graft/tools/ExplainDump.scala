package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Writes formatted physical plans for the headline queries to PLANS.md —
  * reviewable evidence of scan pushdown, broadcast placement, and codegen
  * spans. Usage: runMain graft.tools.ExplainDump [outFile] [sfDir]
  */
object ExplainDump {
  /** The headline queries whose plans PLANS.md records. */
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q9_profit_by_nation", "q18_large_orders", "q21_sole_late_supplier",
    "d2_minhash_lsh", "d5_embedding_neardup", "d6_simhash_hamming",
    "s2_ann_lsh_topk", "s3_ann_ivf_topk", "rj1_range_join_count",
    "w_sessionize", "st_tumbling_window",
    "t9_tfidf_topterms", "d7_decontaminate", "ds1_dup_spans",
    "pr1_pagerank", "bf1_bloom_semijoin", "pack1_sequence_packing",
    "cdc1_merge_snapshot", "ii1_inverted_index", "t10_bigram_logprob",
    "ol1_max_concurrency", "pf1_column_profile", "ts1_gapfill_locf",
    "gq1_gopher_rules", "pii1_redaction", "sem1_semantic_dedup",
    "dsir1_importance_resample", "bpe4_encode", "tc1_triangle_count",
    "d9_prefix_filter_join", "pf2_numeric_profile",
    "ld1_segment_dedup", "lr1_quality_classifier", "qz1_int8_quant_ann",
    "cms1_countmin_freq", "oi2_interval_native", "t12_vocab_coverage",
    "rp1_random_projection",
    "pi1_phrase_search", "nv1_novelty_score", "knn1_knn_graph",
    "cdk1_content_chunking", "qf1_adaptive_floor", "mix3_epoch_schedule",
    "ord1_global_shuffle", "kc1_kcore_peel", "t11_pmi_collocations",
    "tm1_training_manifest", "mf1_manifest_fingerprint",
    "ev1_embedding_moments", "cal1_score_calibration", "sky1_pareto_front",
    "lp1_label_propagation",
    "q8_market_share", "q13_customer_distribution", "ec1_embedding_gram",
    "ent1_char_entropy", "reg1_linear_trend", "mk1_markov_transitions",
    "at1_attribution", "au1_rolling_active_users", "cp1_cusum_changepoint",
    "pca1_reconstruction_audit", "th1_theta_sketch_ops",
    "fc1_naive_backtest", "au2_rolling_sketch_mau", "ia1_interarrival_profile",
    "w13_running_ltv", "up1_user_profile", "hm1_dow_hour_heatmap",
    "ab1_ab_test_zscore", "rt2_cohort_ltv",
    "ao3_asof_native", "ao2_asof_forward", "gf1_gap_fill",
    "dl1_damerau_linkage", "skew1_key_skew_audit",
    "rb1_mad_outliers", "fh1_feature_hashing", "cl1_text_clean",
    "bfs1_reachability_levels", "mb1_market_basket",
    "path1_user_journeys", "gini1_activity_concentration",
    "hll1_hyperloglog", "rfm1_rfm_segmentation", "msf1_multiset_fingerprint",
    "bf1_bloom_membership", "qsk1_quantile_sketch",
    "rrf1_hybrid_fusion", "cf1_item_similarity",
    "seq1_skip_bigrams", "ri1_referential_integrity",
    "spm1_doc_topic_scores", "pad1_batch_pad_audit",
    "vp1_vocab_prune", "blb1_little_bootstraps",
    "snb1_sorted_neighborhood", "mw1_mann_whitney",
    "cuped1_variance_reduction", "pq1_product_quant",
    "rj2_band_join_native",
    "emb2_matryoshka_recall", "ndcg1_lsh_ranking_quality",
    "ams1_f2_sketch",
    "bp1_boilerplate_ngrams", "dp1_noisy_release",
    "mkl1_merkle_tree", "ac1_daily_autocorrelation",
    "sax1_series_symbolization", "hll2_sketch_rollup",
    "d6c_simhash_capped", "ivfpq1_ivf_adc_topk", "r2_ivf_recall")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local()
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of headline queries\n\n"
    sb ++= s"Generated by `graft.tools.ExplainDump` at $dir. Read for:\n"
    sb ++= "`PushedFilters` on scans, `ReadSchema` pruning, broadcast\n"
    sb ++= "exchanges on dimension joins, WholeStageCodegen coverage.\n"
    // at-a-glance shuffle/broadcast/sort/codegen census per query, from the
    // same plan strings dumped below — the 100 TB red-flag scan in one table
    val census = new StringBuilder
    census ++= "\n## Plan-shape census\n\n"
    census ++= "| query | shuffles | broadcasts | sorts | parquet scans | nested-loop |\n"
    census ++= "|---|---|---|---|---|---|\n"
    headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      def n(pat: String) = pat.r.findAllIn(full).size
      census ++= s"| $name | ${n("\\(\\d+\\) Exchange\\b")}" +
        s" | ${n("\\(\\d+\\) BroadcastExchange")} | ${n("\\(\\d+\\) Sort\\b")}" +
        s" | ${n("\\(\\d+\\) Scan parquet")} | ${n("\\(\\d+\\) BroadcastNestedLoopJoin")} |\n"
      sb ++= s"\n## $name\n\n```\n"
      sb ++= full
        .split("\n").takeWhile(!_.startsWith("===== Subqueries")).mkString("\n")
      sb ++= "\n```\n"
    }
    sb ++= census
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
    spark.stop()
  }
}
