package graft

/**
 * Benchmark main. Runs the headline queries against
 * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line:
 * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
 *
 * Each query is forced end-to-end with a `noop` write (count() alone can
 * skip projection work). One untimed warm-up of a small query amortizes
 * classloading/codegen JIT; each query is then timed once per PASS over
 * the whole list — three passes, each in a different shuffled order —
 * and the per-query MIN across passes is reported. Min-of-adjacent-runs
 * (the previous scheme) is not robust: one multi-second contention
 * window on the host inflates BOTH back-to-back samples of whichever
 * queries it lands on (r4's x22/x23/x24 were consecutive in run order
 * and "regressed" 3-5x together with zero code change). With interleaved
 * shuffled passes the same window hits different queries each pass and
 * the min discards it.
 *
 * DRIFT, ADJUDICATED (round 8; movement table in BENCH_ADJUDICATION.md):
 * the r5->r6 (+13%) and r6->r7 (+17%) total drifts — with zero code
 * diff on the moved queries — are HOST CONTENTION the min-of-3 did not
 * fully discard, not regressions: an idle-host rerun of the identical
 * r7 binary/list recovered the unchanged-query median to 0.89x of r7
 * (20/69 unchanged queries slower than r7, vs 57/71 "slower" in r7's
 * drift), and every unchanged >30% mover sits in the sub-second band
 * where the fixed ~0.2-0.5 s per-job overhead dominates (BENCH_CURVE's
 * noise floor). Cross-round totals therefore carry an environment error
 * bar of roughly +-15%; per-query comparisons below ~1 s are noise
 * unless they reproduce on an idle host. The expensive iterative CC
 * family gets 5 samples (2 extra, interleaved into the shuffled passes)
 * since a single contention window costs it the most absolute seconds.
 */
object Bench {

  /** Representative subset across pipeline / relational / extension ops. */
  private val headline: Seq[String] = Seq(
    "kq1_discover_hist", "kq1_discover_page", "kq2_search_key",
    "kq6_latest_state", "kq7_changelog", "kq8_multi_topic",
    "q1_agg", "q3_join_broadcast", "q4_join_large", "q5_window",
    "x1_dedup_exact", "x2_dedup_ngram", "x3_dedup_minhash",
    "x4_dedup_simhash", "x5_knn_brute", "x6_ann_ivf", "x8_quality",
    "x10_fingerprint", "x13_dedup_embed", "x15_tfidf",
    "x19_simhash_pairs", "x20_dedup_embed_lsh", "x21_dup_clusters",
    "x22_bm25_search", "x23_ann_multiprobe", "x24_unigram_logprob",
    "kq10_schema_evolution", "kq103_registry_decode",
    "q22_asof_join", "q23_range_join",
    "q24_salted_join", "q25_sessionize", "q26_funnel",
    "x26_dup_clusters_stars", "x27_embed_quantize", "x28_span_dedup",
    "x29_significant_terms", "x30_repetition", "x31_contamination",
    "kq13_rare_terms", "kq14_percentiles", "q27_window_ranks",
    "x32_dedup_containment", "q28_grouping_sets", "kq15_filters_agg",
    "kq16_top_hits", "kq17_hist_gapfill", "q29_sliding_range",
    "x33_ngram_novelty", "x34_keep_best", "q31_sequence_funnel",
    "x35_analyzed_search", "kq21_kql_freetext", "kq22_wire_path",
    "x36_weighted_sample", "x37_embed_cohesion", "x38_temperature_mixture",
    "x39_span_excise", "x40_phrase_match", "kq24_kql_phrase",
    "kq25_terms_by_metric", "x41_curation_decisions", "x42_ordered_near",
    "kq27_pipeline_aggs", "kq28_kql_slop", "x43_highlight", "kq29_heatmap",
    "x44_more_like_this", "x45_suggest", "x46_pack_bins", "kq30_range_agg",
    "x47_decontaminate", "x48_fuzzy_match", "kq31_kql_fuzzy",
    "kq32_stream_search", "x49_pack_lpt", "x50_hard_negatives", "x51_chunk",
    "kq33_composite_agg", "kq34_search_after", "kq35_auto_hist",
    "kq36_extended_stats", "kq37_bucket_script", "kq38_adjacency_matrix",
    "x52_epoch_shuffle", "x53_pii_redact", "kq39_percentile_ranks",
    "kq40_weighted_avg", "x54_class_balance", "x55_concat_pack",
    "x56_bigram_nll", "kq41_categorize_text", "kq42_stream_alert",
    "x57_incremental_dedup", "x58_normalize", "kq43_stream_dedup",
    "kq44_stream_alert_wm", "kq45_stream_dedup_wm",
    "x59_dedup_index_reuse", "x61_ann_index_reuse",
    "x62_dedup_index_probe", "x63_ann_index_probe",
    "x64_dedup_index_append", "x60_pipeline",
    "x12_media_decode", "x65_media_resize", "x66_wav_decode",
    "q32_skew_join", "x67_split", "x68_ann_index_append",
    "kq46_stream_join", "kq47_stream_join_outer", "x69_hybrid_rrf",
    "kq48_stream_session", "x70_quality_classifier", "x71_semdedup",
    "kq49_stream_inactivity", "kq50_stream_enrich", "kq51_moving_fn",
    "x72_snapshot_diff", "x73_vocab_build", "x74_range_shards",
    "x75_bpe_train", "x76_bpe_tokenize", "x77_ccnet_buckets", "x78_pq",
    "x79_dsir", "kq52_matrix_stats", "kq53_stream_exactly_once",
    "q33_bloom_join", "q34_dpp_join",
    "kq54_collapse", "kq55_percolate", "x80_mmr", "x81_random_projection",
    "x82_video_frames", "x83_ann_recall", "x84_rank_eval", "x85_dataset_card", "x86_dedup_eval", "q35_aqe_bhj", "x87_tokenizer_eval", "kq56_stream_cep", "x88_index_merge", "x89_terms_set", "x90_semdedup_eval",
    "x91_dp_release", "x92_k_anonymity", "kq57_forget_key",
    "kq104_forget_batch",
    "x93_stream_index_append", "kq58_moving_model", "q36_recursive",
    "q37_variant", "x94_hll_cardinality", "x96_cms_topk", "x95_pagerank",
    "kq59_geo_grid", "kq60_geo_distance", "kq61_stream_chain",
    "kq62_anomaly", "kq63_function_score", "q38_unpivot",
    "x97_ivfpq_search", "x98_image_phash", "q39_lateral",
    "x99_unigram_tokenize", "kq64_downsample", "x100_token_budget",
    "kq65_sliding_uniques", "kq102_sliding_uniques_serve",
    "x101_multi_match", "kq66_terms_enum",
    "kq67_retention", "x102_ivfpq_probe", "x103_audio_fingerprint",
    "kq68_gap_detection", "x104_triangles", "x105_adamic_adar",
    "kq69_string_stats", "kq70_t_test", "kq71_mad",
    "q40_zorder", "q41_attribution", "q42_rfm", "q43_listagg",
    "x106_bloom_decontaminate", "kq72_interpolate",
    "kq73_diversified_sampler", "kq74_state_audit",
    "kq75_counter_rate", "x107_curriculum", "x108_ddsketch",
    "kq76_histogram_quantile", "kq77_boxplot", "x109_exact_substr",
    "kq78_frequent_itemsets", "kq79_change_point", "q44_scd2",
    "kq80_moving_median", "kq81_variable_width_histogram",
    "kq82_geo_centroid", "kq83_stream_map_state", "q45_temporal_join",
    "q46_incremental_agg", "kq84_random_sampler", "q47_sql_udf",
    "kq85_top_metrics", "kq86_multi_terms", "kq87_cumulative_cardinality",
    "kq88_serial_diff", "kq89_scripted_metric", "q48_pivot",
    "q49_dq_audit", "x110_gopher_rules", "x111_kmv_theta",
    "x112_semantic_pack", "kq90_bucket_pipeline", "q50_merge",
    "q51_ordered_set", "x113_triplet_mining", "x114_silhouette",
    "kq91_rate", "kq92_boxplot", "q52_qualify",
    "x115_tokenizer_fertility", "x116_length_bins", "kq93_rescore",
    "q53_bitmap_distinct", "q54_nullsafe_join", "x117_winnowing",
    "x118_matryoshka", "x119_scene_cuts", "x120_kcore", "x126_cdc_blocks",
    "kq94_stream_topk", "kq95_eql_until", "kq96_terms_shard_error",
    "x121_l_diversity", "kq97_alert_throttle", "x122_unigram_entropy",
    "kq98_pit_state", "x123_fim_split", "x124_span_corruption", "q55_asof_tolerance",
    "kq99_geo_line", "x125_audio_segments", "kq100_tiered_rollup", "q56_try_cast",
    "q57_not_in_trap", "kq101_incremental_restart",
    "x127_line_dedup", "x128_domain_cap", "x129_simhash64_pairs",
    "kq105_sliding_uniques_stream", "x130_leakage_split",
    // round-14 completeness: EVERY driver entry is benched — the 37
    // early-round primitives that predated the headline list (a
    // regression there was invisible; "no silent caps" applies to the
    // harness too) plus the new kq106. kq23/kq106 each run a real
    // multi-batch streaming replay; their cost is the fixed harness
    // band, not data volume.
    "kq3_search_key_topic", "kq4_search_field", "kq4b_search_json",
    "kq5_tombstones", "kq9_sql_surface", "kq11_hist_breakdown",
    "kq12_trend", "kq18_kql", "kq19_numeric_hist", "kq20_composite_after",
    "kq23_stream_key_stats", "kq26_kql_exists",
    "q2_topk", "q6_setops", "q7_string", "q8_datetime", "q9_math",
    "q10_distinct_having", "q11_rollup", "q12_semi", "q13_anti",
    "q14_array", "q15_map", "q16_typed_agg", "q17_pivot", "q18_cube",
    "q19_hash_sample", "q20_sketch", "q21_stats", "q30_correlated_exists",
    "x7_langid", "x9_tokens", "x11_media_meta", "x14_media_frames",
    "x16_anonymize", "x17_mixture", "x18_langid_ngram",
    "kq106_percolate_stream", "x131_ivfpq_serve", "kq107_geotile_grid",
    "kq108_ip_prefix", "x132_unimax_mixture", "x133_label_prop",
    "kq109_stream_geofence", "x134_bootstrap_ci", "x135_filter_agreement",
    "x136_unigram_drift",
    "kq110_geo_polygon", "kq111_polygon_fence", "x139_optout_filter",
    "x137_unigram_em", "x138_bitext_mine", "kq112_stream_pipeline",
    "x140_bitext_ann", "x141_filtered_knn", "x142_unigram_nbest",
    "x143_linear_fusion", "kq113_geo_multipolygon",
    "x144_retriever_tree",
    "x145_unigram_sample", "x146_rescorer", "x147_fertility")

  /** Iterative connected-components queries: the most expensive family,
    * sampled 5x (3 passes + 2 extra rides shuffled inside the first two
    * passes) so one contention window can't own their min. */
  private val ccFamily: Set[String] =
    Set("x21_dup_clusters", "x26_dup_clusters_stars", "x34_keep_best")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated entry names to bench instead of the
    // headline list (scaling probes over subsets, e.g. the sf1 probe)
    val picked = args.headOption.map(_.split(",").toSeq.map(_.trim)
      .filter(_.nonEmpty)).getOrElse(headline)
    val spark = Session.builder().getOrCreate()

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up (untimed): JIT + codegen + parquet footers for both the
    // relational and the events-pipeline read paths
    run("q2_topk"); run("kq2_search_key")

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (pass <- 0 until 3) {
      // deterministic per-pass shuffle — different adjacency each pass;
      // the CC family's 2 extra samples (min-of-5) ride INSIDE the first
      // two shuffled passes rather than back-to-back after them, so one
      // contention window can't own all their extra samples either
      val extra = if (pass < 2) ccFamily.toList else Nil
      val order = new scala.util.Random(42L + pass)
        .shuffle(picked ++ extra.filter(picked.contains))
      order.foreach(n => samples(n) ::= run(n))
    }
    val results = picked.map { n =>
      val ok = samples(n).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
