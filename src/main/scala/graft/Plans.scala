package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plans of representative queries to
  * PLANS.md — the `.explain("formatted")` review artifact backing the
  * 100 TB design notes in README.md. Run:
  * `sbt "runMain graft.Plans /root/testdata/sf0.01"`. */
object Plans {

  private val picks = Seq(
    "kq1_discover_hist" -> "histogram: envelope prunes to a one-column scan",
    "kq2_search_key" -> "key search: filter pushed below the envelope projection",
    "q2_topk" -> "top-k: TakeOrderedAndProject, no global sort",
    "q3_join_broadcast" -> "star join: BroadcastHashJoin chain, fact never shuffles",
    "q4_join_large" -> "fact-fact join: single shuffle on the join key, filter below join",
    "x2_dedup_ngram" -> "near-dup: Bayardo prefix-filtered candidate join (rarest shingles only)",
    "x5_knn_brute" -> "kNN: broadcast queries, native codegen cosine in the scan stage",
    "x13_dedup_embed" -> "exact near-dup: blocked equi-join, NO CartesianProduct/BNLJ on the corpus",
    "x20_dedup_embed_lsh" -> "LSH near-dup: band-key equi-join, map-only signatures",
    "x6_ann_ivf" -> "IVF: zero-shuffle nearest-centroid assignment (no crossJoin+window)",
    "x3_dedup_minhash" -> "minhash LSH: signature computed once, bands exploded from it",
    "x19_simhash_pairs" -> "simhash Hamming: block join over DISTINCT signatures, expansion joins sized by output",
    "q22_asof_join" -> "as-of join: one window pass on user_id, no inequality-join fanout",
    "q23_range_join" -> "range join: interval bucketization -> shuffled equi-join, no CartesianProduct/BNLJ",
    "q24_salted_join" -> "salted hot-key join: exchange hashes on (key, _salt)",
    "q25_sessionize" -> "sessionization: two windows + aggregation share ONE user_id shuffle",
    "x30_repetition" -> "repetition signals: native bigram_stats, map-only scan (zero shuffle before the output sort)",
    "x31_contamination" -> "contamination: test-set span table broadcast, training side never shuffles",
    "x32_dedup_containment" -> "containment: prefix(doc) joins FULL postings of rare shingles only",
    "q28_grouping_sets" -> "grouping sets: ONE Expand + partial/final hash agg, not three scans",
    "kq16_top_hits" -> "top_hits: per-group bounded window, partition key data-driven",
    "kq18_kql" -> "parsed KQL string: predicate reaches the scan exactly like a hand-written Column",
    "x33_ngram_novelty" -> "novelty: explode + shingle-df agg + join, no distinct pass (shingles pre-distinct per doc)",
    "x22_bm25_search" -> "BM25: (id,term) distinct + conditional sums for df — NO multi-distinct Expand; 1-row stats broadcast",
    "x35_analyzed_search" -> "analyzed search: native analyze_tokens in the scan stage, same postings-pruned shape as x22",
    "kq21_kql_freetext" -> "analyzed KQL free text: token-membership predicate evaluated in the scan stage",
    "kq22_wire_path" -> "wire path: encode->decode->SMT chain fused into ONE map-only stage before the output sort",
    "x36_weighted_sample" -> "weighted sample: map + TakeOrderedAndProject top-k, no global sort",
    "x37_embed_cohesion" -> "embed cohesion: (label,pos)-bounded agg, centroid table broadcast back",
    "x38_temperature_mixture" -> "temperature mixture: quota table broadcast, one per-source window rank",
    "x39_span_excise" -> "span excise: explode + md5-keyed dup agg + ordered per-doc rebuild, no all-pairs",
    "x40_phrase_match" -> "match_phrase: native phrase_match predicate in the scan stage, map-only before the output sort",
    "kq24_kql_phrase" -> "KQL quoted phrase: analyzed positional predicate evaluated in the scan, AND-composed with the range filter",
    "kq25_terms_by_metric" -> "terms-by-metric: hash agg + TakeOrderedAndProject on the decimal-exact sum",
    "x41_curation_decisions" -> "composed curation: quality/bucket columns fused map-side; span gate adds ONE explode + md5 agg + join — one pass, no inter-stage materialization",
    "x42_ordered_near" -> "span_near: native phrase_near predicate in the scan stage, map-only before the output sort",
    "kq28_kql_slop" -> "Lucene \"a b\"~N via KQL: sloppy-proximity predicate evaluated in the scan, AND-composed with the range filter",
    "x44_more_like_this" -> "MLT: data-driven query terms as a BROADCAST 3-row frame into the postings join — one plan, no collect, no plan-time term literals",
    "x46_pack_bins" -> "batch packing: the assignment window partitions on the SHARD key (no global sort); bin sums are a second bounded window",
    "x47_decontaminate" -> "decontamination excision: covered positions aggregate to ONE array per CONTAMINATED doc (matched-span-sized shuffle); intact docs join back and excise via index-aware filter — the training token stream is never exploded for the rebuild",
    "x48_fuzzy_match" -> "fuzzy search: native fuzzy_match predicate (length pre-filter + early-abandon DP) in the scan stage, map-only before the output sort",
    "x43_highlight" -> "multi-fragment highlighting: NATIVE short-circuiting token_positions scan in the scan stage (20x over the interpreted filter-over-sequence form), capped at 3 BEFORE the explode — bounded fanout, map-only",
    "x49_pack_lpt" -> "true per-shard LPT packing: ONLY the per-shard LONG size arrays shuffle (8B/doc); the sequential least-loaded fold is one native codegen'd pass per shard, result joins back on (shard, rank)",
    "x50_hard_negatives" -> "hard-negative mining: label inequality fused into the broadcast-queries candidate scan BEFORE scoring; per-query state is one k-row window heap",
    "x51_chunk" -> "token chunking: map-only explode(sequence)+slice inside codegen, no shuffle except the output sort",
    "kq33_composite_agg" -> "composite agg paging: the after-key tuple filter sits BELOW the aggregate at the scan, and the page is a TakeOrderedAndProject top-k in key order — the full bucket set is never materialized",
    "kq34_search_after" -> "search_after: keyset cursor evaluated in the scan stage BELOW the envelope projection (the derived nanos->micros timestamp blocks parquet-level pushdown) + TakeOrderedAndProject — deep pages cost O(page), not O(depth)",
    "kq35_auto_hist" -> "auto_date_histogram: 1-row bounds aggregate broadcast back over the scan (scalar-attach idiom); one hash agg on the chosen rung",
    "kq36_extended_stats" -> "extended_stats: ONE partial+final hash aggregate carrying exact int64 cents moments; variance/std are projections above it",
    "kq37_bucket_script" -> "bucket_script: one hash agg; the script is an integer-division projection ABOVE the bucket results, exactly ES's evaluation order",
    "kq38_adjacency_matrix" -> "adjacency_matrix: ONE scan, one 1-row conditional aggregate for every matrix cell — no joins, no self-product",
    "x52_epoch_shuffle" -> "epoch shuffle: map-only md5 batch assignment; the only shuffle is the (epoch, batch)-partitioned position window — no global sort, no single-partition window",
    "x53_pii_redact" -> "PII redaction: map-only regex projection; the only exchange is the output sort",
    "kq39_percentile_ranks" -> "percentile_ranks: one conditional 1-row aggregate counting every bound in a single scan",
    "kq40_weighted_avg" -> "weighted_avg: JSON weight extracted in the scan-side projection, exact int64 sums, one hash agg",
    "x54_class_balance" -> "class balancing: 1-row broadcast target; md5-ranked window per stratum (the documented exact-count cost)",
    "x55_concat_pack" -> "concat packing: one (doc_id, est_tokens) running-sum window per shard — 16 B/doc shuffle, boundary cut is a projection",
    "x56_bigram_nll" -> "bigram LM: bigram postings joins + 1-row broadcast N; 9dp-rounded DECIMAL-summed contributions, no collect",
    "kq41_categorize_text" -> "categorize_text: one projection (bounded per-message token walk) + one hash aggregate",
    "x57_incremental_dedup" -> "incremental dedup: ONE signature subtree; the band join is strictly new-batch x corpus (filtered sides), never corpus self-join",
    "x58_normalize" -> "normalization: map-only regex projection; the only exchange is the output sort",
    "x59_dedup_index_reuse" -> "index reuse: query-time corpus side is the STORED band-key-bucketed signature table (no documents rescan, no re-shingling, no corpus-side exchange); only the batch side shingles+shuffles",
    "x61_ann_index_reuse" -> "IVF index reuse: probe joins the STORED assignment table only — no embeddings scan, no k-means rerun in the query plan",
    "q32_skew_join" -> "planted heavy key: plain shuffled join, AQE splits the hot partition at runtime (SkewSpec pins skew=true)",
    "q33_bloom_join" -> "selective join: at scale the optimizer plants a creation-side BloomFilterAggregate and injects bloom_filter_might_contain into the probe scan (JoinOptSpec pins it at fixture-proportionate thresholds) — probe rows die before the shuffle",
    "q34_dpp_join" -> "date-partitioned fact x filtered calendar dim: DynamicPruningExpression turns the dim filter into a runtime partition filter on the fact scan — weekend query reads 2/7 of the partitions (JoinOptSpec pins the expression)",
    "x12_media_decode" -> "real PPM decode: map-only mapPartitions codec, no shuffle, payloads never on the driver",
    "x66_wav_decode" -> "real WAV chunk-walk decode: map-only flatMap to per-channel rows",
    "x67_split" -> "stratified hash split: map-only projection + one tiny aggregate",
    "x68_ann_index_append" -> "IVF segment append: stored-centroid assignment (broadcast scalar), bucketed segment scan union, one global top-k",
    "x60_pipeline" -> "composed curation pipeline: normalize fuses into the scans; dedup is the band join + one left-anti; decontam spans broadcast; chunk is map-only; pack + epoch shuffle are two slim windows — NOTHING materialized between stages",
    "x70_quality_classifier" -> "model-based quality filter: native hashed_linear_score fold in the scan-side projection — no explode, no shuffle except the output sort",
    "x71_semdedup" -> "SemDeDup: zero-shuffle centroid assignment, then the pairwise verify joins ONLY within cluster buckets; dominance is a grouped aggregate + left join, no global all-pairs",
    "x72_snapshot_diff" -> "snapshot diff: per-side md5 digests computed in the scan stage, ONE full-outer hash join on doc_id — two corpus scans, one co-partitioned shuffle pair, no driver state",
    "x73_vocab_build" -> "vocab build: explode + token-keyed hash agg (reduce cardinality = vocabulary) materialized ONCE (localCheckpoint — probed: the pruned total branch defeats exchange reuse), top-V via TakeOrderedAndProject and total as a vocab-frame agg both read the materialized counts — one corpus pass, never a global sort",
    "x76_bpe_tokenize" -> "BPE apply: the per-doc rollup joins the BROADCAST merged word-type table (words tokenized once on types, 12 training rounds already folded into the checkpointed frame) — the corpus text is never re-tokenized per occurrence",
    "x79_dsir" -> "DSIR: stats pass is explode+agg onto a 2048-row bucket table; the weight table is a bounded driver sync folded back as a LITERAL, so scoring is one native map-only fold per doc (no second explode, no join) + Gumbel top-k via TakeOrderedAndProject",
    "kq52_matrix_stats" -> "matrix_stats: ONE partial+final hash aggregate carrying all five exact DECIMAL joint moments; numerators and correlation are projections above it",
    "kq54_collapse" -> "field collapse: per-key top-1 is a bounded window partitioned on the data-driven key (one key shuffle, never a global sort); the collapsed page itself is a TakeOrderedAndProject top-k",
    "kq55_percolate" -> "percolate: ONE scan computes every stored query's verdict as an array of structs — explode + filter, map-only; no join, no shuffle, cost is one pass regardless of registry size",
    "kq106_percolate_stream" -> "streaming percolator: kq55's map-only verdict array per micro-batch (stateless, no state store), then kq97's greedy throttle per stored query — cross-batch state is ONE chain-tail timestamp per query on the driver, per-batch chain distributed via flatMapSortedGroups over alert-sized groups",
    "x80_mmr" -> "MMR re-rank: ONE corpus-sized relevance pass (broadcast queries), then every greedy round operates on the bounded nQueries x nCand page — localCheckpoint keeps lineage flat across the k rounds",
    "x81_random_projection" -> "JL random projection: ONE native RademacherSketch loop per row (map-only, scan-speed) — the 64-column declarative fold exceeds janino's 64KB method limit and drops to interpreted; sketch + norm audit in a single pass",
    "x82_video_frames" -> "video frame sampling: per-partition PPM-stream walk (header-parsed boundaries), skipped frames never pixel-walked; zero shuffle before the output sort, payloads never reach the driver",
    "x83_ann_recall" -> "ANN recall eval: the exact leg runs on the QUERY SAMPLE only (nQueries x N, never N^2); comparison is a left join of two k x nQueries frames + one tiny aggregate",
    "x84_rank_eval" -> "rank_eval: ONE postings-pruned pass builds tf/df/judgments together; rankings are per-term bounded windows over score>0 postings, every downstream frame judgment-sized",
    "x85_dataset_card" -> "dataset card: one doc-level pass feeds the source rollup + content-hash dup tally; one explode pass feeds the vocab agg; all joins AFTER aggregation on the handful-of-groups source key",
    "x86_dedup_eval" -> "dedup eval: both pair legs reuse their pinned plans over the augmented corpus; the comparison is one full-outer join on (d1,d2) + a 1-row aggregate — at scale the truth leg runs on a sample",
    "q35_aqe_bhj" -> "AQE runtime broadcast: the aggregate-derived dim defeats static sizing (initial plan SMJ); the finished stage is tiny and the FINAL adaptive plan is a BroadcastHashJoin over materialized query stages",
    "x87_tokenizer_eval" -> "tokenizer eval: the tokenize-on-TYPE-table path (text never re-tokenized per occurrence) + one doc-level join and per-source rollup — exact integer permilles",
    "kq56_stream_cep" -> "CEP pattern alert: transformWithState LIST state, per-user state bounded by rate x (delay + window) via lossless wm - window eviction; alerts fire on arrival so no tail rule",
    "x88_index_merge" -> "index compaction: ONE bucketed rewrite of signature rows (no recompute, no corpus pass); the probe then scans a SINGLE merged bucketed segment instead of one join per segment",
    "x90_semdedup_eval" -> "semdedup eval: blocked exact tau-pairs (truth, sample-sized at scale) joined twice to the broadcast nearest-centroid assignment; one 1-row aggregate",
    "x94_hll_cardinality" -> "HLL cardinality: one explode + map-side-combinable agg into the 64-register domain per (source, field); the __all__ sketch is a register-max AGG OVER SKETCH ROWS — raw tokens are never re-read for the merge",
    "x95_pagerank" -> "pagerank: edge build = one within-cluster pair join + bounded top-k window, then 6 rounds of ONE edge join + ONE dst aggregation each (localCheckpoint lineage cuts) — O(E) per round, the CC iteration shape",
    "x97_ivfpq_search" -> "IVF+PQ: candidate codes + bucket from ONE scan projection (literal-codebook codegen folds); broadcast queries carry their PRECOMPUTED 16-cell LUT array; the bucket equi-join is the IVF prune; per-candidate ADC = 4 element_at + adds in codegen",
    "x131_ivfpq_serve" -> "IVF+PQ out-of-corpus serving: NO embeddings scan, no training — stored codes table + broadcast unseen queries (bucket assigned by zero-shuffle nearest_centroid over the persisted centroids); LUT-array ADC as x97",
    "x98_image_phash" -> "image phash: per-partition real PPM decode -> 4 band rows per image; candidates via band equi-join (Manku pigeonhole, lossless at Hamming<=3); verification joins hash rows, payloads never shuffle",
    "x99_unigram_tokenize" -> "unigram tokenize: corpus pass = word-TYPE count; piece counting explodes the BOUNDED type table; vocab is a ~40-row plan-time constant inlined into the native Viterbi — segmentation is map-only on types",
    "kq65_sliding_uniques" -> "sliding uniques: hourly registers once, then a range join of the TINY register table against the broadcast bucket list + register-max agg — the trailing-24h merge never rescans events",
    "x101_multi_match" -> "multi_match: two per-field BM25 legs (each its own postings-pruned pass + field stats), full-outer fused in exact half-micro ints; the global top-k happens once after fusion",
    "x92_k_anonymity" -> "k-anonymity: two tiny aggregates above one scan — level-0 counts + a region re-aggregate of only the FAILING groups (bottom-up local recoding), nation dim broadcast",
    "kq57_forget_key" -> "right to erasure: pushed-filter discovery + ONE staged rewrite of all hit partitions (constant Spark jobs; audit from staged parquet footers) + metadata-only swap — erasing one subject costs their partitions, never a table rewrite or a job per partition",
    "kq104_forget_batch" -> "batch erasure: N subjects share the ONE discovery scan (IN filter pushed) and the ONE staged rewrite of the union of hit partitions — receipts per (subject, partition), job count independent of batch size",
    "kq102_sliding_uniques_serve" -> "sliding uniques SERVING path: one events pass builds hourly HLL registers; the trailing-24h merge range-joins the tiny register table against a register-derived bucket list — no distinct, no pairs expansion anywhere in the plan",
    "kq103_registry_decode" -> "registry decode: per-task REST schema resolution folds into the same map-only decode stage as the static-map plan (the resolver is executor-cached config, invisible to the plan shape)",
    "x93_stream_index_append" -> "streaming index maintenance: each trigger pays only its own shingle/signature pass + a segment-sized idempotent write; the corpus index is never touched, the probe is the x64 contract",
    "x109_exact_substr" -> "ExactSubstr dedup: ONE posexplode + md5-keyed occurrence agg (uniform keys) + join back; island merge is a per-doc window pair; the rebuild filters the doc's own token array against its island list — linear in corpus tokens, no all-pairs",
    "kq78_frequent_itemsets" -> "frequent_item_sets: ordered self-joins over the frequent-1-pruned basket table; the user count is a broadcast 1-row scalar attached to every support filter",
    "q44_scd2" -> "SCD2 build: change-detect lag + interval lead share ONE per-customer shuffle; per-key state is the key's own history",
    "q45_temporal_join" -> "temporal SCD2 lookup: orderkey equi-join for the customer key, then a custkey equi-join with the validity range as a post-join filter — per-key version fanout bounded by change history",
    "q46_incremental_agg" -> "incremental view maintenance: base and delta are map-side-combinable aggs on the same key merged by addition; the cutoff is a broadcast 1-row scalar",
    "kq81_variable_width_histogram" -> "variable_width_histogram: gap ranking + boundary prefix-sum run over the DISTINCT-value domain; the raw stream is touched twice, both map-side-combinable",
    "kq93_rescore" -> "rescore: first pass is a distributed top-k (TakeOrderedAndProject), never a corpus-wide window; the secondary scorer and both rank windows run on the 50 survivor rows",
    "q53_bitmap_distinct" -> "bitmap distinct: fine bitmaps built in one fact pass; the flag rollup re-aggregates BITMAPS (bitmap_or_agg) — no second lineitem scan in the plan",
    "q54_nullsafe_join" -> "null-safe join: <=> plans as a plain shuffled hash/SMJ equi-join (NULL hashes to one bucket) — no BNLJ/CartesianProduct fallback",
    "x117_winnowing" -> "winnowing: native winnow_3_4 in the scan stage (map-only fingerprints), df-cap semi-join prunes boilerplate BEFORE the pair join; the only shuffles are on the fingerprint key",
    "x120_kcore" -> "k-core: threshold-graph build (blocked equi-join) + per-round ONE endpoint semi-join pair and ONE degree agg over the shrinking alive set, localCheckpoint lineage cuts, count()-based early exit at the fixpoint",
    "kq96_terms_shard_error" -> "terms shard error: per-shard bounded top-2 window, then every merge/error/exact leg aggregates the TINY reported table; the only full-data passes are the per-shard count and the exact audit count",
    "kq97_alert_throttle" -> "alert throttle: one user-keyed exchange into flatMapSortedGroups (sort pushed into the shuffle), O(1) state per key — the inherently-sequential-per-key greedy as its minimal plan",
    "kq100_tiered_rollup" -> "tiered rollup: the cold tier reads the materialized rollup (localCheckpoint scan), the hot tier aggregates only the boundary-aligned final week; the union is two small agg legs, never a second raw pass for the cold range",
    "x125_audio_segments" -> "audio VAD: per-partition WAV decode emits only (media, window) energy rows; the island merge windows over media_id — payload bytes never shuffle",
    "q55_asof_tolerance" -> "as-of with tolerance: identical single user_id shuffle + window as q22; the staleness gate is a post-window CASE, zero extra exchanges",
    "q57_not_in_trap" -> "NOT IN null audit: Catalyst plans the three-valued form as a null-aware anti join (ExistenceJoin/NAAJ), the clean form as a plain anti join — both single-shuffle, no BNLJ",
    "x140_bitext_ann" -> "ANN-legged bitext mining: both kNN legs are multi-probe bucket equi-joins (no crossJoin anywhere); probe ranking is the native top_probes expression (nProbe buckets straight from the per-row centroid loop — no N×C explode, no window shuffle) and C ∝ √N (max(8, ceil(√N/6)), the FAISS coarse-quantizer scaling — assignment is N·√N/6 interpreted-loop cosines, not N²/250); the forward/backward candidate union dedups BEFORE the one scoring join; margin/mutual-best run on the once-materialized ranked frame",
    "x141_filtered_knn" -> "filtered kNN: the label predicate sits in the candidate scan's PushedFilters (pre-filter semantics), THEN the broadcast bucket probe prunes — per-query cost O(selectivity x N/C)",
    "x142_unigram_nbest" -> "n-best segmentation: training syncs the vocab-bounded artifact; the output plan is ONE map-side native n-best DP over the word-TYPE table + posexplode of the <=3-row lists",
    "x143_linear_fusion" -> "linear retriever: postings-pruned BM25 leg + broadcast-query dense TakeOrdered leg, each min-max-normalized by a 1-row broadcast scalar attach; fusion is a full-outer join of two <=20-row pages",
    "x144_retriever_tree" -> "retriever tree: the nested linear node's whole plan feeds the rrf join as one <=10-row leg; the filtered dense leg is a pushed-filter scan + TakeOrdered — composition adds one tiny full-outer join, no corpus re-read",
    "x145_unigram_sample" -> "sampled segmentation: the type-bounded n-best page materializes once; each occurrence's Gumbel draw is an IN-ROW argmax over the <=3-entry struct list riding along from the same row (no (word,occ) shuffle, no window) — the only shuffle is the (word,rank) draw-count aggregate, partial-combined map-side to type-bounded traffic",
    "x146_rescorer" -> "rescorer retriever: the first-stage x144 page (<=10 rows) materializes once; rescoring joins exactly the window rows against embeddings by id (index lookup at scale) + one <=window-row sort — the exact scorer runs on a page, never the corpus",
    "x147_fertility" -> "tokenizer fertility: two map-side corpus passes (per-doc lang agg; (lang,word) types), the native Viterbi DP on the type table only, final aggregate <=|langs| rows — all ratios exact floor-divided micro-units",
    "kq113_geo_multipolygon" -> "multipolygon geo_shape: the ring-union even-odd crossing sum is ONE codegen'd integer predicate in the scan stage — hole + second outer lengthen the sum, no join, no doubles")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.builder(8).getOrCreate()

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$sfDir`. Regenerate with " +
      "`sbt \"runMain graft.Plans\"` after plan-affecting changes.\n")
    for ((name, note) <- picks) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save() // final AQE plan
      sb.append(s"\n## $name — $note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
      // belt to PlansSpec's gate: the snapshot regen also refuses to
      // write a violating plan into the review artifact
      val vs = PlanGuard.violations(df)
      if (vs.nonEmpty) sys.error(s"PlanGuard violations in $name:\n" +
        vs.mkString("\n"))
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
