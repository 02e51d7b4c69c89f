"""Physical-plan shape guards (the 100 TB contract, pinned).

Each registered operator family has a shuffle budget: per-row
pipelines must not shuffle at all, aggregations get exactly their
groupBy exchange, and join-based pipelines must broadcast their small
side. A regression that adds an exchange (a lost pushdown, a
de-broadcast, an accidental repartition) fails here long before it
would show up as a wall-clock regression at scale.

``parallel_scan`` adds one round-robin repartition per heavy-table
scan on the driver's single-row-group test files (a no-op at real
scale — see session.parallel_scan), so every budget below includes
one exchange per scanned heavy table.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gmall_spark import queries as q
import gmall_spark.queries_llm  # noqa: F401  (registers the LLM queries)


def _counts(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    broadcast = plan.count("BroadcastExchange")
    shuffles = plan.count("Exchange") - broadcast
    return shuffles, broadcast, plan


# (query, max shuffle exchanges incl. the parallel_scan repartition(s),
#  min broadcast exchanges)
BUDGETS = [
    # per-row pipelines: ONLY the scan fan-out, zero real shuffles
    ("text_quality_scores", 1, 0),
    ("text_lang_id", 1, 0),
    ("text_pii_scan", 1, 0),
    ("doc_fingerprint_simhash", 1, 0),
    ("doc_fingerprint_winnow", 1, 0),
    ("llm_stratified_sample", 1, 0),
    # single-aggregate / single-window pipelines: scan + one exchange
    ("dedup_exact_documents", 2, 0),
    ("dedup_prefix_groups", 2, 0),
    ("llm_corpus_stats", 2, 0),
    ("llm_sequence_packing", 2, 0),
    ("llm_doclen_quantiles", 2, 0),
    # domain agg + single-partition window over a handful of rows
    ("llm_domain_mix_weights", 3, 0),
    # block hash -> freq agg -> join back: scan + agg + join exchanges
    ("llm_segment_dedup", 4, 0),
    # joins that must broadcast their small side
    ("llm_contamination_check", 3, 1),
    ("dedup_semantic_clusters", 5, 1),
    # the minhash pipeline: shingle scan, signature agg, bucket agg,
    # candidate distinct (2), verify — candidates/arrays broadcast
    ("dedup_minhash_lsh", 6, 1),
    # simhash hamming pairs: per-row fingerprints, one bucket agg,
    # candidate distinct, integer verify joins
    ("dedup_simhash_hamming", 6, 0),
    # 64-bit variant: same shape, 16-bit chunks over the two halves
    ("dedup_simhash64_hamming", 6, 0),
    # C4 span clean: scan fan-out + span-hash window + doc reassembly
    ("dedup_span_clean", 3, 0),
    # boilerplate clean / containment: the registered queries read
    # their shared stage-fixture checkpoints (r7 — curation v3
    # composes the same relations); the REAL pipeline shapes are
    # pinned by test_stage_fixture_build_plans below
    ("dedup_boilerplate_clean", 0, 0),
    ("dedup_ngram_containment", 0, 0),
    # CCNet buckets: scoring reads the shared _lm_scores checkpoint
    # (r7 — the explode+model+reduce subtree no longer appears in ANY
    # consumer plan); hist agg + ONE lang exchange shared by both
    # windows; cuts broadcast
    ("text_perplexity_buckets", 2, 1),
    # BPE merge step: ONE corpus-sized word count; everything after
    # (char explode, run windows, recount) is vocab-bounded; the
    # single-row winning pair broadcasts
    ("llm_bpe_merge_step", 11, 1),
    # agreement matrix: the three per-row signal families fused into
    # ONE projection chain (keep-passthrough, zero joins between
    # them); the LM branch is a checkpoint scan (r7) + doc_id join,
    # then the <=24-row contingency agg
    ("text_quality_agreement", 4, 2),
    # Gopher repetition: per-row sorted-run folds — scan fan-out only
    ("text_gopher_repetition", 1, 0),
    # as-of join: two tagged event scans + ONE keyed window pass
    ("asof_join_events", 3, 0),
    # native session_window: scan + the session aggregate exchange
    ("events_session_window", 2, 0),
    # BM25: two doc scans + single-row stats agg; stats broadcast back
    ("text_bm25_topk", 3, 1),
    # SQ ANN: encode scans + candidate/rescore windows (both rank<=k
    # windows run as WindowGroupLimit per-partition heaps); the
    # trained quantizer is inlined as literals so the stats aggregate
    # runs once, outside this plan; queries + candidates broadcast
    ("similarity_sq_topk", 5, 3),
    # bigram LM: the registered query RETURNS the shared _lm_scores
    # checkpoint — a pure RDD scan, zero exchanges (the scoring
    # pipeline's own shape is pinned by test_lm_fixture_single_subtree)
    ("text_bigram_lm_score", 0, 0),
    # per-group top-N: scan + window exchange (rank<=3 runs as
    # WindowGroupLimit per-partition heaps before the shuffle)
    ("orders_top3_per_priority", 2, 0),
    # ROLLUP: scan + the grouping-sets aggregate exchange
    ("orders_rollup_priority_status", 2, 0),
    # pivot: scan + Spark's two-phase pivot ((keys,type) agg then
    # pivot agg — the skew-safe shape)
    ("events_pivot_value_by_type", 3, 0),
    # semi/anti joins: scans + a broadcast hash semi/anti join
    ("customers_with_open_orders", 2, 1),
    ("customers_no_urgent_orders", 2, 1),
    # vocabulary: explode + ONE token hash agg + TakeOrdered
    ("llm_vocab_topk", 2, 0),
    # funnel: scan + per-user conditional-min agg + global rollup
    ("events_funnel_conversion", 3, 0),
    # retention: scan + distinct-activity agg + cohort agg + join +
    # count-distinct (2 exchanges)
    ("events_retention_cohorts", 6, 1),
    # SCD2: changelog derivation (scan + union branches) + window
    ("cart_scd2_history", 4, 0),
    # cross-corpus decontam: both sides' shingle/signature/band aggs
    # + candidate + verify joins; ref side + candidates broadcast
    # both sides' signature/band aggs + candidate distinct; verify is
    # now the broadcast array_intersect form (the jaccard_for_pairs
    # verify re-shuffled the exploded shingle relation — 14 exchanges
    # and ~8 s at sf0.1; this shape is 8 exchanges and ~1.4 s)
    ("llm_cross_corpus_decontam", 8, 3),
    # curation v3: composes the v2 / containment / boilerplate stage
    # FIXTURES (checkpoint scans) + the bucket cut from the shared LM
    # scores — what remains in ITS plan is the doc_id join chain; the
    # composed stages' own shapes are pinned by
    # test_stage_fixture_build_plans (r7: 38 -> 6 exchanges)
    ("llm_corpus_curation_v3", 6, 2),
    # frozen-model scoring (X112): r10 — the query RETURNS the shared
    # frozen_lm checkpoint (same fixture lifecycle as the KN twin;
    # the build's own shape — model aggs + broadcast scoring joins —
    # is exercised while the fixture materializes)
    ("text_lm_score_frozen_model", 1, 0),
    # DSIR (X114): the weights query reads the shared fixture
    # checkpoint (build pinned in test_stage_fixture_build_plans);
    # the resample adds the bounded histogram exchange + the
    # broadcast tier-cut join
    ("llm_dsir_weights", 0, 0),
    ("llm_dsir_resample", 2, 1),
    # tokenizer fertility (X115): per-row regexp counts + ONE
    # lang-bounded hash agg
    ("text_tokenizer_fertility", 2, 0),
    # hard negatives (X116): blocked-GEMM band scoring — two pack
    # aggs (query grid + the single broadcast candidate block) +
    # scan fan-outs; no merge window on the cblocks=1 fast path
    ("llm_hard_negatives", 4, 1),
    # temperature mix (X117): one lang-bounded hash agg + windows
    # over the handful of language rows (single-partition exchange)
    ("llm_temperature_mix_weights", 3, 0),
    # session transcripts (X119): scan fan-out + ONE user_id session
    # aggregate (ordered reassembly happens inside the agg)
    ("events_session_transcripts", 2, 0),
    # release report (X120): raw scan + the v3 fixture join + ONE
    # lang-bounded agg (v3 side is checkpoint reads after fixtures)
    ("llm_curation_release_report", 12, 2),
    # n-gram novelty (X121): per-row HOF grams (two scan fan-outs) +
    # reference-gram distinct + per-doc agg; the reference set MUST
    # broadcast into the left join
    ("text_ngram_novelty", 4, 1),
    # WAV frame analysis (X122): scan fan-out + two chained
    # mapInPandas stages (synth encode, decode+frame) — NO shuffle
    # between them; blobs never leave the executors
    ("multimodal_wav_frames", 1, 0),
    # AVI frame sampling (X123): same zero-shuffle chained-mapInPandas
    # shape as the WAV path
    ("multimodal_video_frames", 1, 0),
    # VAD segments (X132): codec fan-out + ONE per-doc window shuffle
    ("multimodal_wav_segments", 2, 0),
    # k-anonymity gate (X131): scan + one hash agg with map-side combine
    ("events_k_anonymity", 2, 0),
    # token budget plan (X134): scan + lang agg + the single-partition
    # window over the handful of language rows
    ("llm_token_budget_plan", 3, 0),
    # decontam audit (X133): the exact-gram audit over the shared
    # _xmatch drop-set fixture (r14: the cleaner's set is READ, not
    # re-derived — 70 exchanges of LSH lineage left the plan); drop
    # set and reference grams must broadcast
    ("llm_decontam_audit", 8, 4),
    # z-order layout (X130): scan fan-out; both 256-row spread tables
    # must broadcast (a shuffle join here would shuffle the fact table
    # twice for a 256-row lookup)
    ("layout_zorder_orders", 1, 2),
    # segment pairs (X129): pure per-row slice/join — scan fan-out only
    ("llm_segment_pairs", 1, 0),
    # epoch shards (X128): scan + the per-(epoch, shard) window
    # shuffle; the 2-row epoch sequence broadcasts into the cross join
    ("llm_epoch_shards", 2, 1),
    # trained NB classifier (X127): train-side aggs (class counts,
    # model row, priors) + test-side score agg + argmax window + the
    # gold join; the smoothing grid and model row must BROADCAST
    ("text_nb_lang_classifier", 9, 3),
    # frequent n-grams (X125): two scan fan-outs (grams + doc count),
    # the gram-df agg, the single-row count agg; count broadcasts
    ("text_frequent_ngrams", 4, 1),
    # HLL UV: scan + the per-day sketch aggregate
    ("events_uv_sketch_daily", 2, 0),
    # Gopher rules: pure per-row HOF/regexp map — scan fan-out only
    ("text_quality_gopher", 1, 0),
    # exact percentiles: scan + one sort-aggregate exchange
    ("events_median_by_type", 2, 0),
    # window frames: scan + ONE shuffle on user_id (all three
    # measures share a single Window spec / sort)
    ("events_moving_stats", 2, 0),
    # skew-salted SMJ: 2 scan fan-outs + both sides' (key, salt)
    # exchanges + the segment aggregate; deliberately NO broadcast
    ("events_salted_segment_totals", 5, 0),
    # HOP windows: scan fan-out + the count_distinct two-phase
    # aggregate (window expansion is inline — no self-union exchange)
    ("events_sliding_window_counts", 3, 0),
    # CUBE: scan fan-out + ONE grouping-sets aggregate exchange
    # (the 4 grains expand map-side, not as a self-union)
    ("events_cube_type_day", 2, 0),
    # TPC-H Q1 twin: scan fan-out + ONE map-side-combining hash agg
    # behind a pushed-down date filter
    ("lineitem_pricing_summary", 2, 0),
    # TPC-H Q3 twin: lineitem fan-out + orderkey join + revenue agg;
    # filtered customer broadcast; top-10 is TakeOrdered (no exchange)
    ("orders_shipping_priority", 4, 1),
    # TPC-H Q5 twin: region/nation/supplier MUST broadcast; remaining
    # exchanges are the scan fan-out + customer⋈orders + orders⋈
    # lineitem + the ≤25-row agg
    ("nation_revenue_local_suppliers", 5, 3),
    # ExactSubstr spans: scan fan-out + gram-hash count + dup join +
    # distinct + per-doc window + doc-level left join — linear chain,
    # nothing quadratic
    ("dedup_repeated_ngram_spans", 6, 0),
    # PQ / IVFPQ ANN: Arrow-encode scan + candidate/rescore windows
    # (rank<=k WindowGroupLimit heaps); queries + candidates broadcast
    ("similarity_pq_topk", 5, 3),
    ("similarity_ivfpq_topk", 5, 3),
    ("similarity_ivfpq_residual_topk", 5, 3),
    # RRF fusion: both arms' aggregates/windows + the 20∪20-row
    # full-outer fusion join + TakeOrdered; stats + queries broadcast
    ("hybrid_rrf_fusion", 8, 2),
    # Bloom decontam: two gram branches (ref build: distinct + bit_or
    # agg; probe: per-gram then per-doc rollups); filter words + ref
    # flag broadcast — the probe side itself never pre-shuffles
    ("bloom_decontam_probe", 8, 2),
    # set ops: distinct-agg per branch + broadcast semi/anti join
    ("customers_retained_9697", 5, 2),
    ("customers_churned_9697", 5, 2),
    # per-key sample: scan fan-out + ONE window exchange (rank<=3
    # runs as WindowGroupLimit per-partition heaps)
    ("events_per_user_sample", 2, 0),
    # fuzzy dedup: scan fan-out + the block-key self-join exchange
    ("dedup_fuzzy_titles", 2, 1),
    # TPC-H Q10 twin: lineitem fan-out + orderkey join + revenue agg;
    # nation (+ filtered sides at test SF) broadcast; TakeOrdered
    ("returned_item_customers", 4, 1),
    # TPC-H Q14 twin: lineitem fan-out + orderkey join + month agg;
    # part broadcast
    ("promo_revenue_share", 3, 1),
    # TPC-H Q4 twin: left-semi on orderkey (no row multiplication)
    # + the <=5-row priority agg
    ("order_priority_checking", 3, 1),
    # TPC-H Q6 twin: pure pushdown scan + ONE global agg, 1 row out
    ("forecast_revenue_change", 2, 0),
    # TPC-H Q12 twin: orderkey join + conditional-count agg
    ("shipmode_priority_counts", 3, 1),
    # TPC-H Q18 twin: qualified agg FIRST (shrinks the join input),
    # then orderkey/custkey joins + TakeOrdered
    ("large_volume_customers", 4, 1),
    # ANALYZE twin: scan fan-out + the Expand-based multi-NDV agg
    ("events_column_stats", 3, 0),
    # skew report: per-key agg + single-row total broadcast +
    # TakeOrdered (the agg reuses the keyed exchange twice)
    ("events_key_skew_report", 5, 1),
    # TPC-H twins r5: nation/part/supplier/region broadcast; the only
    # wide shuffles are the orderkey/custkey joins + final aggs (the
    # budgets include the heavy-table parallel_scan repartitions)
    ("volume_shipping_nation_pairs", 5, 5),
    ("market_share_by_year", 5, 7),
    ("customer_order_count_distribution", 5, 1),
    ("top_supplier_revenue", 3, 1),
    ("small_quantity_order_revenue", 3, 1),
    ("disjunctive_discount_revenue", 2, 1),
    ("waiting_multi_supplier_orders", 5, 3),
    ("prospective_customer_balance", 6, 2),
    ("product_type_profit", 4, 4),
    # r5 analytics additions: grouping-sets expand + one exchange;
    # MAD needs two sort-based percentile aggs (med, mad) + the
    # broadcast joins back; the eval harness runs both dedup arms
    ("events_grouping_sets", 2, 0),
    ("events_value_mad_outliers", 7, 3),
    ("dedup_eval_simhash_vs_jaccard", 14, 5),
    ("dedup_eval_simhash64_vs_jaccard", 14, 5),
    # r8: IVF-backed bitext mining — two probe directions, each an
    # index join on list_id + per-query rank window, neighborhood
    # folds, margin joins; the docs x emb lang split is re-derived
    # per direction (scan-side cheap). r13: `cand` (probe join +
    # scoring + window) is persisted — it feeds the sx fold AND the
    # margin join, each of which re-ran it; the budget rises 23→25
    # from the cached-lineage re-prints inside InMemoryTableScan
    # while the EXECUTED work drops by a whole scoring pass
    ("llm_bitext_mining_ann", 25, 1),
    # r8: FFD sequence packing — scan fan-out + ONE bucket_len exchange
    # serving all three windows (rank/prefix-sum, bucket totals,
    # per-pack fill share the partitioning)
    ("llm_sequence_packing_ffd", 2, 0),
    # r8: BPE decode round-trip — pure nested per-row folds, scan
    # fan-out only
    ("llm_bpe_decode_frozen", 1, 0),
    # nprobe sweep: 4 eval arms x (brute-force + ivf probe/rank) —
    # an offline acceptance harness, not a production path
    ("similarity_eval_ivf_nprobe_sweep", 36, 4),
    # derived-partsupp TPC-H twins (Q2/Q11/Q16/Q20): partsupp is a
    # per-row projection over the dim-sized part table, dims broadcast
    ("min_cost_supplier", 1, 4),
    ("important_stock_parts", 3, 7),
    ("supplier_count_by_part_attrs", 3, 2),
    ("promotion_candidate_suppliers", 4, 5),
    # r7 additions — per-row codec/fold pipelines: scan fan-out ONLY
    # (the frozen-BPE nested folds and both media feature passes must
    # never grow a token- or pixel-level shuffle)
    ("llm_bpe_encode_frozen", 1, 0),
    ("multimodal_wav_spectral", 1, 0),
    ("multimodal_image_ahash", 1, 0),
    # image near-dup grouping: persisted hash/fingerprint tiers, band
    # self-join, rep derivation + assignment (counts include cached-
    # lineage re-prints inside InMemoryTableScan nodes)
    ("dedup_image_dhash_groups", 12, 0),
    # r8: the DCT tier rides the same grouping machinery over renamed
    # fingerprint columns
    ("dedup_image_phash_groups", 12, 0),
    # r8: histogram quantile sketch — scan + the grid agg + the two
    # single-partition windows over ~20 bucket rows; the 4-row q_pct
    # LocalRelation broadcasts, so the cross join streams the
    # single-partition histogram and the q_pct agg needs no exchange
    # of its own (one fewer than the pickled-RDD probe side took)
    ("events_value_quantile_sketch", 3, 1),
    # r8: range-partition planner — r10: the boundary set broadcasts
    # as ONE collected array row and assignment is a per-row fold, so
    # the only shuffles are the sample rank + the 8-row part rollup
    # (no corpus-wide groupBy(k) anymore)
    ("layout_range_partition_plan", 4, 1),
    # r8: vocab growth — r10: aggregate-first form; one word-grain
    # hash agg + two single-row aggs + the rn window's
    # single-partition exchange; the 1-row token/type totals broadcast
    ("text_vocab_growth_curve", 4, 1),
    # r8: drift chi-square — scan + span/totals single-row broadcasts
    # + the grid-bounded bucket agg
    ("events_value_drift_chisq", 9, 3),
    # r8: skipgram lift — per-row array pairing (no self-join): pair
    # agg + unigram agg + broadcast joins + single-row total
    ("text_skipgram_cooccurrence", 8, 3),
    # r8: embedding health — per-vector fold agg + 64-row dim-grid agg
    # + the 1-row corpus stats broadcast
    ("embedding_health_audit", 5, 1),
    # r8: char chi-square — persisted per-row count projection (one
    # 36-replace pass), 36-row corpus rollup broadcast + per-doc fold
    # (counts include cached-lineage re-prints); +1 r9: the zero-char
    # union arm adds one scan fan-out (no real shuffle)
    ("text_char_chisq_gibberish", 8, 2),
    # r9: cluster-capped sampling — one list_id shuffle serves rank +
    # cluster size; the 1-row total broadcasts
    ("llm_cluster_capped_sample", 5, 1),
    # r9: histogram-derived range plan — ONE corpus pass builds the
    # persisted 20-row grid; everything after (cum windows, threshold
    # join, grid/boundary/total joins) is window algebra over bounded
    # relations whose cached-lineage re-prints dominate the count
    ("layout_range_plan_from_sketch", 18, 3),
    # r9: audio landmark near-dup grouping — the X136 tier shape over
    # pair hashes: digest exact-tier agg, bucket self-join between
    # distinct digests, partner-min agg, rep join back + group window.
    # r13: the decode+rfft fingerprint relation and the distinct-digest
    # table are persisted (the image_near_dup_groups discipline — the
    # codec ran once per consumer subtree, 4×, without it); budget
    # 10→11 from cached-lineage re-prints, executed decodes 4→1
    ("dedup_audio_fingerprint_groups", 11, 2),
    # r9: frozen unigram tier — Viterbi runs on the persisted
    # distinct-word table (explode/count + distinct + rollup agg;
    # counts include the persisted word-count lineage re-prints);
    # the vocabulary-sized segmentation table broadcasts back
    ("llm_unigram_encode_frozen", 12, 1),
    ("llm_unigram_decode_frozen", 12, 1),
    ("text_tokenizer_fertility_frozen", 11, 1),
    # r9: prune scorer — persisted seg table feeds pieces + the
    # leave-one-out join; piece-grid rollup, 43-row vocab broadcast
    ("llm_unigram_vocab_prune", 9, 1),
    # r9: tokenizer-aware packing — the X194 encode (its unigram
    # scaffolding included) feeding the ONE bucket_len exchange of
    # the X175 packer
    ("llm_sequence_packing_unigram", 13, 1),
    # r9: frozen WordPiece tier — same distinct-word scaffolding as
    # the unigram rows (persisted word counts, greedy fold on the
    # distinct-word table, vocabulary-sized segmentation broadcast
    # back); the triple adds no exchange — all three folds are
    # per-row projections over the one distinct-word pass
    ("llm_wordpiece_encode_frozen", 12, 1),
    ("llm_tokenizer_fertility_triple", 11, 1),
    # r9: edit-distance verify — the X4 candidate pipeline (signature
    # agg + band pair agg) with the tiny pair set broadcast against
    # the corpus text twice; levenshtein is per-row
    ("dedup_edit_distance_verify", 8, 2),
    # r9: FIM transform — pure per-row expressions; the single
    # exchange is parallel_scan's small-file fan-out (no-op at scale)
    ("llm_fim_transform", 1, 0),
    # r9: group-aware split — the shared X6 groups fixture
    # (checkpoint-scan lineage) broadcast onto one corpus pass;
    # the split is per-row
    ("llm_split_by_group", 5, 1),
    # r9: shot boundaries — r10: the detector output is a shared
    # checkpointed fixture (one decode per corpus across both
    # consumers); the returned plan is the checkpoint scan
    ("multimodal_shot_boundaries", 1, 0),
    # r9: canary scan — ONE corpus pass (stack, not per-canary
    # unions) + the grid-bounded aggregate
    ("llm_canary_scan", 2, 0),
    # r9: shots rollup — r10: reads the shared boundary fixture
    # (checkpoint scan) + the per-doc cut-list aggregate; spans
    # unfold per-row (HOF inline)
    ("multimodal_video_shots", 2, 0),
    # r10: HTML extraction — synth + rule chain are pure per-row
    # regex/replace expressions; the one exchange is the scan fan-out
    ("text_html_extract", 1, 0),
    # r10: extraction rollup — per-row extraction + ONE single-row agg
    ("text_html_extract_rollup", 2, 0),
    # r10: quality recheck over extracted text — per-row end to end
    ("text_html_quality_recheck", 1, 0),
    # r10: KN frozen scoring — returns the shared checkpointed scored
    # relation (build shape exercised while the fixture materializes)
    ("text_lm_score_kn_frozen", 1, 0),
    # r10: tier-diff — two checkpoint scans through the histogram
    # bucket algebra (hist agg + cut window + assignment join each)
    # plus the confusion-grid rollup; cut tables broadcast
    ("text_lm_tier_diff_kn", 7, 2),
    # r10: semantic decontam — IVF assignment (Arrow gemm, no
    # shuffle) + the list_id-keyed ref join + verify join + per-doc
    # rollup; ref side and embeddings broadcast
    ("llm_semantic_decontam", 5, 3),
    # r10: decontam Venn audit — composes the FULL LSH pipeline (X47)
    # and the semantic pipeline, then one full-outer + 3-row grid
    ("llm_semantic_decontam_audit", 15, 6),
    # r10: byte-fallback BPE — greedy merge folds over byte units are
    # pure per-row expressions; the one exchange is the scan fan-out
    ("llm_bytebpe_encode_frozen", 1, 0),
    ("llm_bytebpe_decode_frozen", 1, 0),
    # r10: fertility quad — same scaffolding ceiling as the triple
    # (persisted word counts, distinct-word folds, broadcast back)
    ("llm_tokenizer_fertility_quad", 11, 1),
    # r8: curation v4 — the registered query RETURNS the shared
    # release-manifest checkpoint (build shape exercised while the
    # fixture materializes)
    ("llm_corpus_curation_v4", 0, 0),
    # r8: split leakage — the transitive-groups fixture read + split
    # projection + one group agg
    ("llm_split_leakage_audit", 4, 0),
    # r8: JL eval — 3 brute-force arms (full + 2 projections), each
    # scan + window + agg; 5-query sides broadcast
    ("similarity_eval_jl_projection", 18, 3),
    # r9: JL two-stage rerank eval — ground truth + per-depth
    # (projected candidate gen + bounded exact rerank); query sides
    # and the 5-vector qv relation broadcast
    ("similarity_eval_jl_rerank", 23, 6),
    # r8: release fingerprint — one scan + one global agg
    ("llm_corpus_fingerprint", 2, 0),
    # r8: source attribution — groups-fixture reads x2 + source joins
    # + the within-group pairing and pair agg
    ("dedup_source_attribution", 11, 2),
    # r8 (widened r12): curation funnel — six stage counts (v1-v5 all
    # read their stage fixtures now) + the 6-row window; counts
    # include cached-lineage re-prints
    ("llm_curation_funnel", 20, 3),
    # 4 brute-force cosine arms (1 ground truth + 3 truncations), each
    # scan + window + agg; arms must broadcast the 5-query side
    ("similarity_eval_dim_truncation", 28, 4),
    # late-r7 additions. Single-row scalar attaches (crossJoin of a
    # 1-row aggregate) legitimately appear as BroadcastNestedLoopJoin
    # — O(n), not quadratic; the quadratic NL case is pinned out by
    # test_price_band_join_is_hash_not_nested_loop below.
    ("events_price_band_join", 2, 1),
    ("events_l_diversity", 3, 0),
    ("llm_length_bucket_padding", 2, 0),
    ("llm_vocab_oov", 5, 1),
    ("orders_ingest_gaps", 8, 1),
    # one persisted basket rollup feeds pairs/marginals/total; the
    # count includes cached-lineage re-prints inside InMemoryTableScan
    ("lineitem_copurchase_pairs", 17, 3),
    ("events_join_cardinality_sketch", 24, 6),
    # lattice resampling: scan + ONE global cumsum window
    ("llm_systematic_resample", 2, 0),
    # zone-map stats: layout join (broadcast spreads) + file rollup +
    # predicate grid agg
    ("layout_file_stats_pruning", 3, 2),
    # RFM: customer agg + the global-max/ntile windows sharing one
    # single-partition exchange (r14: the corpus max date is a window
    # over the rollup, so the second orders scan AND its broadcast
    # are gone — min_broadcast is now structurally 0)
    ("customers_rfm_segments", 4, 0),
    # EWMA: (type, day) rollup + type-keyed series agg
    ("events_ewma_forecast", 3, 0),
    # 8 contract arms, one pass per table each
    ("warehouse_data_tests", 20, 2),
    # transitions: user window + pair agg + row-total window (a
    # separate agg + join would re-evaluate the pair subtree: 7 -> 4)
    ("events_transition_matrix", 4, 0),
    ("customers_cohort_ltv", 8, 2),
    # session paths: session_window agg + path count + top-k window
    ("events_top_session_paths", 3, 0),
    # ABC: part rollup + ordered cumshare window
    ("parts_abc_classification", 3, 0),
    # greedy decode: checkpointed transition table -> 12 broadcast
    # joins, ZERO shuffles in the decode chain itself
    ("text_lm_greedy_decode", 0, 12),
    # closing r7 batch
    ("events_funnel_latency", 5, 0),
    ("events_transition_eval", 7, 1),
    ("events_props_profile", 3, 0),
    ("events_trailing_7d_volume", 3, 0),
    ("events_daily_volume_anomalies", 5, 1),
    # window-summed total: a scalar crossJoin re-evaluated the part
    # rollup (7 -> 5 exchanges)
    ("parts_single_source_risk", 5, 0),
    # r10: URL canonicalization — synth + parse_url/HOF rule chain are
    # pure per-row expressions; the one exchange is the scan fan-out
    ("web_url_canonicalize", 1, 0),
    # r10: domain rollup — ONE domain-keyed hash aggregate; the
    # count-distinct expand runs two-phase inside it
    ("web_domain_rollup", 3, 0),
    # r10: provenance Venn — two window exchanges (url-keyed,
    # text-hash-keyed) + the cell agg; the 4-row grid broadcasts
    ("web_url_dedup_venn", 4, 1),
    # r10: re-crawl drift — one canonical-URL-keyed aggregate with the
    # distinct-text expand inside it
    ("web_url_recrawl_drift", 3, 0),
    # r10: mojibake repair — synth + replace chain + length-diff
    # counts are pure per-row expressions; scan fan-out only
    ("text_mojibake_repair", 1, 0),
    # r10: mojibake census — ONE corpus pass (stack) + the
    # pattern-grid aggregate
    ("text_mojibake_rollup", 2, 0),
    # r10: SFT render — turn derivation + template + span folds are
    # pure per-row HOF expressions; scan fan-out only
    ("sft_render_frozen_template", 1, 0),
    # r10: SFT turn stats — per-row folds + ONE (lang, n_turns) agg
    ("sft_turn_stats", 2, 0),
    # r10: prompt dedup — ONE prompt-keyed exchange shared by the
    # count and rank windows
    ("sft_prompt_dedup", 2, 0),
    # r10: preference pairs — the same single prompt-keyed exchange
    # (chosen-value + count windows); no self-join
    ("sft_preference_pairs", 2, 0),
    # r10: domain-capped sample — ONE domain-keyed window
    ("web_domain_capped_sample", 2, 0),
    # r10: cap report — ONE domain-keyed aggregate
    ("web_domain_cap_report", 2, 0),
    # r10: host pagerank — iterations ride localCheckpoints (lineage
    # truncated); the returned plan is the checkpoint scan + the
    # broadcast domain attach
    ("web_host_pagerank", 2, 1),
    # r10: packed boundaries — the X175 bucket_len exchange plus ONE
    # (bucket_len, pack_no)-keyed offset window
    ("llm_packed_boundaries", 3, 0),
    # r10: hashed classifier — the 64-float model is a plan-time
    # literal (training collect is constant-bounded, quantizer
    # precedent); scoring is ONE per-row fold, scan fan-out only
    ("text_hashed_ngram_classifier", 1, 0),
    # r10: confusion — scored relation + 4-cell agg; grid broadcasts
    ("text_hashed_classifier_confusion", 2, 1),
    # r11: opt-out gate — IN-list literals over the per-row
    # canonicalize chain; scan fan-out only
    ("web_domain_optout_gate", 1, 0),
    # r11: gate audit — gate + n_chars attach + ONE domain-keyed agg
    ("web_domain_optout_audit", 3, 1),
    # r11: release delta — one global two-phase aggregate over the
    # per-row gate
    ("web_optout_release_delta", 3, 0),
    # r11: KN buckets — frozen-kn checkpoint scan + the grid-bounded
    # histogram-cut joins (cut table broadcasts)
    ("text_perplexity_buckets_kn", 2, 1),
    # r11: semantic packing — the chain fixture checkpoint scan, zero
    # exchanges (walk cost is line-itemed in the fixture build)
    ("llm_semantic_packing", 0, 0),
    # r11: packing affinity — (ordering, list_id) lag window + the
    # broadcast kNN-edge probe + ordering-keyed report aggregates
    ("llm_semantic_packing_affinity", 5, 1),
    # r11: multimodal interleave — the X175 bucket exchange + two
    # pack_id-keyed windows; entries explode from an array in the
    # same pass (has_img re-derives per row, no join-back)
    ("llm_multimodal_interleave", 3, 0),
    # r11: utilization report — chain checkpoint agg + the X175
    # re-pack of the same lengths + 2-row union
    ("llm_semantic_packing_utilization", 5, 0),
    # r11: needle map — one (cluster, row)-keyed agg over the chain
    # checkpoint; the answer-key doc join broadcasts
    ("llm_needle_eval_rows", 2, 1),
    # r11: curriculum order — epoch cross-deal + the doc-grain tier
    # attach join (doc-keyed shuffle: tier table is corpus-sized, the
    # honest non-broadcast shape) + ONE (epoch, shard) window
    ("llm_curriculum_order", 6, 1),
    # r11: mix schedule — one source-keyed token agg + the constant
    # epoch-grid cross (grid broadcasts); domains x epochs rows
    ("llm_mix_schedule", 3, 1),
    # r11: repeat plan — tier fixture cut + doc-grain token join +
    # ONE (lang, tier) agg
    ("llm_repeat_plan", 4, 2),
    # r11: shard manifest — per-row hash/token exprs + ONE
    # (epoch, shard) agg (the epoch grid broadcasts)
    ("llm_shard_manifest", 2, 1),
    # r12: gated keeper re-election — groups checkpoint ⋈ word counts
    # ⋈ per-row gate (doc-keyed, honestly corpus-sized) + ONE group
    # agg holding both max_by keepers
    ("dedup_groups_keeper_gated", 4, 0),
    # r12: curation v5 — reads its stage fixture checkpoint, zero
    # exchanges (the chain cost is line-itemed in the fixtures map)
    ("llm_corpus_curation_v5", 0, 0),
    # r12: release diff — two checkpoint scans ⋈ docs for checksums,
    # ONE doc-keyed full outer exploded into side-charge rows + ONE
    # shard-keyed aggregate (the join is never re-derived)
    ("llm_release_diff", 5, 2),
    # r12: repeat-expanded stream — tier fixture cut + doc-grain token
    # join + bounded per-row explode + ONE (repeat_idx, shard) window
    ("llm_repeat_expanded_shards", 4, 2),
    # r12: ROUGE-L novelty gate — ONE prefix-keyed candidate x seed
    # join (the LCS DP is per-pair row work) + the candidate-keyed
    # window/agg + the verdict join-back
    ("sft_novelty_rougel", 5, 1),
    # r12: novelty audit — the gate's one-row aggregate + the
    # broadcast seed-pool count
    ("sft_novelty_audit", 8, 2),
    # r12: unicode normalize — synth + translate/replace chain +
    # measured non-ASCII count are pure per-row exprs; scan fan-out
    ("text_unicode_normalize", 1, 0),
    # r12: unicode census — ONE corpus pass (explode over the 8-class
    # grid) + the class aggregate
    ("text_unicode_rollup", 2, 0),
    # r12: fertility delta — two per-row token counts + ONE lang agg
    ("text_unicode_fertility_delta", 2, 0),
    # r12: gated containment audit — containment-pair checkpoint with
    # the gate VERDICT fixture attached on winner and loser (both
    # broadcast at pair grain); zero real shuffles
    ("dedup_containment_keeper_gated", 0, 2),
    # r12: pack license audit — v5 checkpoint ⋈ the gate-verdict
    # fixture's domain column + ONE pack-keyed aggregate
    ("llm_pack_license_audit", 1, 1),
    # r12: drop ledger — the nine stage sets attached to the corpus
    # in one pass (six doc-keyed left joins). r14: every stage set is
    # a ledger_stages CHECKPOINT (VERDICT r13 item 4), so the stage
    # lineages left the plan entirely: 72 -> 16 total exchanges
    # (plans/r14/llm_drop_ledger_{before,after}.txt)
    ("llm_drop_ledger", 6, 3),
    # r12: control-token scan — synth + length-diff counts are pure
    # per-row exprs; scan fan-out only
    ("sft_control_token_scan", 1, 0),
    # r12: control-token census — ONE corpus pass (explode over the
    # 6-token grid) + the token aggregate
    ("sft_control_token_rollup", 2, 0),
    # r12: final sample weights — three registered stage relations
    # attached at doc grain (soft-dedup weights re-derive the group
    # sizes; DSIR reads its fixture; counts include cached-lineage
    # re-prints) + the broadcast per-source mix table
    ("llm_final_sample_weights", 16, 3),
]


# r14 (VERDICT r13 item 2): the budget instances whose clear_cache
# forces a multi-fixture rebuild (>=5 s each: the curation/governance
# chains) carry `slow` so the default suite fits the driver's pytest
# cap; the pins still exist and run via -m slow / the builder's full
# suite. All other budget rows stay in the default run.
SLOW_BUDGETS = {
    "llm_release_diff",
    "llm_curation_funnel",
    "llm_corpus_curation_v5",
    "llm_drop_ledger",
    "llm_pack_license_audit",
    "llm_corpus_curation_v4",
    "llm_corpus_curation_v3",
    "llm_curation_release_report",
    "llm_sequence_packing_unigram",
    "similarity_sq_topk",
}


@pytest.mark.parametrize(
    "name,max_shuffles,min_broadcast",
    [
        pytest.param(*row, marks=pytest.mark.slow)
        if row[0] in SLOW_BUDGETS
        else row
        for row in BUDGETS
    ],
)
def test_shuffle_budget(spark, sf_dir, name, max_shuffles, min_broadcast):
    # Pin the deterministic COLD plan: earlier tests leave persisted
    # relations in the cache manager, whose statistics can legitimately
    # flip the AQE-flexible verify joins from broadcast to shuffle
    # (e.g. minhash 6 -> 9 exchanges in a warmed session). That is AQE
    # doing its job, not a regression — the budget guards the fresh
    # plan shape.
    q.clear_cache()
    df = q.QUERIES[name](spark, sf_dir)
    shuffles, broadcast, plan = _counts(df)
    assert shuffles <= max_shuffles, (
        f"{name}: {shuffles} shuffle exchanges (budget {max_shuffles})\n{plan[:3000]}"
    )
    assert broadcast >= min_broadcast, (
        f"{name}: expected >= {min_broadcast} broadcast exchanges\n{plan[:3000]}"
    )


def test_order_detail_materialize_plan_budget(spark, sf_dir):
    """The dwd_order_detail MATERIALIZE build (the biggest bench line
    item, input to the whole trade family — VERDICT r5 item 1): all
    four joins must broadcast (order_info, activity, coupon, base_dic)
    and the only exchanges allowed are the parallel_scan round-robin
    fan-outs — zero real shuffles. Guards the un-persisted build plan;
    the registered query returns the cached relation."""
    from gmall_spark.plans import dwd
    from gmall_spark.sources import dims

    q.clear_cache()
    df = dwd.dwd_trade_order_detail(q._topic_db(spark, sf_dir), dims.base_dic(spark))
    shuffles, broadcast, plan = _counts(df)
    assert shuffles <= 4, f"materialize build: {shuffles} shuffles\n{plan[:3000]}"
    assert broadcast >= 4, f"materialize build: {broadcast} broadcasts\n{plan[:3000]}"
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_broadcast_lookup_join_broadcasts(spark, sf_dir):
    """S7/J3 adapter: the lookup side must enter as a broadcast."""
    from gmall_spark.sources.jdbc import broadcast_lookup_join

    facts = spark.range(1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    lookup = spark.range(16).select(
        F.col("id").alias("code"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    joined = broadcast_lookup_join(facts, lookup, "k", "code")
    _, broadcast, plan = _counts(joined)
    assert broadcast >= 1 and "BroadcastHashJoin" in plan, plan[:2000]


def test_pushed_filters_reach_the_scan(spark, sf_dir):
    """Predicate pushdown sanity: a filtered read of a parquet table
    must carry PushedFilters at the scan node, and column pruning must
    shrink ReadSchema to the selected columns."""
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") > 100)
        .select("o_orderkey", "o_totalprice")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,100)]" in plan, plan
    assert "o_orderstatus" not in plan.split("ReadSchema")[-1], plan


def test_approx_window_twins_accuracy(spark, sf_dir):
    """The HLL twins of the province/trademark windows (VERDICT r4
    item 7) must keep the exact row set (same grouping keys) and
    estimate every per-row distinct-order count within a tolerant
    HLL error band; exact versions stay untouched for hash parity."""
    q.clear_cache()
    exact = q.QUERIES["dws_trade_province_order_window"](spark, sf_dir)
    approx = q.QUERIES["dws_trade_province_order_window_approx"](spark, sf_dir)
    key = ["stt", "province_id"]
    e = {tuple(r[k] for k in key): r.order_count for r in exact.collect()}
    a = {tuple(r[k] for k in key): r.order_count for r in approx.collect()}
    assert set(e) == set(a), "approx twin changed the row set"
    worst = max(abs(a[k] - e[k]) / max(e[k], 1) for k in e)
    # rsd=0.02 nominal; small per-window cardinalities keep HLL's
    # linear-counting regime near-exact, so 10% is a loose ceiling
    assert worst <= 0.10, worst
    # and the totals agree tightly in aggregate
    te, ta = sum(e.values()), sum(a.values())
    assert abs(ta - te) / te <= 0.02, (te, ta)


@pytest.mark.slow
def test_lm_fixture_single_subtree(spark, sf_dir):
    """VERDICT r6 item 1: the bigram-LM scoring pipeline (explode +
    broadcast model join + per-doc reduce) must be evaluated ONCE per
    (session, sf_dir), not once per consumer. The fixture build plan
    carries exactly one bigram-explode subtree; every registered
    consumer reads the checkpointed fixture, so its physical plan
    carries ZERO — a reintroduced inline scoring subtree fails the
    explode ceiling here."""
    from gmall_spark.queries_llm import prelude
    from gmall_spark.operators import lm

    q.clear_cache()
    docs = q._t(spark, sf_dir, "documents")
    build = lm.bigram_logprob_scores(docs)
    bplan = build._jdf.queryExecution().executedPlan().toString()
    # the scored-bigram explode plus the model/totals aggregate
    # branches' own scans — all in the ONE fixture build only
    assert 1 <= bplan.count("explode") <= 3, bplan[:2000]

    prelude._lm_scores(spark, sf_dir)  # materialize the fixture once
    # (consumer, explode ceiling): LM consumers whose ONLY explode-ish
    # stage was the scoring pipeline must now have none; v2/v3 keep
    # their shingle/containment explodes but not one more for the LM
    for name, ceiling in [
        ("text_bigram_lm_score", 0),
        ("text_perplexity_buckets", 0),
        ("text_quality_agreement", 0),
        ("llm_corpus_curation_v2", 4),
        ("llm_corpus_curation_v3", 14),
    ]:
        df = q.QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = plan.count("explode")
        assert got <= ceiling, (name, got, ceiling, plan[:2000])
        assert "Scan ExistingRDD" in plan or name == "text_bigram_lm_score", name


@pytest.mark.slow
def test_stage_fixture_build_plans(spark, sf_dir):
    """The registered boilerplate/containment/curation-v2 queries now
    read per-(session, sf_dir) stage-fixture checkpoints (their
    BUDGETS rows pin the checkpoint-scan shape) — so the UNDERLYING
    pipelines' physical shapes are pinned here instead, on the
    fixture BUILD plans. A regression (lost broadcast, extra
    exchange) in any composed stage fails here."""
    from gmall_spark.queries_llm import prelude
    from gmall_spark.operators import dsir, llm_dedup

    q.clear_cache()
    docs = q._t(spark, sf_dir, "documents")
    for label, df, max_shuffles, min_broadcast in [
        (
            # df agg + bounded rare-postings self-join + candidate
            # distinct + verify joins + two size aggs — linear chain,
            # rare set + candidates broadcast
            "containment_pairs",
            llm_dedup.containment_pairs_rare_blocking(docs),
            13,
            1,
        ),
        (
            # scan fan-out + count_distinct doc-freq agg (2-phase) +
            # doc reassembly; the tiny frequent set MUST broadcast
            "boilerplate_clean",
            llm_dedup.boilerplate_span_clean(
                docs, prelude.SPAN_CLEAN_W, prelude.BOILER_DOC_FREQ
            ),
            5,
            1,
        ),
        (
            # X114 weights: two feature explodes + two single-row
            # bag-model aggs (bounded by N_BUCKETS) + the broadcast
            # ratio join + per-doc reduce; both models and the ratio
            # table MUST broadcast
            "dsir_weights",
            dsir.importance_weights(
                docs.filter(F.col("doc_id") % 20 != 0),
                docs.filter(F.col("doc_id") % 20 == 0),
            ),
            8,
            2,
        ),
    ]:
        shuffles, broadcast, plan = _counts(df)
        assert shuffles <= max_shuffles, (label, shuffles, plan[:3000])
        assert broadcast >= min_broadcast, (label, broadcast, plan[:3000])
    # the v2 OUTPUT fixture: builds once (v1 + decontam anti-join +
    # LM-score join on the _lm_scores checkpoint), then every
    # consumer — including its own registered query and v3 — is a
    # pure checkpoint scan
    v2 = q.QUERIES["llm_corpus_curation_v2"](spark, sf_dir)
    shuffles, broadcast, plan = _counts(v2)
    assert shuffles == 0 and broadcast == 0, (shuffles, broadcast, plan[:2000])
    assert "Scan ExistingRDD" in plan


def test_price_band_join_is_hash_not_nested_loop(spark, sf_dir):
    """X157's entire point: the BETWEEN-semantics range join executes
    as a hash join on the derived band id — a BroadcastNestedLoopJoin
    against the events relation would be the O(rows x bands) plan the
    rewrite exists to avoid (the oracle keeps the nested-loop
    formulation; parity proves the rewrite)."""
    q.clear_cache()
    df = q.QUERIES["events_price_band_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan[:2000]


def _leaves(plan) -> list[str]:
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    return [n for k in kids for n in _leaves(k)] if kids else [plan.nodeName()]


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("1001", "unpaid"), ("1002", None)], "dic_code string, dic_name string"),
        ([], "i long, bb long"),
        ([(1, [0.5, 1.5]), (2, []), (3, None)], "id bigint, v array<float>"),
    ],
    ids=["strings", "empty", "array"],
)
def test_local_rows_is_a_local_relation(spark, rows, ddl):
    """session.local_rows plans a JVM LocalRelation (no pickled
    PythonRDD, so no Python worker) with exactly the schema
    createDataFrame(rows, ddl) declares, nullability included."""
    from pyspark.sql.types import StructType, _parse_datatype_json_string

    from gmall_spark.session import local_rows

    df = local_rows(spark, rows, ddl)
    assert _leaves(df._jdf.queryExecution().optimizedPlan()) == ["LocalRelation"]
    # the JVM's schema, not the one PySpark caches on the DataFrame
    jvm_schema = _parse_datatype_json_string(df._jdf.schema().json())
    assert jvm_schema == StructType.fromDDL(ddl) == spark.createDataFrame(rows, ddl).schema
    assert [tuple(r) for r in df.collect()] == rows


def test_dwd_micro_batch_plan_is_jvm_only(spark, sf_dir, tmp_path):
    """The CDC micro-batch path: dwd_trade_order_detail over a parquet
    CDC batch joins base_dic as a LocalTableScan, so its executed plan
    holds no RDD scan (a pickled createDataFrame list plans to
    LogicalRDD / Scan ExistingRDD, whose tasks start Python workers)
    and no Python evaluation node."""
    from gmall_spark.plans import dwd
    from gmall_spark.sources import dims

    q._topic_db(spark, sf_dir).write.parquet(str(tmp_path / "batch"))
    batch = spark.read.parquet(str(tmp_path / "batch"))
    df = dwd.dwd_trade_order_detail(batch, dims.base_dic(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("ExistingRDD", "LogicalRDD", "EvalPython"):
        assert node not in plan, plan[:3000]
    assert "LocalTableScan" in plan, plan[:3000]
