#!/usr/bin/env python
"""Benchmark the headline query suite.

Runs the representative queries from the registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
    {"value": N, "sf": ..., "queries_omitted": 0, "queries": {...}}
with ``queries`` keyed by the short id sans 'q' ("104") and valued in
CENTISECOND ints (VERDICT r12 #2 — this is what lets ALL rows fit the
driver's ~2000-byte tail capture; the detail file keeps the canonical
long-name/seconds/metric/unit form).

Each query is fully materialized with the noop sink (no driver
collect) so the timing covers the whole distributed plan. Two tiers
(VERDICT r7 #8):

- LOCKIN tier (iterative operators + historically steal-prone
  movers): runs FIRST, min-of-3, System.gc() settle before each —
  these are the rows compared against BASELINE.md lock-ins, measured
  before the suite accumulates JVM/GC state.
- In-suite tier (everything else): min-of-2 in HEADLINE order.

The MIN is reported because this container shows ~25% CPU steal time
(/proc/stat col 8) with multi-second bursts, and the first execution
additionally pays one-time whole-stage-codegen compilation — min-of-N
measures the plan, not the hypervisor (observed: q50 swung
2.8s -> 35s across otherwise-identical runs).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative coverage: scan/agg (q01), star join (q02), join+topk
# (q03), anti-join (q04), history collect (q10), window top-k (q11),
# as-of (q12), range join (q13), sliding-window samples (q14),
# sessionization (q20), tumbling windows (q21), text (q30), exact
# dedup (q31), knn (q35), minhash LSH (q37).
HEADLINE = [
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q03_top_orders",
    "q04_customers_no_orders",
    "q10_user_histories",
    "q11_last5_events",
    "q12_asof_last_event",
    "q13_range_join_counts",
    "q14_sliding_window_samples",
    "q20_sessionization",
    "q21_hourly_event_counts",
    "q30_token_stats",
    "q31_exact_dedup",
    "q35_knn_brute_force",
    "q37_minhash_lsh_pairs",
    "q40_cascade_recommend",
    "q42_image_features",
    "q47_ranking_metrics",
    "q48_binary_metrics",
    "q49_normalized_edges",
    "q50_embedding_near_dups",
    "q51_priority_with_late_lineitem",
    "q53_distinct_suppliers_per_part",
    "q55_running_revenue",
    # round-2 additions: jaccard near-dups (q36), sliding windows
    # (q41), simhash fingerprints + banded near-dups (q44/q65),
    # SRP-LSH and IVF ANN (q45/q66), end-to-end train ETL (q46)
    "q36_ngram_jaccard_dups",
    "q41_sliding_windows_batch",
    "q44_simhash",
    "q45_lsh_knn",
    "q46_train_data_etl",
    "q65_simhash_near_dups",
    "q66_ivf_knn",
    # PII scrub (map-side regex throughput) + tf-idf (explode/agg/
    # join/window pipeline) over documents
    "q67_pii_scrub",
    "q68_tfidf_top_terms",
    # decorrelated-subquery TPC-H shapes (Q17/Q22/Q21)
    "q69_small_quantity_revenue",
    "q70_rich_segments_no_orders",
    "q71_multi_supplier_orders",
    # iterative connected-components dedup resolution
    "q72_dedup_clusters",
    # quantized-Lloyd-refined IVF ANN
    "q73_ivf_kmeans_knn",
    # TPC-H completion wave: correlated-min supplier (Q2) and 5-way
    # snowflake profit (Q9) — the widest join trees in the registry
    "q74_min_cost_supplier",
    "q82_nation_year_profit",
    # one-pass corpus curation (langid + quality + dedup + sample)
    "q84_corpus_curation",
    # grouping-set expansion + int8 vector compression
    "q87_grouping_sets_events",
    "q88_embedding_quantization",
    # corpus curation wave 2: broadcast decontamination + map-side chunking
    "q89_decontamination",
    "q94_duplicate_ngram_spans",
    "q95_unigram_rarity",
    "q96_semantic_dedup",
    "q97_bpe_merge_candidates",
    "q98_importance_weights",
    "q99_calibration_bins",
    "q100_ewma_engagement",
    "q101_image_phash",
    "q102_pagerank",
    "q92_doc_chunking",
    # round-3 additions: Lee-et-al occurrence-count dup spans, the
    # cascade's LSH (no-crossJoin) recall path, and collision-free
    # prefix-doubling exact substring dedup
    "q94b_duplicate_ngram_spans_occurrences",
    "q103_cascade_lsh_recall",
    "q104_exact_substring_dups",
    # distributed BPE trainer + tokenizer application
    "q105_bpe_learned_merges",
    "q106_bpe_token_counts",
    # duplicated-substring length distribution off the doubling rounds
    "q107_dup_length_profile",
    # native session_window, degree-oriented triangle counting,
    # bigram-LM quality scoring, Morton-key layout profile
    "q108_session_windows",
    "q109_triangle_counts",
    "q110_bigram_rarity",
    "q111_zorder_profile",
    # funnel / cohort analytics, temperature mixing, MMR re-rank
    "q112_event_funnel",
    "q113_cohort_retention",
    "q114_mixing_weights",
    "q115_mmr_rerank",
    # lossless prefix-filtered Jaccard join + histogram-sketch quantiles
    "q116_prefix_jaccard_dups",
    "q117_histogram_quantiles",
    "q118_hll_distinct",
    # bloom-prefiltered decontamination, priority sampling, SCD2
    "q119_bloom_decontamination",
    "q120_priority_sample",
    "q121_scd2_intervals",
    # TPC-H completion: Q5 locality snowflake + Q6 pure-scan agg
    "q122_local_supplier_volume",
    "q123_forecast_revenue_change",
    "q124_cms_heavy_hitters",
    # one-pass multi-column ANALYZE + KMV audience-overlap sketch
    "q125_column_profile",
    "q126_kmv_set_stats",
    "q127_decayed_popularity",
    "q128_event_transitions",
    # round-4: alternating large-star/small-star connected components
    "q129_largestar_components",
    # round-5: salted-join skew stress, incremental LSH dedup twin,
    # mergeable-sketch streaming twins
    "q130_skewed_salted_join",
    "q131_incremental_lsh_dedup",
    "q132_mergeable_hll_twin",
    "q133_mergeable_cms_twin",
    "q134_incremental_scd2_twin",
    "q135_incremental_ivf_twin",
    "q136_stratified_priority_sample",
    # round-7: ANN compaction twin, mergeable-histogram twin,
    # item-item co-occurrence CF
    "q137_compacted_ivf_twin",
    "q138_mergeable_histogram_twin",
    "q139_itemcf_cosine",
    "q140_itemcf_topk",
    "q141_incremental_itemcf_twin",
    "q142_random_walks",
    "q143_swing_similarity",
    # association rules (support/confidence/lift over order baskets)
    "q144_association_rules",
    # bounded-hop BFS + skip-gram pairs from the walk corpus
    "q145_bfs_distances",
    "q146_skipgram_pairs",
    # BM25 posting lists + personalized PageRank
    "q147_bm25_postings",
    "q148_personalized_pagerank",
    # dense gap-fill LOCF resample + delete-signature fuzzy ER join
    "q149_gap_fill_locf",
    "q150_fuzzy_name_pairs",
    # skip-gram negative sampling (walks -> pairs -> negatives)
    "q151_skipgram_negatives",
    # k-core peeling with data-derived threshold
    "q152_kcore_peeling",
    # rolling stats over the dense gap-filled series
    "q153_rolling_dense_stats",
    # degree-weighted negative sampling (unigram table + range join)
    "q154_weighted_negatives",
    # streaming continuous-aggregate twin (max-merge obs + locf read)
    "q155_continuous_aggregate_twin",
    # contrastive triplet mining (NN positive + hash negatives)
    "q156_contrastive_triplets",
    # event-sequence analytics: funnel / retention / transitions +
    # streaming funnel twin (min-merge firsts)
    "q157_funnel_conversion",
    "q158_cohort_retention",
    "q159_event_transitions",
    "q160_streaming_funnel_twin",
    # feature engineering: hashing trick, target encoding, LightGCN
    # propagation
    "q161_feature_hashing",
    "q162_target_encoding",
    "q163_lightgcn_propagation",
    # streaming target-encode twin, session sequences, covariance
    "q164_streaming_target_encode_twin",
    "q165_session_sequences",
    "q166_embedding_covariance",
    # eval protocol (leave-last-out + sampled negatives) + JL projection
    "q167_leave_last_out_split",
    "q168_eval_sampled_negatives",
    "q169_random_projection",
    # FK-edge data-quality profile
    "q170_fk_profile",
    # rolling z-score anomaly flags over the dense series
    "q171_rolling_anomalies",
    # round-8: composed offline cascade eval (split + negatives +
    # rank-stage scoring + sampled HR/NDCG/MRR)
    "q172_cascade_offline_eval",
    # streaming rolling-anomaly twin (alerting read over merged state)
    "q173_streaming_anomaly_twin",
    # snapshot-wide DQ gate (null-rate + dup-PK + FK edges, one relation)
    "q174_snapshot_audit",
    # end-to-end near-dup pipeline (LSH -> verify -> CC -> canonical)
    "q175_near_dedup_pipeline",
    # PMI collocations (word2phrase phrase detection, decimal products)
    "q176_pmi_collocations",
    # ANN recall@10 eval (IVF vs brute force over the same queries)
    "q177_ann_recall_eval",
    # full-corpus cascade hit-rate eval (leave-last-out -> cascade -> HR@10)
    "q178_cascade_full_eval",
    # beyond-accuracy list evals: intra-list diversity + catalog coverage
    "q179_list_diversity",
    "q180_catalog_coverage",
    # the full eval on the LSH (100 TB) recall path — q178's cost twin
    "q181_cascade_lsh_eval",
    # equi-depth quantile binning from the histogram sketch
    "q182_quantile_binning",
    # round-9: composed tokenizer-production pipeline (learn BPE ->
    # tokenize corpus -> pack 2048-token training bins)
    "q183_tokenize_pack_pipeline",
    # model-scored quality filter (linear scorer, exact rational gate)
    "q184_model_quality_filter",
    # cross-snapshot dedup against the persisted signature index
    "q185_cross_snapshot_dedup",
    # the full composed curation gate (dedup + quality + decontam + quota)
    "q186_curation_pipeline",
    # streaming gate-at-ingest curation twin (quality -> arrival dedup)
    "q187_streaming_curation_twin",
    # product quantization: per-subspace integer Lloyd + map-side encode
    "q188_pq_codes",
    # ADC top-k search over the PQ codes (codes move, vectors do not)
    "q189_pq_adc_knn",
    # the IVF-PQ composition: probed cells + residual codes + ADC
    "q190_ivfpq_adc_knn",
    # end-to-end retrieval: chunk -> hash-embed (map-side) -> top-5
    "q191_chunk_retrieval",
    # passage-level exact dedup with per-doc reconstruction manifest
    "q192_passage_dedup",
    # cross-snapshot PQ encode against frozen codebooks
    "q193_frozen_codebook_encode",
    # retrieval precision@5 vs exact set-Jaccard ground truth
    "q194_retrieval_quality_eval",
    # dedup-then-pack: passage dedup -> surviving-token packing
    "q195_dedup_pack_pipeline",
    # streaming passage-dedup twin (ordered 2-batch fold == q192)
    "q196_streaming_passage_dedup",
    # content-defined chunking dedup (alignment-proof passages)
    "q197_cdc_passage_dedup",
    # multi-term BM25 top-k search (quantize-then-sum int64 scores)
    "q198_bm25_search",
    # hybrid lexical+dense reciprocal-rank fusion
    "q199_hybrid_rrf_fusion",
    # DPR-style BM25 hard-negative mining
    "q200_bm25_hard_negatives",
    # streaming postings-index twin (2-batch ingest == q198 search)
    "q201_streaming_postings_twin",
    # pseudo-relevance-feedback query expansion (two-round BM25)
    "q202_prf_query_expansion",
    # best-passage snippet extraction over BM25 top-5
    "q203_best_passage",
    # bm25-vs-prf-vs-hybrid accuracy readout vs Jaccard truth
    "q204_retrieval_ablation",
    # per-source curation funnel (first-failing-gate attrition)
    "q205_curation_funnel_report",
    # snapshot distribution-drift monitor (log-free chi-square ppm)
    "q206_snapshot_drift_report",
    # streaming drift twin (merged per-batch counts == one-shot)
    "q207_streaming_drift_twin",
    # categorical drift (event-type mix, exact appear/disappear terms)
    "q208_categorical_drift",
    # round-10 additions: store-backed hybrid search, IVF-PQ refine,
    # passage-salvage curation (manifest + savings + streaming twin)
    "q209_store_hybrid_search",
    "q210_ivfpq_refine_knn",
    "q211_salvaged_curation_manifest",
    "q212_salvage_savings_report",
    "q213_streaming_salvage_twin",
    "q214_store_best_passage",
    "q215_streaming_pq_codes_twin",
    "q216_forgetful_dedup_twin",
    "q217_learned_rerank",
    "q218_rerank_ablation",
    "q219_forgetful_hybrid_twin",
    "q220_compacted_hybrid_twin",
    "q221_compacted_passage_twin",
    "q222_compacted_pq_twin",
    "q223_erased_hybrid_twin",
    "q224_streaming_categorical_drift_twin",
    "q225_trained_rerank",
    "q226_trained_rerank_ablation",
    "q227_mmr_diversified_topk",
    "q228_store_packing_twin",
    "q229_graded_ndcg_readout",
    "q230_domain_mixture_quota",
    "q231_diversity_tradeoff_readout",
    "q232_erased_packing_twin",
    "q233_compacted_dedup_twin",
    "q234_mixed_generation_hybrid_twin",
    "q235_cascade_graded_ndcg",
    "q236_resolved_adc_twin",
    "q237_filtered_knn",
    "q238_filtered_ann_recall",
    "q239_generation_diff_twin",
    "q240_maxsim_rerank",
    "q241_store_maxsim_twin",
    "q242_maxsim_ablation",
    "q243_interleaved_eval",
    "q244_incremental_stats_twin",
    "q245_capped_slate",
    "q246_point_in_time_features",
]

# queries whose operator runs Spark jobs during plan construction
# (driver-side iteration loops) — construction is charged for these.
# They are also run FIRST (solo min-of-2 before the rest of the
# suite): their in-suite numbers routinely read ~30% over solo
# lock-ins from accumulated JVM/GC state + hypervisor steal, and
# front-running them removes that footnote (VERDICT r3 #7).
ITERATIVE = {
    "q72_dedup_clusters",
    "q109_triangle_counts",
    "q73_ivf_kmeans_knn",
    "q102_pagerank",
    "q104_exact_substring_dups",
    "q105_bpe_learned_merges",
    "q106_bpe_token_counts",
    "q107_dup_length_profile",
    "q129_largestar_components",
    "q142_random_walks",  # adjacency materialized at construction
    "q145_bfs_distances",  # per-hop frontier checkpoints
    "q146_skipgram_pairs",  # walk corpus materialized at construction
    "q148_personalized_pagerank",  # per-round rank checkpoints
    "q151_skipgram_negatives",  # walk corpus materialized at construction
    "q152_kcore_peeling",  # per-round peel checkpoints
    "q154_weighted_negatives",  # walk corpus materialized at construction
    "q163_lightgcn_propagation",  # per-layer feature checkpoints
    "q175_near_dedup_pipeline",  # CC star rounds run at construction
    "q183_tokenize_pack_pipeline",  # BPE merge rounds run at construction
    "q185_cross_snapshot_dedup",  # index write runs at construction
    "q186_curation_pipeline",  # CC star rounds run at construction
    "q205_curation_funnel_report",  # q186's CC rounds run at construction
    "q188_pq_codes",  # per-subspace Lloyd training runs at construction
    "q189_pq_adc_knn",  # per-subspace Lloyd training runs at construction
    "q190_ivfpq_adc_knn",  # coarse collect + residual Lloyd at construction
    "q193_frozen_codebook_encode",  # old-snapshot Lloyd at construction
    "q210_ivfpq_refine_knn",  # q190's coarse collect + Lloyd at construction
    "q211_salvaged_curation_manifest",  # q186's CC rounds at construction
    "q212_salvage_savings_report",  # q186's CC rounds at construction
    "q215_streaming_pq_codes_twin",  # frozen-book Lloyd at construction
    "q222_compacted_pq_twin",  # frozen-book Lloyd at construction
    "q236_resolved_adc_twin",  # frozen-book Lloyd at construction
    "q228_store_packing_twin",  # BPE merge rounds run at construction
    "q232_erased_packing_twin",  # BPE merge rounds run at construction
    "q227_mmr_diversified_topk",  # greedy rounds checkpoint at construction
    "q231_diversity_tradeoff_readout",  # MMR leg checkpoints at construction
    "q243_interleaved_eval",  # pick rounds checkpoint at construction
}

# Lock-in tier (VERDICT r7 #8): the queries whose in-suite readings
# have repeatedly drifted 1.3-2x under accumulated suite GC state +
# hypervisor steal (the r6/r7 "mover" adjudications: q94, q105, q106,
# q129), forcing builder-side solo re-measures every round. They run
# FIRST — before the suite has any JVM/GC history — at min-of-3 with
# an explicit System.gc() settle between queries, so the externally
# recorded BENCH_rN row itself is the stable lock-in-comparable
# number. Everything iterative already front-ran (construction runs
# real jobs); the movers that weren't iterative join them here.
LOCKIN = ITERATIVE | {
    "q94_duplicate_ngram_spans",
    "q94b_duplicate_ngram_spans_occurrences",
}

# full per-query timing map (long names) goes to a FILE; the stdout
# summary line keys queries by their short id ("q104") so the line
# stays under the driver's tail-capture limit (BENCH_r03 lesson:
# the long-name map outgrew 2000 chars and parsed as null)
DETAIL_PATH = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_detail.json")


def main() -> None:
    from streaming_recommendation_spark.queries import queries
    from streaming_recommendation_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/codegen paths so q1 doesn't pay session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    qs = queries()
    timings: dict[str, float] = {}
    # fail fast on a short-id collision BEFORE burning the ~100 s run
    shorts = {n.split("_", 1)[0] for n in HEADLINE}
    assert len(shorts) == len(HEADLINE), "short query ids must be unique"
    # the stdout line keys queries by the id sans its leading 'q'
    assert all(s.startswith("q") for s in shorts), "query ids must start with 'q'"
    ordered = [n for n in HEADLINE if n in LOCKIN] + [
        n for n in HEADLINE if n not in LOCKIN
    ]
    for name in ordered:
        if name in LOCKIN:
            # decouple from accumulated suite heap state before each
            # lock-in-tier measurement (the in-suite GC-debt effect
            # behind the r6/r7 mover adjudications)
            spark.sparkContext._jvm.System.gc()
        runs = []
        for _ in range(3 if name in LOCKIN else 2):
            # lazy queries: construction excluded (it's parquet file
            # listing/schema reads a real deployment caches in a
            # catalog). Iterative operators run REAL jobs during
            # construction — those are the query and must be charged.
            if name in ITERATIVE:
                t0 = time.perf_counter()
                df = qs[name](spark, SF_DIR)
            else:
                df = qs[name](spark, SF_DIR)
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(min(runs), 3)
        print(f"# {name}: {timings[name]:.3f}s (runs: {[f'{r:.2f}' for r in runs]})", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # keep HEADLINE (not run) order in the artifacts
    timings = {n: timings[n] for n in HEADLINE}
    with open(DETAIL_PATH, "w") as fh:
        json.dump(
            {"metric": "headline_suite_seconds",
             "value": round(sum(timings.values()), 3),
             "unit": "sec", "queries": timings, "sf": sf_val,
             "lockin_tier": sorted(n for n in HEADLINE if n in LOCKIN)},
            fh, indent=1,
        )
    # the one-line summary is the LAST stdout line (driver contract).
    # VERDICT r9 #7: the driver tail-captures only the LAST ~2000
    # stdout bytes — a full map of long names outgrows that and the
    # whole external artifact parses as null (BENCH_r09 lesson).
    # VERDICT r12 #2: the previous 2-decimal/short-id encoding still
    # had to evict 72/199 rows to fit, starving PERF of per-query
    # visibility. Prescribed fix, applied here: drop the
    # metric/unit/detail keys from the STDOUT LINE ONLY, key queries
    # by the id sans the leading 'q' ("104"), encode seconds as
    # CENTISECOND INTS (1800 == 18.00 s), and emit compact JSON — all
    # 199 rows fit ~1890 bytes. The detail FILE keeps the canonical
    # format (metric/unit + long names + 3-decimal seconds), so the
    # old numbers remain available verbatim. The cheapest-row
    # eviction loop stays as a safety net only (queries_omitted
    # reports it; 0 expected).
    lock_short = {
        n.split("_", 1)[0].removeprefix("q") for n in HEADLINE if n in LOCKIN
    }
    qmap = {
        n.split("_", 1)[0].removeprefix("q"): int(round(t * 100))
        for n, t in timings.items()
    }
    assert len(qmap) == len(timings), "short ids must stay unique sans 'q'"
    droppable = sorted(
        (q for q in qmap if q not in lock_short), key=lambda q: (qmap[q], q)
    )
    summary = {
        "value": round(sum(timings.values()), 3),
        "sf": sf_val,
        "queries_omitted": 0,
        "queries": qmap,
    }
    budget = int(os.environ.get("SPARK_GRAFT_SUMMARY_BYTES", "1900"))
    compact = lambda o: json.dumps(o, separators=(",", ":"))
    while len(compact(summary)) > budget and droppable:
        del qmap[droppable.pop(0)]
        summary["queries_omitted"] = len(timings) - len(qmap)
    print(compact(summary))


if __name__ == "__main__":
    main()
