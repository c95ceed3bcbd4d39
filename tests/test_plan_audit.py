"""Plan-shape regression pins: the physical properties that make the
headline queries scale are asserted, not assumed."""

from __future__ import annotations

import re

import pytest

from streaming_recommendation_spark.plans import audit
from streaming_recommendation_spark.queries import registry

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def run(spark):
    qs = registry()

    def _run(name):
        return audit(qs[name].fn(spark, SF_DIR))

    return _run


def test_q01_scan_shape(run):
    a = run("q01_pricing_summary")
    # the shipdate predicate reaches the parquet reader
    assert any("l_shipdate" in p for p in a["pushed_filters"])
    # single shuffle (the groupBy); everything else stays in-stage
    assert a["n_exchanges"] == 1


def test_q02_star_join_broadcasts(run):
    a = run("q02_revenue_by_nation")
    assert a["n_broadcast_joins"] >= 2  # customer + nation stay broadcast
    assert a["bnl_joins"] == 0


def test_q03_take_ordered(run):
    assert run("q03_top_orders")["has_take_ordered"]


def test_q11_window_group_limit(run):
    assert run("q11_last5_events")["has_window_group_limit"]


def test_q12_asof_single_shuffle(run):
    a = run("q12_asof_last_event")
    # union+window as-of: the window's user_id shuffle plus the final
    # aggregation — never a per-key join explosion
    assert a["n_sortmerge_joins"] == 0
    assert a["bnl_joins"] == 0


def test_q13_range_join_is_equi(run):
    # bucketized range join must plan as an equi join (SMJ or
    # broadcast), NEVER broadcast-nested-loop
    a = run("q13_range_join_counts")
    assert a["bnl_joins"] == 0
    assert a["n_sortmerge_joins"] + a["n_broadcast_joins"] + a[
        "n_shuffled_hash_joins"
    ] >= 1


def test_q35_knn_no_vector_shuffle(run):
    a = run("q35_knn_brute_force")
    # corpus scored in place: the only join is the broadcast of queries
    assert a["bnl_joins"] >= 1 or a["n_broadcast_joins"] >= 1
    assert a["n_sortmerge_joins"] == 0


def test_q27_dict_encode_no_global_window(run):
    """q27 ships the scale path (per-partition offsets), so the plan
    must not contain a single-partition exchange — the signature of a
    global dense_rank window (VERDICT r1 scale-killer)."""
    a = run("q27_dict_encode_users")
    assert "SinglePartition" not in a["plan"]


def test_q66_ivf_broadcasts_queries(run):
    """IVF cell join must broadcast the probed-query side (tiny), not
    sort-merge the corpus; the landmark assignment cross-joins are
    16-row broadcast nested loops (intended)."""
    a = run("q66_ivf_knn")
    assert a["n_sortmerge_joins"] == 0
    assert a["n_broadcast_joins"] >= 1
    assert a["has_window_group_limit"]


# --- round-2 registry queries (q52-q65): pin the physical properties
# that keep each shape viable at 100 TB.


def test_q52_outer_join_is_equi(run):
    # customer LEFT JOIN orders: both sides scale with SF, so any
    # equi strategy is fine — but never a nested-loop explosion
    a = run("q52_customer_order_outer")
    assert a["bnl_joins"] == 0
    assert (
        a["n_sortmerge_joins"] + a["n_broadcast_joins"] + a["n_shuffled_hash_joins"]
        >= 1
    )


def test_q53_distinct_agg_two_phase(run):
    # count(DISTINCT) must compile to the expand/partial-agg shape:
    # shuffles only on the grouping key, never a global collect
    a = run("q53_distinct_suppliers_per_part")
    assert "SinglePartition" not in a["plan"]
    assert a["n_exchanges"] <= 2


def test_q54_scalar_battery_no_shuffle(run):
    # a pure scalar projection must stay map-side: zero exchanges,
    # and the scan reads only the referenced columns
    a = run("q54_string_functions")
    assert a["n_exchanges"] == 0
    assert "p_comment" not in a["plan"]  # column pruning reached the scan


def test_q55_running_window_partitioned(run):
    # cumulative window is per-custkey: one hash exchange, never a
    # single-partition global sort
    a = run("q55_running_revenue")
    assert "SinglePartition" not in a["plan"]
    assert a["n_exchanges"] == 1


def test_q56_window_agg_shares_partitioning(run):
    # lag() partitions by user_id and the gap aggregation groups by
    # user_id — Catalyst must reuse the window's exchange (1 shuffle,
    # not 2; the partial agg rides on the window's partitioning)
    a = run("q56_inter_event_gaps")
    assert "SinglePartition" not in a["plan"]
    assert a["n_exchanges"] == 1


def test_q58_scalar_subquery_broadcasts(run):
    # the 1-row global average joins back via broadcast (BNL on a
    # single-row side is constant work), never a sort-merge
    a = run("q58_parts_above_avg_price")
    assert a["n_sortmerge_joins"] == 0


def test_q59_semi_join_shape(run):
    # IN-subquery compiles to left_semi against the filtered
    # aggregate; no nested loop
    a = run("q59_orders_of_top_spenders")
    assert a["bnl_joins"] == 0
    assert "Semi" in a["plan"]


def test_q60_cube_single_shuffle(run):
    # CUBE = Expand (map-side row replication) + one hash agg
    # exchange; the grouping-set explosion must not add shuffles
    a = run("q60_cube_order_stats")
    assert "Expand" in a["plan"]
    assert a["n_exchanges"] == 1


def test_q61_q7_shape_broadcasts_dims(run):
    # TPC-H Q7 shape: supplier/customer/nation x2 all broadcast; the
    # only shuffle joins are lineitem-orders (both fact-sized)
    a = run("q61_shipping_volume_between_nations")
    assert a["n_broadcast_joins"] >= 4
    assert a["bnl_joins"] == 0


def test_q62_all_dims_broadcast(run):
    # orders is the only fact: customer/nation/region chain stays
    # fully broadcast, zero sort-merge joins
    a = run("q62_region_market_share")
    assert a["n_broadcast_joins"] >= 3
    assert a["n_sortmerge_joins"] == 0


def test_q63_case_banding_single_shuffle(run):
    # CASE-bucketed groupBy: 3 output groups, partial agg map-side,
    # one exchange
    a = run("q63_lineitems_by_quantity_band")
    assert a["n_exchanges"] == 1


def test_q64_fact_dim_broadcast(run):
    # part is a dimension: must broadcast against lineitem. The final
    # global agg's single partition carries 1 row — fine.
    a = run("q64_brand_revenue_ratio")
    assert a["n_broadcast_joins"] >= 1
    assert a["n_sortmerge_joins"] == 0


def test_q67_pii_scrub_map_side_only(run):
    # the scrub is one chained regexp projection: zero shuffles, and
    # only (doc_id, text) leave the parquet scan
    a = run("q67_pii_scrub")
    assert a["n_exchanges"] == 0
    assert "lang" not in a["plan"]


def test_q68_tfidf_partitioned_topk(run):
    # tf-idf: term/doc keyed shuffles only; the 1-row corpus count
    # broadcasts; the per-doc top-k compiles to a group-limit heap
    a = run("q68_tfidf_top_terms")
    # the per-doc ranking window shuffles by doc_id hash — the big
    # data never funnels through the scalar corpus-count's 1-row stage
    assert "hashpartitioning(doc_id" in a["plan"]
    assert a["n_broadcast_joins"] >= 1
    assert a["has_window_group_limit"]


def test_q69_correlated_scalar_decorrelated(run):
    # Q17 shape: the per-part threshold is ONE aggregation joined
    # back — the correlated per-row re-scan of lineitem never appears
    # (2 scans of lineitem total, not |part| scans)
    a = run("q69_small_quantity_revenue")
    assert a["bnl_joins"] == 0
    # node-numbered detail headers: one per physical scan
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", a["plan"])) <= 3
    assert a["n_broadcast_joins"] >= 2


def test_q70_anti_join_shape(run):
    # Q22 shape: NOT EXISTS compiles to a left-anti join; the global
    # average is a broadcast scalar, and the o_totalprice filter is
    # pushed into the orders scan feeding the anti join
    a = run("q70_rich_segments_no_orders")
    assert "Anti" in a["plan"]
    assert any("o_totalprice" in p for p in a["pushed_filters"])


def test_q71_exists_decorrelated_to_semi(run):
    # Q21 shape: correlated EXISTS over the same fact becomes a
    # semi-join against the aggregated multi-supplier order set
    a = run("q71_multi_supplier_orders")
    assert "Semi" in a["plan"]
    assert a["bnl_joins"] == 0


def test_q65_simhash_banded_equi_join(run):
    # banded SimHash: candidates come from a (band,bucket) equi
    # self-join — never an all-pairs nested loop over documents
    a = run("q65_simhash_near_dups")
    assert a["bnl_joins"] == 0
    assert (
        a["n_sortmerge_joins"] + a["n_broadcast_joins"] + a["n_shuffled_hash_joins"]
        >= 1
    )


# --- TPC-H completion wave (q74-q83): the classic shapes must keep
# their scale-critical physical properties.


def test_q74_part_filter_prunes_before_agg(run):
    # Q2 shape: the p_size/p_type filter reaches the part scan and the
    # fact joins it broadcast BEFORE any aggregation; the per-part min
    # is a second agg joined back (decorrelated) — no nested loop
    a = run("q74_min_cost_supplier")
    assert a["bnl_joins"] == 0
    assert any("p_size" in p for p in a["pushed_filters"])
    assert a["n_broadcast_joins"] >= 3  # part, best-cost, supplier, nation


def test_q75_outer_join_then_two_aggs(run):
    # Q13 shape: LEFT OUTER with compound ON stays an equi join; the
    # histogram agg runs over already-reduced per-customer rows
    a = run("q75_order_count_distribution")
    assert a["bnl_joins"] == 0
    assert (
        a["n_sortmerge_joins"] + a["n_broadcast_joins"] + a["n_shuffled_hash_joins"]
        >= 1
    )


def test_q76_single_fact_scan(run):
    # Q11 shape: the share-of-total threshold must come from the
    # REDUCED per-part table, re-scanning it, never the raw fact twice
    import re

    a = run("q76_important_parts")
    # lineitem scanned at most twice (pv is recomputed per branch; the
    # point is the threshold branch aggregates pv, not a third scan)
    assert len(re.findall(r"\(\d+\) Scan parquet", a["plan"])) <= 2
    assert a["bnl_joins"] <= 1  # the 1-row threshold broadcast only


def test_q77_scalar_max_broadcast(run):
    # Q15 shape: date filter pushed to the fact scan; the argmax is a
    # broadcast 1-row cross join, supplier dim broadcast
    a = run("q77_top_revenue_supplier")
    assert any("l_shipdate" in p for p in a["pushed_filters"])
    assert a["n_broadcast_joins"] >= 1
    assert a["n_sortmerge_joins"] == 0


def test_q78_not_in_is_broadcast_anti(run):
    # Q16 shape: the flagged-supplier NOT IN compiles to a broadcast
    # anti join (keys non-nullable), part filter broadcast too
    a = run("q78_supplier_part_counts")
    assert "Anti" in a["plan"]
    assert a["bnl_joins"] == 0
    assert any("p_size" in p or "p_brand" in p for p in a["pushed_filters"])


def test_q79_having_reduces_before_join(run):
    # Q18 shape: the sum_qty HAVING filter applies to the aggregated
    # per-order rows before the join back to orders/customer
    a = run("q79_large_volume_orders")
    assert a["bnl_joins"] == 0
    assert a["n_exchanges"] <= 5


def test_q80_disjunction_prunes_both_scans(run):
    # Q19 shape: Catalyst extracts common conjuncts from the 3-branch
    # OR; both scans see pushed predicates and the join stays equi
    a = run("q80_disjunctive_revenue")
    assert a["bnl_joins"] == 0
    assert a["n_broadcast_joins"] >= 1
    # the extracted l_quantity (fact) and p_brand/p_size (dim) bounds
    assert any("l_quantity" in p for p in a["pushed_filters"])
    assert any("p_brand" in p or "p_size" in p for p in a["pushed_filters"])


def test_q81_semi_join_never_widens_supplier(run):
    # Q20 shape: nested IN -> left_semi; supplier carries no lineitem
    # columns at any point; date filter pushed to the fact scan
    a = run("q81_heavy_shippers_of_red_parts")
    assert "Semi" in a["plan"]
    assert any("l_shipdate" in p for p in a["pushed_filters"])
    assert a["bnl_joins"] == 0


def test_q82_snowflake_single_fact_shuffle(run):
    # Q9 shape: part/supplier/nation broadcast; the only sort-merge
    # join is lineitem x orders; one final agg shuffle
    a = run("q82_nation_year_profit")
    assert a["n_broadcast_joins"] >= 3
    assert a["n_sortmerge_joins"] <= 1
    assert any("p_name" in p for p in a["pushed_filters"])


def test_q83_filters_push_to_both_fact_and_orders(run):
    # Q10 shape: returnflag filter on the lineitem scan, date window
    # on the orders scan — both prune before the join
    a = run("q83_returned_item_customers")
    assert any("l_returnflag" in p for p in a["pushed_filters"])
    assert any("o_orderdate" in p for p in a["pushed_filters"])
    assert a["bnl_joins"] == 0


def test_q84_curation_single_shuffle_no_joins(run):
    # curation composes langid + quality + dedup + sampling WITHOUT
    # joining operator outputs: every per-doc feature rides one
    # map-side projection; the only exchange is the digest
    # hash-partition for canonical election
    a = run("q84_corpus_curation")
    assert a["n_exchanges"] == 1
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )


def test_q85_rollup_one_shuffle(run):
    # ROLLUP expands grouping sets map-side (Expand node) and pays ONE
    # agg exchange; both dims broadcast
    a = run("q85_rollup_nation_year")
    assert "Expand" in a["plan"]
    assert a["n_broadcast_joins"] >= 2
    assert a["n_exchanges"] == 1


def test_q86_rank_battery_partitioned_window(run):
    # all five analytic functions share ONE n_name-partitioned window
    # sort — never a global (single-partition) ordering
    a = run("q86_rank_battery")
    assert "SinglePartition" not in a["plan"]
    assert a["n_exchanges"] == 1
    assert a["n_broadcast_joins"] >= 1


def test_q87_grouping_sets_one_scan_one_shuffle(run):
    # three rollup views from one scan: Expand -> partial agg ->
    # single exchange
    import re

    a = run("q87_grouping_sets_events")
    assert "Expand" in a["plan"]
    assert len(re.findall(r"\(\d+\) Scan parquet", a["plan"])) == 1
    assert a["n_exchanges"] == 1


def test_q88_quantization_map_side_only(run):
    # int8 quantization never shuffles: scale, codes, checksum and
    # mse all ride the scan's projection
    a = run("q88_embedding_quantization")
    assert a["n_exchanges"] == 0
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )


def test_q89_decontamination_broadcast_bench(run):
    # the eval n-gram set broadcasts; the corpus side's only
    # exchanges are its own (doc,gram) distinct + final agg
    a = run("q89_decontamination")
    assert a["n_broadcast_joins"] == 1
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0
    assert a["bnl_joins"] == 0


def test_q91_domain_quota_group_limit(run):
    # rank <= quota compiles to WindowGroupLimit; the window is
    # source-partitioned, never global
    a = run("q91_domain_quota")
    assert a["has_window_group_limit"]
    assert "SinglePartition" not in a["plan"]


def test_q92_chunking_map_side_only(run):
    # chunking is one projection over the scan: zero shuffles
    a = run("q92_doc_chunking")
    assert a["n_exchanges"] == 0
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )


def test_q93_packing_partitioned_window(run):
    # the packing window partitions by source — no global sort
    a = run("q93_sequence_packing")
    assert "SinglePartition" not in a["plan"]
    assert a["bnl_joins"] == 0


def test_q94_dup_spans_no_pairwise_join(run):
    # the whole point: gram-keyed aggregation, doc-partitioned
    # windows — no self-join pair blowup, no single-partition stage
    a = run("q94_duplicate_ngram_spans")
    assert a["bnl_joins"] == 0
    assert "SinglePartition" not in a["plan"]


def test_q95_unigram_rarity_shape(run):
    a = run("q95_unigram_rarity")
    assert a["bnl_joins"] == 0
    assert "SinglePartition" not in a["plan"]


def test_q96_semantic_dedup_cell_equi_join(run):
    # the landmark-assignment cross-joins are 16-row broadcast nested
    # loops (intended, same as q66); the PAIR join must be a cell-keyed
    # equi-join — never a nested-loop over the corpus
    a = run("q96_semantic_dedup")
    assert a["bnl_joins"] <= 3  # one per reuse of the cell assignment
    assert (
        a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"]
        + a["n_broadcast_joins"]
        >= 2
    )


def test_q97_bpe_top_k_bounded(run):
    # global top-50 compiles to TakeOrderedAndProject, not a sort
    a = run("q97_bpe_merge_candidates")
    assert a["has_take_ordered"]
    # the pair-keyed partial agg + spread()'s round-robin scatter
    assert a["n_exchanges"] <= 2
    assert "SinglePartition" not in a["plan"]


def test_q98_importance_broadcast_target(run):
    # target TF table broadcasts; corpus-side joins stay shuffled
    a = run("q98_importance_weights")
    assert a["n_broadcast_joins"] >= 1
    assert a["bnl_joins"] == 0
    assert "SinglePartition" not in a["plan"]


def test_q99_calibration_single_agg_shuffle(run):
    # one derived-key groupBy; the max(value) side is a broadcast
    a = run("q99_calibration_bins")
    assert a["bnl_joins"] <= 1  # 1-row max broadcast cross join
    assert "SinglePartition" not in a["plan"] or a["n_exchanges"] <= 3


def test_q101_phash_map_side_decode(run):
    # media synth + decode + hash is one mapInPandas pass over the
    # scan: the only exchange is spread()'s round-robin scatter
    a = run("q101_image_phash")
    assert a["n_exchanges"] <= 1
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )


def _exchange_args(plan):
    """The Arguments line of every Exchange in a formatted plan."""
    return re.findall(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (.*)", plan)


def _exchanges_on_edge_side(plan):
    """Exchanges between a scan of the static edge side (its checkpoint
    RDD is named STATIC_SIDE, which the formatted plan prints) and the
    join that reads it."""
    from streaming_recommendation_spark.plans.audit import STATIC_SIDE

    tree = plan.split("\n\n")[0].splitlines()[1:]
    depth = lambda line: len(line) - len(line.lstrip(" :+-"))
    found = 0
    for i, line in enumerate(tree):
        if f"Scan ExistingRDD {STATIC_SIDE}" not in line:
            continue
        d = depth(line)
        for up in reversed(tree[:i]):
            if depth(up) < d:
                d = depth(up)
                if "Join" in up:
                    break
                found += "Exchange" in up
    return found


def test_q102_pagerank_superstep_shape(spark, monkeypatch):
    # audit each checkpoint of the MATERIALIZED operator as it is
    # taken (the returned frame only scans the last round): node-keyed
    # equi-joins + message aggregations, one AQE-off plan per round
    import importlib

    from pyspark.sql import functions as F

    from streaming_recommendation_spark.operators.graph import (
        pagerank_quantized,
    )
    from streaming_recommendation_spark.sources.testdata import load_table

    o = load_table(spark, "orders", SF_DIR)
    li = load_table(spark, "lineitem", SF_DIR)
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    audit_mod = importlib.import_module(
        "streaming_recommendation_spark.plans.audit"
    )
    audits = []
    frame_cls = type(edges)  # the session's concrete DataFrame class
    checkpoint = frame_cls.localCheckpoint

    def audited(df, *args, **kwargs):
        audits.append(audit(df))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", audited)
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # at the tiny fixture the default target relays the static edge
    # side out at its floor width of 2; a target of 1 byte keeps it at
    # the session width. Either way every round takes the side's width.
    for target, width in ((audit_mod.ROUND_TARGET_BYTES, 2), (1, cap)):
        monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", target)
        audits.clear()
        pagerank_quantized(edges, rounds=3).collect()
        # the edge side (and its narrow relayout), round 0, then one
        # per round
        assert len(audits) == (6 if width < cap else 5)
        for a in audits[-3:]:
            plan = a["plan"]
            assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] + a[
                "n_broadcast_joins"
            ] >= 2, plan
            # the start-mass count ran once, in round 0
            assert a["bnl_joins"] == 0, plan
            # the superstep's only shuffle is the message groupBy(v):
            # the edge side and the rank vector share one layout (the
            # edge side used to be re-shuffled to the session width)
            args = _exchange_args(plan)
            assert len(args) == a["n_exchanges"] == 1, plan
            assert re.match(rf"hashpartitioning\(v#\d+L, {width}\),", args[0]), plan
            assert _exchanges_on_edge_side(plan) == 0, plan


def test_checkpoint_partitioned_superstep_reuses_edge_layout(spark):
    # The static edge side of an iterative operator is repartitioned by
    # the join key once and checkpointed; each superstep must then run
    # with ONE exchange (the message groupBy) — not re-shuffle the
    # edges every round. Broadcast is disabled to force the
    # at-scale sort-merge shape.
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.plans.audit import (
        checkpoint_partitioned,
    )

    edges = spark.range(2000).select(
        (F.col("id") % 500).alias("u"), ((F.col("id") * 7) % 500).alias("v")
    )
    sym = checkpoint_partitioned(edges.repartition("u"))
    part = sym._jdf.queryExecution().executedPlan().outputPartitioning().toString()
    assert "hashpartitioning(u" in part, part

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ranks = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        one_round = (
            sym.join(ranks.select(F.col("u"), F.expr("deg * 2").alias("__c")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("__c").alias("s"))
        )
        a = audit(one_round)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # 1 exchange total: the message groupBy. Edge scan, degree agg, and
    # the rank join all reuse the checkpointed hashpartitioning(u).
    assert a["n_exchanges"] == 1, a["plan"]


def test_q103_cascade_lsh_recall_no_cross_product(run):
    # The 'lsh' recall strategy exists precisely so the item corpus is
    # never densely scored: candidates come from an equi-join on
    # (table, bucket). The brute path's crossJoin must NOT appear.
    a = run("q103_cascade_lsh_recall")
    assert a["bnl_joins"] == 0, a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q94b_occurrence_mode_same_shape(run):
    # identical plan contract to q94: gram-keyed agg + doc-partitioned
    # windows, no pair blowup, no single-partition funnel
    a = run("q94b_duplicate_ngram_spans_occurrences")
    assert a["bnl_joins"] == 0
    assert "SinglePartition" not in a["plan"]


def test_q104_exact_substring_visible_plan(spark, monkeypatch):
    # q104 is iterative (rank rounds materialize via checkpoint); the
    # visible plan is the final window-key stage — it must join
    # checkpointed rank RDDs with no cross product and keep the
    # span-union windows doc-partitioned. OPTIMIZATION_r13 sizes the
    # round layouts to the frame, so at the sf0.001 fixture they
    # legitimately collapse to width 1 — pin the round target tiny so
    # the audit sees production-like (multi-partition) layouts and the
    # no-single-partition-funnel property stays the thing asserted.
    import importlib

    from streaming_recommendation_spark.queries import registry

    # plans/__init__ re-exports the audit FUNCTION under the same name
    # as the submodule — import_module reaches the module itself
    audit_mod = importlib.import_module(
        "streaming_recommendation_spark.plans.audit"
    )
    monkeypatch.setattr(audit_mod, "ROUND_TARGET_BYTES", 1)
    a = audit(registry()["q104_exact_substring_dups"].fn(spark, SF_DIR))
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert "SinglePartition" not in a["plan"]


def test_q106_bpe_apply_broadcast_segmentation(spark):
    # tokenizer application: segmentation folds over DISTINCT words
    # and broadcast-joins back — the corpus side never shuffles on the
    # word key, and no cross product forms
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q106_bpe_token_counts"].fn(spark, SF_DIR))
    assert a["n_broadcast_joins"] >= 1, a["plan"]
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q108_session_window_single_shuffle(run):
    a = run("q108_session_windows")
    # session_window aggregates in one user-keyed shuffle — no join,
    # no second exchange for the window-merge
    assert a["n_exchanges"] == 1
    assert a["bnl_joins"] == 0


def test_q109_triangles_all_equi_joins(run):
    a = run("q109_triangle_counts")
    # compact-forward: every join (degree attach, wedge, closing) is
    # an equi join; a cartesian/BNL anywhere means the orientation
    # got lost
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q111_zorder_single_agg_shuffle(run):
    a = run("q111_zorder_profile")
    # Morton key is map-side arithmetic; only the bucket groupBy
    # shuffles
    assert a["n_exchanges"] == 1
    assert len(a["pushed_filters"]) == 0  # full-scan profile, no UDF


def test_q112_funnel_user_keyed_only(run):
    a = run("q112_event_funnel")
    # SINGLE-PASS (ADVICE r3): exactly one events scan feeding the
    # three chained conditional-min windows — the old three-legged
    # union re-scanned events ~6x
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", a["plan"])) == 1
    # no joins at all anymore; one user_id exchange drives windows +
    # partial-agg rollup, then the scalar stack()
    assert a["bnl_joins"] == 0
    assert a["n_broadcast_joins"] == 0 and a["n_sortmerge_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q129_star_components_no_cartesian(run):
    a = run("q129_largestar_components")
    # the star rounds are min-groupBy + equi-join only; any
    # cartesian/BNL means an orientation predicate was lost
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q115_mmr_candidate_gen_broadcasts_users(run):
    a = run("q115_mmr_rerank")
    # the bounded user side broadcasts into the corpus scan (as a
    # broadcast nest — same accepted shape as q35's brute kNN); the
    # corpus itself never shuffles for candidate generation — the
    # only exchanges are the top-k window and the per-user rerank
    assert a["bnl_joins"] >= 1 or a["n_broadcast_joins"] >= 1
    assert a["n_sortmerge_joins"] == 0


def test_q116_prefix_jaccard_no_full_index_join(spark):
    """The prefix index must be strictly smaller than the full
    shingle table (that IS the algorithm), and the candidate pair
    count must not exceed the full inverted-index join's."""
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.operators.dedup import shingle_table
    from streaming_recommendation_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", SF_DIR)
    sh = shingle_table(docs, "text", "doc_id", 3)
    full_rows = sh.count()
    # rebuild the operator's prefix stage at t=0.8
    from pyspark.sql import Window

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    vocab = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # same exact-integer prefix bound the operator uses (t = 4/5)
    pref_len = F.col("sz") - F.expr("((4 * sz + 4) div 5)") + 1
    prefix_rows = (
        sh.join(vocab, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("__df").asc(), F.col("shingle").asc()
                )
            ),
        )
        .where(F.col("__pos") <= pref_len)
        .count()
    )
    # at t=0.8 the index holds ~20% of each doc's shingles
    assert prefix_rows < 0.3 * full_rows


def test_q117_histogram_two_agg_passes(run):
    a = run("q117_histogram_quantiles")
    # range agg + bin counts + quantile agg — all keyed by the small
    # group column; no BNL, no cartesian beyond the broadcast range join
    assert a["bnl_joins"] == 0


def test_q119_bloom_probe_broadcasts(run):
    a = run("q119_bloom_decontamination")
    # 3 bitmap-word probes + the exact verify all broadcast; the
    # corpus side never shuffles for the probe
    assert a["n_broadcast_joins"] >= 3
    assert a["bnl_joins"] == 0


def test_q120_priority_sample_take_ordered(run):
    a = run("q120_priority_sample")
    # one TakeOrderedAndProject, no shuffle at all
    assert a["has_take_ordered"]
    assert a["n_exchanges"] == 0


def test_q121_scd2_user_keyed(run):
    a = run("q121_scd2_intervals")
    # run-detection window, run aggregation, interval window — all
    # keyed by user(+run); no joins anywhere
    assert a["bnl_joins"] == 0
    assert a["n_sortmerge_joins"] == 0
    assert a["n_exchanges"] <= 3


def test_q122_q5_dimensions_broadcast(run):
    a = run("q122_local_supplier_volume")
    # supplier/nation/region/customer broadcast; only fact tables
    # shuffle — Q5's locality predicate must not force an SMJ chain
    assert a["n_broadcast_joins"] >= 3
    assert a["bnl_joins"] == 0


def test_q123_q6_full_pushdown_no_join(run):
    a = run("q123_forecast_revenue_change")
    assert any("l_shipdate" in p for p in a["pushed_filters"])
    assert any("l_discount" in p for p in a["pushed_filters"])
    assert any("l_quantity" in p for p in a["pushed_filters"])
    assert a["n_exchanges"] <= 1  # 1-row partial-agg merge only


def test_q130_salted_join_no_cartesian(run):
    """Salting is pure physical redistribution: the join stays
    equi-keyed on (k, salt) — never a Cartesian/BNL — and at sf the
    dimension side broadcasts (the forced-shuffle shape is pinned in
    test_skew_als with broadcast disabled)."""
    a = run("q130_skewed_salted_join")
    assert a["bnl_joins"] == 0
    assert a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a[
        "n_shuffled_hash_joins"
    ] >= 1


def test_q131_incremental_dedup_equi_only(run):
    """The candidate generation is an equi-join on (band, bucket) —
    signatures never cross-product, and the arrival-order predicate
    rides the join, not a filter over a Cartesian."""
    a = run("q131_incremental_lsh_dedup")
    assert a["bnl_joins"] == 0


def test_q132_hll_merge_register_bounded(run):
    """The merged-register finalize touches register-table-sized
    inputs only: the single CrossJoin in the plan is the broadcast of
    the 256-row register id frame (m-bounded), never corpus-sized."""
    a = run("q132_mergeable_hll_twin")
    assert a["bnl_joins"] <= 1  # the broadcast range(m) fill
    assert "range (0, 256" in a["plan"].lower() or "range(0, 256" in a["plan"].lower()


def test_q133_cms_merge_no_cartesian(run):
    a = run("q133_mergeable_cms_twin")
    assert a["bnl_joins"] == 0
    assert a["has_take_ordered"]  # exact top-20 via distributed heaps


def test_q136_stratified_sample_window_group_limit(run):
    """The per-stratum draw short-circuits via WindowGroupLimit — no
    per-group full sort — and shuffles only on the stratum key."""
    a = run("q136_stratified_priority_sample")
    assert a["has_window_group_limit"]
    assert a["bnl_joins"] == 0


def test_q139_itemcf_no_self_join_no_cartesian(run):
    """Pairs expand JVM-side from the bounded per-user array: the
    plan has the history cap's WindowGroupLimit, no Cartesian/BNL,
    and no sort-merge self-join of the interaction table (the only
    joins are the two item-count normalization joins)."""
    a = run("q139_itemcf_cosine")
    assert a["has_window_group_limit"]  # the max_items cap
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q140_itemcf_topk_window_group_limit(run):
    a = run("q140_itemcf_topk")
    assert a["has_window_group_limit"]  # cap AND the per-item top-k
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q141_incremental_itemcf_no_cartesian(run):
    """The delta fold is anti-joins on (user, pair) + one outer-join
    sum — bounded-array pair expansion everywhere, never a cartesian
    or a nested-loop join."""
    a = run("q141_incremental_itemcf_twin")
    assert a["has_window_group_limit"]  # both caps (w0 and w1)
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q143_swing_no_cartesian(run):
    """Candidates come from an equi-join of the per-item user-pair
    table on the user pair (group size <= |common items| <= cap) —
    never a cartesian; both caps compile to WindowGroupLimit."""
    a = run("q143_swing_similarity")
    assert a["has_window_group_limit"]
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q144_association_rules_no_cartesian(run):
    """Rule pairs come from the bounded per-basket array expansion
    (cap's WindowGroupLimit); support joins are item-keyed equi
    joins; N rides as a 1-row broadcast — the only nested-loop join
    allowed is that singleton cross."""
    a = run("q144_association_rules")
    assert a["has_window_group_limit"]  # the max_items basket cap
    assert "CartesianProduct" not in a["plan"]
    # singleton-N broadcast is the one permissible BNL
    assert a["bnl_joins"] <= 1


def test_q147_bm25_no_cartesian_topk_heap(run):
    """Query terms and corpus totals broadcast; the per-term top-k is
    a WindowGroupLimit heap; no cartesian forms (the two 1-row
    broadcasts are the only nested-loop joins)."""
    a = run("q147_bm25_postings")
    assert a["has_window_group_limit"]  # per-term top-k heap
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 2  # totals singleton + n-terms broadcast
    assert a["n_broadcast_joins"] >= 1


def test_q150_fuzzy_pairs_equi_signature_join(run):
    """The delete-signature self-join is a pure equi join on
    (position, signature) — no cartesian, no nested loop (prefix
    blocking would have degenerated into one quadratic block here)."""
    a = run("q150_fuzzy_name_pairs")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q151_negatives_equi_index_join(run):
    """The draw -> node mapping is an equi join on the dense idx key;
    the only nested-loop join is the 1-row |vocab| broadcast."""
    a = run("q151_skipgram_negatives")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 1


def test_q153_rolling_stats_single_pass(run):
    """Rolling features are ONE window pass over the dense series —
    no self-join, no cartesian; the only BNL-able piece is nothing."""
    a = run("q153_rolling_dense_stats")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] + a[
        "n_broadcast_joins"
    ] <= 2  # the grid-obs left join (+ AQE variance)


def test_q154_weighted_negatives_granule_equi_join(run):
    """The range lookup compiles to an equi join on the granule key
    (plus residual filter), never a broadcast-nested-loop range join;
    the two 1-row totals broadcasts are the only BNLs."""
    a = run("q154_weighted_negatives")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 2
    assert a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a[
        "n_shuffled_hash_joins"
    ] >= 1  # the granule equi join is a real join


def test_q155_cagg_twin_no_cartesian(run):
    a = run("q155_continuous_aggregate_twin")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q156_triplets_broadcast_corpus_shape(run):
    """The kNN leg broadcasts the 50 anchors (corpus never shuffles);
    the negatives leg joins equi on idx; singleton-N broadcasts are
    the only BNLs."""
    a = run("q156_contrastive_triplets")
    assert "CartesianProduct" not in a["plan"]
    assert a["n_broadcast_joins"] >= 1


def test_q157_funnel_no_joins(run):
    """The funnel is pure aggregation: stage_firsts' groupBy(user),
    the pivot groupBy(user) (same key — AQE can keep the layout), and
    the single-row totals — no join of any kind touches the events."""
    a = run("q157_funnel_conversion")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"]
        == 0
    )


def test_q158_retention_no_cartesian(run):
    a = run("q158_cohort_retention")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q159_transitions_single_window_pass(run):
    """Pairs form in ONE per-user window pass (lead) — the plan must
    not contain a sequence self-join; the row-normalizing window runs
    over the tiny aggregate."""
    a = run("q159_event_transitions")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"]
        == 0
    )


def test_q160_funnel_twin_no_joins(run):
    a = run("q160_streaming_funnel_twin")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"]
        == 0
    )


def test_q161_feature_hash_no_joins(run):
    """The hashing trick builds NO vocabulary: the plan is scan +
    explode + one aggregate — no join, no dictionary broadcast."""
    a = run("q161_feature_hashing")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"]
        == 0
    )


def test_q162_target_encode_singleton_broadcast_only(run):
    """The global-totals singleton is the only nested-loop join; the
    category aggregate is the only real shuffle consumer."""
    a = run("q162_target_encoding")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 1
    assert a["n_sortmerge_joins"] == 0


def test_q163_propagation_no_cartesian(run):
    """Each propagation round is a node-keyed equi join + aggregate —
    never a cartesian; checkpointed layers keep the plan flat."""
    a = run("q163_lightgcn_propagation")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q164_encode_twin_singleton_broadcast_only(run):
    a = run("q164_streaming_target_encode_twin")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 1  # the global-totals singleton
    assert a["n_sortmerge_joins"] == 0


def test_q165_sessions_no_joins(run):
    """Sessionization + sequence collection all ride ONE user shuffle:
    no join of any kind touches the events."""
    a = run("q165_session_sequences")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"]
        == 0
    )


def test_q166_covariance_broadcast_marginals(run):
    """The d^2 pair sums join the d-row marginals and the n singleton
    as BROADCASTS — the corpus-sized side never re-shuffles; the
    outer-product expansion is JVM-side (no self-join)."""
    a = run("q166_embedding_covariance")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 1  # the n singleton
    assert a["n_broadcast_joins"] >= 2
    assert a["n_sortmerge_joins"] == 0


def test_q167_split_single_window_pass(run):
    a = run("q167_leave_last_out_split")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"]
        == 0
    )


def test_q168_negatives_no_global_sort(run):
    """indexed_vocab's bounded-bucket ranking must never
    single-partition the VOCABULARY (the global row_number
    scale-killer). The only SinglePartition exchanges allowed are the
    two broadcast-size frames: the <= 64-row bucket-offsets window
    and the |vocab| singleton aggregate; the singleton is also the
    only BNL."""
    a = run("q168_eval_sampled_negatives")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 1
    assert a["plan"].count("SinglePartition") <= 2


def test_q169_projection_broadcast_fanout_only(run):
    """Signs compute inline from the flat index — no sign matrix is
    materialized or joined; the only join of any kind is the
    broadcast out_dim-row j fan-out (a BNL of 16 rows at any corpus
    size), and the corpus never re-shuffles before the (id, j)
    aggregation."""
    a = run("q169_random_projection")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 1
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0


def test_q170_fk_profile_prereduces_children(run):
    """Every edge reduces the child to per-FK counts BEFORE joining
    the parent (the join ships |distinct fk| rows, not |child|) and
    parent totals ride as broadcast singletons — no cartesian, BNLs
    only for the four 1-row totals."""
    a = run("q170_fk_profile")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 4


def test_q171_anomalies_single_window_pass(run):
    """The z-test is ONE trailing-window pass over the dense series
    (composed on the gap-fill) — no self-join, no cartesian."""
    a = run("q171_rolling_anomalies")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] + a[
        "n_broadcast_joins"
    ] <= 2  # the grid-obs left join (+ AQE variance), as in q153


def test_q172_offline_eval_candidate_bounded(run):
    """The composed eval never does corpus x corpus work: no
    cartesian products anywhere; every nested-loop join is one of
    the broadcast 1-row count frames (|embeddings| for the vec map,
    |vocab| for the draw modulus) re-expanded across the plan's
    branches; the split collapses to a window-group-limit (rn <= 1
    never materializes full per-user ranks)."""
    a = run("q172_cascade_offline_eval")
    assert "CartesianProduct" not in a["plan"]
    assert a["has_window_group_limit"]
    assert a["bnl_joins"] <= 9
    assert a["n_shuffled_hash_joins"] == 0


def test_q173_anomaly_twin_no_cartesian(run):
    """q171's shape, fed by the merged two-batch fold: the merge adds
    one union + max aggregation, never a join blowup."""
    a = run("q173_streaming_anomaly_twin")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] + a[
        "n_broadcast_joins"
    ] <= 2  # the grid-obs left join (+ AQE variance), as in q171


def test_q174_snapshot_audit_no_wide_joins(run):
    """Every check is a map-side-partial aggregate subplan: the only
    joins anywhere are the 7 FK edges' |distinct key| equi-joins
    (broadcast at this SF) and their singleton totals BNLs — nothing
    shuffles a fact table, no cartesian, no sort-merge."""
    a = run("q174_snapshot_audit")
    assert "CartesianProduct" not in a["plan"]
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0
    assert a["bnl_joins"] <= 7  # one 1-row parents frame per FK edge


def test_q175_dedup_pipeline_no_cartesian(run):
    """Candidates form only inside band buckets; the verify is two
    shingle equi-joins; the star rounds are min-groupBy + equi-join —
    a cartesian/BNL anywhere means a blocking key was lost."""
    a = run("q175_near_dedup_pipeline")
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q176_pmi_no_cartesian_beyond_singletons(run):
    """The bigram stream is doc-local (no shuffle before the counts);
    joins key on words; the only BNLs are the two broadcast 1-row
    totals (T and B) — no cartesian, no corpus self-join."""
    a = run("q176_pmi_collocations")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] <= 2
    assert a["n_sortmerge_joins"] == 0


def test_q177_ann_recall_no_corpus_cross(run):
    """Both rank sets are bounded-query-side plans (q35/q66 shapes);
    the recall intersection joins two k-rows-per-query frames — the
    only BNL class allowed is the broadcast bounded query set."""
    a = run("q177_ann_recall_eval")
    assert "CartesianProduct" not in a["plan"]
    # the two post-window intersection/left joins plan as SMJ
    # statically (no stats after row_number); both sides are k rows
    # per query, AQE's broadcast-conversion case at runtime — what
    # must never appear is a corpus-side SMJ beyond those two
    assert a["n_sortmerge_joins"] <= 2


def test_q178_full_eval_split_is_window_pass(run):
    """The leave-last-out split stays a window-group-limit pass and
    nothing beyond the cascade's own deliberate dense recall
    (bounded-user-side broadcast) forms a cartesian: the q40 plan
    plus one split window and one metrics left join."""
    a = run("q178_cascade_full_eval")
    assert a["has_window_group_limit"]
    assert "CartesianProduct" not in a["plan"]
    assert a["n_shuffled_hash_joins"] == 0


def test_q179_ild_pairs_bounded(run):
    """Pairs form inside per-user k-row lists — the only dense work
    is the cascade's own deliberate recall; no new cartesians."""
    a = run("q179_list_diversity")
    assert "CartesianProduct" not in a["plan"]


def test_q180_coverage_singleton_broadcasts(run):
    a = run("q180_catalog_coverage")
    assert "CartesianProduct" not in a["plan"]
    # one static SMJ: the cascade's post-window shortlist join has no
    # stats (AQE's broadcast-conversion case at runtime, as in q177);
    # the coverage stage itself adds only singleton broadcasts
    assert a["n_sortmerge_joins"] <= 1


def test_q181_lsh_eval_no_dense_recall(run):
    """The 100 TB eval path must NOT contain q178's deliberate dense
    user x item recall: candidates form through the bucket equi-join
    (q103's pinned property), so the only BNLs are the broadcast
    singleton count frames."""
    a = run("q181_cascade_lsh_eval")
    assert "CartesianProduct" not in a["plan"]
    assert a["has_window_group_limit"]


def test_q182_binning_no_global_sort(run):
    """Equi-depth binning must NOT single-partition the values (the
    exact-ntile trap): the only window runs over the <= 256-bin count
    table per group, and the assignment is two equi-joins — no
    cartesian, no BNL."""
    a = run("q182_quantile_binning")
    assert "CartesianProduct" not in a["plan"]
    assert a["bnl_joins"] == 0


def test_q183_pipeline_broadcast_segmentation_partitioned_packing(spark):
    # the composed tokenizer pipeline keeps each stage's plan shape:
    # segmentation broadcast-joins back to the corpus (q106's pin) and
    # the packing window partitions by source (q93's pin) — no global
    # sort, no cartesian anywhere in the fused plan
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q183_tokenize_pack_pipeline"].fn(spark, SF_DIR))
    assert a["n_broadcast_joins"] >= 1, a["plan"]
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert "SinglePartition" not in a["plan"]


def test_q184_model_filter_map_side_only(spark):
    # the learned quality gate is one projection over the scan: no
    # shuffle, no join, no UDF anywhere
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q184_model_quality_filter"].fn(spark, SF_DIR))
    assert a["n_exchanges"] == 0
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q185_reads_index_never_rescans_old_corpus(spark):
    # the refresh contract: the returned plan scans the PERSISTED
    # bucketed signature table plus the NEW snapshot only — the old
    # corpus filter (doc_id < 250) must not appear anywhere in the
    # read path, and the new-side scans carry the pushed >= filter
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q185_cross_snapshot_dedup"].fn(spark, SF_DIR))
    assert "lsh_sig_index_cross_snapshot" in a["plan"]
    assert "LessThan(doc_id,250)" not in a["plan"]
    assert "GreaterThanOrEqual(doc_id,250)" in a["plan"]
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]


def test_q186_curation_pipeline_no_pairwise_blowup(spark):
    # the composed gate inherits each stage's shape: LSH candidates
    # bucketed (no all-pairs), benchmark broadcast, quality map-side,
    # quota windows per source — no cartesian/BNL beyond the stages'
    # own singleton frames, no single-partition stage
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q186_curation_pipeline"].fn(spark, SF_DIR))
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    # every SinglePartition exchange must be Catalyst's own injected
    # runtime-bloom-filter pushdown (a constant-size bloom BUFFER
    # merge, not data): no row-bearing stage collapses to one
    # partition
    import re as _re

    assert a["plan"].count("SinglePartition") == len(
        _re.findall(r"partial_bloom_filter_agg", a["plan"])
    ), a["plan"]
    assert a["n_broadcast_joins"] >= 1  # the benchmark gram probe


def test_q187_streaming_curation_twin_bucketed_joins_only(spark):
    # the arrival-order dup checks are (band, bucket) equi-joins over
    # quality-passing signatures — no cartesian/BNL anywhere, and the
    # quality gate stays a projection (no Python eval)
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q187_streaming_curation_twin"].fn(spark, SF_DIR))
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q188_pq_encode_map_side(spark):
    # the full-corpus ENCODE path is one projection against
    # plan-literal centroids: zero exchanges, zero joins, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q188_pq_codes"].fn(spark, SF_DIR))
    assert a["n_exchanges"] == 0
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q189_adc_codes_only_no_vector_shuffle(spark):
    # the corpus side of the search carries codes, not vectors: the
    # only join is the broadcast of the 5 queries; top-k is a
    # WindowGroupLimit; no sort-merge, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q189_pq_adc_knn"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q190_ivfpq_probed_cells_broadcast_no_python(spark):
    # IVFADC search: corpus side carries (cell, codes) only; probes
    # broadcast into the cell equi-join (never sort-merge); the
    # corpus-wide assign/residual/encode passes are projections, so
    # the only exchanges belong to the top-k window; no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q190_ivfpq_adc_knn"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["n_broadcast_joins"] >= 1  # probes joined broadcast
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q191_retrieval_ingest_map_side_queries_broadcast(spark):
    # chunk->embed ingest is map-side (no exchange before the scoring
    # join); the query side broadcasts; top-k is a WindowGroupLimit;
    # no sort-merge join, no Python anywhere
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q191_chunk_retrieval"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["bnl_joins"] >= 1 or a["n_broadcast_joins"] >= 1
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q192_passage_dedup_single_hash_shuffle(spark):
    # chunking is map-side; the dedup is ONE chunk_hash-keyed window
    # exchange plus the per-doc aggregation — no joins at all
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q192_passage_dedup"].fn(spark, SF_DIR))
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q193_frozen_encode_map_side(spark):
    # the refresh-cost claim: with frozen books the NEW-snapshot
    # encode is one projection — zero exchanges, zero joins, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q193_frozen_codebook_encode"].fn(spark, SF_DIR))
    assert a["n_exchanges"] == 0
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q194_retrieval_eval_no_pairwise_text(spark):
    # ground truth via the word equi-join + query-side broadcasts —
    # no sort-merge anywhere and no pairwise text comparison; the
    # only cartesian is the broadcast of the bounded query side
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q194_retrieval_quality_eval"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q195_dedup_pack_no_global_sort(spark):
    # dedup window keys on chunk_hash, packing window keys on source,
    # the only join is the PK re-attach of source — never a global
    # sort, never a cartesian, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q195_dedup_pack_pipeline"].fn(spark, SF_DIR))
    assert a["bnl_joins"] == 0
    assert "Exchange SinglePartition" not in a["plan"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q197_cdc_dedup_no_global_sort(spark):
    # segmentation is one doc-keyed window; dedup one hash window;
    # zero joins, no SinglePartition, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q197_cdc_passage_dedup"].fn(spark, SF_DIR))
    assert (
        a["n_broadcast_joins"] + a["n_sortmerge_joins"]
        + a["n_shuffled_hash_joins"] + a["bnl_joins"] == 0
    )
    assert "Exchange SinglePartition" not in a["plan"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q199_rrf_fusion_no_sortmerge_no_python(spark):
    # both legs bounded top-k; the full-outer merge is rewritten as
    # union + one (query, doc)-keyed agg, so NO sort-merge join
    # survives anywhere in the plan
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q199_hybrid_rrf_fusion"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q200_hard_negatives_broadcast_only_joins(spark):
    # BM25 candidates + Jaccard truth + anti-join: every join
    # broadcasts (candidate/query tables are query-bounded)
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q200_bm25_hard_negatives"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0
    assert a["n_broadcast_joins"] >= 5
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q202_prf_two_rounds_no_sortmerge(spark):
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q202_prf_query_expansion"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q203_best_passage_candidates_broadcast(spark):
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q203_best_passage"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q206_drift_report_map_side_binning(spark):
    # two binning scans against a broadcast 1-row grid + literal-grid
    # joins on nbins rows: no sort-merge, no Python, no cartesian
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q206_snapshot_drift_report"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q208_categorical_drift_no_join_merge(spark):
    # the category merge is union+sum (the q199 rewrite): the only
    # joins are the broadcast totals singletons
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q208_categorical_drift"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] == 0
    assert a["n_broadcast_joins"] + a["bnl_joins"] <= 2
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q209_store_hybrid_no_sortmerge_no_python(spark):
    # both legs answered from the store relations: the BM25 leg's
    # query-bounded tables broadcast, the dense leg's queries
    # broadcast into one corpus scan, the fusion is union+agg (the
    # q199 rewrite) — NO sort-merge join anywhere
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q209_store_hybrid_search"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q210_refine_broadcast_fetch_no_python(spark):
    # the shortlist fetch must BROADCAST the |queries| x k_cand
    # candidate table into the corpus scan (the corpus never
    # shuffles for the re-rank); no Python, no cartesian
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q210_ivfpq_refine_knn"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["n_broadcast_joins"] >= 2  # fetch join + query-vector join
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q213_salvage_twin_no_cartesian_no_python(spark):
    # gate (LSH bucket equi-joins) + passage stage (hash window +
    # hash equi-join): bucketed candidates only — no cartesian, no
    # broadcast-nested-loop beyond none, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q213_streaming_salvage_twin"].fn(spark, SF_DIR))
    assert a["bnl_joins"] == 0
    assert "CartesianProduct" not in a["plan"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q214_positional_store_broadcast_no_python(spark):
    # tf/chunk-word derivations over the store; candidate + query
    # word tables broadcast into them — no SMJ, no Python/cartesian
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q214_store_best_passage"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q215_pq_codes_store_shape(spark):
    # the ADC scan moves only (id, codes) rows against plan-literal
    # books: queries broadcast, the codes relation never shuffles
    # before the top-k window; no Python anywhere
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q215_streaming_pq_codes_twin"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q217_rerank_broadcast_candidates_no_python(spark):
    # the candidate list broadcasts into the corpus word scan; the
    # scorer is pure Catalyst integer arithmetic — no Python, no
    # cartesian, no SMJ
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q217_learned_rerank"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q219_forgetful_hybrid_no_sortmerge_no_python(spark):
    # q209's shape plus two broadcast anti-joins (the forget set is
    # tiny) — still no SMJ anywhere, no Python, no cartesian
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q219_forgetful_hybrid_twin"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q220_compacted_hybrid_no_sortmerge_no_python(spark):
    # the compaction fold is ONE window-max shuffle per store; the
    # search downstream keeps q209's shape (query-bounded sides
    # broadcast, fusion = union+agg). Exactly ONE shuffle join is
    # allowed: tf-join-dl, where BOTH sides derive from the folded
    # corpus relation (no stats after a window, and neither side is
    # broadcastable by contract at 100 TB — AQE converts it to
    # broadcast at runtime when the probe side is actually small).
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q220_compacted_hybrid_twin"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] <= 1
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q221_compacted_passage_no_sortmerge_no_python(spark):
    from streaming_recommendation_spark.queries import registry

    # same single allowed corpus-side shuffle join as q220
    a = audit(registry()["q221_compacted_passage_twin"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] + a["n_shuffled_hash_joins"] <= 1
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q222_compacted_pq_shape(spark):
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q222_compacted_pq_twin"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]


def test_q223_erased_hybrid_no_sortmerge_no_python(spark):
    # physical erasure = the fold's broadcast anti-join; everything
    # else is q220's shape
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q223_erased_hybrid_twin"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q225_trained_rerank_no_python_no_cartesian(spark):
    # features broadcast-join as q217; training is ONE tiny aggregate
    # whose 1-row result broadcasts back (BNL of a single-row frame is
    # the totals pattern, not a cartesian) — no Python anywhere
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q225_trained_rerank"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert a["has_window_group_limit"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q227_mmr_no_python_no_cartesian(spark):
    # candidate/sim frames are localCheckpointed LogicalRDDs; every
    # greedy round is tiny window + equi-join work — no Python, no
    # cartesian, no SMJ
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q227_mmr_diversified_topk"].fn(spark, SF_DIR))
    assert a["n_sortmerge_joins"] == 0
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_q228_store_packing_no_python_no_global_sort(spark):
    # tokenize-at-arrival twin: segmentation folds stay Catalyst
    # (merge folds are nested regexp projections), the packing window
    # partitions by source — no single-partition stage, no Python
    from streaming_recommendation_spark.queries import registry

    a = audit(registry()["q228_store_packing_twin"].fn(spark, SF_DIR))
    assert "SinglePartition" not in a["plan"]
    assert "BatchEvalPython" not in a["plan"]
    assert "ArrowEvalPython" not in a["plan"]
    assert "CartesianProduct" not in a["plan"]


def test_skewed_store_read_plan(spark, tmp_path):
    """VERDICT r11 #4 structural pin: the store-backed hybrid read
    stays skew-safe under a hot term (one term in ~30% of docs) —
    the query side broadcasts into the postings scan (no shuffle
    keyed on term anywhere in the read), and the per-query top-k
    compiles to WindowGroupLimit, so a hot-term query's ~0.3|corpus|
    candidate rows collapse map-side instead of landing on one
    reducer. Latency spread is measured by
    ``python scripts/soak.py skewed_store`` (BASELINE.md)."""
    from streaming_recommendation_spark.streaming.hybrid import (
        hybrid_query,
        vectors_ingest_batch,
    )
    from streaming_recommendation_spark.streaming.postings import (
        postings_ingest_batch,
    )

    pdir, vdir = str(tmp_path / "post"), str(tmp_path / "vec")
    rows = [
        (
            i,
            ("hotterm " if i % 10 < 3 else "") + f"w{i % 7} w{i % 11} w{i}",
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    postings_ingest_batch(df, 0, pdir)
    vectors_ingest_batch(df, 0, vdir)
    hot_q = spark.createDataFrame([(0,)], "query_doc bigint")
    a = audit(hybrid_query(spark, pdir, vdir, hot_q, k_leg=5, k=3))
    assert a["has_window_group_limit"]
    assert "CartesianProduct" not in a["plan"]
    assert a["n_broadcast_joins"] >= 2  # qterms + query-vector fetch
    # no exchange is keyed on the term column: the hot posting list
    # never becomes a reducer's hash bucket
    for frag in a["plan"].split("Exchange hashpartitioning(")[1:]:
        assert not frag.startswith("term"), "hot-term shuffle appeared"
