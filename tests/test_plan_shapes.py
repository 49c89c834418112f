"""Plan-shape regression tests: catch scale hazards at plan level.

These assert the *plans we'd want on a 1000-executor cluster*: filters
reaching the parquet scan, pruned read schemas, broadcast joins for dims,
partial aggregation, no stray cartesian products.
"""


from __future__ import annotations

import pytest

from foglamp_filter_python35_spark.catalog.events import (
    q_asset_filter,
    q_scale35,
)
from foglamp_filter_python35_spark.catalog.relational import (
    q_pricing_summary,
    q_revenue_by_nation,
    q_top_parts,
    q_value_band_join,
)
from foglamp_filter_python35_spark.catalog.vector import q_embedding_topk
from foglamp_filter_python35_spark.plans import explain as E

from tests.conftest import SF_SMOKE as SF


def test_scale35_filter_pushed_to_scan(spark):
    df = q_scale35(spark, SF)
    assert E.has_pushed_filter(df, "In(event_type"), E.pushed_filters(df)


def test_asset_filter_pushdown_both_predicates(spark):
    df = q_asset_filter(spark, SF)
    assert E.has_pushed_filter(df, "EqualTo(event_type,purchase)")
    assert E.has_pushed_filter(df, "GreaterThan(value,100.0)")


def test_pricing_summary_scan_pruned_and_agg_partial(spark):
    df = q_pricing_summary(spark, SF)
    schemas = E.read_schemas(df)
    # exactly the 7 needed columns of 11 read from the scan — asserting
    # the full set, not one sentinel column, so partial pruning
    # regressions (reading 10 of 11) can't slip through
    needed = {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }
    assert schemas
    for s in schemas:
        read_cols = {c.split(":")[0] for c in s.strip("struct<>").split(",")}
        assert read_cols == needed, read_cols
    assert E.has_pushed_filter(df, "LessThanOrEqual(l_shipdate")
    assert E.has_partial_aggregate(df)


def test_revenue_by_nation_broadcasts_dims(spark):
    df = q_revenue_by_nation(spark, SF)
    assert E.uses_broadcast_join(df)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_top_parts_broadcasts_part_dim(spark):
    df = q_top_parts(spark, SF)
    assert E.uses_broadcast_join(df)


def test_value_band_join_is_equi_not_range(spark):
    # the range join must have been rewritten to a broadcast equi-join;
    # a nested-loop range join would be a scale hazard
    df = q_value_band_join(spark, SF)
    plan = E.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert E.uses_broadcast_join(df)


def test_embedding_topk_no_shuffle_before_topk(spark):
    df = q_embedding_topk(spark, SF)
    plan = E.formatted_plan(df)
    # one-row query side is broadcast; corpus side is scanned in place
    assert "TakeOrderedAndProject" in plan


def test_relational_plans_stay_jvm_side(spark):
    # no Python-worker nodes anywhere in the hot relational paths
    for q in (q_pricing_summary, q_asset_filter, q_revenue_by_nation):
        assert E.is_fully_jvm(q(spark, SF))


def test_python_filter_is_the_only_python_plan(spark):
    from foglamp_filter_python35_spark.catalog.events import (
        q_python_filter_scale35,
    )

    # T9 is the deliberate Python surface — MapInArrow, Arrow-batched,
    # and exactly one such node
    plan = E.formatted_plan(q_python_filter_scale35(spark, SF))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_threshold_alarm_filter_pushed_to_scan(spark):
    from foglamp_filter_python35_spark.catalog.signal import q_threshold_alarm

    df = q_threshold_alarm(spark, SF)
    # the out-of-band predicate must reach the parquet scan
    assert E.has_pushed_filter(df, "value"), E.pushed_filters(df)


def test_signal_windows_share_one_exchange(spark):
    from foglamp_filter_python35_spark.catalog.signal import q_zscore_anomaly

    # mean and mean-of-squares share one window over one shuffle — a
    # second Exchange would mean the frame was recomputed per aggregate
    assert E.shuffle_count(q_zscore_anomaly(spark, SF)) <= 1


def test_anti_join_is_hash_not_cartesian(spark):
    from foglamp_filter_python35_spark.catalog.relational import (
        q_customers_without_orders,
    )

    plan = E.formatted_plan(q_customers_without_orders(spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_cube_is_single_expand_pass(spark):
    from foglamp_filter_python35_spark.catalog.relational import q_cube_revenue

    df = q_cube_revenue(spark, SF)
    # CUBE compiles to one Expand + hash aggregate, not one job per grouping
    assert E.node_count(df, "Expand") >= 1
    assert E.has_partial_aggregate(df)


def test_salted_agg_is_two_hash_aggregates(spark):
    from foglamp_filter_python35_spark.catalog.relational import (
        q_skewed_asset_rollup,
    )

    df = q_skewed_asset_rollup(spark, SF)
    assert E.is_fully_jvm(df)
    # phase-1 agg on (key, salt) + phase-2 agg on key, each partial+final
    # = 4 HashAggregate NODES; a substring count would pass on the
    # unsalted 2-node plan (tree+detail double-print)
    assert E.node_count(df, "HashAggregate") >= 4


def test_deadband_shuffles_once_by_asset(spark):
    from foglamp_filter_python35_spark.catalog.signal import q_deadband_suppress

    df = q_deadband_suppress(spark, SF)
    # one hash-partition by asset feeding the Arrow kernel; no extra sort
    # or shuffle after the grouped map
    assert E.node_count(df, "FlatMapGroupsInPandas") == 1
    assert E.shuffle_count(df) == 1


def test_embedding_cosine_dup_pair_join_is_pruned_equi(spark):
    """The near-dup catalog query must never form the all-pairs theta
    join: pair generation is an equi-join on the IVF cell id.  The only
    nested-loop joins allowed are the bounded 8-row centroid-quantizer
    broadcasts (one per self-join side)."""
    from foglamp_filter_python35_spark.catalog.vector import (
        q_embedding_cosine_dup,
    )

    df = q_embedding_cosine_dup(spark, SF)
    assert E.node_count(df, "CartesianProduct") == 0
    equi = (
        E.node_count(df, "SortMergeJoin")
        + E.node_count(df, "ShuffledHashJoin")
        + E.node_count(df, "BroadcastHashJoin")
    )
    assert equi >= 1  # the cid pair join (+ emb-assign joins)
    assert E.node_count(df, "BroadcastNestedLoopJoin") <= 2


def test_new_tpch_shapes_broadcast_and_no_cartesian(spark):
    # Q7/Q8/Q9: every dim lookup is broadcast; no cartesian anywhere.
    from foglamp_filter_python35_spark.catalog.relational import (
        q_market_share,
        q_product_profit,
        q_volume_shipping,
    )

    for q in (q_volume_shipping, q_market_share, q_product_profit):
        df = q(spark, SF)
        plan = E.formatted_plan(df)
        assert E.uses_broadcast_join(df)
        assert "CartesianProduct" not in plan
        assert E.is_fully_jvm(df)


def test_large_orders_aggregates_before_joins(spark):
    # Q18: the HAVING aggregate must run on lineitem BEFORE the joins so
    # only qualifying orderkeys enter them — partial agg present, and the
    # plan has a hash aggregate below the join (not all aggs above joins)
    from foglamp_filter_python35_spark.catalog.relational import (
        q_large_orders,
    )

    df = q_large_orders(spark, SF)
    assert E.has_partial_aggregate(df)
    plan = E.formatted_plan(df)
    join_pos = plan.find("Join")
    assert join_pos != -1
    # the formatted tree prints children AFTER their parents, so an
    # aggregate that feeds a join (the HAVING prune running BELOW the
    # joins) must appear after the first Join line; if every aggregate
    # sat above the joins they would all print before it
    assert plan.find("HashAggregate", join_pos) != -1, (
        "no HashAggregate below a Join: the lineitem HAVING aggregate "
        "no longer prunes orderkeys before the joins"
    )


def test_scalar_subquery_shapes_are_single_row_broadcasts(spark):
    # Q11/Q22: the scalar side is a 1-row aggregate; its join must be a
    # broadcast (nested-loop against ONE row is constant work, but it must
    # never be a shuffled cartesian of the fact side)
    from foglamp_filter_python35_spark.catalog.relational import (
        q_important_parts,
        q_sales_opportunity,
    )

    for q in (q_important_parts, q_sales_opportunity):
        plan = E.formatted_plan(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "Broadcast" in plan


def test_corpus_prefilter_single_shuffle(spark):
    # every rule except the fingerprint window is map-side; the whole
    # quality gate must cost exactly ONE exchange (the window's hash
    # partition on fingerprint)
    from foglamp_filter_python35_spark.catalog.text import (
        q_corpus_prefilter,
    )

    df = q_corpus_prefilter(spark, SF)
    # one hashpartitioning exchange for the window + the final sort's
    # rangepartitioning from orderBy
    n_ex = E.shuffle_count(df)
    assert n_ex <= 2, f"expected <=2 exchanges, plan has {n_ex}"
    assert E.is_fully_jvm(df)


def test_map_side_ops_have_no_shuffle(spark):
    # stratified sampling and quantization are scan predicates /
    # projections: no Exchange may appear before the output sort
    from foglamp_filter_python35_spark.catalog.text import (
        q_stratified_sample,
    )
    from foglamp_filter_python35_spark.catalog.vector import (
        q_embedding_quantize,
    )
    from foglamp_filter_python35_spark.functions.text import (
        stratified_sample_pct,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sampled = stratified_sample_pct(docs, "lang", "doc_id", {"en": 15}, 100)
    assert E.shuffle_count(sampled) == 0
    assert E.is_fully_jvm(sampled)
    # catalog twins add only the deterministic output sort
    for q in (q_stratified_sample, q_embedding_quantize):
        df = q(spark, SF)
        n_ex = E.shuffle_count(df)
        assert n_ex <= 1, f"{q.__name__}: {n_ex} exchanges"
        assert E.is_fully_jvm(df)


def test_pipeline_round2_plan_shapes(spark):
    # G49-G55 scale guards: the shapes that must survive a 100x scale-up
    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_bm25_retrieval,
        q_domain_quota_sample,
        q_incremental_dedup,
        q_sliding_window_rate,
        q_text_normalize,
    )

    # quota sampling: exactly two exchanges — the salted (source, salt)
    # phase-1 window that spreads a hot domain, then the exact per-source
    # trim over the bounded survivor set
    df = q_domain_quota_sample(spark, SF)
    assert E.shuffle_count(df) == 2, E.shuffle_count(df)
    assert E.is_fully_jvm(df)

    # BM25: stats row is broadcast, scoring is map-side, top-k via
    # TakeOrdered — no cartesian, no scoring-side exchange
    df = q_bm25_retrieval(spark, SF)
    plan = E.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert E.is_fully_jvm(df)

    # normalization is a pure map: zero shuffles
    df = q_text_normalize(spark, SF)
    assert E.shuffle_count(df) == 0
    assert E.is_fully_jvm(df)

    # hopping windows: partial agg before the (window, type) exchange
    df = q_sliding_window_rate(spark, SF)
    assert E.has_partial_aggregate(df)
    assert E.is_fully_jvm(df)

    # incremental dedup: an anti join, never a nested-loop product
    df = q_incremental_dedup(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_ensemble_stays_candidate_pruned(spark):
    # the 2-of-3 vote union must not degrade any signal to an all-pairs
    # join: no cartesian anywhere, and the vote aggregate is partial+final
    from foglamp_filter_python35_spark.catalog.dedup import q_dedup_ensemble

    df = q_dedup_ensemble(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert E.has_partial_aggregate(df)


@pytest.mark.slow
def test_semantic_dedup_pairs_are_cell_pruned(spark):
    # G72 candidate generation must be the equi-join on the quantizer
    # cell, never the all-pairs theta join; nested-loop joins are only
    # the bounded centroid broadcasts
    from foglamp_filter_python35_spark.catalog.vector import (
        q_knn_label_purity,
        q_semantic_dedup,
    )

    df = q_semantic_dedup(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert E.node_count(df, "BroadcastNestedLoopJoin") <= 2

    # kNN purity: probe set is broadcast, top-k shards on qid; the only
    # nested-loop is the bounded probe broadcast
    df = q_knn_label_purity(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert E.node_count(df, "BroadcastNestedLoopJoin") <= 1
    assert E.has_partial_aggregate(df)


def test_round3_relational_shapes(spark):
    # Q2/Q20 shapes: dims broadcast, no cartesian, aggregates partial
    from foglamp_filter_python35_spark.catalog.relational import (
        q_dominant_part_suppliers,
        q_min_cost_supplier,
        q_salted_enrich_rollup,
    )

    for q in (q_min_cost_supplier, q_dominant_part_suppliers):
        df = q(spark, SF)
        plan = E.formatted_plan(df)
        assert E.uses_broadcast_join(df), q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert E.has_partial_aggregate(df), q.__name__
        assert E.is_fully_jvm(df), q.__name__

    # the salted join must stay an equi-join (key + salt), never a
    # nested-loop replication
    df = q_salted_enrich_rollup(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert E.is_fully_jvm(df)


def test_sequence_packing_prefix_sum_is_two_level(spark):
    # G73: raw doc rows shuffle by (source, block); the per-source serial
    # window runs only over block summaries — every source-only exchange
    # feeds from an aggregate, never the raw scan
    import re

    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_sequence_packing,
    )

    plan = E.formatted_plan(q_sequence_packing(spark, SF))
    assert re.search(r"hashpartitioning\(source#\d+, blk#\d+", plan), plan
    src_only = re.findall(
        r"^\((\d+)\) Exchange\nInput[^\n]*\n"
        r"Arguments: hashpartitioning\(source#\d+, \d+\)",
        plan,
        flags=re.MULTILINE,
    )
    assert src_only, "per-source block-offset exchange missing"
    for nid in src_only:
        m = re.search(rf"Exchange \({nid}\)\n([^\n]*)", plan)
        assert m is not None and "HashAggregate" in m.group(1), (
            m.group(1) if m else plan
        )


def test_top_bigram_fraction_aggs_are_partial(spark):
    from foglamp_filter_python35_spark.catalog.text import (
        q_top_bigram_fraction,
    )

    df = q_top_bigram_fraction(spark, SF)
    assert E.has_partial_aggregate(df)
    assert E.is_fully_jvm(df)


def test_error_burst_islands_are_chunk_parallel(spark):
    # G58: the gaps-and-islands pass must never sort the raw error stream
    # in one task.  Raw error rows shuffle by coarse time chunk and the
    # island window is PARTITIONED; only the per-chunk island summaries
    # (post-aggregate, O(bursts + chunks) rows) may cross a
    # single-partition exchange for the boundary stitch.
    import re

    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_error_burst_join,
    )

    plan = E.formatted_plan(q_error_burst_join(spark, SF))
    assert "hashpartitioning(chunk" in plan, plan
    single_ids = re.findall(
        r"^\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition",
        plan,
        flags=re.MULTILINE,
    )
    assert single_ids, "stitch exchange missing from plan"
    for nid in single_ids:
        m = re.search(rf"Exchange \({nid}\)\n([^\n]*)", plan)
        assert m is not None
        assert "HashAggregate" in m.group(1), (
            "single-partition exchange feeds from a non-aggregate: "
            + m.group(1)
        )


def test_corpus_qa_plan_shapes(spark):
    # G59-G65 scale guards
    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_corpus_pipeline_e2e,
        q_ngram_novelty,
        q_weighted_sample,
    )

    # weighted sampling is a pure scan predicate: zero shuffles
    df = q_weighted_sample(spark, SF)
    assert E.shuffle_count(df) == 0, E.shuffle_count(df)
    assert E.is_fully_jvm(df)

    # the fused e2e pipeline: fingerprint window + split agg (+ distinct
    # expand + output sort) — and never a cartesian product
    df = q_corpus_pipeline_e2e(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert E.shuffle_count(df) <= 4, E.shuffle_count(df)
    assert E.is_fully_jvm(df)

    # novelty (r18): per-shingle DF is ONE window over the shingle
    # exchange — the old groupBy + join-back re-shuffled the full
    # shingle stream a second time (and melts under a hot shingle, see
    # SCALE.md r18 skew probe)
    df = q_ngram_novelty(spark, SF)
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert E.is_fully_jvm(df)
    assert plan.count("Window") >= 1, "df-count window missing"


def test_kmeans_rounds_broadcast_centroids(spark):
    """G90: every assignment round joins the (k x d) centroid rows by
    BROADCAST — the exploded corpus must never shuffle for a join
    against a vocabulary-sized side."""
    from foglamp_filter_python35_spark.catalog.vector import (
        q_ivf_train_kmeans,
    )

    plan = E.formatted_plan(q_ivf_train_kmeans(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # one per round
    assert "CartesianProduct" not in plan


def test_label_margin_pair_join_is_broadcast(spark):
    """G89: the centroid pair join is centroids-only (labels x dims) —
    broadcast, never a corpus shuffle join."""
    from foglamp_filter_python35_spark.catalog.vector import (
        q_embedding_label_margin,
    )

    plan = E.formatted_plan(q_embedding_label_margin(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_doc_length_histogram_is_scan_plus_one_shuffle(spark):
    """G88: map-side bucket + partial agg; exactly one hash-partition
    exchange (plus the output sort's range exchange)."""
    from foglamp_filter_python35_spark.catalog.text import (
        q_doc_length_histogram,
    )

    df = q_doc_length_histogram(spark, SF)
    plan = E.formatted_plan(df)
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("rangepartitioning(") == 1  # only the output sort
    assert "partial_count" in plan
    # scan pruned to the text column only
    assert any("text" in s and "doc_id" not in s for s in E.read_schemas(df))


def test_interp_gap_fill_single_shuffle(spark):
    """G91: forward and backward fill share one user_id partitioning —
    exactly one hash exchange, no join, no Python."""
    from foglamp_filter_python35_spark.catalog.signal import (
        q_interp_gap_fill,
    )

    df = q_interp_gap_fill(spark, SF)
    plan = E.formatted_plan(df)
    assert plan.count("hashpartitioning(") == 1
    assert "Join" not in plan
    assert E.is_fully_jvm(df)


def test_winsorize_and_mad_fences_broadcast(spark):
    """G92/G94: the per-asset fence rows join back as broadcasts — the
    raw stream is never shuffled for the join."""
    from foglamp_filter_python35_spark.catalog.signal import (
        q_mad_outliers,
        q_winsorize_clip,
    )

    for q in (q_winsorize_clip, q_mad_outliers):
        plan = E.formatted_plan(q(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan


def test_asset_correlation_reuses_cells_exchange(spark):
    """G93: both sides of the pair self-join are the same cells agg; AQE
    materializes the exchange once, so the raw stream is scanned a
    single time at runtime."""
    from foglamp_filter_python35_spark.catalog.signal import (
        q_asset_correlation,
    )

    df = q_asset_correlation(spark, SF)
    df.collect()  # exchange reuse is an AQE runtime decision
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_pca_power_rounds_are_broadcast_and_quantized(spark):
    """G95: direction vectors (dims rows) broadcast into each round; the
    one-row norm is a broadcast nested loop, never a cartesian; matvec
    sums are integer (order-free)."""
    from foglamp_filter_python35_spark.catalog.vector import (
        q_embedding_pca_power,
    )

    plan = E.formatted_plan(q_embedding_pca_power(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "FLOOR" in plan


def test_corpus_rebalance_targets_broadcast(spark):
    """G96: the per-language target row set joins back as a broadcast;
    ranking shuffles the corpus once, partitioned by language."""
    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_corpus_rebalance,
    )

    df = q_corpus_rebalance(spark, SF)
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_event_path_transitions_one_lag_shuffle(spark):
    """G97: one user-partitioned window + tiny count aggs; the
    out-degree normalizer joins back as a broadcast."""
    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_event_path_transitions,
    )

    df = q_event_path_transitions(spark, SF)
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert E.is_fully_jvm(df)


def test_span_dedup_winner_election_is_partial_and_bounded(spark):
    """G99: the corpus-wide winner election must map-side combine (the
    span_md5 agg) and the whole pipeline holds at <= 4 exchanges — one
    per (election, per-doc regroup, reassembly join side); no Python."""
    from foglamp_filter_python35_spark.catalog.pipeline import q_span_dedup

    df = q_span_dedup(spark, SF)
    # min(struct) lowers to ObjectHashAggregate, which still runs in a
    # partial+final pair — two nodes prove the map-side combine
    assert E.node_count(df, "ObjectHashAggregate") >= 2
    assert E.shuffle_count(df) <= 4, E.formatted_plan(df)
    assert E.is_fully_jvm(df)


def test_hll_registers_aggregate_partially(spark):
    """G106: the register MAX agg is the mergeable-sketch core — it must
    combine map-side (registers from different partitions merge by max),
    and the exact-count comparator joins back as a broadcast."""
    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_hll_distinct_audit,
    )

    df = q_hll_distinct_audit(spark, SF)
    assert E.has_partial_aggregate(df)
    assert "BroadcastHashJoin" in E.formatted_plan(df)
    assert E.is_fully_jvm(df)


def test_source_vocab_divergence_small_frames_broadcast(spark):
    """G107: vocab / corpus-share / totals frames are all broadcasts;
    the only corpus-sized shuffle is the (source, token) count."""
    from foglamp_filter_python35_spark.catalog.pipeline import (
        q_source_vocab_divergence,
    )

    df = q_source_vocab_divergence(spark, SF)
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan  # total row rides a broadcast


def test_ivf_recall_audit_truth_side_broadcasts_queries(spark):
    """G104: both the exact side and the probe scoring broadcast the
    query set — the corpus never shuffles on anything but cell/qid."""
    from foglamp_filter_python35_spark.catalog.vector import (
        q_ivf_recall_audit,
    )

    df = q_ivf_recall_audit(spark, SF)
    plan = E.formatted_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 3
    assert "CartesianProduct" not in plan


def test_spc_fences_broadcast_to_audit_window(spark):
    """G105: train-window fences join the audit stream as a broadcast;
    islands/run detection needs no extra corpus shuffle beyond the
    asset-partitioned window."""
    from foglamp_filter_python35_spark.catalog.signal import (
        q_spc_control_chart,
    )

    df = q_spc_control_chart(spark, SF)
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert E.is_fully_jvm(df)


@pytest.mark.slow
def test_no_catalog_query_plans_a_cartesian_product(spark):
    """Catalog-wide sweep: every cross join in every catalog query must
    be an explicit broadcast of a tiny (<=1-row aggregate / centroid)
    side — a CartesianProduct node anywhere is a 100 TB scale-killer,
    and relying on AQE to rescue a bare crossJoin leaves the hazard in
    the committed plan.  Plan-build only; no jobs run."""
    from foglamp_filter_python35_spark.catalog import all_queries
    from foglamp_filter_python35_spark.functions import cache

    offenders = []
    for name, spec in all_queries().items():
        df = spec.fn(spark, SF)
        if "CartesianProduct" in E.formatted_plan(df):
            offenders.append(name)
    cache.release()
    assert offenders == []


@pytest.mark.slow
def test_python_nodes_only_in_documented_arrow_surfaces(spark):
    """Catalog-wide sweep: row-at-a-time Python (BatchEvalPython) never
    appears anywhere, and Arrow-batched Python nodes appear ONLY in the
    seven queries whose semantics require Python (the T9 filter runner,
    the stateful deadband/EMA kernels, the multimodal decode kernels).
    Any new query silently routing through a Python UDF fails here."""
    from foglamp_filter_python35_spark.catalog import all_queries
    from foglamp_filter_python35_spark.functions import cache

    arrow_allowed = {
        "python_filter_scale35": {"MapInArrow"},
        "deadband_suppress": {"FlatMapGroupsInPandas"},
        "deadband_chunked": {"FlatMapGroupsInPandas"},
        "ema_smooth": {"FlatMapGroupsInPandas"},
        "multimodal_features": {"MapInPandas"},
        "multimodal_resize": {"MapInPandas"},
        "multimodal_frames": {"MapInPandas"},
    }
    arrow_nodes = (
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "ArrowEvalPython",
        "PythonMapInArrow",
        "MapInArrow",
    )
    offenders = {}
    for name, spec in all_queries().items():
        plan = E.formatted_plan(spec.fn(spark, SF))
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in plan"
        )
        found = {n for n in arrow_nodes if n in plan}
        if found and found != arrow_allowed.get(name, set()):
            offenders[name] = found
    cache.release()
    assert offenders == {}
