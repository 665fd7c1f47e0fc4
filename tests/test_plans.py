"""Plan-shape contracts for the headline queries: the properties that keep
them viable at 100 TB (pushdown, pruning, broadcast, top-k, no cartesian).
A failure here is a scalability regression even when results stay correct."""

from __future__ import annotations

import pytest

from amazon_kinesis_data_analytics_flinktableapi_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    assert_take_ordered,
    explain_str,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE


def q(name, spark):
    return REGISTRY[name].fn(spark, SF_SMOKE)


def test_projection_filter_pushdown_and_pruning(spark):
    df = q("projection_filter", spark)
    assert_pushed_filters(df, "IsNotNull(l_shipdate)", "GreaterThan(l_discount")
    # 16-col lineitem scan must read only the 4 referenced columns
    assert_read_schema_pruned(df, "lineitem", 4)


def test_revenue_join_broadcasts_dim(spark):
    df = q("join_revenue_by_nation", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_topk_uses_take_ordered(spark):
    assert_take_ordered(q("topk_orders", spark))


def test_shipping_priority_pushes_both_filters(spark):
    df = q("shipping_priority", spark)
    assert_pushed_filters(df, "EqualTo(c_mktsegment,BUILDING)")
    assert_take_ordered(df)


def test_interval_join_is_equi_not_cartesian(spark):
    """The bucketed interval join must plan as an equi hash join on
    (currency, bucket) — never a nested-loop over the range predicate."""
    df = q("interval_join", spark)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_agg_has_partial_aggregation(spark):
    """Scan-side partial aggregation (map-side combine) must precede the
    shuffle: two HashAggregate nodes around one Exchange."""
    plan = explain_str(q("agg_pricing_summary", spark))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_neardup_join_on_hashed_keys(spark):
    """The inverted-index self-join must join on the 8-byte shingle hash,
    not on shingle strings, and must not degenerate to a cartesian."""
    df = q("neardup_jaccard", spark)
    assert_no_cartesian(df)


def test_nation_pair_revenue_broadcasts_dims(spark):
    """Both nation roles + supplier must broadcast; the two fact shuffles
    (orderkey, custkey) are the plan's only exchanges besides the agg."""
    df = q("nation_pair_revenue", spark)
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_large_order_customers_semi_join_broadcasts(spark):
    df = q("large_order_customers", spark)
    assert_broadcast_join(df, min_count=1)  # qualifying-keys semi side
    assert_no_cartesian(df)


def test_tpch_q8_star_broadcasts(spark):
    """The 7-dim star chain must broadcast the small dims (nation ×2,
    region at minimum) and never plan a cartesian."""
    df = q("tpch_q8_market_share", spark)
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_tpch_q5_pushes_year_filter_and_broadcasts(spark):
    """Q5's order-year filter must reach the orders parquet scan (pruning
    ~6/7 of orders before any join) and the dim chain must broadcast —
    the locality constraint (c_nationkey = s_nationkey) rides the
    supplier broadcast join as an equi key, never a cartesian."""
    df = q("tpch_q5_local_supplier_volume", spark)
    plan = explain_str(df)
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_grouping_sets_single_expand(spark):
    """All three aggregation levels must come from ONE Expand + aggregate
    pass over the fact — not three separate scans unioned.  (The formatted
    plan prints each node in the tree AND the details section, so a single
    Expand node appears twice in the text.)"""
    plan = explain_str(q("grouping_sets_revenue", spark))
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan


def test_salted_join_no_cartesian_and_spreads_key(spark):
    """Salting must stay an equi join on (key, salt) — the replicated
    small side must never become a nested-loop."""
    df = q("salted_join_revenue", spark)
    assert_no_cartesian(df)


def test_embedding_neardup_no_nested_loop(spark):
    """The driver's embedding near-dup must be the LSH-bucketed equi plan
    (the r1 all-pairs theta join is tests-only now)."""
    df = q("embedding_neardup", spark)
    assert_no_cartesian(df)


def test_timeseries_interpolate_no_unbounded_cartesian(spark):
    """The calendar build crossJoins a ONE-ROW bounds aggregate — that
    correctly plans as a broadcast nested loop (fine: 1-row side).  What
    must never appear is an unbroadcast CartesianProduct."""
    plan = explain_str(q("timeseries_interpolate", spark))
    assert "CartesianProduct" not in plan, plan


def test_contamination_broadcasts_benchmark_set(spark):
    """The benchmark shingle set must broadcast — the corpus postings are
    never shuffled for the membership test."""
    df = q("contamination_ngram_overlap", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_q21_broadcasts_supplier_no_cartesian(spark):
    """Semi/anti probes shuffle on l_orderkey (equi component); the
    inequality is a residual filter, never a nested loop; supplier dim
    broadcasts."""
    df = q("tpch_q21_late_supplier", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_repetition_signals_partial_agg(spark):
    """Token-frequency aggregation must have map-side partial aggregation
    around each shuffle."""
    plan = explain_str(q("repetition_signals", spark))
    assert plan.count("HashAggregate") >= 4
    assert "Exchange" in plan


def test_embedding_quantize_no_shuffle(spark):
    """Quantization is scan-local: no Exchange anywhere in the plan."""
    plan = explain_str(q("embedding_quantize_int8", spark))
    assert "Exchange" not in plan


def test_global_sort_index_never_single_partition(spark):
    """The scalable global ranking must range-partition, not collapse to
    Exchange SinglePartition (the naive OVER (ORDER BY ...) plan)."""
    plan = explain_str(q("global_sort_index", spark))
    assert "SinglePartition" not in plan
    # the ranking window must be keyed by the range-partition id (a
    # partition-LOCAL window), never an empty global partition spec.
    # NOTE: asserted via the windowspec, not a "rangepartitioning"
    # substring — the range exchange sits above a localCheckpoint whose
    # lineage truncation hides it from the formatted plan on Spark 4.x.
    assert "windowspecdefinition(__pid" in plan


def test_sequence_packing_never_single_partition(spark):
    """Packing offsets come from the range-partitioned running sum — the
    plan must never collapse to Exchange SinglePartition."""
    plan = explain_str(q("sequence_packing", spark))
    assert "SinglePartition" not in plan
    # see test_global_sort_index_never_single_partition: partition-local
    # windowspec is the stable property; the range exchange is hidden by
    # the localCheckpoint lineage cut in formatted explain.
    assert "windowspecdefinition(__pid" in plan


def test_vocab_oov_rate_broadcast_vocab(spark):
    """The 50-term vocabulary must broadcast; the token table is never
    shuffled for the membership join."""
    plan = explain_str(q("vocab_oov_rate", spark))
    assert "BroadcastHashJoin" in plan


def test_tpch_q17_broadcast_part_dim(spark):
    """Q17's part dim broadcasts; the fact-to-aggregate join is the only
    keyed shuffle pair."""
    plan = explain_str(q("tpch_q17_small_qty_revenue", spark))
    assert "BroadcastHashJoin" in plan
    assert_no_cartesian(q("tpch_q17_small_qty_revenue", spark))


def test_tpch_q2_broadcast_dims(spark):
    """Q2's region/nation/supplier dim chain and part dim broadcast."""
    df = q("tpch_q2_min_cost_supplier", spark)
    plan = explain_str(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert_no_cartesian(df)


def test_tpch_q19_hash_join_not_nested_loop(spark):
    """The disjunctive predicate must not defeat the equi-key hash join."""
    df = q("tpch_q19_disjunctive_join", spark)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert_no_cartesian(df)


def test_table_profile_single_scan(spark):
    """Per-column profiling must be ONE scan of orders (multiple
    count(DISTINCT) planned via Expand), not a scan per column."""
    plan = explain_str(q("table_profile", spark))
    # formatted plans print each node twice (tree + detail): one scan == 2 hits
    assert plan.count("Scan parquet") == 2, plan
    assert "Expand" in plan


def test_zorder_buckets_narrow_both_dims(spark):
    """The point of z-ordering: every key-space bucket covers a narrow
    slice of BOTH dimensions (so per-file min/max stats prune on either
    filter column).  Each bucket must span < 40% of each dim's global
    range; a single-column sort would leave the other dim's spans at
    ~100%."""
    rows = q("zorder_layout", spark).collect()
    gx = max(r.x_max for r in rows) - min(r.x_min for r in rows)
    gy = max(r.y_max for r in rows) - min(r.y_min for r in rows)
    for r in rows:
        assert (r.x_max - r.x_min) <= 0.4 * gx, (r.z_bucket, r.x_min, r.x_max, gx)
        assert (r.y_max - r.y_min) <= 0.4 * gy, (r.z_bucket, r.y_min, r.y_max, gy)


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """Catalyst's runtime row-level bloom filter: a selective dim filter is
    turned into a bloom_filter_agg on the build side and a
    BloomFilterMightContain probe on the 100 TB fact side — rows that
    cannot join are dropped AT THE SCAN, before the shuffle.  Thresholds
    are lowered here because the test tables are tiny; at real scale the
    defaults (10 MB creation / 10 GB application) trigger on their own."""
    from pyspark.sql import functions as F
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table
    from tests.conftest import SF_SMOKE

    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in saved:
        saved[k] = spark.conf.get(k)
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B"
        )
        # bloom reduction applies to shuffle joins; force one
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, SF_SMOKE, "lineitem")
        orders = read_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch_q6_all_filters_pushed(spark):
    """Q6 is the canonical scan-bound aggregate: shipdate/discount/quantity
    predicates must all reach the parquet scan; no join anywhere."""
    df = q("tpch_q6_revenue_delta", spark)
    assert_pushed_filters(df, "GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24.0)")
    plan = explain_str(df)
    assert "Join" not in plan


def test_tpch_q4_semi_join_no_cartesian(spark):
    """Q4's EXISTS must plan as a LEFT SEMI equi join on the orderkey with
    the ship-lag comparison as a residual — never a nested loop."""
    df = q("tpch_q4_priority_check", spark)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "LeftSemi" in plan


def test_tpch_q10_topk_and_broadcast_nation(spark):
    """Q10's top-20 must be TakeOrderedAndProject (never a global sort);
    the nation dim broadcasts."""
    df = q("tpch_q10_returned_revenue", spark)
    assert_take_ordered(df)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_tpch_q14_broadcast_part(spark):
    """Q14's part dim broadcasts; the month filter reaches the fact scan."""
    df = q("tpch_q14_promo_share", spark)
    assert_broadcast_join(df, min_count=1)
    assert_pushed_filters(df, "GreaterThanOrEqual(l_shipdate")


def test_tpch_q9_one_fact_shuffle_three_broadcasts(spark):
    """Q9's 5-table tree: supplier/nation/name-filtered part all broadcast;
    the only fact-sized join is lineitem⋈orders; never a nested loop."""
    df = q("tpch_q9_product_profit", spark)
    assert_broadcast_join(df, min_count=3)
    assert_no_cartesian(df)


def test_tpch_q11_threshold_broadcast(spark):
    """Q11's global-total threshold joins back as a broadcast of ONE row —
    the scalar subquery must never become a cartesian of fact rows."""
    df = q("tpch_q11_important_stock", spark)
    assert_broadcast_join(df, min_count=1)
    plan = explain_str(df)
    # the threshold join is a single-row broadcast nested loop at most;
    # no CartesianProduct (a shuffled cartesian of fact rows) is allowed
    assert "CartesianProduct" not in plan


def test_tpch_q12_range_pushdown_partial_agg(spark):
    """Q12's one-year ship window reaches the fact scan; the cross-table
    date comparison stays a join residual (equi join on the orderkey)."""
    df = q("tpch_q12_late_priority", spark)
    assert_pushed_filters(df, "GreaterThanOrEqual(l_shipdate")
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "HashAggregate" in plan


def test_tpch_q16_anti_join_broadcast(spark):
    """Q16's NOT IN must plan as a broadcast LEFT ANTI join, and the
    size/brand filters must prune the part dim before broadcast."""
    df = q("tpch_q16_supplier_part_counts", spark)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "LeftAnti" in plan
    assert_broadcast_join(df, min_count=2)


def test_tpch_q18_aggregates_before_join(spark):
    """Q18 must aggregate lineitem BEFORE joining orders/customer — the
    HAVING survivor set, not the fact table, drives the joins."""
    plan = explain_str(q("tpch_q18_large_volume_customer", spark))
    assert "HashAggregate" in plan
    # aggregation happens upstream of every join: the first Join node in
    # the bottom-up plan text appears after the aggregate of lineitem
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q20_semi_join_chain(spark):
    """Q20's IN-subquery must be a LEFT SEMI broadcast join riding the
    fact scan; supplier/nation broadcast onto the survivor set."""
    df = q("tpch_q20_promotion_suppliers", spark)
    assert_no_cartesian(df)
    plan = explain_str(df)
    assert "LeftSemi" in plan
    assert_broadcast_join(df, min_count=2)


def test_duplicate_spans_no_cartesian_no_text_in_shuffle(spark):
    """The substring tier is corpus-linear: no self-join blowup, and the
    fingerprint count shuffle must not carry the text column."""
    df = q("duplicate_span_detect", spark)
    assert_no_cartesian(df)
    plan = explain_str(df)
    # the text column feeds substring() at the scan stage, then must be
    # projected away before any KEYED shuffle (the spread() round-robin
    # fan-out AT the scan is exempt: it moves each doc once to spread CPU
    # work and is a no-op on a many-split scan at scale)
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg.split("+-", 1)[0]
        assert "text#" not in head, "text column crossed a keyed shuffle"


def test_span_removal_no_cartesian(spark):
    df = q("duplicate_span_removal", spark)
    assert_no_cartesian(df)


def test_containment_is_equi_join(spark):
    df = q("containment_neardup", spark)
    assert_no_cartesian(df)


def test_dsir_broadcasts_ratio_table(spark):
    df = q("dsir_importance_select", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_bloom_screen_broadcasts_filter_words(spark):
    df = q("bloom_contamination_screen", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_cms_probe_broadcasts(spark):
    df = q("cms_frequency_sketch", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


def test_winsorize_broadcasts_bounds(spark):
    df = q("winsorize_outliers", spark)
    assert_broadcast_join(df, min_count=1)
    assert_no_cartesian(df)


# --- registry-wide sweep --------------------------------------------------

#: queries whose physical plan legitimately contains a
#: BroadcastNestedLoopJoin: every one crosses a SCALAR or tiny bounded side
#: (a 1-row aggregate threshold, the k query vectors, global bounds) into
#: the fact scan — the right plan at any scale, because the broadcast side
#: is O(1) regardless of data volume.
BNLJ_SCALAR_CROSS = {
    "timeseries_interpolate",   # 1-row global (min, max) time bounds
    "timeseries_gap_fill",      # 1-row global calendar bounds
    "kmv_set_ops",              # k-th order statistic scalar per sketch
    "join_key_skew_report",     # 1-row global row-count for the skew ratio
    "chisq_priority_status",    # 1-row grand total for expected counts
    "ann_cosine_topk",          # the k query vectors (bounded, tiny)
    "ann_recall_report",        # composes brute_topk — same query-vector cross
    "pq_recall_report",         # composes brute_topk — same query-vector cross
    "zorder_layout",            # 1-row global min/max quantization bounds
    "tpch_q22_idle_customers",  # 1-row global avg-balance threshold
    "tpch_q11_important_stock", # 1-row global value threshold
    "temperature_mixture_sample",  # 1-row global doc total + 1-row max boost
    "bm25_rank",                # 1-row corpus stats (N, Σdl, df per term)
    "hybrid_search_rrf",        # composes bm25_rank's 1-row stats cross +
                                # brute_topk's 5-query-vector cross + the
                                # 5-row q_id frame crossed into the 20-row
                                # broadcast lex top-k (≤100 rows at ANY
                                # corpus size — r16 multi-query widening,
                                # VERDICT r15 #5)
    "trigram_backoff_surprisal",  # 1-row train-split token total (T)
    "token_budget_waterfill",   # 1-row (m, total, cmax) + 1-row feasible
                                # (i*, P_i*) + 1-row water level — three
                                # scalar crosses onto the per-source table
    "source_overlap_report",    # |sources|-row signature self-join (≤ ~10³
                                # rows per side at ANY corpus size — the
                                # pairwise frame IS the report's output)
    # kmeans_lloyd_refine / ivfpq_topk / rq_encode_report /
    # cluster_topic_terms left this whitelist in r18: their codebook
    # crossJoin→window argmin passes became Arrow matmul kernels inside
    # the scan (operators/clustering.py), so they no longer plan a BNLJ
    # at all — the stale-entry guard below is what caught the change.
    "drift_ks_by_source",       # 1-row corpus total + the distinct-length
                                # grid (bounded by the length DOMAIN, not
                                # the corpus) crossed into the source table
    "tvd_drift_by_source",      # same shape: 1-row total + the <=32-bucket
                                # histogram grid crossed into |sources| rows
    "vocab_shift_drift",        # 1-row (n_old, n_new) half sizes crossed
                                # into the per-token df table
    "rfm_segmentation",         # 1-row global max-orderdate crossed into
                                # the (deliberately uncached) per-customer
                                # metric table — see q_rfm_segmentation's
                                # measured cache-is-slower note
    "ann_int8_topk",            # the 5-row int8 query-code table crossed
                                # into the corpus scan (brute quantized
                                # search — broadcast side O(|queries|))
    # minhash_band_sweep_report's three 1-row-per-config scalar crosses
    # still exist but now execute BEFORE an eager localCheckpoint that
    # scopes the query's caches (ADVICE r15), so the returned plan is the
    # 3-row checkpointed frame and the sweep no longer sees the BNLJ —
    # its shape remains pinned by tests/test_llm_reports.py
    "ivfpq_recall_report",      # composes brute_topk for its exact arm —
                                # the bounded query-vector cross (its
                                # ivfpq approx arm lost its BNLJs in r18)
}


#: queries whose plan legitimately contains an UNPARTITIONED window (every
#: row of its input funnels through one partition — VERDICT r9 #7 asked
#: these sites be documented by name with their bound).  Two safe shapes:
#: "topk" — the rank filter prunes the window's input to ≤ k rows before
#: any single-partition step: Catalyst plans the rank-≤-k filter as a
#: TakeOrderedAndProject feeding the window (or a WindowGroupLimit partial
#: per-partition limit), so the funnel carries k rows, not the data
#: (asserted below);
#: "bounded" — the window's input is measured-small by construction and
#: stays small at ANY data scale.
GLOBAL_WINDOW_BOUNDED = {
    "bpe_merge_step": "topk",        # merge_rank ≤ 20 over 2-char pair counts
    "heavy_hitters_countmin": "topk",  # rank ≤ 20 over exact vocab counts
    "pmi_collocations": "topk",      # colloc_rank ≤ 20 over scored pairs
    "pca_outlier_scores": "topk",    # out_rank ≤ 20 over projection scores
    "link_prediction_common_neighbors": "topk",  # pred_rank ≤ 20
    "dsir_importance_select": "bounded",  # .limit(100) precedes the window
    "join_key_skew_report": "bounded",    # .limit(10) precedes the window
    "chisq_priority_status": "bounded",   # |priority|×|status| grid (≤ ~15 rows)
    "kmv_set_ops": "bounded",  # union of two ≤k sketches: ≤ 2k = 512 rows
    "exact_median_select": "bounded",  # level-2 histogram cell: ~n/2^20 rows
    # The whole codebook family (kmeans_lloyd_refine, pq_encode_report,
    # pq_adc_topk, pq_recall_report, ivfpq_topk, ivfpq_recall_report,
    # cluster_topic_terms, rq_encode_report) left this whitelist in r18:
    # their limit(k) codebook-id row_number windows became bounded driver
    # collects feeding Arrow kernels (operators/clustering.py), so no
    # global window remains in any of their plans — the stale-entry
    # guard below is what caught the change.
    "drift_ks_by_source": "bounded",   # merged-ECDF cumulative over
                                       # DISTINCT length values — the
                                       # length domain, not the corpus
    "vocab_shift_drift": "topk",       # rank <= 20 over per-token odds
    "hybrid_search_rrf": "topk",       # lex_rank <= 20 over bm25 scores
                                       # (the one remaining GLOBAL window;
                                       # the r16 multi-query fused_rank
                                       # window is partitioned by q_id)
}


def test_registry_sweep_no_cartesian_no_stray_nested_loop(spark):
    """Global scalability invariant over EVERY batch query in the registry:
    no CartesianProduct anywhere, BroadcastNestedLoopJoin only for the
    documented scalar-cross whitelist, and unpartitioned (global) windows
    only for the documented bounded/top-k whitelist.  New queries get
    these guards for free; a whitelist addition is a reviewed decision,
    not an accident."""
    import re

    flagged, errors = {}, {}
    bnlj_seen: set[str] = set()
    gwin_seen: set[str] = set()
    for name, spec in REGISTRY.items():
        if name.startswith(("streaming_", "kinesis")):
            continue  # streaming plans are covered by test_streaming.py
        try:
            plan = explain_str(spec.fn(spark, SF_SMOKE), "extended")
        except Exception as ex:  # noqa: BLE001 — collect, report all at once
            errors[name] = repr(ex)
            continue
        if "CartesianProduct" in plan:
            flagged[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan:
            bnlj_seen.add(name)
            if name not in BNLJ_SCALAR_CROSS:
                flagged[name] = "BroadcastNestedLoopJoin (not whitelisted)"
        # an unpartitioned windowspecdefinition's FIRST argument is a sort
        # column (".. ASC/DESC ..") or the frame itself — a partitioned
        # one leads with the partition column instead
        if any(
            " ASC" in arg or " DESC" in arg or "specifiedwindowframe" in arg
            for arg in re.findall(r"windowspecdefinition\(([^,)]+)[,)]", plan)
        ):
            gwin_seen.add(name)
            kind = GLOBAL_WINDOW_BOUNDED.get(name)
            if kind is None:
                flagged[name] = "unpartitioned window (not whitelisted)"
            elif kind == "topk" and not (
                "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
            ):
                # the whole reason a top-k global window is scale-safe: if
                # the rank-filter pruning ever stops planning, the funnel
                # becomes real and this trips
                flagged[name] = "topk global window lost its limit pruning"
    assert not errors, f"queries failed to build a plan: {errors}"
    assert not flagged, f"scalability regressions: {flagged}"
    # the whitelists must not rot: each must be EXACTLY the set of queries
    # the sweep just saw that shape in — an entry that no longer plans it
    # (or left the registry) is stale and must be removed, not carried
    stale = BNLJ_SCALAR_CROSS - bnlj_seen
    assert not stale, f"whitelist entries that no longer plan a BNLJ: {stale}"
    stale_w = set(GLOBAL_WINDOW_BOUNDED) - gwin_seen
    assert not stale_w, f"whitelist entries that no longer plan a global window: {stale_w}"


def test_count_plan_ops_dedups_cached_and_initial():
    """VERDICT r8 #6: PLANS.md counts must be absolute — a cached subtree
    re-printed under two InMemoryRelation references and a pre-AQE
    Initial Plan section must not inflate the shuffle count."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from scale_audit import count_plan_ops

    plan = """== Physical Plan ==
AdaptiveSparkPlan (10)
+- HashAggregate (9)
   +- Exchange (8)
      +- BroadcastHashJoin Inner BuildRight (7)
         :- InMemoryTableScan (1)
         :     +- InMemoryRelation (2)
         :           +- AdaptiveSparkPlan (6)
                        +- == Final Plan ==
                           Exchange (5)
                           +- Scan parquet  (4)
                        +- == Initial Plan ==
                           Exchange (99)
                           +- Scan parquet  (4)
         +- BroadcastExchange (3)
            +- InMemoryTableScan (1)
                  +- InMemoryRelation (2)
                        +- AdaptiveSparkPlan (6)
                           +- == Final Plan ==
                              Exchange (5)
                              +- Scan parquet  (4)
                           +- == Initial Plan ==
                              Exchange (99)
                              +- Scan parquet  (4)


(8) Exchange
Input [1]: [x#1L]
Arguments: hashpartitioning(x, 32), ENSURE_REQUIREMENTS, [plan_id=1]

(5) Exchange
Input [1]: [sum#5L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]

(99) Exchange
Input [1]: [sum#5L]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]
"""
    c = count_plan_ops(plan)
    # Exchange (5) appears twice in the text (cached subtree re-print) ->
    # once; Exchange (99) lives only in Initial Plan sections -> zero;
    # BroadcastExchange is not a shuffle; SinglePartition only counts for
    # ids that execute (5, not 99)
    assert c == {"exchange": 2, "single": 1, "bhj": 1, "smj": 0}


def test_count_plan_ops_single_partition_on_real_plan(spark):
    """The SinglePartition detector must work on REAL formatted output
    (which interposes an "Input [n]:" line between the node header and
    its Arguments) — a global no-group aggregate plans exactly one
    SinglePartition exchange."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from scale_audit import count_plan_ops

    from amazon_kinesis_data_analytics_flinktableapi_spark.plans import explain_str

    plan = explain_str(spark.range(1000).agg({"id": "sum"}), "formatted")
    c = count_plan_ops(plan)
    assert c["exchange"] == 1 and c["single"] == 1, (c, plan)
