"""Physical-plan audit: assert the plan *shape* we designed for, not
just the results (SURVEY.md §4.2/§4.3 — "the first plan that passes is
not the plan you ship").

Checks per query:
- parquet filter pushdown reached the scan (PushedFilters non-empty)
- dims joined by broadcast where intended (BroadcastHashJoin)
- no row-at-a-time Python eval (BatchEvalPython) outside the queries
  that deliberately demonstrate it (d1/d5)
- whole-stage codegen present
- bucketed join has no Exchange below the SortMergeJoin

Run: python scripts/explain_audit.py   (prints PASS/FAIL per assertion)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark.session import get_spark

engine.load_all()

SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def plan_of(spark, name: str, execute: bool = False) -> str:
    df = engine.QUERIES[name](spark, SF)
    if execute:
        # AQE only materializes the final plan after the df itself runs
        # (a noop write would execute a *separate* QueryExecution).
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def n_scans(plan: str) -> int:
    # executedPlan().toString() renders the AQE final plan AND the
    # initial plan — each true scan appears twice.
    return plan.count("FileScan parquet") // (2 if "== Initial Plan ==" in plan else 1)


def main() -> int:
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = []

    def check(name: str, desc: str, ok: bool):
        print(f"{'PASS' if ok else 'FAIL'}  {name:40s} {desc}")
        if not ok:
            failures.append((name, desc))

    p = plan_of(spark, "s6_date_pruned_read")
    check(
        "s6_date_pruned_read",
        "date predicate pushed to parquet scan",
        "PushedFilters: [IsNotNull(o_orderdate)" in p
        or "GreaterThanOrEqual(o_orderdate" in p,
    )

    p = plan_of(spark, "flagship_segment_monthly_revenue", execute=True)
    check(
        "flagship_segment_monthly_revenue",
        "joins resolved as broadcast (no SMJ at this scale)",
        "BroadcastHashJoin" in p,
    )
    check(
        "flagship_segment_monthly_revenue",
        "whole-stage codegen active ('*(n)' spans in the final plan)",
        "*(" in p,
    )
    check(
        "flagship_segment_monthly_revenue",
        "no Python row-at-a-time eval in the hot path",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "j2_broadcast_dim_join")
    check(
        "j2_broadcast_dim_join",
        "both dims broadcast",
        p.count("BroadcastHashJoin") >= 2,
    )

    p = plan_of(spark, "j9_star_join")
    check(
        "j9_star_join",
        "region filter applied before join (pushdown through star)",
        "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)]" in p
        or "EqualTo(r_name,ASIA)" in p,
    )

    p = plan_of(spark, "a1_pricing_summary")
    check(
        "a1_pricing_summary",
        "partial aggregation before the exchange (map-side combine)",
        "HashAggregate" in p and "Exchange" in p,
    )
    check(
        "a1_pricing_summary",
        "only the needed columns are read (column pruning)",
        "l_comment" not in p,
    )

    p = plan_of(spark, "s7_bucketed_colocated_join")
    join_idx = p.find("SortMergeJoin")
    check(
        "s7_bucketed_colocated_join",
        "SortMergeJoin with no Exchange below it (bucket co-location)",
        join_idx >= 0 and "Exchange" not in p[join_idx:],
    )

    p = plan_of(spark, "l2_term_frequency")
    check(
        "l2_term_frequency",
        "explode + count stays fully JVM-side",
        "BatchEvalPython" not in p and "Generate explode" in p,
    )

    p = plan_of(spark, "l5_cosine_topk")
    check(
        "l5_cosine_topk",
        "query side broadcast (no full shuffle of the corpus)",
        "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
    )

    p = plan_of(spark, "d2_pandas_udf_net_price")
    check(
        "d2_pandas_udf_net_price",
        "pandas UDF runs Arrow-vectorized (ArrowEvalPython)",
        "ArrowEvalPython" in p,
    )

    p = plan_of(spark, "l_model_quality_scorer", execute=True)
    check(
        "l_model_quality_scorer",
        "model inference stage: feature extraction stays JVM-side, the "
        "quantized logistic model runs as ONE Arrow-vectorized pandas "
        "UDF over k integers per doc (never text), and the whole path "
        "is a pure per-partition map — no shuffle, no join, no "
        "row-at-a-time Python",
        "ArrowEvalPython" in p and "Exchange" not in p
        and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l5_ann_lsh_topk", execute=True)
    check(
        "l5_ann_lsh_topk",
        "candidate step is an equi-join (BroadcastHashJoin), no NestedLoop",
        "BroadcastHashJoin" in p and "NestedLoop" not in p,
    )
    check(
        "l5_ann_lsh_topk",
        "LSH bucketing fully JVM-side (no Python eval)",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u6_stratified_sample")
    check(
        "u6_stratified_sample",
        "sampling filter is map-side (single Exchange for the final agg)",
        p.count("Exchange") <= 2 and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "tpch_q14_promo_revenue")
    check(
        "tpch_q14_promo_revenue",
        "part dim broadcast; shipdate filter pushed to scan",
        "BroadcastHashJoin" in p and "l_shipdate" in p,
    )

    p = plan_of(spark, "j8_asof_join")
    check(
        "j8_asof_join",
        "primary as-of join is union+sort window (no join operator at all)",
        "Join" not in p and "Window" in p and "Union" in p,
    )

    p = plan_of(spark, "s12_rollup_merge")
    check(
        "s12_rollup_merge",
        "rollup merge reads only the date range (PartitionFilters on day)",
        "PartitionFilters" in p and "day" in p.split("PartitionFilters", 1)[1][:200],
    )

    p = plan_of(spark, "w10_sessionize_gaps")
    check(
        "w10_sessionize_gaps",
        "sessionization is one shuffle on user_id + windows (no join)",
        "Join" not in p and "Window" in p,
    )

    # --- round-3 TPC-H additions -------------------------------------
    p = plan_of(spark, "tpch_q19_discounted_revenue", execute=True)
    check(
        "tpch_q19_discounted_revenue",
        "disjunctive bands: single-side prefilters derived (scan not bare)",
        "p_brand" in p and "l_quantity" in p and "BroadcastHashJoin" in p,
    )

    p = plan_of(spark, "tpch_q21_waiting_suppliers", execute=True)
    check(
        "tpch_q21_waiting_suppliers",
        "EXISTS/NOT EXISTS as per-order window collect_sets over ONE "
        "pass of the fact (r15: the r14 aggregate-join-back computed "
        "the lineitem⋈orders subtree twice) — one Window, exactly one "
        "fact-sized Exchange, no semi/anti re-passes, each table "
        "(lineitem, orders, supplier) scanned once",
        "Window" in p and "collect_set" in p
        and "LeftSemi" not in p and "LeftAnti" not in p
        and n_scans(p) == 3,
    )
    check(
        "tpch_q21_waiting_suppliers",
        "no NestedLoop anywhere in the decorrelated plan",
        "NestedLoop" not in p,
    )

    p = plan_of(spark, "tpch_q17_small_quantity_revenue", execute=True)
    check(
        "tpch_q17_small_quantity_revenue",
        "correlated avg decorrelated to per-part aggregate + equi-join",
        "HashAggregate" in p and "NestedLoop" not in p,
    )

    p = plan_of(spark, "tpch_q5_local_supplier_volume", execute=True)
    check(
        "tpch_q5_local_supplier_volume",
        "region/nation dims broadcast; no Python in the plan",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    # --- round-4 training-data operators -----------------------------
    p = plan_of(spark, "l_pack_sequences")
    check(
        "l_pack_sequences",
        "packing windows are sharded (partial sort per shard, no global sort)",
        "Window" in p and "partitionBy" not in p.lower().replace("window", "")
        and p.count("Exchange") <= 2,
    )
    check(
        "l_pack_sequences",
        "fully JVM-side (no Python eval)",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )

    p = plan_of(spark, "l_unigram_logprob", execute=True)
    check(
        "l_unigram_logprob",
        "vocab joined broadcast at this SF; hashed-word shuffle only",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_chunk_exact_dedup", execute=True)
    check(
        "l_chunk_exact_dedup",
        "chunk frequency + join keyed on xxhash64, JVM-side",
        "xxhash64" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_chunk_overlap")
    check(
        "l_chunk_overlap",
        "map-only chunking: no shuffle Exchange at all",
        "Exchange" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_ledger_reconciliation", execute=True)
    check(
        "q_ledger_reconciliation",
        "single line-agg shuffle + equi-join, no NestedLoop",
        "NestedLoop" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_pagerank_copurchase", execute=True)
    check(
        "g_pagerank_copurchase",
        "message-passing rounds are equi-joins (no NestedLoop, no Python)",
        "NestedLoop" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_triangle_count", execute=True)
    check(
        "g_triangle_count",
        "wedge close is a 2-key equi-join; NestedLoop only in the "
        "1-row scalar combines",
        ("SortMergeJoin [a" in p
         or "BroadcastHashJoin [a" in p
         or "ShuffledHashJoin [a" in p)
        and all(
            "Cross" in line
            for line in p.splitlines()
            if "NestedLoopJoin" in line
        )
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "j13_nearest_event_join", execute=True)
    check(
        "j13_nearest_event_join",
        "candidates via (user, bucket) equi-join — no theta/NestedLoop",
        "NestedLoop" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_trigram_novelty", execute=True)
    check(
        "l_trigram_novelty",
        "trigram shuffle keyed on xxhash64, fully JVM-side",
        "xxhash64" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a23_regression_moments", execute=True)
    check(
        "a23_regression_moments",
        "all six moments in ONE map-side partial agg (single scan, "
        "single group shuffle)",
        "partial_sum" in p
        and "partial_count" in p
        and "hashpartitioning(l_returnflag" in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_column_profile", execute=True)
    check(
        "q_column_profile",
        "ONE scan feeds all 24 profile aggregates (oracle pays 6)",
        n_scans(p) == 1 and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_dataset_card", execute=True)
    check(
        "l_dataset_card",
        "one scan, no joins — map-side partials all the way",
        n_scans(p) == 1 and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_duplicate_payments", execute=True)
    check(
        "q_duplicate_payments",
        "blocking key = equality predicate: grouped agg, no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w11_event_pattern_match", execute=True)
    check(
        "w11_event_pattern_match",
        "sequence build + regex fully JVM-side, no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a25_autocorrelation", execute=True)
    check(
        "a25_autocorrelation",
        "daily agg then bounded window; no Python, no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a27_market_basket", execute=True)
    check(
        "a27_market_basket",
        "pair build is an equi-join on l_orderkey; the only nested-loop "
        "is the 1-row n_orders scalar combine",
        p.count("BroadcastNestedLoopJoin")
        <= (2 if "== Initial Plan ==" in p else 1)
        and "CartesianProduct" not in p
        and "BroadcastHashJoin" in p,
    )

    p = plan_of(spark, "a28_theil_index", execute=True)
    check(
        "a28_theil_index",
        "segment moments broadcast back to the fact side",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a29_trend_mann_kendall", execute=True)
    check(
        "a29_trend_mann_kendall",
        "pairwise join only over the calendar-bounded daily series "
        "(broadcast build side)",
        ("BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p)
        and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_vocab_oov_rate", execute=True)
    check(
        "l_vocab_oov_rate",
        "top-k vocab joined by broadcast; token stream never shuffled "
        "for the join",
        "BroadcastHashJoin" in p,
    )

    p = plan_of(spark, "l_rouge1_f1", execute=True)
    check(
        "l_rouge1_f1",
        "probe tokens broadcast into the token equi-join; no "
        "all-pairs nested loop",
        "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" not in p
        and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_length_percentile_filter", execute=True)
    check(
        "l_length_percentile_filter",
        "one per-language window, no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_degree_distribution", execute=True)
    check(
        "g_degree_distribution",
        "edge fanout via equi-join on l_orderkey, then pure "
        "hash-aggregates",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l4_minhash_signatures", execute=True)
    check(
        "l4_minhash_signatures",
        "signature build is one explode + one hash-aggregate; no join, "
        "no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_token_entropy", execute=True)
    check(
        "l_token_entropy",
        "language totals broadcast back; one token-stream pass",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_dedup_survivorship_report", execute=True)
    check(
        "l_dedup_survivorship_report",
        "4-method composition stays equi-join/aggregate only (scalar "
        "combines aside); no cartesian, no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_incremental_dedup", execute=True)
    check(
        "l_incremental_dedup",
        "batch-vs-corpus probes are pure equi-joins (hash + band "
        "bucket); no cartesian, no Python",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a30_welch_ttest", execute=True)
    check(
        "a30_welch_ttest",
        "one fact scan into moments; pair join only over the 5-row "
        "segment aggregate",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "a31_cusum_drift", execute=True)
    check(
        "a31_cusum_drift",
        "daily agg + calendar-bounded ordered window; scalar total "
        "broadcast",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_domain_cap_sample", execute=True)
    check(
        "l_domain_cap_sample",
        "one per-source window over (source, doc_id, n_chars); no "
        "join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_jaccard_similar_parts", execute=True)
    check(
        "g_jaccard_similar_parts",
        "probe-bounded wedge join is equi-key; no cartesian, no Python",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a32_weekday_seasonality", execute=True)
    check(
        "a32_weekday_seasonality",
        "one scan into a 7-row aggregate; totals ride a 1-row broadcast",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_freshness_lag", execute=True)
    check(
        "q_freshness_lag",
        "scan-level min/max branches + 1-row broadcast lag combine",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_dedup_threshold_sweep", execute=True)
    check(
        "l_dedup_threshold_sweep",
        "one candidate generation; sweep is a 4-row broadcast "
        "threshold join",
        "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p,
    )

    p = plan_of(spark, "l_langid_confusion", execute=True)
    check(
        "l_langid_confusion",
        "marker scoring + confusion matrix: no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w14_cumulative_distinct_users", execute=True)
    check(
        "w14_cumulative_distinct_users",
        "first-seen aggregate then calendar-bounded running sum — no "
        "running COUNT(DISTINCT) over raw events",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a33_skew_kurtosis", execute=True)
    check(
        "a33_skew_kurtosis",
        "all four moments in ONE scan (single fact FileScan)",
        p.count("FileScan parquet") // (2 if "== Initial Plan ==" in p else 1)
        <= 2
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_benford_chi2", execute=True)
    check(
        "q_benford_chi2",
        "9-row digit aggregate; scalar total broadcast; no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_rfm_segmentation", execute=True)
    check(
        "q_rfm_segmentation",
        "one shuffle on custkey; quartile windows over the customer "
        "aggregate, not raw orders",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "w15_order_gap_percentiles", execute=True)
    check(
        "w15_order_gap_percentiles",
        "per-customer lag window then scalar percentiles; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a34_price_elasticity", execute=True)
    check(
        "a34_price_elasticity",
        "fact scan + part equi-join + one moment aggregate; no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_sft_format_pairs", execute=True)
    check(
        "l_sft_format_pairs",
        "map-only template render: no shuffle (no Exchange), no join, "
        "no Python",
        "Exchange" not in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_touch_attribution", execute=True)
    check(
        "q_touch_attribution",
        "purchase x prior-touch candidates via user equi-join; min_by/"
        "max_by picks, no cartesian",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_funnel_time_to_convert", execute=True)
    check(
        "q_funnel_time_to_convert",
        "staged min-ts chain on user_id; integer DIV second gaps",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s16_corrupt_jsonl_audit", execute=True)
    check(
        "s16_corrupt_jsonl_audit",
        "one text scan, string-extraction try_cast validation, no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_bigram_cross_entropy", execute=True)
    check(
        "l_bigram_cross_entropy",
        "bigram explode + two equi-key aggs; vocab/N ride scalar "
        "broadcasts",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_tokenizer_fertility", execute=True)
    check(
        "l_tokenizer_fertility",
        "one scan, regex counts map-side, per-language aggregate only",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_cohort_ltv", execute=True)
    check(
        "q_cohort_ltv",
        "first-order equi-join + cohort-partitioned running sum over "
        "the grid aggregate",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_pareto_8020", execute=True)
    check(
        "q_pareto_8020",
        "windows over the customer aggregate, not raw orders; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w16_mom_growth", execute=True)
    check(
        "w16_mom_growth",
        "monthly aggregate + calendar-bounded lag window; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u12_pseudonymized_export", execute=True)
    check(
        "u12_pseudonymized_export",
        "token is a pure projection: same star join + aggregate as the "
        "identified form",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_neardup_recall_audit", execute=True)
    check(
        "l_neardup_recall_audit",
        "probe side broadcast into the truth join; scalar combines "
        "only; no Python",
        "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p,
    )

    p = plan_of(spark, "w17_daily_ohlc", execute=True)
    check(
        "w17_daily_ohlc",
        "one shuffle on day; open/close via in-partition windows; "
        "no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u13_asof_dim_attribution", execute=True)
    check(
        "u13_asof_dim_attribution",
        "SCD2 history broadcast into the validity-interval join",
        ("BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "f9_try_arithmetic", execute=True)
    check(
        "f9_try_arithmetic",
        "map-only try_* arithmetic with pushed key filter",
        "Join" not in p and "BatchEvalPython" not in p
        and "PushedFilters: [" in p,
    )

    p = plan_of(spark, "a37_priority_mix_shift", execute=True)
    check(
        "a37_priority_mix_shift",
        "shares and deltas via windows over the month-priority grid, "
        "not raw orders",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_join_fanout_audit", execute=True)
    check(
        "q_join_fanout_audit",
        "two equi-key hash-aggregates, nothing else",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_heaps_vocab_growth", execute=True)
    check(
        "l_heaps_vocab_growth",
        "first-seen min per trigram type; cumulative sum over the "
        "10-row decile aggregate",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l7_binary_dedup", execute=True)
    check(
        "l7_binary_dedup",
        "JVM md5 over the binary column + one hash-aggregate; no "
        "Python touches the payload",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    # -- round-6 additions ------------------------------------------------
    p = plan_of(spark, "a38_spearman_corr", execute=True)
    check(
        "a38_spearman_corr",
        "rank windows share one shuffle on flag; decimal moment sums; "
        "no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a39_chi2_independence", execute=True)
    check(
        "a39_chi2_independence",
        "customer dim broadcast; marginals via windows over the R*C "
        "cell table, never the fact",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p
        and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "a40_category_entropy", execute=True)
    check(
        "a40_category_entropy",
        "customer dim broadcast; entropy terms decimal-cast over the "
        "tiny cell table",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a41_herfindahl_index", execute=True)
    check(
        "a41_herfindahl_index",
        "supplier + nation dims broadcast; share squares over the "
        "supplier-level rollup, never the fact",
        p.count("BroadcastHashJoin") >= 2 and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_abc_classification", execute=True)
    check(
        "q_abc_classification",
        "cumulative share over the part-level rollup (fact pre-"
        "aggregated before the single-partition window)",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_totalprice_audit", execute=True)
    check(
        "q_totalprice_audit",
        "per-order recompute aggregate joined on the natural key; "
        "no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "u14_scd2_build", execute=True)
    check(
        "u14_scd2_build",
        "one shuffle on user_id feeds lag, island sum, and the "
        "segment aggregate; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w18_max_drawdown", execute=True)
    check(
        "w18_max_drawdown",
        "running balance/peak/argmax all inside one user_id "
        "partitioning; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w19_bollinger_bands", execute=True)
    check(
        "w19_bollinger_bands",
        "daily rollup first, bands over the tiny day series; "
        "decimal window sums",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_knn_mutual_graph", execute=True)
    check(
        "l_knn_mutual_graph",
        "probe side broadcast into the scored join; JVM zip_with dot "
        "products, no Python",
        ("BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p)
        and "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l_embedding_norm_audit", execute=True)
    check(
        "l_embedding_norm_audit",
        "linear map-side norms + one aggregate; no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_pmi_bigrams", execute=True)
    check(
        "l_pmi_bigrams",
        "unigram vocabulary broadcast into the bigram table (twice)",
        p.count("BroadcastHashJoin") >= 2 and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_readability_profile", execute=True)
    check(
        "l_readability_profile",
        "pure map-side counting + one aggregate; no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_char_ngram_profile", execute=True)
    check(
        "l_char_ngram_profile",
        "map-side explode + hash-aggregate + per-lang top-10 window; "
        "no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l4_band_occupancy_audit", execute=True)
    check(
        "l4_band_occupancy_audit",
        "persisted signatures + stack + two aggregates; no join, "
        "no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l4_minhash_estimate_error", execute=True)
    check(
        "l4_minhash_estimate_error",
        "candidates from the banded equi-join (never all-pairs); "
        "agreement via one zip_with per pair",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a42_gapfill_interpolation", execute=True)
    check(
        "a42_gapfill_interpolation",
        "fact pre-aggregated to the daily rollup before the spine "
        "join/windows; no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "a43_mad_outliers", execute=True)
    check(
        "a43_mad_outliers",
        "per-status median/MAD broadcast back into the counting scan",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a44_runs_test", execute=True)
    check(
        "a44_runs_test",
        "runs counted over the tiny daily rollup; median broadcast",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_invoice_aging", execute=True)
    check(
        "q_invoice_aging",
        "as-of date from an aggregate broadcast, not a driver collect; "
        "status filter pushed to the scan",
        "BatchEvalPython" not in p and "PushedFilters: [" in p,
    )

    p = plan_of(spark, "q_margin_waterfall", execute=True)
    check(
        "q_margin_waterfall",
        "single scan + one hash aggregate; decimal per-row products",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_new_vs_returning", execute=True)
    check(
        "q_new_vs_returning",
        "cohort tag via one window on o_custkey; no self-join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_tfidf_cosine_pairs", execute=True)
    check(
        "l_tfidf_cosine_pairs",
        "inverted-index term join (probe postings broadcast), never "
        "all-pairs",
        "CartesianProduct" not in p and "BatchEvalPython" not in p
        and "BroadcastHashJoin" in p,
    )

    p = plan_of(spark, "l_vocab_coverage_curve", execute=True)
    check(
        "l_vocab_coverage_curve",
        "cumulative window over the vocabulary rollup, never the "
        "token stream",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_two_hop_copurchase", execute=True)
    check(
        "g_two_hop_copurchase",
        "broadcast frontier into the edge table each hop; no cartesian",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_sla_shipping", execute=True)
    check(
        "q_sla_shipping",
        "first-ship per-order aggregate joined on the natural key",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_seasonal_index", execute=True)
    check(
        "q_seasonal_index",
        "yearly share via window over the monthly rollup; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a45_weighted_median", execute=True)
    check(
        "a45_weighted_median",
        "cumulative weight over the (flag, price) rollup, not raw rows",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_duplication_by_source", execute=True)
    check(
        "l_duplication_by_source",
        "JVM md5 + two hash-aggregates; no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w20_rolling_corr", execute=True)
    check(
        "w20_rolling_corr",
        "rolling moments over the daily rollup; decimal window sums",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a46_ks_test", execute=True)
    check(
        "a46_ks_test",
        "rational ECDF gap over the distinct-value rollup; no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "a47_mann_whitney_u", execute=True)
    check(
        "a47_mann_whitney_u",
        "pooled rank window + single-row cross of exact moments",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a48_bootstrap_ci", execute=True)
    check(
        "a48_bootstrap_ci",
        "daily rollup broadcast into the generated pick table",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a49_weekly_decompose", execute=True)
    check(
        "a49_weekly_decompose",
        "calendar range window over the daily rollup; no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_distribution_psi", execute=True)
    check(
        "q_distribution_psi",
        "boundary array broadcast; binning is a map-side HOF, no data join",
        ("BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p)
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w21_anchored_vwap", execute=True)
    check(
        "w21_anchored_vwap",
        "month-partitioned running window over the daily rollup; no join",
        "SortMergeJoin" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_containment_pairs", execute=True)
    check(
        "l_containment_pairs",
        "candidates from the shingle equi-join (no cartesian), no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_substring_span_pairs", execute=True)
    check(
        "l_substring_span_pairs",
        "positional shingle equi-join + diagonal window; no cartesian",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_perplexity_buckets", execute=True)
    check(
        "l_perplexity_buckets",
        "vocabulary LM broadcast into the scoring scan",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_pca_power_iteration", execute=True)
    check(
        "l_pca_power_iteration",
        "distributed matvecs; no Python in the final pass",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "l7_phash_neardup", execute=True)
    check(
        "l7_phash_neardup",
        "band equi-join candidates; payload never shuffles, no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_markov_attribution", execute=True)
    check(
        "q_markov_attribution",
        "transition counts via window+hash agg; no Python eval operator",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a50_multiple_regression", execute=True)
    check(
        "a50_multiple_regression",
        "nine sufficient moments in ONE scan; no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a51_countmin_heavy_hitters", execute=True)
    check(
        "a51_countmin_heavy_hitters",
        "1024-cell sketch broadcast into the probe join",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_url_canonical_dedup", execute=True)
    check(
        "l_url_canonical_dedup",
        "map-side canonicalization + one hash aggregate; no join",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_abc_xyz_matrix", execute=True)
    check(
        "q_abc_xyz_matrix",
        "two part-level rollups joined; cumulative share over the rollup",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_fraud_velocity", execute=True)
    check(
        "q_fraud_velocity",
        "per-customer range window, no self-join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a52_sample_quantile_sketch", execute=True)
    check(
        "a52_sample_quantile_sketch",
        "k-sized sample broadcast into the quantile probe",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_index_shard_plan", execute=True)
    check(
        "l_index_shard_plan",
        "centroids broadcast into assignment; plan is catalog-sized",
        "BroadcastNestedLoopJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_bpe_merge_step", execute=True)
    check(
        "l_bpe_merge_step",
        "pair stats over the vocab rollup; selected merge broadcast back",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_bilateral_netting", execute=True)
    check(
        "q_bilateral_netting",
        "nation dims broadcast into the fact scan",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_kneser_ney_bigram", execute=True)
    check(
        "l_kneser_ney_bigram",
        "count tables joined on hashed words; scalars broadcast",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "x16_stream_velocity", execute=True)
    check(
        "x16_stream_velocity",
        "flag rollup off the drained sliding-window sink; no Python",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_dedup_funnel_e2e", execute=True)
    check(
        "l_dedup_funnel_e2e",
        "funnel composes window dedups + LSH semi/anti joins; no cartesian over data",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_random_walks", execute=True)
    check(
        "g_random_walks",
        "each walk step is one (node, idx) equi-join on adjacency",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a53_kmv_distinct_sketch", execute=True)
    check(
        "a53_kmv_distinct_sketch",
        "min-k sketches from one distinct pass; scalar combines only",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_mixture_alpha_sampling", execute=True)
    check(
        "l_mixture_alpha_sampling",
        "language-level rates broadcast into the keep-rule scan",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "f10_array_exists_forall", execute=True)
    check(
        "f10_array_exists_forall",
        "HOF predicates stay JVM-side; one aggregate per order",
        "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_matryoshka_recall", execute=True)
    check(
        "l_matryoshka_recall",
        "probe set broadcast; dual rankings per probe partition",
        "BroadcastNestedLoopJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_three_way_match", execute=True)
    check(
        "q_three_way_match",
        "three legs derived map-side in one scan; no join, no Python",
        "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w22_ytd_report", execute=True)
    check(
        "w22_ytd_report",
        "customer dim broadcast; windows over the month grid only",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u15_late_dim_repair", execute=True)
    check(
        "u15_late_dim_repair",
        "both passes broadcast dim joins; no Python",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_duplicate_payments_fuzzy", execute=True)
    check(
        "q_duplicate_payments_fuzzy",
        "(customer, week-bucket) equi-join candidates; no cartesian",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    # -- round-7 additions ------------------------------------------------
    p = plan_of(spark, "l_ivf_recall_audit", execute=True)
    check(
        "l_ivf_recall_audit",
        "truth∩pred via semi/anti joins; probe-bounded truth; no Python",
        "LeftSemi" in p and "LeftAnti" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_ann_lsh_recall_audit", execute=True)
    check(
        "l_ann_lsh_recall_audit",
        "truth∩pred via semi/anti joins; no Python",
        "LeftSemi" in p and "LeftAnti" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_semdedup_cell_audit", execute=True)
    check(
        "l_semdedup_cell_audit",
        "within-cell equi-join recount; no cartesian, no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_aging_buckets", execute=True)
    check(
        "q_aging_buckets",
        "status filter pushed to the scan; as-of scalar broadcast; "
        "one hash aggregate, no Python",
        ("PushedFilters: [IsNotNull(o_orderstatus)" in p
         or "EqualTo(o_orderstatus,O)" in p)
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_penny_allocation", execute=True)
    check(
        "q_penny_allocation",
        "map-side explode x3 + one aggregate; no join on data, no Python",
        "BatchEvalPython" not in p and "SortMergeJoin" not in p,
    )

    p = plan_of(spark, "q_fulfillment_lag_buckets", execute=True)
    check(
        "q_fulfillment_lag_buckets",
        "orderkey equi-join (no cartesian) + one aggregate; no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    for nm in ("w23_rsi", "w24_donchian_channels"):
        p = plan_of(spark, nm, execute=True)
        check(
            nm,
            "windows run on the daily aggregate (day-grain), not fact "
            "rows; no Python",
            "HashAggregate" in p and "BatchEvalPython" not in p,
        )

    p = plan_of(spark, "a54_decile_lift_table", execute=True)
    check(
        "a54_decile_lift_table",
        "ntile over the customer rollup (dim-sized), single-partition "
        "sorts consume aggregates",
        "HashAggregate" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u16_keep_latest_k", execute=True)
    check(
        "u16_keep_latest_k",
        "partitioned row_number, no global sort of fact rows before "
        "the window, no Python",
        "BatchEvalPython" not in p and "Window" in p,
    )

    p = plan_of(spark, "l_vocab_drift_psi", execute=True)
    check(
        "l_vocab_drift_psi",
        "token explode map-side; bin table is 21 rows; no Python",
        "BatchEvalPython" not in p and "Generate" in p,
    )

    p = plan_of(spark, "l_source_overlap_matrix", execute=True)
    check(
        "l_source_overlap_matrix",
        "shingle equi-join + pair aggregate; vocab sides broadcast; "
        "no cartesian",
        "BroadcastHashJoin" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_minhash_estimate_error_audit", execute=True)
    check(
        "l_minhash_estimate_error_audit",
        "pair-bounded signature joins; no cartesian, no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "t4_keyset_pagination", execute=True)
    check(
        "t4_keyset_pagination",
        "boundary broadcast; page fetch is filter + top-k "
        "(TakeOrderedAndProject), never a global sort",
        "TakeOrderedAndProject" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "g_k_core", execute=True)
    check(
        "g_k_core",
        "induced-subgraph peels are node-key equi-joins; no cartesian, "
        "no Python in the rounds",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u17_bitemporal_asof", execute=True)
    check(
        "u17_bitemporal_asof",
        "both temporal picks are partitioned top-1 windows; close "
        "scalars broadcast; no Python",
        "Window" in p and "BatchEvalPython" not in p
        and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_customer_churn_flags", execute=True)
    check(
        "q_customer_churn_flags",
        "customer dim broadcast onto the recency rollup; no Python",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_weekly_flash_report", execute=True)
    check(
        "q_weekly_flash_report",
        "WoW via broadcast grid self-join on week-7 (not observed-grid "
        "lag); runs on the week rollup",
        "BroadcastHashJoin" in p and "HashAggregate" in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l7_modality_mix_report", execute=True)
    check(
        "l7_modality_mix_report",
        "magic-byte sniff is JVM-side on the binary prefix; payload "
        "never reaches Python; only (modality, bytes) shuffles",
        "BatchEvalPython" not in p and "Join" not in p,
    )

    p = plan_of(spark, "l_embedding_norm_outliers", execute=True)
    check(
        "l_embedding_norm_outliers",
        "integer-quantized norms; label-partitioned rank windows; "
        "no Python, no cartesian",
        "BatchEvalPython" not in p and "CartesianProduct" not in p
        and "Window" in p,
    )

    p = plan_of(spark, "q_t2_settlement_calendar", execute=True)
    check(
        "q_t2_settlement_calendar",
        "closed-form weekday shift map-side; one aggregate; no join, "
        "no Python",
        "SortMergeJoin" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w25_seasonal_naive_error", execute=True)
    check(
        "w25_seasonal_naive_error",
        "forecast via broadcast grid self-join on day-7; runs on the "
        "daily rollup",
        "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_dedup_method_venn", execute=True)
    check(
        "l_dedup_method_venn",
        "doc_id equi-joins (no forced broadcast of dup-sized sets); "
        "no cartesian, no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a55_two_proportion_ztest", execute=True)
    check(
        "a55_two_proportion_ztest",
        "one user-grain aggregate + scalar combine; no Python",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_vat_summary", execute=True)
    check(
        "q_vat_summary",
        "per-line statutory tax rounding map-side; rollup aggregate; "
        "no join, no Python",
        "SortMergeJoin" not in p and "BatchEvalPython" not in p
        and "Expand" in p,
    )

    p = plan_of(spark, "q_intercompany_elimination", execute=True)
    check(
        "q_intercompany_elimination",
        "customer+supplier dims broadcast into the fact join; no "
        "cartesian, no Python",
        "BroadcastHashJoin" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_shingle_df_spectrum", execute=True)
    check(
        "l_shingle_df_spectrum",
        "two hash aggregates over exploded shingles; ws projected "
        "once; no Python",
        "HashAggregate" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_dp_noised_counts", execute=True)
    check(
        "l_dp_noised_counts",
        "noise is per-GROUP (source-grain) after one aggregate; no "
        "Python, no join",
        "BatchEvalPython" not in p and "SortMergeJoin" not in p,
    )

    p = plan_of(spark, "l_span_mask_ratio", execute=True)
    check(
        "l_span_mask_ratio",
        "mask decision map-side per position; one doc-grain aggregate; "
        "no Python",
        "BatchEvalPython" not in p and "Generate" in p,
    )

    p = plan_of(spark, "g_bfs_distance", execute=True)
    check(
        "g_bfs_distance",
        "frontier hops are node-key equi-joins + anti-joins; no "
        "cartesian, no Python",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_fifo_inventory", execute=True)
    check(
        "q_fifo_inventory",
        "FIFO matching is a per-part band join on cumulative layers "
        "(equi on partkey, no cartesian); windows partition by part",
        "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "x19_stream_checkpoint_resume", execute=True)
    check(
        "x19_stream_checkpoint_resume",
        "result is the materialized resume-sink aggregate (checkpoint "
        "scan); no Python anywhere",
        "BatchEvalPython" not in p and "CartesianProduct" not in p,
    )

    # -- audit-only global-sort bound checks (SCALE.md "Audit-only
    # global-sort legs"): every single-partition exchange in these
    # plans must sit ABOVE a hash aggregate — i.e. the globally sorted
    # input is an aggregated grain (days / B resamples / sketch cells),
    # never the raw fact table. ------------------------------------------
    def singlepart_fed_by_aggregate(p: str) -> bool:
        i, seen = 0, False
        while True:
            i = p.find("Exchange SinglePartition", i)
            if i == -1:
                return seen
            seen = True
            if p.find("HashAggregate", i) == -1:
                return False
            i += 1

    for nm, grain in [
        ("a25_autocorrelation", "calendar days"),
        ("a31_cusum_drift", "calendar days"),
        ("a42_gapfill_interpolation", "calendar days"),
        ("a44_runs_test", "calendar days"),
        ("a49_weekly_decompose", "calendar days"),
        ("a48_bootstrap_ci", "B=200 resample sums"),
    ]:
        p = plan_of(spark, nm, execute=True)
        check(
            f"{nm}.sort_bound",
            f"single-partition sorts consume the {grain} aggregate, "
            "not fact rows",
            singlepart_fed_by_aggregate(p),
        )

    p = plan_of(spark, "a51_countmin_heavy_hitters", execute=True)
    check(
        "a51_countmin_heavy_hitters.sort_bound",
        "no unpartitioned sort anywhere (sketch cells rank via "
        "partitioned window / top-k)",
        "Exchange SinglePartition" not in p,
    )

    # ---- round-8 additions ----
    p = plan_of(spark, "l_wrapper_pair_audit", execute=True)
    check(
        "l_wrapper_pair_audit",
        "df-capped candidate join stays a hash/merge equi-join "
        "(AQE-splittable), never cartesian",
        "CartesianProduct" not in p
        and "BroadcastNestedLoop" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
             or "BroadcastHashJoin" in p),
    )
    check(
        "l_wrapper_pair_audit.size_band",
        "size band 5*greatest(sz) > 7*least(sz) is in the pair join's "
        "condition (prunes pairs before the aggregate)",
        any(
            "Join" in ln and "greatest(" in ln and "least(" in ln
            for ln in p.splitlines()
        ),
    )

    p = plan_of(spark, "a57_kendall_tau", execute=True)
    check(
        "a57_kendall_tau",
        "month-pair self-join is an equi-join on segment "
        "(months-bounded fanout), never cartesian",
        "CartesianProduct" not in p and "BroadcastNestedLoop" not in p,
    )

    p = plan_of(spark, "q_sales_mix_variance")
    check(
        "q_sales_mix_variance",
        "year filter pushed to the lineitem parquet scan",
        "PushedFilters:" in p and "l_shipdate" in p.split("PushedFilters:")[1][:400],
    )
    check(
        "q_sales_mix_variance.broadcast",
        "part dim joined by broadcast",
        "BroadcastHashJoin" in p,
    )

    p = plan_of(spark, "q_landed_cost_allocation", execute=True)
    check(
        "q_landed_cost_allocation",
        "allocation is windows + equi-joins only (no cartesian, no "
        "python eval)",
        "CartesianProduct" not in p
        and "BroadcastNestedLoop" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_ann_nprobe_curve", execute=True)
    check(
        "l_ann_nprobe_curve",
        "candidate join keys on the IVF cell id (equi-join); centroid "
        "table broadcast",
        "BroadcastHashJoin" in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_open_order_float", execute=True)
    check(
        "q_open_order_float",
        "SLA-capped interval explode feeds a hash aggregate (no "
        "unpartitioned sort of fact rows)",
        "Generate explode" in p and "HashAggregate" in p,
    )

    p = plan_of(spark, "a63_theil_sen_slope", execute=True)
    check(
        "a63_theil_sen_slope",
        "pairwise-slope join is a seg equi-join over the last-N "
        "compacted series (never all-days cartesian)",
        "CartesianProduct" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
             or "BroadcastHashJoin" in p),
    )

    p = plan_of(spark, "a64_lead_lag_xcorr", execute=True)
    check(
        "a64_lead_lag_xcorr",
        "lag fanout is a 15-row broadcast; series align via dd "
        "equi-join, never cartesian",
        "CartesianProduct" not in p,
    )

    p = plan_of(spark, "a65_changepoint_cusum", execute=True)
    check(
        "a65_changepoint_cusum",
        "dim join broadcast; CUSUM scan is windows on the seg key "
        "(no cartesian, no python eval)",
        "BroadcastHashJoin" in p
        and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_revenue_recognition_daily", execute=True)
    check(
        "q_revenue_recognition_daily",
        "cap-bounded schedule explode feeds hash aggregates "
        "(no cartesian)",
        "Generate explode" in p
        and "HashAggregate" in p
        and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "q_reorder_point_policy", execute=True)
    check(
        "q_reorder_point_policy",
        "top-20 parts via TakeOrderedAndProject (no global sort "
        "materialization of the parts table)",
        "TakeOrderedAndProject" in p,
    )

    p = plan_of(spark, "l_jsd_source_divergence", execute=True)
    check(
        "l_jsd_source_divergence",
        "top-token bin table and bin grid broadcast; pair join keys "
        "on the bounded bin id, never doc-level cartesian",
        "BroadcastHashJoin" in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "w28_macd", execute=True)
    check(
        "w28_macd",
        "EMA lag-polynomials are pure window expressions over the "
        "hourly-close compaction; no join, no Python",
        "Window" in p and "HashAggregate" in p
        and "BatchEvalPython" not in p and "Join" not in p,
    )

    p = plan_of(spark, "w29_aroon", execute=True)
    check(
        "w29_aroon",
        "25-bar banded self-join runs on the one-row-per-day "
        "compaction (bounded broadcast NLJ, never a fact-table "
        "cartesian); argmax recovered via broadcast equi-join",
        "BroadcastNestedLoopJoin" in p and "BroadcastHashJoin" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w30_ulcer_index", execute=True)
    check(
        "w30_ulcer_index",
        "two chained 14-bar windows over the daily compaction; "
        "no join, no Python",
        "Window" in p and "HashAggregate" in p
        and "BatchEvalPython" not in p and "Join" not in p,
    )

    p = plan_of(spark, "w31_obv", execute=True)
    check(
        "w31_obv",
        "bars and volume compactions join broadcast on day; "
        "all-integer cumulative window; no cartesian, no Python",
        "BroadcastHashJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w32_chaikin_money_flow", execute=True)
    check(
        "w32_chaikin_money_flow",
        "same two-compaction broadcast day-join as w31; 20-bar "
        "decimal-summed window; no cartesian, no Python",
        "BroadcastHashJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w33_cci", execute=True)
    check(
        "w33_cci",
        "20-bar mean-deviation runs as the rn-banded self-join on the "
        "daily compaction (bounded BNLJ, never a fact cartesian)",
        "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w34_williams_r", execute=True)
    check(
        "w34_williams_r",
        "pure trailing min/max windows over the daily compaction; "
        "no join, no Python",
        "Window" in p and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w35_mfi", execute=True)
    check(
        "w35_mfi",
        "two-compaction broadcast day-join + 14-bar decimal-summed "
        "flow windows; no cartesian, no Python",
        "BroadcastHashJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w36_trix", execute=True)
    check(
        "w36_trix",
        "triple chained EMA lag-polynomials are pure window "
        "expressions over the hourly compaction; no join, no Python",
        "Window" in p and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w37_vortex", execute=True)
    check(
        "w37_vortex",
        "one lag pass + three decimal trailing sums over the daily "
        "compaction; no join, no Python",
        "Window" in p and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w38_force_index", execute=True)
    check(
        "w38_force_index",
        "bars x volume broadcast day-join, 13-term EMA polynomial "
        "window; no cartesian, no Python",
        "BroadcastHashJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "w39_elder_ray", execute=True)
    check(
        "w39_elder_ray",
        "EMA13 polynomial + bull/bear projections, windows only; "
        "no join, no Python",
        "Window" in p and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_bom_explosion", execute=True)
    check(
        "q_bom_explosion",
        "iterative closure: equi-joins only (no cartesian), "
        "final rollup is a hash aggregate; no Python",
        "CartesianProduct" not in p and "HashAggregate" in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "u19_interval_merge", execute=True)
    check(
        "u19_interval_merge",
        "two windows over one (cust, start) sort, then hash "
        "aggregates; single shuffle key, no join at all",
        p.count("Window") >= 2 and "HashAggregate" in p
        and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_bm25_score", execute=True)
    check(
        "l_bm25_score",
        "idf/avgdl scalars enter via broadcast joins; per-doc "
        "aggregate; no cartesian fact-side blowup, no Python",
        "BroadcastHashJoin" in p and "BroadcastNestedLoopJoin" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_feature_hashing", execute=True)
    check(
        "l_feature_hashing",
        "single explode + 64-group hash aggregate with map-side "
        "partial combine; no join, no Python",
        "Generate" in p and "HashAggregate" in p
        and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "j15_bloom_filter_join", execute=True)
    check(
        "j15_bloom_filter_join",
        "bit-set and build side probe as broadcast joins (the fact "
        "never shuffles for membership); no cartesian",
        p.count("BroadcastHashJoin") >= 2
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "j16_grid_nearest_facility", execute=True)
    check(
        "j16_grid_nearest_facility",
        "facility dim broadcast on cell keys (grid pruning, not "
        "cross join); row_number window picks the winner",
        "BroadcastHashJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_target_encoding", execute=True)
    check(
        "q_target_encoding",
        "segment stats and prior rejoin the fact as broadcasts; "
        "customer dim broadcast; no Python",
        p.count("BroadcastHashJoin") >= 2
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_npv_discounted_cashflow", execute=True)
    check(
        "q_npv_discounted_cashflow",
        "all three dims + factor table broadcast; fact aggregated "
        "once on (region, year); no cartesian",
        p.count("BroadcastHashJoin") >= 3 and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a66_durbin_watson", execute=True)
    check(
        "a66_durbin_watson",
        "1-row fit broadcast onto the daily compaction (never a "
        "shuffled join); lag window; no cartesian blowup, no Python",
        "BroadcastNestedLoopJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a67_cronbach_alpha", execute=True)
    check(
        "a67_cronbach_alpha",
        "all item variances from ONE hash-aggregate pass over the "
        "fact (no join, no second scan); no Python",
        "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a68_cohens_kappa", execute=True)
    check(
        "a68_cohens_kappa",
        "2x2 confusion counts in one conditional-aggregate pass; "
        "no join, no Python",
        "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a69_kruskal_wallis", execute=True)
    check(
        "a69_kruskal_wallis",
        "rank windows + hash aggregates; the ties frame joins as a "
        "1-row broadcast, never a shuffled join; no Python",
        "Window" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a70_ljung_box", execute=True)
    check(
        "a70_ljung_box",
        "7-lag self-join is an equi-join on rn with the lags table "
        "broadcast (bounded fan-out, never all-pairs); no Python",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a71_hurst_rs", execute=True)
    check(
        "a71_hurst_rs",
        "per-(size, block) windows over the tripled compaction "
        "(block-bounded, never global); 1-row fit broadcast back; "
        "no cartesian blowup, no Python",
        "Window" in p and "BroadcastNestedLoopJoin" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a72_grubbs_statistic", execute=True)
    check(
        "a72_grubbs_statistic",
        "1-row moments broadcast onto the daily compaction; argmax "
        "via rank window; no cartesian blowup, no Python",
        "BroadcastNestedLoopJoin" in p and "Window" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "a73_yule_walker_pacf", execute=True)
    check(
        "a73_yule_walker_pacf",
        "3-lag bounded self-join + scalar Durbin-Levinson on a "
        "pivoted 1-row frame; union of 3 projections; no Python",
        "Union" in p and "BroadcastNestedLoopJoin" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    # -- round-10: ledger the r9 global-sort legs (VERDICT r9 item 4) --
    p = plan_of(spark, "a69_kruskal_wallis", execute=True)
    check(
        "a69_kruskal_wallis.sort_bound",
        "exact-rank contract (SCALE.md global-sort ledger): the "
        "unpartitioned rank window consumes raw order rows BY DESIGN "
        "(the a10/a46/a47 class); mid-ranks reduce immediately to k "
        "group rows via hash aggregate — no second pass over the "
        "sorted fact; substitution = binned mid-ranks (ledger row)",
        "Exchange SinglePartition" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s17_compaction_binpack", execute=True)
    check(
        "s17_compaction_binpack",
        "plan works on the monthly-partition metadata aggregate "
        "(calendar-bounded, the a25 contract) — cumulative window "
        "over months, never rows; no join, no Python",
        "HashAggregate" in p and "Window" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s18_rowgroup_pruning_probe", execute=True)
    check(
        "s18_rowgroup_pruning_probe.sort_bound",
        "global row_number is the layout probe's stated cost (SCALE.md "
        "ledger): it emulates writer row order to manufacture row "
        "groups; production substitution = real parquet footer stats "
        "(zero sort); group stats then reduce on rg keys; no join, "
        "no Python",
        "Exchange SinglePartition" in p and "HashAggregate" in p
        and "Join" not in p and "BatchEvalPython" not in p,
    )

    # -- round-10: sharded-dedup planning family --------------------------
    p = plan_of(spark, "l_shard_count_advisor", execute=True)
    check(
        "l_shard_count_advisor",
        "4x shard-count explode over the DIGEST projection (never "
        "text); per-n stats join as 4-row broadcast; no cartesian, "
        "no Python",
        "Generate" in p and "BroadcastHashJoin" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_sharded_dedup_rehearsal", execute=True)
    check(
        "l_sharded_dedup_rehearsal",
        "one (shard, digest) aggregate reused by both passes "
        "(localCheckpoint); three 1-row frames cross as broadcasts; "
        "no text shuffle, no Python",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_cross_shard_neardup_rate", execute=True)
    check(
        "l_cross_shard_neardup_rate",
        "bucket/bucket-shard aggregates off one checkpointed banded "
        "projection; 1-row broadcast cross; never materializes a "
        "pair; no Python",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_hot_bucket_skew_advisor", execute=True)
    check(
        "l_hot_bucket_skew_advisor",
        "tier aggregate over bucket sizes with the pair total riding "
        "as a 1-row broadcast; no pair materialization, no Python",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_dedup_stage_cost_model", execute=True)
    check(
        "l_dedup_stage_cost_model",
        "three group-keyed counting stages union to 3 rows; C(n,2) "
        "denominator as 1-row broadcast; no stage materializes a "
        "pair; no Python",
        "Union" in p and "BroadcastNestedLoopJoin" in p
        and "HashAggregate" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s19_partition_size_advisor", execute=True)
    check(
        "s19_partition_size_advisor",
        "byte-width projection into one month-grain hash aggregate "
        "(metadata-grain output); no join, no Python",
        "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s20_sort_layout_advisor", execute=True)
    check(
        "s20_sort_layout_advisor.sort_bound",
        "three global row_numbers are the layout probe's stated cost "
        "(SCALE.md ledger, the s18 class): they manufacture candidate "
        "write orders to compare; production pays ONE write-time sort "
        "for the winning layout and reads real footer stats; group "
        "stats reduce on (layout, rg) keys; no join, no Python",
        "Exchange SinglePartition" in p and "HashAggregate" in p
        and "Union" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s20_sort_layout_advisor_sampled", execute=True)
    check(
        "s20_sort_layout_advisor_sampled.sample_below_sorts",
        "the PRODUCTION layout probe: the deterministic md5-bucket "
        "sample Filter sits BELOW all three global sorts (each sort "
        "touches ~1% of rows, so probe cost scales with the sample, "
        "not the table); ratios reduce on (layout, rg); no join, no "
        "Python",
        "Filter" in p and "md5" in p
        and p.index("Filter") > p.index("Sort")  # formatted plans list
        # operators top-down root-first, so a LATER index = DEEPER in
        # the tree: the Filter prints below the Sort it feeds.
        and "Exchange SinglePartition" in p and "HashAggregate" in p
        and "Union" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_bpe_train_multistep", execute=True)
    check(
        "l_bpe_train_multistep",
        "K-round BPE training ran eagerly at vocab grain; the final "
        "plan is a Union of LITERAL per-step rows (Scan ExistingRDD — "
        "each round's argmax + token count collected as model-sized "
        "scalars, so no step frame pins a superseded round table), "
        "NOT K stacked window/join rounds; no join, no Python",
        "Union" in p and ("Scan ExistingRDD" in p or "inline(" in p)
        and "Window" not in p  # rounds ran eagerly, not in this plan
        and "Join" not in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_bpe_train_converged", execute=True)
    check(
        "l_bpe_train_converged",
        "K=16 convergence trainer: same literal-steps shape as the "
        "K=8 trainer (the join-free window round body keeps planning "
        "cost LINEAR in K — the joined form grew a 3^K-bit stats "
        "product); no join, no Python",
        "Union" in p and ("Scan ExistingRDD" in p or "inline(" in p) and "Window" not in p
        and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_scorer_agreement_audit", execute=True)
    check(
        "l_scorer_agreement_audit",
        "model-vs-heuristic 2x2 agreement: one map-side projection "
        "computes both verdicts, one hash aggregate groups the cells — "
        "no join, no Python, at most 4 output rows at any corpus size",
        "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_bpe_encode_stats", execute=True)
    check(
        "l_bpe_encode_stats",
        "tokenizer inference = vocab-grain dictionary join: per-word "
        "symbol counts off the trained (checkpointed) table joined to "
        "the (lang, word) frequency table — text never re-tokenizes "
        "per document; no cartesian, no Python",
        "Scan ExistingRDD" in p and "HashAggregate" in p
        and "Join" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_shard_export_writer", execute=True)
    check(
        "l_shard_export_writer",
        "release manifest recomputed from the READ-BACK of the shard "
        "files (the write side ran eagerly: one global metadata-grain "
        "cumsum window, text moved once to its shard file); manifest "
        "itself is a shard-keyed hash aggregate over the written "
        "parquet — no join, no Python",
        "HashAggregate" in p and "Scan parquet" in p
        and "Join" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "j17_join_skew_advisor", execute=True)
    check(
        "j17_join_skew_advisor",
        "3x partition-count explode over the per-KEY frequency table "
        "(bounded by distinct keys, never the fact); top-key stat "
        "rides as 1-row broadcast; no cartesian, no Python",
        "Generate" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_training_data_release", execute=True)
    check(
        "pipeline_training_data_release",
        "E2E release funnel: gate and digest dedup are map+hash-agg/"
        "window, pack is a metadata-grain cumsum, final stage reads the "
        "REAL shard sink back; stage stats are 1-row aggregates "
        "unioned; no cartesian, no Python",
        "Union" in p and "HashAggregate" in p
        and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_incremental_release", execute=True)
    check(
        "pipeline_incremental_release",
        "incremental publish: the published release is an eager "
        "SNAPSHOT (Scan ExistingRDD — yesterday's artifact, not a live "
        "re-listing); batch dedups against its digests via anti-join; "
        "new shards append without touching base partitions; no "
        "cartesian beyond 1-row scalar combines, no Python",
        "Scan ExistingRDD" in p and "Union" in p
        and "HashAggregate" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_sharded_dedup", execute=True)
    check(
        "pipeline_sharded_dedup",
        "two-pass dedup through a REAL shard-partitioned staging sink "
        "(write-twice idempotence); digest-keyed aggregates, dims/"
        "1-row frames broadcast; no text shuffle, no Python",
        "HashAggregate" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_supplier_hhi", execute=True)
    check(
        "q_supplier_hhi",
        "supplier/nation dims broadcast; shares via (nation, supplier) "
        "aggregates, share-squared decimal sums; no cartesian, "
        "no Python",
        "BroadcastHashJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_dupont_decomposition", execute=True)
    check(
        "q_dupont_decomposition",
        "part/customer dims broadcast onto the lineitem-orders fact "
        "join; segment-grain decimal sums; no cartesian, no Python",
        "BroadcastHashJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_receivables_aging", execute=True)
    check(
        "q_receivables_aging",
        "status IN-filter pushed to the orders scan; customer dim "
        "broadcast; (segment, bucket) aggregate; no Python",
        "In(o_orderstatus" in p and "BroadcastHashJoin" in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_var_cvar", execute=True)
    check(
        "q_var_cvar",
        "tail selection via per-segment windows over the daily "
        "compaction (no global sort of the fact); no Python",
        "Window" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_beta_capm", execute=True)
    check(
        "q_beta_capm",
        "market series joins back by day as a broadcast (calendar-"
        "bounded); customer dim broadcast; no cartesian blowup",
        "BroadcastHashJoin" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_amortization_schedule", execute=True)
    check(
        "q_amortization_schedule",
        "closed-form schedule: one region aggregate, 12-row factor "
        "table broadcast (no recursion, no per-period shuffle)",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_roll_rate_matrix", execute=True)
    check(
        "q_roll_rate_matrix",
        "one custkey shuffle for the lag window, then a count "
        "aggregate — no join at all; no Python",
        "Window" in p and "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_fx_triangulation", execute=True)
    check(
        "q_fx_triangulation",
        "both nation dims and customer/supplier broadcast; the fact "
        "shuffles once for the corridor aggregate; no cartesian",
        p.count("BroadcastHashJoin") >= 4 and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_ecl_staging", execute=True)
    check(
        "q_ecl_staging",
        "first-ship compaction left-joined to orders; dim chain "
        "broadcast; no cartesian, no Python",
        "BroadcastHashJoin" in p and "CartesianProduct" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_liquidity_ladder", execute=True)
    check(
        "q_liquidity_ladder",
        "as-of date enters as a 1-row broadcast (no driver round-"
        "trip); 5-bucket aggregate then tiny cumulative window",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "q_contribution_breakeven", execute=True)
    check(
        "q_contribution_breakeven",
        "part dim broadcast onto the fact; single brand aggregate; "
        "no cartesian, no Python",
        "BroadcastHashJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_cross_shard_dup_rate", execute=True)
    check(
        "l_cross_shard_dup_rate",
        "digest-keyed aggregate shuffles (digest, shard), never the "
        "text; no join, no Python",
        "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_fingerprint_collision_audit", execute=True)
    check(
        "l_fingerprint_collision_audit",
        "distinct digests once, 3-row widths table broadcast; "
        "no cartesian blowup, no Python",
        "BroadcastNestedLoopJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_stopword_profile", execute=True)
    check(
        "l_stopword_profile",
        "explode-free filtered size() over projected tokens — one "
        "aggregate with the scan; no join, no Python",
        "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_word_length_profile", execute=True)
    check(
        "l_word_length_profile",
        "single explode, per-source aggregate with map-side "
        "combine; no join, no Python",
        "Generate" in p and "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_hapax_ratio", execute=True)
    check(
        "l_hapax_ratio",
        "two vocabulary-bounded aggregates off one explode; "
        "no join, no Python",
        "Generate" in p and "HashAggregate" in p and "Join" not in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_common_ngram_blocklist", execute=True)
    check(
        "l_common_ngram_blocklist",
        "20-row blocklist joins back as broadcast (never gram x "
        "gram); DF counts hash-aggregate; no cartesian",
        "BroadcastHashJoin" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l7_png_decode_audit", execute=True)
    check(
        "l7_png_decode_audit",
        "PNG encode and decode both run as Arrow-batched mapInPandas "
        "(MapInPandas x2, map-only over the payload); the md5 audit "
        "joins asset-id-grain fingerprints, never PNG bytes; no "
        "cartesian, no row-at-a-time Python",
        p.count("MapInPandas") >= 2 and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l7_phash_decoded_neardup", execute=True)
    check(
        "l7_phash_decoded_neardup",
        "decoded-pixel fingerprints leave mapInPandas as (asset_id, "
        "h) only — the banded candidate join is an equi-join on "
        "(band, key), never all-pairs, and PNG bytes never shuffle",
        "MapInPandas" in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
             or "BroadcastHashJoin" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_scorer_drift_monitor", execute=True)
    check(
        "l_scorer_drift_monitor",
        "both halves scored by the SAME Arrow pandas-UDF inference "
        "path, bucketed into a 10-row spine; totals ride as a 1-row "
        "broadcast; no cartesian beyond that, no row Python",
        "ArrowEvalPython" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "l_mixture_epoch_schedule", execute=True)
    check(
        "l_mixture_epoch_schedule",
        "waterfilling level is picked RELATIONALLY over the "
        "source-grain table (windows + limit 1), joined back as a "
        "1-row broadcast — nothing corpus-sized leaves the first "
        "aggregate; no Python at all",
        "HashAggregate" in p and "Window" in p
        and "BroadcastNestedLoopJoin" in p
        and "CartesianProduct" not in p
        and "BatchEvalPython" not in p and "ArrowEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_atomic_publish", execute=True)
    check(
        "pipeline_atomic_publish",
        "protocol reader resolves pointer->manifest->files: stage "
        "rows read the REAL staged parquet back (Scan parquet); the "
        "manifest audit full-outer-joins shard-grain rows (manifest-"
        "sized, never doc-sized); no cartesian, no Python",
        "Union" in p and "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_release_diff", execute=True)
    check(
        "pipeline_release_diff",
        "diff is MANIFEST-grain: both sides are the read-back "
        "manifest parquet, the comparison is a shard-keyed full outer "
        "join — data files never rescanned for the diff; no Python",
        "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_timetravel", execute=True)
    check(
        "pipeline_snapshot_timetravel",
        "each as-of read is a plain parquet scan of its immutable "
        "v=N dir (no merge-on-read, no data copy to 'keep' a "
        "snapshot); stats union at shard grain; no cartesian, no "
        "Python",
        "Union" in p and "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_concurrent_commit_cas", execute=True)
    check(
        "pipeline_concurrent_commit_cas",
        "conflict detection is pointer-grain (no data read to refuse "
        "a stale CAS); the rebase recomputes ONLY the loser's "
        "transform over the new current's parquet; no cartesian, no "
        "Python",
        "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_compact_snapshot", execute=True)
    check(
        "pipeline_compact_snapshot",
        "compaction identity is proven by xor-digest hash-aggregates "
        "over one scan per distinct read path (run eagerly, r14 — one "
        "pass each for the v1 time-travel pin, the v2 version pin and "
        "the CURRENT pointer resolution); the returned census is a "
        "driver-literal table; no cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_expire", execute=True)
    check(
        "pipeline_snapshot_expire",
        "vacuum is metadata-only in the plan: the victim's stats were "
        "captured eagerly pre-delete (1-row literal), the expired "
        "read degrades to an empty relation, retained reads stay "
        "plain parquet scans; no cartesian, no Python",
        "Union" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "x23_stream_snapshot_publish", execute=True)
    check(
        "x23_stream_snapshot_publish",
        "post-drain time travel over the streamed commits is a union "
        "of per-version parquet scans + shard-grain aggregates — the "
        "stream's state lives in the table, not the driver; no "
        "cartesian, no Python",
        "Union" in p and "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_changes", execute=True)
    check(
        "pipeline_snapshot_changes",
        "row-grain CDF is ONE doc_id-keyed join of the two snapshot "
        "scans comparing carried digests (SortMergeJoin FullOuter) — "
        "texts are never re-read or re-hashed for the diff; no "
        "cartesian, no Python",
        "FullOuter" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_write_audit_publish", execute=True)
    check(
        "pipeline_write_audit_publish",
        "the audit gate reads the BRANCH head (pointer-resolved "
        "parquet scan) and publication is a ref fast-forward — "
        "main_after is a plain scan of the already-committed version, "
        "no copy; no cartesian, no Python",
        "Union" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_manifest_pruned_read", execute=True)
    check(
        "pipeline_manifest_pruned_read",
        "planning is manifest-only (the collect is shard-count-sized); "
        "the data read lists ONLY surviving shard dirs and still "
        "pushes the doc_id range into the scan; no cartesian, no "
        "Python",
        "Scan parquet" in p and "PushedFilters" in p
        and "doc_id" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_schema_evolution", execute=True)
    check(
        "pipeline_snapshot_schema_evolution",
        "add-column is metadata-only: v1 files are scanned in place "
        "under BOTH schemas (no rewrite job in the plan), the evolved "
        "reader fills lang as null at scan time, cross-version union "
        "is well-typed; no cartesian, no Python",
        "Union" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_merge_upsert", execute=True)
    check(
        "pipeline_snapshot_merge_upsert",
        "MERGE is ONE key-shuffled full-outer join (copy-on-write "
        "apply) + a semi-join audit that deleted keys vanished — no "
        "per-row Python, no cartesian, and the committed result is "
        "read back as plain parquet",
        "FullOuter" in p and "Scan parquet" in p
        and ("LeftSemi" in p or "ExistenceJoin" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_log_tail_consume", execute=True)
    check(
        "pipeline_log_tail_consume",
        "each consumed version costs exactly two snapshot scans + one "
        "key full-outer at count grain — the consumer never scans "
        "history, and offset bookkeeping is file-grain; no cartesian, "
        "no Python",
        "FullOuter" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_orphan_gc", execute=True)
    check(
        "pipeline_orphan_gc",
        "GC is metadata-driven (LIST + log lookup, no data read in "
        "the cleanup itself); the plan only scans committed versions' "
        "parquet for the before/after stats; no cartesian, no Python",
        "Union" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_commit_storm", execute=True)
    check(
        "pipeline_commit_storm",
        "the storm's racing is pure metadata (flock-serialized "
        "check→log→swing; pyarrow writer-private staging); the "
        "returned census is a driver-literal table — Spark touched "
        "data only for the bounded final-state read; no cartesian, "
        "no Python in the plan",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_backfill_catchup", execute=True)
    check(
        "pipeline_backfill_catchup",
        "each day publishes via dynamic partition overwrite and reads "
        "back grouped by the partition column; the returned census is "
        "a driver-literal table; no cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_mor_expire_guard", execute=True)
    check(
        "pipeline_mor_expire_guard",
        "retention × merge-on-read: refusal/reclaim decisions are "
        "metadata-only (layout-record reads); the census is a "
        "driver-literal table; no cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_delete_vectors", execute=True)
    check(
        "pipeline_snapshot_delete_vectors",
        "merge-on-read reads are scan + BROADCAST anti-join of the "
        "delete-key files (DV side is deletes-sized by construction); "
        "the deleted-still-visible audit is a semi-join; no data "
        "rewrite appears outside the one compaction; no cartesian, "
        "no Python",
        "BroadcastHashJoin" in p and "LeftAnti" in p
        and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_incremental_matview", execute=True)
    check(
        "pipeline_incremental_matview",
        "each maintenance step is a batch-sized aggregate + an "
        "MV-grain full-outer merge — counts and decimal sums stay "
        "JVM-side; no cartesian, no Python",
        "FullOuter" in p and "HashAggregate" in p
        and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "sql_recursive_bom_rollup", execute=True)
    check(
        "sql_recursive_bom_rollup",
        "WITH RECURSIVE compiles to UnionLoop: each level joins only "
        "the frontier (UnionLoopRef) against the pruned child table "
        "(no accumulated-result rejoin, no cartesian, no Python)",
        "UnionLoop" in p and "UnionLoopRef" in p and "parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_zorder_cluster_rewrite", execute=True)
    check(
        "pipeline_zorder_cluster_rewrite",
        "probe planning is manifest-only (collects are shard-count-"
        "sized); pruned reads list only surviving shard dirs and apply "
        "the residual box filter at the scan; the rewrite's content "
        "identity is a shard-grain aggregate; no cartesian, no Python",
        "Union" in p and "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_manifest_bloom_skipping", execute=True)
    check(
        "pipeline_manifest_bloom_skipping",
        "bloom probe joins the key positions against the BROADCAST "
        "manifest (metadata-sized build side); candidate math is "
        "bit_or/bitwise-AND JVM expressions; the lookup scans only "
        "candidate shard dirs; no cartesian, no Python",
        "BroadcastHashJoin" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_mor_merge_upsert", execute=True)
    check(
        "pipeline_mor_merge_upsert",
        "MoR MERGE reads are unions of per-data-version scans, each "
        "anti-joined (broadcast) against only the DVs sequenced after "
        "it; the base data files are never rewritten in the plan; no "
        "cartesian, no Python",
        "Union" in p and "LeftAnti" in p and "BroadcastHashJoin" in p
        and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "x24_stream_mor_delete_feed", execute=True)
    check(
        "x24_stream_mor_delete_feed",
        "post-drain as-of reads are a union of scan + broadcast "
        "anti-join plans — the streamed tombstones live in DV files, "
        "not driver state; no cartesian, no Python",
        "Union" in p and "LeftAnti" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "x25_stream_mor_upsert_feed", execute=True)
    check(
        "x25_stream_mor_upsert_feed",
        "post-drain as-of reads union per-batch append scans, each "
        "anti-joined (broadcast) against only later-sequenced DVs — "
        "streamed upserts never rewrite earlier batches' files; no "
        "cartesian, no Python",
        "Union" in p and "LeftAnti" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_snapshot_asof_timestamp", execute=True)
    check(
        "pipeline_snapshot_asof_timestamp",
        "AS-OF-timestamp resolution is metadata-only (log-dir reads); "
        "the plan unions per-probe scans of the resolved immutable "
        "versions; no cartesian, no Python",
        "Union" in p and "Scan parquet" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_partition_evolution", execute=True)
    check(
        "pipeline_partition_evolution",
        "spec evolution never rewrites history: planning is spec "
        "records + dir listing + manifest rows; the probed reads scan "
        "only the pruned directories; the census is a driver-literal "
        "table; no cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_log_checkpoint", execute=True)
    check(
        "pipeline_log_checkpoint",
        "log checkpoint + compaction is pure metadata (atomic-rename "
        "checkpoint, tail-only listing); the census is a "
        "driver-literal table — Spark touched data only for the "
        "bounded final-state read; no cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "s22_file_metadata_lineage", execute=True)
    check(
        "s22_file_metadata_lineage",
        "row→file lineage rides the scan's hidden _metadata struct "
        "(no path-parsing UDF): one scan + one hash aggregate, "
        "JVM-side end to end; no cartesian, no Python",
        "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "d8_udtf_dynamic_schema", execute=True)
    check(
        "d8_udtf_dynamic_schema",
        "polymorphic UDTF resolves a per-call schema via analyze(); "
        "the lateral join is the UDTF demonstrator's deliberate "
        "Python surface (D-family), scoped by the pushed event_id "
        "predicate; no cartesian product",
        "PythonUDTF" in p and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "pipeline_refs_catalog", execute=True)
    check(
        "pipeline_refs_catalog",
        "tags/branches/retention-policy decisions are metadata-only "
        "(ref file reads); the census is a driver-literal table; no "
        "cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "f11_collated_compare", execute=True)
    check(
        "f11_collated_compare",
        "UTF8_LCASE collated grouping/DISTINCT/startswith stay "
        "JVM-side (collation is comparison semantics, not a UDF): "
        "sort-based aggregate over the pruned 3-column scan (collated "
        "keys plan as SortAggregate in Spark 4), no Python, no "
        "cartesian",
        "SortAggregate" in p and "BatchEvalPython" not in p
        and "CartesianProduct" not in p
        and "ReadSchema: struct<c_custkey:bigint,c_acctbal:double,"
        "c_mktsegment:string>" in p,
    )

    p = plan_of(spark, "s23_type_widened_read", execute=True)
    check(
        "s23_type_widened_read",
        "widened read up-casts int32 pages in the vectorized scan "
        "itself — one scan + hash aggregate, no per-generation "
        "rewrite, no Python",
        "Scan parquet" in p and "HashAggregate" in p
        and "BatchEvalPython" not in p,
    )
    check(
        "s23_type_widened_read",
        "pruning survives the explicit widened schema — the scan "
        "reads only the two columns the aggregate needs (o_orderkey "
        "is pruned out despite being in the requested schema)",
        "ReadSchema: struct<o_orderstatus:string,cents:bigint>" in p,
    )

    p = plan_of(spark, "j18_cbo_broadcast_advisor", execute=True)
    check(
        "j18_cbo_broadcast_advisor",
        "ANALYZE-style stats pass: per-table narrow aggregates "
        "unioned — column pruning leaves only measured string cols in "
        "each scan; the 7-row ranking window is metadata-grain; no "
        "Python, no cartesian",
        "ReadSchema: struct<l_returnflag:string,l_linestatus:string>"
        in p
        and "BatchEvalPython" not in p
        and "CartesianProduct" not in p,
    )

    p = plan_of(spark, "pipeline_shallow_clone", execute=True)
    check(
        "pipeline_shallow_clone",
        "shallow clone is three metadata writes (clone_source, layout, "
        "log); Spark's work is the bounded clone/source reads and the "
        "driver-literal census; no cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "sql_pipe_syntax_report", execute=True)
    check(
        "sql_pipe_syntax_report",
        "pipe-syntax stages resolve to the same physical shape as the "
        "nested form: pushed total filter, broadcast dim join, hash "
        "aggregate; no Python",
        "GreaterThan(o_totalprice,5000.0)" in p
        and "BroadcastHashJoin" in p and "HashAggregate" in p
        and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "sql_parameterized_query", execute=True)
    check(
        "sql_parameterized_query",
        "named parameter markers bind to literals that reach the "
        "scans: segment EqualTo pushed on customer, date/total pushed "
        "on orders; broadcast join, no Python",
        "EqualTo(c_mktsegment,BUILDING)" in p
        and "GreaterThanOrEqual(o_orderdate,1996-01-01" in p
        and "BroadcastHashJoin" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "sql_session_variables", execute=True)
    check(
        "sql_session_variables",
        "the data-derived session variable folds into a LITERAL "
        "pushed predicate on the main scan (the win over a correlated "
        "scalar subquery); no Python",
        "GreaterThanOrEqual(o_orderdate," in p
        and "HashAggregate" in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "d9_sql_body_udf", execute=True)
    check(
        "d9_sql_body_udf",
        "SQL-body scalar fn + table fn INLINE into the calling plan — "
        "no Python worker at all (the point of SQL UDFs vs D1-D5), "
        "quantity filter pushed through the TVF parameter",
        "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        and "GreaterThanOrEqual(l_quantity,10.0)" in p
        and "HashAggregate" in p,
    )

    p = plan_of(spark, "d10_arrow_native_udf", execute=True)
    check(
        "d10_arrow_native_udf",
        "arrow_udf crosses via ArrowEvalPython (the deliberate "
        "Arrow-native Python surface, map-grain only) and the "
        "aggregate stays JVM-side",
        "ArrowEvalPython" in p and "BatchEvalPython" not in p
        and "HashAggregate" in p,
    )

    p = plan_of(spark, "pipeline_commit_constraints", execute=True)
    check(
        "pipeline_commit_constraints",
        "constraint enforcement is one aggregate over the candidate "
        "before staging; the census is a driver-literal table; no "
        "cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "pipeline_row_lineage", execute=True)
    check(
        "pipeline_row_lineage",
        "row-id assignment/preservation is commit-local (watermark "
        "file + per-commit row_number); census driver-literal; no "
        "cartesian, no Python",
        ("LocalTableScan" in p or "ExistingRDD" in p or "inline(" in p)
        and "CartesianProduct" not in p and "BatchEvalPython" not in p,
    )

    p = plan_of(spark, "x26_python_datasource_stream", execute=True)
    check(
        "x26_python_datasource_stream",
        "the streaming Python source's drains happen inside the query "
        "(offset log in the checkpoint); the returned census is one "
        "scan + hash aggregate over the parquet sink; no cartesian",
        "Scan parquet" in p and "HashAggregate" in p
        and "CartesianProduct" not in p,
    )

    print(f"\n{'ALL PASS' if not failures else f'{len(failures)} FAILURES'}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
