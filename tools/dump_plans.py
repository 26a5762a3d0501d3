#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan audit of every headline query.

For each bench query (and the full gate on request), records the plan
properties that matter at 100 TB — exchange count, broadcast joins,
pushed filters, scan schema width, whole-stage-codegen spans, and any
red flags (cartesian / nested-loop joins).  Run after operator changes:

    python tools/dump_plans.py [sf_dir]     # default /root/testdata/sf0.001
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_streaming_spark.session import get_session  # noqa: E402
from go_streaming_spark.queries import QUERIES  # noqa: E402
import go_streaming_spark.queries_llm  # noqa: E402,F401
import go_streaming_spark.queries_ext  # noqa: E402,F401

# Headline set: mirrors BASELINE.md Q1-Q8 + the LLM-pipeline scale paths.
HEADLINE = [
    "filter_greater",          # Q1 filter+project scan
    "tokenize_wordcount",      # Q2 flatmap/tokenize word count
    "window_sum_tumbling",     # Q3 tumbling temporal window sum
    "window_count_sliding",    # Q4 sliding temporal window count
    "window_join_inner",       # Q5 windowed inner join
    "window_join_left",        # Q6 windowed left join
    "counting_window_tumbling",# Q7 count-based window (stateful path)
    "star_join_agg",           # Q8 star-schema join+agg
    "pricing_summary",         # TPC-H Q1-style wide agg
    "regional_revenue",        # snowflake broadcast chain
    "timeseries_znorm_search", # sliding z-norm similarity
    "rollup_revenue",          # hierarchical rollup
    "rank_topn_per_segment",   # ranking window top-n
    "asof_join_signup",        # backward as-of join (union+window)
    "session_window_count",    # gap-based session windows
    "dedup_minhash_lsh",       # near-dup dedup at scale
    "dedup_simhash",           # simhash near-dup
    "dedup_embedding_cosine_blocked",  # exact all-pairs via block matmul
    "ann_cosine_topk",         # similarity search
    "text_quality",            # text analysis sweep
    "burst_follow_counts",     # bucketed range join (round 2)
    "tfidf_top_terms",         # tf-idf keyword extraction (round 2)
    "big_order_customers",     # Q18 shape: HAVING + broadcast join-back (round 2)
    "sole_return_suppliers",   # Q21 shape: exists-pair as one aggregation (round 2)
    "pack_sequences",          # token-budget sequence packing (round 4)
    "dedup_incremental_exact", # delta-vs-corpus digest anti-join (round 4)
    "dedup_normalized_exact",  # canonical-form dedup (round 5)
    "dedup_incremental_minhash",  # near-dup batch-vs-corpus (round 5)
    "multimodal_features",     # real byte-level header decode (round 5)
    "dedup_incremental_full",  # + in-batch component resolution (round 6)
    "multimodal_content_stats",# real BMP-pixel/WAV-PCM content decode (round 6)
    "dedup_substring_spans",   # span-granularity exact dedup (round 6)
    "ann_quantized_topk",      # int8-quantized cosine top-k (round 6)
    "multimodal_png_content_stats",  # real PNG inflate+defilter decode (round 6)
    "multimodal_gif_content_stats",  # real GIF LZW decode (round 6)
    "multimodal_jpeg_content_stats", # real baseline-JPEG Huffman+DCT decode (round 6)
    "corpus_ingest_survivors",  # unified CorpusState.ingest end-to-end (round 7)
    "multimodal_avi_content_stats",  # real AVI movi-frame pixel decode (round 7)
    "ann_ivf_quantized_topk",   # IVF cell pruning x int8 scoring (round 7)
    "dedup_incremental_bloom",  # Bloom-prefiltered digest anti-join (round 7)
    "hll_user_cardinality",     # mergeable HLL cardinality sketch (round 7)
    "nation_pair_volume",       # Q7: two dimension chains, broadcast plan (round 7)
    "returned_item_customers",  # Q10: top-20 via TakeOrdered (round 7)
    "promo_revenue_pct",        # Q14: quantized revenue-share division (round 7)
    "top_supplier_revenue",     # Q15: scalar-max semi-join (round 7)
    "multimodal_mp4_content_stats",  # real ISO-BMFF sample-table decode (round 8)
    "corpus_ingest_clean_tokens",    # ingest + span removal end-to-end (round 8)
    "ann_pq_adc_topk",               # product quantization + ADC lookup scan (round 8)
    "semdedup_survivors",            # cluster-then-dedup within learned clusters (round 8)
    "shipping_priority_topn",        # Q3: pushed filters + TakeOrdered top-10 (round 8)
    "dormant_rich_customers",        # Q22: cross-multiplied avg + anti-join (round 8)
    "textrank_top_terms",            # integer-exact PageRank, 3 keyed rounds (round 8)
    "inverted_index_postings",       # Zipf-skewed postings groupBy + df bounds (round 8)
    "bm25_topk_per_query",           # batch retrieval fan-out + per-query top-k (round 8)
    "leakage_cross_split_pairs",     # cross-split cosine audit, broadcast test side (round 8)
    "zorder_locality_stats",         # Morton layout audit, generated integer expr (round 8)
    "dedup_containment_pairs",       # asymmetric (quote-inclusion) near-dup (round 8)
    "knn_join_topk",                 # batched kNN join: blocked BLAS + exact rescore (round 8)
    "cust_order_distribution",       # Q13: outer join + double aggregation (round 8)
    "nation_market_share",           # Q8: two dimension chains + share division (round 8)
    "disjunctive_part_revenue",      # Q19: OR-of-ANDs with pushed quantity hull (round 8)
    "quality_linear_scores",         # map-only hashed-feature model scoring (round 8)
    "leakage_safe_split_counts",     # dedup-aware split: components + threshold CASE (round 8)
    "negative_sample_pairs",         # bucketed windows + equi-join, k·n output (round 8)
    "dq_violation_counts",           # single-scan expectation report + FK join (round 8)
    "cheapest_supplier_per_part",    # argmin via min-struct map-side combine (round 8)
    "token_drift_by_source",         # exact-TV drift: two keyed shuffles + vocab join (round 8)
    "mixed_language_flags",          # dual lang-ID argmax, map-only (round 8)
    "dedup_components_star",         # edge-contracting large-star/small-star CC (round 9)
    "hll_user_overlap",              # sketch union+intersection cardinality, one pass (round 9)
    "winnow_match_pairs",            # MOSS winnowing fingerprint matching (round 9)
    "token_budget_sample_counts",    # distributed prefix-sum token-budget sampling (round 9)
    "word_graph_triangles",          # degree-ordered triangle census (round 9)
    "stratified_token_budget_counts",# per-stratum prefix-sum budgets (round 9)
    "ams_f2_user_freq",              # AMS second-moment / self-join-size sketch (round 9)
    "theta_users_diff",              # theta/KMV set algebra incl. difference (round 10)
    "local_supplier_volume",         # Q5: cross-dimension local-volume star (round 10)
    "product_profit_by_nation_year", # Q9: part-family profit rollup (round 10)
    "supplier_count_by_part_attrs",  # Q16: distinct-count + anti-join (round 10)
    "forecast_revenue_change",       # Q4 shape: exists semi-join + priority counts (round 11)
    "excess_part_suppliers",         # Q20 shape: semi-join chain + HAVING (round 11)
    "quality_score_auc",             # exact Mann-Whitney AUC, 256-bucket prefix sum (round 11)
    "quality_calibration_bins",      # rank-free calibration binning (round 11)
    "ann_ivf_pruned_topk",           # persisted partition-pruned IVF (write+probe) (round 12)
    "quality_probe_gram",            # one-pass gram-matrix training statistic (round 12)
    "corpus_ingest_bucketed_survivors",  # ingest via bucketed catalog snapshot (round 13)
    "quality_probe_gram_sparse",     # exploded long-form gram, wide-k path (round 13)
    "ann_ivf_cell_stats",            # IVF inverted-list health audit (round 13)
    "quality_probe_gram_wide",       # sparse gram AT k=1024, the realistic width (round 14)
    "quality_linear_scores_wide",    # end-to-end wide train->score loop (round 14)
    "ann_ivf_manifest_topk",         # IVF snapshot flip: rebuild+publish+probe (round 14)
    "ann_filtered_topk",             # filtered ANN, over-probe escalation (round 14)
    "embedding_second_moments",      # one-pass exact covariance statistic (round 14)
    "embedding_pca_parseval",        # moments -> driver eigh -> map-only projection (round 14)
    "training_shards_roundtrip",     # final shard write + manifest + read-back (round 14)
    "embedding_whitened_qc",         # full-rank whitening, identity-covariance check (round 14)
    "mixture_waterfill_plan",        # token-budget waterfilling mixture planner (round 14)
    "cusum_value_alarms",            # CUSUM drift detection, bucketed prefix stitch (round 14)
    "embedding_dim_stats_by_label",  # grouped embedding drift stats (round 14)
    "value_psi_by_type",             # epoch-vs-epoch PSI drift, smoothed log terms (round 14)
    "doc_char_entropy",              # per-doc char entropy, map-only run-length scan (round 14)
    "value_psi_ref_bins",            # PSI over reference-epoch decile bins (round 14)
]

# Batch analytics registered late in r8/r9 that aren't bench headliners
# but deserve a standing plan row (VERDICT r8 item 6).  Streaming twins
# are excluded: a replay_to_memory result audits as a trivial memory
# scan, not the real micro-batch plan.
EXTRA_AUDIT = [
    "activity_heatmap", "top_user_journeys", "user_lifespan_report",
    "session_conversion_counts", "event_transition_counts",
    "value_drift_by_type", "value_cdf_quantized", "hourly_burst_flags",
    "partition_manifest_orders", "recency_weighted_counts",
    "ols_trend_by_type", "snapshot_diff_orders", "scd2_order_history",
    "cdc_latest_snapshot", "timeseries_resample_6h",
    "missing_days_report", "mad_outlier_counts",
    "weighted_value_percentiles", "weighted_price_percentiles_by_priority",
    "cms_join_size", "dedup_keep_best_survivors",
    "profile_orders_columns", "review_queue_sample", "vocab_oov_rates",
    "lm_bigram_quality", "pii_audit_by_source",
    "tokenizer_fertility_by_lang", "compression_ratio_stats",
    "source_health_report", "dedup_source_matrix", "embedding_dim_stats",
    # round 10 relational + sketch additions
    "forecast_revenue_change", "priority_late_ship_counts",
    "late_ship_priority_counts", "small_qty_order_revenue",
    "excess_part_suppliers",
    # round 10 scorer-eval family (the 256-bucket prefix-sum AUC plans)
    "quality_score_auc", "quality_auc_by_source",
    "quality_calibration_bins",
    # (ann_ivf_pruned_topk is NOT audited here: the gate wrapper collects
    # inside a scratch-index lifecycle, so its returned frame is a
    # LocalTableScan — the real probe-scan PartitionFilters assertion
    # lives in test_plans.py::test_ivf_pruned_index_scan)
]


# red flags that are actually fine, with the reason they're fine
KNOWN_BENIGN = {
    "mixture_waterfill_plan": (
        "BroadcastNestedLoopJoin is the 1-row broadcast plan-scalar"
        " crossJoin (sat_t/unsat_w totals over the ≤|strata|-row plan"
        " frame) — O(|strata|·1), never data-sized"
    ),
    "embedding_second_moments": (
        "BroadcastNestedLoopJoin is the dim×dim dense-grid constructor"
        " (range(64) crossJoin range(64) → 4096 rows, data-independent)"
        " that left-joins the sparse moment cells so never-co-occurring"
        " cells emit explicit zeros — O(dim²), never corpus-sized"
    ),
    "quality_probe_gram_sparse": (
        "BroadcastNestedLoopJoin is the (k+1)×(k+1) dense-grid constructor"
        " (range(9) crossJoin range(9) at the gate's k=8) left-joining the"
        " sparse cells for explicit zeros — the embedding_second_moments"
        " shape, O(k²), never corpus-sized"
    ),
    "dormant_rich_customers": (
        "BroadcastNestedLoopJoin is the 1-row broadcast positive-balance"
        " average scalar (crossJoin with a single-row filtered aggregate,"
        " queries_ext.py Q22 shape) — O(n·1), not a pair explosion"
    ),
    "tfidf_top_terms": (
        "BroadcastNestedLoopJoin is the 1-row broadcast corpus-size scalar"
        " (crossJoin with a single-row aggregate) — O(n·1), not a pair explosion"
    ),
    "leakage_cross_split_pairs": (
        "gate path is the BLAS-blocked scorer (no join at all: left side"
        " hash-partitions, test side replicates into each block group); a"
        " BroadcastNestedLoopJoin here would be the expression fallback"
        " (embedding_cosine_cross_pairs without block_col) — also fine at"
        " audit scale, O(n·|test|) with the test side broadcast"
    ),
    "zorder_locality_stats": (
        "BroadcastNestedLoopJoin is the 1-row broadcast min/max range scalar"
        " (crossJoin with a single-row aggregate) — O(n·1), not a pair explosion"
    ),
    "bm25_topk_per_query": (
        "BroadcastNestedLoopJoin is the 1-row broadcast (n_docs,"
        " total_tokens) corpus scalar — O(n·1), the tfidf_top_terms shape"
    ),
    "token_drift_by_source": (
        "BroadcastNestedLoopJoin is the 1-row broadcast corpus-total"
        " scalar (crossJoin with a single-row aggregate) — O(n·1), the"
        " tfidf_top_terms shape"
    ),
    "value_drift_by_type": (
        "BroadcastNestedLoopJoin is categorical_tv_drift's 1-row broadcast"
        " corpus-total scalar (stats.py crossJoin(n_all)) — O(n·1)"
    ),
    "value_cdf_quantized": (
        "BroadcastNestedLoopJoin is hist_cdf_transform's 1-row broadcast"
        " total-count scalar (crossJoin(n)) — O(n·1)"
    ),
    "weighted_value_percentiles": (
        "BroadcastNestedLoopJoin is the histogram quantile's 1-row"
        " broadcast total-mass scalar (crossJoin(total)) — O(q·1)"
    ),
    "weighted_price_percentiles_by_priority": (
        "BroadcastNestedLoopJoin is the grouped histogram quantile's"
        " per-group total join against the ≤|groups|-row broadcast totals"
        " table — bounded by group cardinality, not data size"
    ),
    "cms_join_size": (
        "BroadcastNestedLoopJoin is the 1-row × 1-row crossJoin attaching"
        " the exact join size to the CMS estimate for comparison — O(1)"
    ),
    "hll_user_overlap": (
        "BroadcastNestedLoopJoins are the two 1-row × 1-row crossJoins"
        " assembling (s_a, s_b, s_union) scalars into the single output"
        " row — O(1), sketch state is ≤2·2^p rows and localCheckpointed"
    ),
    "quality_score_auc": (
        "BroadcastNestedLoopJoin is the 1-row score-range scalar"
        " (crossJoin with the checkpointed min/max aggregate) - O(n*1);"
        " the single-partition WindowExec is the OFFSETS frame of the"
        " distributed prefix sum - <=256 rows by construction, never"
        " data-sized (tie-group cumulatives are bucket-partitioned)"
    ),
    "quality_calibration_bins": (
        "BroadcastNestedLoopJoin is the same 1-row score-range scalar"
        " crossJoin - O(n*1), not a pair explosion"
    ),
    "theta_users_diff": (
        "BroadcastNestedLoopJoins are the 1-row x 1-row crossJoins"
        " assembling (theta, union, n_int, n_anotb) scalars into the"
        " single output row - O(1); the retained-hash state is <=2k rows"
        " and localCheckpointed"
    ),
    "word_graph_triangles": (
        "BroadcastNestedLoopJoins are the two 1-row × 1-row crossJoins"
        " assembling (n_nodes, n_edges, n_triangles) scalars into the"
        " single output row — O(1); the oriented edge set itself is"
        " localCheckpointed and equi-joined"
    ),
    "ams_f2_user_freq": (
        "BroadcastNestedLoopJoin is the 1-row × 1-row crossJoin pairing"
        " the sketch estimate with the exact-F2 comparison scalar — O(1)"
    ),
    "textrank_top_terms": (
        "plan reads 0 exchanges/0 scans because the final rank vector is"
        " localCheckpointed (iterative-op lineage truncation); the real"
        " shape is 1 equi-join + 1 groupBy(dst) per round over the"
        " checkpointed transition table — audited per-round in SCALE.md"
    ),
}


def audit(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # stop at end-of-line: toString truncates long schemas with "..." and
    # no closing ">", which would swallow the next plan line into the match
    scans = re.findall(r"ReadSchema: struct<([^>\n]*)", plan)
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "broadcasts": plan.count("BroadcastHashJoin"),
        "sort_merge": plan.count("SortMergeJoin"),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scan_cols": max((len(s.split(",")) for s in scans), default=0),
        "red_flags": [
            f
            for f in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if f in plan
        ],
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("plan-audit", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in HEADLINE + [n for n in EXTRA_AUDIT if n not in HEADLINE]:
        if name not in QUERIES:
            continue
        try:
            a = audit(QUERIES[name](spark, sf_dir))
        except Exception as exc:  # streaming-only queries can't .explain pre-run
            rows.append((name, f"(not auditable: {type(exc).__name__})"))
            continue
        rows.append((name, a))

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Auto-generated by `tools/dump_plans.py` at {sf_dir} "
        "(regenerate after operator changes).  Columns: shuffle exchange",
        "count, broadcast-hash joins, sort-merge joins, whether filters",
        "reached the parquet scan, whole-stage-codegen span count, widest",
        "scan column count, and red flags (cartesian / nested-loop).",
        "",
        "| query | exchanges | bcast | SMJ | pushed filters | codegen spans | scan cols | red flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if isinstance(a, str):
            lines.append(f"| `{name}` | {a} | | | | | | |")
            continue
        flags = ", ".join(a["red_flags"]) or "—"
        if a["red_flags"] and name in KNOWN_BENIGN:
            flags += " (benign, see below)"
        lines.append(
            f"| `{name}` | {a['exchanges']} | {a['broadcasts']} | {a['sort_merge']} "
            f"| {'yes' if a['pushed'] else '—'} | {a['codegen']} | {a['scan_cols']} "
            f"| {flags} |"
        )
    flagged = {
        name for name, a in rows
        if not isinstance(a, str) and a["red_flags"]
    }
    if any(name in KNOWN_BENIGN for name in flagged):
        lines += ["", "Known-benign flags:", ""]
        for name, why in KNOWN_BENIGN.items():
            if name in flagged:
                lines.append(f"- `{name}`: {why}")
    lines += [
        "",
        "Notes: exchange/codegen counts come from the pre-AQE plan text",
        "(`isFinalPlan=false`) — AQE may further coalesce or convert joins at",
        "runtime; codegen spans often display only in the final plan.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
