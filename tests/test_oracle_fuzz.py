"""Cross-engine fuzz: the engine-oracle equivalence must hold on RANDOM
adversarial corpora, not just the driver's fixed testdata.

The correctness gate compares Spark vs DuckDB on one synthetic corpus; a
divergence triggered only by inputs that corpus lacks (empty texts,
punctuation runs, exotic whitespace, duplicate extremes) would slip
through.  This suite regenerates the `documents` table from hypothesis
corpora, writes it as parquet, and replays selected queries()/oracle_sql()
pairs through BOTH engines with the driver's own multiset compare."""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType

import __spark_entry__ as entry_mod


def _write_parquet(rows, ddl, path):
    """Write ``rows`` as the one-file parquet table that
    ``spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(path)``
    writes: the same internal values (Spark's own ``toInternal``), INT96
    timestamps and Spark's schema metadata — without one Spark job per
    generated example."""
    struct = StructType.fromDDL(ddl)
    schema = to_arrow_schema(struct).with_metadata({
        "org.apache.spark.version": pyspark.__version__,
        "org.apache.spark.sql.parquet.row.metadata": struct.json(),
    })
    internal = [struct.toInternal(r) for r in rows]
    cols = []
    for i, (field, atype) in enumerate(zip(struct.fields, schema.types)):
        vals = [r[i] for r in internal]
        if isinstance(field.dataType, TimestampType):
            # internal timestamps are epoch micros
            cols.append(pa.array(vals, pa.int64()).cast(atype))
        else:
            cols.append(pa.array(vals, atype))
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_arrays(cols, schema=schema),
        f"{path}/part-00000.parquet",
        use_deprecated_int96_timestamps=True,
    )


# documents-only queries with oracle sensitivity worth fuzzing: regex
# normalization, tokenization, gram hashing, windows, hash sampling
FUZZ_QUERIES = [
    "dedup_normalized_exact",
    "dedup_substring_spans",
    "text_token_counts",
    "vocab_top_bigrams",
    "weighted_sample_ids",
    "gopher_quality_flags",
    # round 7: prefix-filter soundness on adversarial token sets, the
    # Bloom path's false-positive + in-batch regimes, span removal over
    # degenerate docs, and the byte-exact media transforms on exotic text
    "dedup_prefix_jaccard",
    "dedup_incremental_bloom",
    "dedup_spans_removed_counts",
    "multimodal_bmp_thumbnail_stats",
    "multimodal_wav_downsample_stats",
    "multimodal_avi_content_stats",
    # round 8: the PMI ratio chain on degenerate corpora (empty docs,
    # sub-min_count pairs → empty result on both engines).
    # ann_pq_adc_topk / kmeans_cluster_stats / semdedup_survivors are NOT
    # fuzzed: tiny random corpora can have zero %-rule anchors
    # (pq_codebooks/anchor_centroids_q raise by design); their
    # quantization path is fuzzed via ann_quantized_topk and the
    # codebook/ADC/assignment math is exact-integer with dedicated unit
    # tests.
    # stream_dedup_exact is not fuzzed (4 real micro-batches per example),
    # matching the other stream_* queries; its oracle is the plain
    # DISTINCT the batch path covers.
    "pmi_top_bigrams",
    # round 8 (cont.): the BM25 chained-double arithmetic on degenerate
    # corpora (empty docs, all-stopword docs, zero-match regime) and the
    # length-bucket blocking soundness on short/empty prefixes
    "bm25_doc_scores",
    "dedup_edit_distance",
    # round 8 (cont.): integer PageRank over degenerate graphs (single-doc
    # corpora, no-bigram docs, self-loop-only adjacency) and postings
    # assembly / df-bound pruning on tiny vocabularies
    "textrank_top_terms",
    "inverted_index_postings",
    # round 8 (cont.): per-query top-k windows over zero-match queries
    # and the shared (doc,term) score fan-out
    "bm25_topk_per_query",
    # round 8 (cont.): directed containment denominators on subset docs,
    # and top-N vocabulary tie-breaks / all-in-vocab zero-OOV docs
    "dedup_containment_pairs",
    "vocab_oov_rates",
    # round 8 (cont.): integer floor-division chains on degenerate corpora
    "lm_bigram_quality",
    # round 8 (cont.): hashed-feature weights on negative margins and
    # zero-token docs (NULL score path, nonneg-remainder floor idiom)
    "quality_linear_scores",
    # round 8 (cont.): tiny corpora force the m <= k bucket regime
    # (fewer than k negatives available; singleton buckets yield none)
    "negative_sample_pairs",
    # round 8 (cont.): regexp_count vs regexp_extract_all length on
    # hostile separators around the synthesized PII suffix
    "pii_audit_by_source",
    # round 8 (cont.): absent-token algebra on single-token groups and
    # all-empty sources (zero-token groups must vanish on both engines)
    "token_drift_by_source",
    # round 8 (cont.): half-split slicing on 1-2 word docs and the
    # und/argmax tie cascade on marker-free halves
    "mixed_language_flags",
    # round 8 (cont.): composed scorecard on duplicate texts (n_unique <
    # n_docs) and zero-token margins
    "source_health_report",
    # round 9: winnowing selection on sub-k docs (whole-text gram),
    # degenerate repeats (every window picks the same hash), multibyte
    # chars straddling gram boundaries, and the df-cap/min-shared edges;
    # star-contraction components on whatever pair graph the tiny corpus
    # yields (duplicate texts → components; none → empty on both sides).
    # hll_user_overlap is NOT corpus-fuzzed here: the register math is
    # already fuzzed via hll_user_cardinality and the fuzz event types
    # lack 'purchase', which would only exercise the empty-group row.
    "winnow_match_pairs",
    "dedup_components_star",
    # round 9 (cont.): the 256-bucket distributed prefix sum vs the plain
    # global window on degenerate corpora (zero-char docs, duplicates,
    # totals far under budget → keep-everything regime)
    "token_budget_sample_counts",
    # round 9 (cont.): degree-ordered triangle orientation vs the plain
    # canonical triple join on whatever word graph the tiny corpus yields
    # (empty/edgeless graphs must emit (0, 0, 0) on both engines)
    "word_graph_triangles",
    # round 10: the double-separator replace encoding of greedy
    # merge-with-skip vs the Arrow-batched scan — multibyte symbols
    # (café), punctuation symbols, <8 distinct pairs (early break must
    # shorten BOTH engines' outputs identically), repeated-symbol runs
    # (aaaa → aa aa, the boundary-sharing case), and the fixed-rule
    # encode on words none of the rules touch
    "bpe_top_merges",
    "bpe_encode_counts",
    # round 10: zlib bounds invariant on degenerate docs (empty → NULL
    # flag, 1-byte, whitespace-only) — the Spark side computes the flag
    # from real zlib output, the oracle emits the literal expectation
    "compression_ratio_stats",
    # round 10: the fuzz corpus is single-class (lang='en' everywhere),
    # so these pin the degenerate NULL-AUC regime + the margin tie
    # grouping on tiny score domains, per-source partitioning included,
    # and the rank-free calibration bins on 1-2 distinct margins
    "quality_score_auc",
    "quality_auc_by_source",
    "quality_calibration_bins",
]

WORD = st.sampled_from(
    ["aa", "bb", "the", "x", "café", "a.b", "7", "--", "N0", "zz!"]
)
SEP = st.sampled_from([" ", "  ", "\t", " \t "])


@st.composite
def _text(draw):
    if draw(st.booleans()) and draw(st.integers(0, 9)) == 0:
        return draw(st.sampled_from(["", " ", "\t\t"]))  # degenerate docs
    words = draw(st.lists(WORD, min_size=1, max_size=12))
    sep = draw(SEP)
    return sep.join(words)


CORPUS = st.lists(_text(), min_size=1, max_size=8)


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_oracle_equivalence_on_random_corpora(spark, tmp_path_factory, name):
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    base = tmp_path_factory.mktemp(f"fuzz_{name}")
    counter = {"n": 0}

    @settings(
        max_examples=5, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts=CORPUS, dup=st.booleans())
    def run(texts, dup):
        if dup:  # plant duplicates — the dedup paths' interesting regime
            texts = texts + texts[: max(1, len(texts) // 2)]
        rows = [
            (i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)
        ]
        counter["n"] += 1
        sf_dir = str(base / f"c{counter['n']}")
        _write_parquet(
            rows, "doc_id long, text string, lang string, source string, n_chars long",
            f"{sf_dir}/documents.parquet",
        )

        sdf = queries[name](spark, sf_dir)
        srows, scols = sdf.collect(), sdf.columns
        duck = duckdb.connect()
        duck.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
        )
        res = duck.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck.close()
        assert sorted(scols) == sorted(ocols)
        assert _multiset(srows, scols) == _multiset(orows, ocols), (name, texts)

    run()


EMB_QUERIES = [
    "ann_cosine_topk", "ann_quantized_topk",
    "dedup_embedding_cosine", "dedup_embedding_cosine_blocked",
    "ann_ivf_quantized_topk",  # r7: centroid probe + int8 scoring composed
    "leakage_cross_split_pairs",  # r8: cross-split audit on dup/zero vecs
    "jl_projection_vectors",      # r8: signed-sum chains on zero/tiny vecs
    "ann_jl_topk",                # r8: projected-space candidate cut ties
    "knn_join_topk",              # r8: batched kNN on dup vectors (cos=1
                                  # ties), zero-norm probes, corpus < k
    "embedding_dim_stats",        # r8: µ-quantization of zero/tiny/
                                  # negative components, exact sums
    "ann_ivf_pruned_topk",        # r12: the persisted partition-pruned
                                  # path on zero/dup vectors — per-example
                                  # scratch index write + probe must equal
                                  # the in-memory oracle result exactly
    "embedding_second_moments",   # r14: all-int64 moment cells via the
                                  # Arrow/BLAS path on zero/dup/tiny/
                                  # negative components — exact sums,
                                  # chunk-bound arithmetic
    # embedding_pca_parseval / embedding_whitened_qc are deliberately
    # NOT fuzzed: their oracles compare two DIFFERENT float evaluation
    # orders (eig path vs direct sums, agreeing to ~1e-12) under a 1e-4
    # floor-quantize, and hypothesis' exact-tie corpora can construct
    # values legitimately straddling a grid boundary; the
    # identity-covariance invariant is asserted IN-QUERY at 1e-6 on any
    # corpus regardless
]


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_oracle_equivalence_on_random_embeddings(spark, tmp_path_factory, name):
    """Embedding queries fuzzed with the regimes the gate corpus lacks:
    ZERO vectors (cosine → NULL on both engines, sorted last), exact
    duplicate vectors (cos ≈ 1 ties broken by id), and tiny magnitudes."""
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    base = tmp_path_factory.mktemp(f"efuzz_{name}")
    counter = {"n": 0}

    component = st.sampled_from([0.0, 1.0, -1.0, 0.5, 1e-6, 3.25])

    @settings(
        max_examples=4, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vecs=st.lists(st.lists(component, min_size=64, max_size=64),
                      min_size=2, max_size=6),
        zero=st.booleans(),
        dup=st.booleans(),
    )
    def run(vecs, zero, dup):
        if zero:
            vecs = vecs + [[0.0] * 64]
        if dup:
            vecs = vecs + [vecs[0]]
        if all(x == 0.0 for x in vecs[0]):
            vecs[0] = [1.0] + [0.0] * 63  # query vec (vec_id 0) must be sane
        rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
        counter["n"] += 1
        sf_dir = str(base / f"c{counter['n']}")
        _write_parquet(
            rows, "vec_id long, embedding array<float>, label int",
            f"{sf_dir}/embeddings.parquet",
        )

        sdf = queries[name](spark, sf_dir)
        srows, scols = sdf.collect(), sdf.columns
        duck = duckdb.connect()
        duck.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
        )
        res = duck.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck.close()
        assert sorted(scols) == sorted(ocols)
        assert _multiset(srows, scols) == _multiset(orows, ocols), (name, len(vecs), zero, dup)

    run()


EVENT_QUERIES = [
    "window_sum_tumbling",      # tumbling boundary semantics
    "window_count_sliding",     # sliding window membership
    "session_window_count",     # gap-based session splits
    "event_gaps",               # lag/ordering ties
    "running_totals",           # cumulative window frame
    "distinct_users_per_type",  # exact distinct
    "value_percentiles",        # exact-percentile interpolation arithmetic
    "moving_range_sum",         # range-frame window
    "hll_user_cardinality",     # r7: integer rank/register math on dup ties
    "mad_by_type",              # r7: nested percentile interpolation
    "salted_join_type_revenue", # r7: salted join vs plain-join oracle
    "timeseries_resample_6h",   # r8: LOCF on boundary/duplicate timestamps
    "ols_trend_by_type",        # r8: decimal-exact OLS on degenerate groups
    "event_transition_counts",  # r8: lag ties on duplicate timestamps
    "recency_weighted_counts",  # r8: integer halving on negative-age guard
    "value_drift_by_type",      # r8: TV drift on clamped edge bins
                                # (negative values) and single-type draws
    "missing_days_report",      # r8: single-day spine degenerate case,
                                # day-boundary truncation ties
    "mad_outlier_counts",       # r8: Hampel boundary on zero-MAD
                                # (constant-value) types, q6 flag edge
    "weighted_value_percentiles",  # r8: zero-weight clamped negatives,
                                   # all-weight-in-one-bin rank walk
    "value_cdf_quantized",         # r8: per-row CDF on edge-clamped bins
                                   # and duplicate values (shared cum)
    "hourly_burst_flags",          # r8: trailing-window frames shorter
                                   # than 3 rows (unflagged by contract)
    "user_lifespan_report",        # r8: day-boundary distinct on dup ts
    "session_conversion_counts",   # r8: session flag on the exact-gap
                                   # boundary, single-event sessions
    "top_user_journeys",           # r8: lead() ties on duplicate ts,
                                   # top-10 cut ties on path strings
    "activity_heatmap",            # r8: engine-agnostic dow/hod integer
                                   # arithmetic on boundary timestamps
    "theta_users_diff",            # r10: the fuzz events lack 'purchase',
                                   # so this pins the empty-side regime
                                   # (one group absent -> 0 rows on BOTH
                                   # engines, no fabricated zero row)
    "stream_window_count_dense",   # r12: the ONE stream query worth its
                                   # replay cost per example — pins the
                                   # fired-watermark cut at regimes the
                                   # gate corpus can't reach: max error ts
                                   # EXACTLY on a window boundary (does
                                   # end <= watermark fire?), all errors
                                   # inside one hour (zero fired windows
                                   # -> empty on BOTH engines), and
                                   # gap-hours zero-filled only between
                                   # fired windows
]


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_oracle_equivalence_on_random_events(spark, tmp_path_factory, name):
    """Event-time queries fuzzed at the regimes the gate corpus avoids:
    timestamps EXACTLY on window boundaries, duplicate timestamps,
    identical (user, ts) ties, and sub-second jitter."""
    import datetime as dt

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    base = tmp_path_factory.mktemp(f"tfuzz_{name}")
    counter = {"n": 0}
    t0 = dt.datetime(2024, 1, 1)

    # offsets in seconds: exact hour edges, near-edges, duplicates
    offset = st.sampled_from(
        [0, 1, 3599, 3600, 3601, 7200, 7200, 10799, 10800, 5400, 5400.5]
    )

    @settings(
        max_examples=5, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        offs=st.lists(offset, min_size=2, max_size=12),
        users=st.lists(st.integers(1, 3), min_size=12, max_size=12),
        vals=st.lists(st.sampled_from([0.0, 1.5, -2.25, 100.0, 0.1]),
                      min_size=12, max_size=12),
    )
    def run(offs, users, vals):
        rows = [
            (
                i,
                t0 + dt.timedelta(seconds=off),
                users[i],
                ["click", "view", "error"][i % 3],
                vals[i],
                '{"k": 1}',
            )
            for i, off in enumerate(offs)
        ]
        counter["n"] += 1
        sf_dir = str(base / f"c{counter['n']}")
        _write_parquet(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
            f"{sf_dir}/events.parquet",
        )

        sdf = queries[name](spark, sf_dir)
        srows, scols = sdf.collect(), sdf.columns
        duck = duckdb.connect()
        duck.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
        )
        res = duck.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck.close()
        assert sorted(scols) == sorted(ocols)
        assert _multiset(srows, scols) == _multiset(orows, ocols), (name, offs)

    run()


LINEITEM_QUERIES = [
    "pricing_summary",   # TPC-H Q1: decimal-at-the-leaf sum chains
    "stat_aggregates",   # corr/covar/stddev float formulas
    "table_fingerprint", # r7: canonical decimal rendering + xor fold
    # r8: struct-min argmin vs window oracle on duplicate unit prices
    # (tie-break by suppkey) and zero-quantity guard
    "cheapest_supplier_per_part",
    # r10: Q6's empty-filter regime (no 1997 rows in the generated span:
    # one NULL-revenue row on both engines) and the discount-band
    # boundary on double literals
    "forecast_revenue_change",
]


@pytest.mark.parametrize("name", LINEITEM_QUERIES)
def test_oracle_equivalence_on_random_lineitem(spark, tmp_path_factory, name):
    """Decimal-sensitive aggregations fuzzed at the regimes the gotchas
    warn about: values with >4 decimal places (must quantize identically),
    magnitudes near the 2^53 scaled-int edge, zeros and negatives, and
    single-row groups (stddev of one row → NULL on both engines)."""
    import datetime as dt

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    base = tmp_path_factory.mktemp(f"lfuzz_{name}")
    counter = {"n": 0}
    t0 = dt.datetime(1995, 6, 1)

    money = st.sampled_from(
        [0.0, 0.01, 949.9999, 1234.5678, 1e9, 123456789.1234, -5.25, 3.3333333]
    )
    qty = st.sampled_from([0.0, 1.0, 7.0, 50.0, 12.5])
    frac = st.sampled_from([0.0, 0.04, 0.1, 0.08])

    @settings(
        max_examples=5, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(st.tuples(qty, money, frac, frac), min_size=1, max_size=10),
        flags=st.lists(st.sampled_from(["A", "N", "R"]), min_size=10, max_size=10),
    )
    def run(rows, flags):
        data = [
            (
                i, i % 3, i % 2, i,
                float(q), float(p), float(d), float(t),
                flags[i], "O" if i % 2 else "F",
                t0 + dt.timedelta(days=i),
            )
            for i, (q, p, d, t) in enumerate(rows)
        ]
        counter["n"] += 1
        sf_dir = str(base / f"c{counter['n']}")
        _write_parquet(
            data,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp",
            f"{sf_dir}/lineitem.parquet",
        )

        sdf = queries[name](spark, sf_dir)
        srows, scols = sdf.collect(), sdf.columns
        duck = duckdb.connect()
        duck.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet/*.parquet'"
        )
        res = duck.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck.close()
        assert sorted(scols) == sorted(ocols)
        assert _multiset(srows, scols) == _multiset(orows, ocols), (name, rows)

    run()


JOIN_QUERIES = [
    "star_join_agg",         # fact ⋈ orders ⋈ customer + decimal agg
    "big_order_customers",   # Q18: HAVING subquery + join-back
    "grouping_sets_revenue", # multi-grouping over a join
    # round 8: Q3's empty-result regime (no lineitem survives the ship-date
    # cut on the generated corpus) and Q22's cross-multiplied average
    # boundary + anti-join over dangling custkeys
    "shipping_priority_topn",
    "dormant_rich_customers",
    # round 8 (cont.): SCD2 intervals / MERGE equivalence over dangling
    # and duplicate custkeys (orders-only reads; dims are irrelevant)
    "scd2_order_history",
    "cdc_latest_snapshot",
    # round 8 (cont.): Z-address range normalization on degenerate ranges
    # (single order → hi == lo constant-range guard, duplicate custkeys)
    "zorder_locality_stats",
    # round 8 (cont.): full-outer diff classification over duplicate and
    # dangling keys, NULL-safe compares
    "snapshot_diff_orders",
    # round 8 (cont.): Q13's zero-order customers through the outer join,
    # Q8's empty-share regime (no ASIA customer in the generated dims,
    # zero-group output), Q19's NULL revenue over an empty disjunction
    "cust_order_distribution",
    "nation_market_share",
    "disjunctive_part_revenue",
    # round 8 (cont.): nonzero violation counts — the generated orders
    # carry out-of-domain priorities and dangling custkeys
    "dq_violation_counts",
    # round 8 (cont.): sketch inner product on duplicate orderkeys
    # (ca·cb products > 1) and dangling keys (disjoint mass)
    "cms_join_size",
    # round 10: Q4's EXISTS over dangling orderkeys + empty date windows,
    # Q12's lateness CASE buckets over dangling/duplicate keys, Q17's
    # cross-multiplied 0.2·avg boundary over duplicate partkeys
    "priority_late_ship_counts",
    "late_ship_priority_counts",
    "small_qty_order_revenue",
]


@pytest.mark.parametrize("name", JOIN_QUERIES)
def test_oracle_equivalence_on_random_joins(spark, tmp_path_factory, name):
    """Join-shaped queries fuzzed with dangling foreign keys (orders whose
    customer is absent, lineitems whose order is absent), duplicate join
    keys, empty join results, and 4-decimal money."""
    import datetime as dt

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    base = tmp_path_factory.mktemp(f"jfuzz_{name}")
    counter = {"n": 0}
    t0 = dt.datetime(1995, 6, 1)
    money = st.sampled_from([0.01, 949.9999, 1234.5678, 3.3333333, 500.0])

    @settings(
        max_examples=4, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_cust=st.integers(1, 3),
        okeys=st.lists(st.integers(0, 5), min_size=1, max_size=6),
        lkeys=st.lists(st.integers(0, 7), min_size=1, max_size=10),
        prices=st.lists(money, min_size=10, max_size=10),
        fracs=st.lists(st.sampled_from([0.0, 0.04, 0.1]), min_size=10, max_size=10),
    )
    def run(n_cust, okeys, lkeys, prices, fracs):
        cust = [
            (c, f"Customer#{c}", c % 2, 100.0 * c,
             ["BUILDING", "MACHINERY"][c % 2])
            for c in range(n_cust)
        ]
        orders = [
            (ok, ok % (n_cust + 1), "O", float(prices[i]),  # custkey may dangle
             t0 + dt.timedelta(days=ok), f"{1 + ok % 3}-PRI")
            for i, ok in enumerate(dict.fromkeys(okeys))
        ]
        lineitem = [
            (lk, i % 3, i % 2, i, float(1 + i % 5), float(prices[i]),
             float(fracs[i]), 0.0, "ANR"[i % 3], "OF"[i % 2],
             t0 + dt.timedelta(days=i))
            for i, lk in enumerate(lkeys)  # orderkey may dangle or repeat
        ]
        counter["n"] += 1
        sf_dir = str(base / f"c{counter['n']}")
        # Engine.sql registers every catalog table — satisfy the untouched
        # ones with links to the tiny sf0.001 files (the query reads only
        # the three generated tables, so their contents are irrelevant)
        os.makedirs(sf_dir, exist_ok=True)
        for t in ("region", "nation", "supplier", "part", "events",
                  "documents", "embeddings"):
            dst = f"{sf_dir}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"/root/testdata/sf0.001/{t}.parquet", dst)
        _write_parquet(
            cust, "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
            f"{sf_dir}/customer.parquet",
        )
        _write_parquet(
            orders, "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
            f"{sf_dir}/orders.parquet",
        )
        _write_parquet(
            lineitem,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
            " l_quantity double, l_extendedprice double, l_discount double,"
            " l_tax double, l_returnflag string, l_linestatus string,"
            " l_shipdate timestamp",
            f"{sf_dir}/lineitem.parquet",
        )

        sdf = queries[name](spark, sf_dir)
        srows, scols = sdf.collect(), sdf.columns
        duck = duckdb.connect()
        for t in ("customer", "orders", "lineitem"):
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
            )
        # non-fuzzed dims come from the same linked sf0.001 files the
        # engine side reads (their contents aren't fuzzed)
        for t in ("nation", "region", "supplier", "part"):
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM"
                f" '/root/testdata/sf0.001/{t}.parquet'"
            )
        res = duck.execute(oracles[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        duck.close()
        assert sorted(scols) == sorted(ocols)
        assert _multiset(srows, scols) == _multiset(orows, ocols), (
            name, n_cust, okeys, lkeys,
        )

    run()


def test_json_extract_on_hostile_props(spark, tmp_path_factory):
    """from_json must match the oracle's json_extract across hostile props:
    missing keys, null, non-numeric k, nested objects, escaped quotes, and
    MALFORMED JSON (both sides must degrade to no-match, never error)."""
    import datetime as dt

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    t0 = dt.datetime(2024, 1, 1)
    props_pool = [
        '{"k": 87}', '{"k": 12}', '{"k": null}', '{}', '{"j": 99}',
        '{"k": "93"}', '{"k": [1,2]}', '{"k": {"n": 77}}',
        '{"k": 51, "s": "a\\"b"}', 'not json at all', '{"k": 60',  # cut
        '', '{"k": 1e2}', '{"k": -7}', '{"k": 9999999999}',
        # above int64 max: DuckDB types it UBIGINT and plain CAST throws —
        # the oracle's TRY_CAST and Spark's from_json both yield NULL
        '{"k": 18446744073709551615}', '{"k": 9223372036854775808}',
    ]
    rows = [
        (i, t0 + dt.timedelta(seconds=i), i % 3, ["click", "view"][i % 2],
         1.0 * i, p)
        for i, p in enumerate(props_pool)
    ]
    sf_dir = str(tmp_path_factory.mktemp("jsonfuzz"))
    _write_parquet(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
        f"{sf_dir}/events.parquet",
    )

    sdf = queries["json_struct_extract"](spark, sf_dir)
    srows, scols = sdf.collect(), sdf.columns
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    res = duck.execute(oracles["json_struct_extract"])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    duck.close()
    assert sorted(scols) == sorted(ocols)
    assert _multiset(srows, scols) == _multiset(orows, ocols), (srows, orows)
