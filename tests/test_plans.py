"""Physical-plan quality gates — the scale contract, asserted.

These tests read `.explain`-style plan text and assert the properties that
make the engine viable at 100 TB: predicate pushdown into the parquet scan,
column pruning (ReadSchema carries only referenced columns), broadcast joins
for dimension tables, and no pair-explosion in the as-of join (single
shuffle, window exec — not a nested-loop range join).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from go_streaming_spark.engine import Engine
from go_streaming_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_greater"](spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # the value > 100 predicate must appear pushed, not just post-scan
    assert "GreaterThan(value,100" in plan


def test_column_pruning(spark):
    df = QUERIES["filter_greater"](spark, SF_DIR)
    plan = _plan(df)
    # scan must read only the referenced columns, not the full events schema
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "value" in read_schema and "event_id" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema


def test_star_join_broadcasts_dimension(spark):
    df = QUERIES["star_join_agg"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_rank_topn_broadcasts_customer(spark):
    df = QUERIES["rank_topn_per_segment"](spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)


def test_topk_avoids_global_sort(spark):
    df = QUERIES["topk_orders"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in _plan(df)


def test_asof_join_is_window_not_rangejoin(spark):
    df = QUERIES["asof_join_signup"](spark, SF_DIR)
    plan = _plan(df)
    # union + window implementation: no nested-loop / cartesian in the plan
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_windowed_agg_partial_aggregation(spark):
    # map-side combine: partial_sum before the exchange halves shuffle bytes
    df = QUERIES["window_sum_tumbling"](spark, SF_DIR)
    plan = _plan(df)
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 1


def test_wholestage_codegen_on_filter_path(spark):
    # `*(n)` prefixes mark whole-stage-codegen'd operators in plan text
    df = QUERIES["filter_greater"](spark, SF_DIR)
    assert "*(1)" in _plan(df)


def test_minhash_lsh_no_cartesian(spark):
    import go_streaming_spark.queries_llm  # noqa: F401

    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    plan = _optimized(df)
    assert "Join Cross" not in plan and "CartesianProduct" not in plan


def test_interval_join_is_equijoin_not_nested_loop(spark):
    # the bucketed range join must plan as a hash/sort-merge equi-join on
    # (bucket, key) — never a BroadcastNestedLoopJoin over the theta range
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["burst_follow_counts"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cube_two_phase_expand_over_cells(spark):
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["cube_revenue"](spark, SF_DIR)
    plan = _plan(df)
    # two-phase: the fact rows collapse to cells in exchange 1; the 4-way
    # Expand and the rollup exchange then run over the tiny cell table —
    # never over the raw fact (Expand must sit above the first HashAggregate)
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 2
    assert "partial_sum" in plan
    # the Expand's input must be the post-aggregation cell stream: in the
    # top-down plan text the raw-fact (first-phase) HashAggregate prints
    # BELOW the Expand
    assert plan.rindex("HashAggregate") > plan.index("Expand")


def test_rollup_two_phase_expand_over_cells(spark):
    df = QUERIES["rollup_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_pivot_two_tiny_shuffles(spark):
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["pivot_status_counts"](spark, SF_DIR)
    plan = _plan(df)
    # explicit value list → no distinct-values job.  Native pivot plans two
    # exchanges, but both are partial-aggregated first: exchange 1 carries
    # ≤ |priorities|×|statuses| rows per map task, exchange 2 the pivoted
    # |priorities| rows — constant-size at any input scale.
    assert plan.count("Exchange") == 2
    assert "partial_count" in plan and "partial_pivotfirst" in plan


def test_small_qty_revenue_no_self_join(spark):
    # correlated-aggregate via partition window: exactly one join-free
    # shuffle on l_partkey + the final single-row aggregation
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["small_qty_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan
    assert "Window" in plan


def test_bucketed_join_no_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge-join with NO Exchange on either side — the co-located join
    that makes repeated fact-fact joins viable at 100 TB."""
    import shutil

    from go_streaming_spark.sources.formats import write_bucketed

    eng = Engine(spark, sf_dir=SF_DIR)
    li = eng.stream("lineitem").select("l_orderkey", "l_quantity")
    orders = eng.stream("orders").select("o_orderkey", "o_totalprice")
    # at test scale the dimension auto-broadcasts, masking the bucketed
    # path; disable broadcast to exercise the fact-fact (100 TB) case
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(li, "li_bucketed", ["l_orderkey"], 8, ["l_orderkey"])
        write_bucketed(orders, "ord_bucketed", ["o_orderkey"], 8, ["o_orderkey"])
        j = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        # and the join result is right
        assert j.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
        # groupBy on the bucket key is shuffle-free too
        agg_plan = _plan(
            spark.table("li_bucketed").groupBy("l_orderkey").agg(
                F.sum("l_quantity")
            )
        )
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
        # control: the same fact-fact join WITHOUT the layout shuffles
        ctrl = _plan(li.join(orders, li.l_orderkey == orders.o_orderkey))
        assert "Exchange hashpartitioning" in ctrl
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_window_join_broadcast_right(spark):
    from go_streaming_spark.engine import Engine
    from go_streaming_spark.events import to_events
    from go_streaming_spark.operators.joins import window_join
    from go_streaming_spark.operators.windows import TemporalWindow

    eng = Engine(spark, sf_dir=SF_DIR)
    raw = eng.stream("events")
    mk = lambda t: to_events(
        raw.filter(F.col("event_type") == t),
        value=["user_id", "event_id"], event_time="ts", seq="event_id",
    )
    j = window_join(
        mk("signup"), mk("purchase"), "user_id", TemporalWindow("1 hour"),
        broadcast_right=True,
    )
    assert "BroadcastHashJoin" in _plan(j)

def test_big_order_single_shuffle_broadcast_joins(spark):
    # HAVING reduces orders to a tiny set → both enrichment joins must
    # broadcast; the orderkey aggregation is the only exchange
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["big_order_customers"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") == 2
    assert "partial_sum" in plan


def test_scalar_subquery_broadcasts(spark):
    # the 1-row global aggregate joins via broadcast, never a shuffle
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["above_avg_balance_by_nation"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross join
    assert "BroadcastHashJoin" in plan        # nation dimension
    assert plan.count("Exchange hashpartitioning") == 1  # final groupBy only


def test_sole_return_no_expand_no_self_join_explosion(spark):
    # the EXISTS/NOT-EXISTS pair must NOT plan as correlated self-joins or
    # a multi-distinct Expand: two-level agg + one equi-join + broadcast
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["sole_return_suppliers"](spark, SF_DIR)
    plan = _plan(df)
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # supplier


def test_big_order_customers_broadcasts_derived_side(spark):
    """Q18 shape: the HAVING-filtered aggregate (tiny forever, even at
    100 TB) must be the BUILD side of both joins — never orders/customer,
    which only fit a broadcast at test scale."""
    import re

    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["big_order_customers"](spark, SF_DIR)
    plan = _plan(df)
    joins = re.findall(r"BroadcastHashJoin .*?(BuildLeft|BuildRight)", plan)
    assert joins and all(side == "BuildLeft" for side in joins), plan


def test_pack_sequences_single_shuffle_no_global_sort(spark):
    """Bucketed cumsum packing: exactly one hash exchange (the bucket
    partition), and no single-partition/global Exchange — the property that
    keeps packing parallel at 100 TB."""
    import go_streaming_spark.queries_llm  # noqa: F401

    df = QUERIES["pack_sequences"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_multimodal_decode_narrow_projection_no_shuffle(spark):
    """Real header decode: the Python stage receives ONLY (id, payload) —
    no other document column may cross into mapInPandas — and the whole
    decode is map-only (zero exchanges): at 100 TB every extra projected
    column pays Arrow serialization per row."""
    import go_streaming_spark.queries_llm  # noqa: F401

    df = QUERIES["multimodal_features"](spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange hashpartitioning" not in plan, plan
    import re

    m = re.search(r"MapInPandas ([^\n]*)", plan)
    assert m is not None, plan
    assert "text" not in m.group(1) and "lang" not in m.group(1), m.group(0)


def test_normalized_dedup_digest_width_shuffle(spark):
    """Canonical-form dedup: the one exchange is digest-keyed — neither the
    raw text nor the normalized text column may reach the shuffle."""
    import re

    import go_streaming_spark.queries_llm  # noqa: F401

    df = QUERIES["dedup_normalized_exact"](spark, SF_DIR)
    plan = _plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1) and "_norm" not in m.group(1), m.group(0)


def test_incremental_dedup_shuffles_digests_not_documents(spark):
    """Delta-vs-corpus dedup: every exchange row must be digest-width —
    the text column may never reach a shuffle."""
    import re

    import go_streaming_spark.queries_llm  # noqa: F401

    df = QUERIES["dedup_incremental_exact"](spark, SF_DIR)
    plan = _plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    # and the join itself is digest-keyed anti semantics
    assert "LeftAnti" in plan, plan


def test_sf_growing_dims_broadcast_via_aqe_not_pinned_hint(spark):
    """The r7 scale deduction: customer/part/supplier are SF-proportional
    (15B/20B/1B rows at ~100 TB), so a pinned F.broadcast hint on them is
    an executor OOM at the design point.  The hints are gone — this test
    proves AQE still picks BroadcastHashJoin for them AT BENCH SCALE from
    runtime size stats, so de-pinning costs nothing where it's safe."""
    import go_streaming_spark.queries_ext  # noqa: F401

    for name in ("star_join_agg",        # customer join
                 "nation_pair_volume",   # supplier + customer joins
                 "promo_revenue_pct"):   # part join
        df = QUERIES[name](spark, "/root/testdata/sf0.1")
        df.collect()  # materialize so AQE re-plans from runtime stats
        plan = _plan(df)
        assert "isFinalPlan=true" in plan, name
        assert "BroadcastHashJoin" in plan, (name, plan[:2000])


def test_shipping_priority_pushed_filters_and_take_ordered(spark):
    """Q3 shape: segment/date filters reach their scans; top-10 plans as
    TakeOrderedAndProject (no global sort materialization)."""
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["shipping_priority_topn"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("PushedFilters: [IsNotNull") >= 2 or "GreaterThan" in plan


def test_dormant_customers_anti_join_no_division(spark):
    """Q22 shape: the average compare is a cross-multiply (no division
    node — the boundary can't diverge between engines) and the no-recent-
    orders predicate is a real anti-join, not a correlated subquery."""
    import go_streaming_spark.queries_ext  # noqa: F401

    df = QUERIES["dormant_rich_customers"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "LeftAnti" in plan
    opt = _optimized(df)
    assert "divide" not in opt.lower()


def test_estimated_splits_match_rdd_partitions(spark):
    """`spread()`'s plan-level split estimate must reproduce Spark's real
    FilePartition packing (the thing `df.rdd.getNumPartitions()` reported
    before r12 retired the per-call plan→RDD conversion), including the
    multi-split large-file case and derived frames."""
    from go_streaming_spark.functions.util import _estimated_input_splits

    cases = [
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet"),  # 3 splits
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("value") > 0)
        .select("event_id"),
    ]
    for df in cases:
        assert _estimated_input_splits(df) == df.rdd.getNumPartitions()
    # non-scan-rooted frames (in-memory, checkpointed): no estimate —
    # spread() passes them through with their materialized partitioning
    mem = spark.createDataFrame([(1,)], "a int")
    assert _estimated_input_splits(mem) is None
    ck = spark.read.parquet(f"{SF_DIR}/region.parquet").localCheckpoint()
    assert _estimated_input_splits(ck) is None


def test_spread_repartitions_small_input_passes_large(spark):
    """spread() must widen a one-split scan to cluster parallelism and
    return large-enough inputs UNTOUCHED (no round-robin Exchange — at
    100 TB an unconditional repartition would be a full-data shuffle)."""
    from go_streaming_spark.functions.util import spread

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    widened = spread(docs, min_partitions=4)
    assert "RoundRobinPartitioning" in _plan(widened)
    assert widened.rdd.getNumPartitions() == 4
    untouched = spread(docs, min_partitions=1)
    assert untouched is docs


def test_bucketed_index_ingest_join_no_index_exchange(spark):
    """A MinHashIndex persisted via save_bucketed must let the per-batch
    ingest candidate join read the corpus-scale band index IN PLACE.

    The ingest path broadcasts every batch-derived frame (bounded-batch
    contract), so the corpus index is scanned map-side and the result
    agrees across the bucketed and plain-parquet layouts.  In a shuffle
    candidate join (the shape a streaming batch takes), the bucketed
    index side reads in place: only the batch side shuffles."""
    import shutil

    from go_streaming_spark.functions import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    idx = dedup.build_minhash_index(corpus, "doc_id", "text")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small-side AUTO-broadcast would mask the fact-fact (100 TB)
        # shape of the isolated shuffle candidate join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        idx.save_bucketed("mh_idx_t", n_buckets=8)
        loaded = dedup.MinHashIndex.load_bucketed(spark, "mh_idx_t")
        assert (loaded.n, loaded.k, loaded.rows_per_band) == (
            idx.n, idx.k, idx.rows_per_band
        )
        # broadcast path: results agree across layouts, and the isolated
        # candidate join is EXCHANGE-FREE (batch bands broadcast into the
        # in-place index scan)
        bucketed_bc = dedup.dedup_against_index(
            batch, loaded, "doc_id", "text", 0.5
        )
        expected = {r.doc_id for r in bucketed_bc.collect()}
        plain = dedup.dedup_against_index(batch, idx, "doc_id", "text", 0.5)
        assert {r.doc_id for r in plain.collect()} == expected
        from go_streaming_spark.functions.dedup import (
            band_keys,
            minhash_signatures_wide,
        )

        bands_new = band_keys(
            minhash_signatures_wide(batch, "doc_id", "text", 3, 16), 16, 4
        )
        bands_bc = bands_new.select(F.col("id").alias("id_a"), "band", "band_key")
        cand_bc = F.broadcast(bands_bc).join(
            loaded.bands, ["band", "band_key"]
        )
        assert _plan(cand_bc).count("Exchange hashpartitioning") == 0, (
            _plan(cand_bc)
        )
        # the candidate join in isolation: batch side shuffles, the
        # corpus-scale index side reads in place — exactly ONE exchange
        cand = bands_new.join(loaded.bands, ["band", "band_key"])
        cand_plan = _plan(cand)
        assert cand_plan.count("Exchange hashpartitioning") == 1, cand_plan
        assert "Bucketed: true" in cand_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql("DROP TABLE IF EXISTS mh_idx_t_bands")
        spark.sql("DROP TABLE IF EXISTS mh_idx_t_shingles")
        spark.sql("DROP TABLE IF EXISTS mh_idx_t_params")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def _assert_probe_prunes(spark, path, qv):
    """The two halves of "a probe reads only its nprobe cells" on a
    save_ivf_index layout: the Spark scan a non-local root runs plans
    the cell filter as PartitionFilters on the cluster column, and the
    local probe, which has no scan plan, still answers once every
    non-probed cell's part files are garbage, so it never opens them.
    Returns the local probe's rows."""
    import glob

    from go_streaming_spark.functions import similarity

    rows, _ = similarity._ivf_layout(spark, path, "label")
    scan = similarity._ivf_scan_topk(
        spark.read.parquet(f"{path}/vectors"), "vec_id", "embedding", "label",
        rows, qv, 10, 2,
    )
    plan = _plan(scan)
    part = plan.split("PartitionFilters: [", 1)
    assert len(part) == 2, plan
    assert part[1].lstrip().startswith("label#") and " IN (" in part[1][:200], plan
    probed = {c for c, _ in similarity._rank_cells(rows, qv)[:2]}
    spoiled = [
        f for c, _ in rows if c not in probed
        for f in glob.glob(f"{path}/vectors/label={c}/part-*")
    ]
    assert spoiled
    for f in spoiled:
        with open(f, "wb") as fh:
            fh.write(b"not parquet")
    out = similarity.ivf_pruned_topk(
        spark, path, "vec_id", "embedding", "label", qv, k=10, nprobe=2
    )
    return [tuple(r) for r in out.collect()]


def test_ivf_pruned_index_scan(spark, tmp_path):
    """ivf_pruned_topk over a save_ivf_index layout reads only the
    probed inverted lists (_assert_probe_prunes) and returns exactly
    the in-memory ivf_topk result."""
    from go_streaming_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(corpus, "vec_id", "embedding", "label", cent, path)
    got = _assert_probe_prunes(spark, path, qv)
    mem = similarity.ivf_topk(
        corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=2
    )
    assert got == [tuple(r) for r in mem.collect()]


def test_ivf_append_matches_rebuild(spark, tmp_path):
    """append_ivf_vectors lands new vectors inside their cluster
    partitions: a pruned query over (seed + appended) equals ivf_topk
    over the unioned corpus with the same centroids — and the probe
    still reads only its cells (_assert_probe_prunes)."""
    from go_streaming_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    seed = corpus.filter(F.col("vec_id") % 2 == 0)
    batch = corpus.filter(F.col("vec_id") % 2 == 1)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(seed, "vec_id", "embedding", "label", cent, path)
    similarity.append_ivf_vectors(batch, "vec_id", "embedding", "label", path)
    got = _assert_probe_prunes(spark, path, qv)
    mem = similarity.ivf_topk(
        corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=2
    )
    assert got == [tuple(r) for r in mem.collect()]


def test_ivf_write_one_file_per_cluster(spark, tmp_path):
    """save_ivf_index must produce ONE part file per cluster directory
    (the frame is clustered on the partition column before the write) —
    unclustered, every input partition spills a file into every cluster
    dir and the file count compounds tasks × clusters per snapshot."""
    import glob

    from go_streaming_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") != 0).repartition(8)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(corpus, "vec_id", "embedding", "label", cent, path)
    for d in glob.glob(f"{path}/vectors/label=*"):
        parts = glob.glob(f"{d}/part-*.parquet")
        assert len(parts) == 1, (d, parts)


def test_ivf_cell_stats_flags_skewed_appends(spark, tmp_path):
    """append_ivf_vectors never re-clusters, so a drifting ingest stream
    concentrates into few cells and probe cost quietly grows: the cell
    audit must report exact per-list counts/ratios, stay healthy on the
    balanced seed, and flip ivf_needs_rebuild after a skewed append
    sequence piles everything into one cell."""
    from go_streaming_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(corpus, "vec_id", "embedding", "label", cent, path)

    stats = {
        r["cluster"]: r
        for r in similarity.ivf_cell_stats(spark, path, "label").collect()
    }
    truth = {
        r["label"]: r["n"]
        for r in corpus.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert {c: s["n_rows"] for c, s in stats.items()} == truth
    assert abs(sum(s["share"] for s in stats.values()) - 1.0) < 1e-4
    assert not similarity.ivf_needs_rebuild(spark, path, "label")

    # skewed append sequence: every batch lands in cluster 0
    hot = corpus.limit(200).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        F.lit(sorted(truth)[0]).alias("label"),
    )
    for i in range(3):
        similarity.append_ivf_vectors(
            hot.withColumn("vec_id", F.col("vec_id") + i * 10_000),
            "vec_id", "embedding", "label", path,
        )
    after = {
        r["cluster"]: r
        for r in similarity.ivf_cell_stats(spark, path, "label").collect()
    }
    hot_label = sorted(truth)[0]
    assert after[hot_label]["n_rows"] == truth[hot_label] + 600
    assert (
        after[hot_label]["ratio_to_mean"] > stats[hot_label]["ratio_to_mean"]
    )
    assert similarity.ivf_needs_rebuild(spark, path, "label", max_ratio=2.0)


def test_ivf_rebuild_restores_balance_and_recall(spark, tmp_path):
    """Closing the audit loop: after skewed appends flip
    ivf_needs_rebuild, rebuild_ivf_index re-trains centroids and
    rewrites the layout — the rebuilt index must (a) answer a full
    probe (nprobe=k) EXACTLY like brute-force cosine over the same
    vectors (no vector lost or duplicated in the rewrite), and (b) cut
    the worst cell ratio the skew created."""
    from go_streaming_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(corpus, "vec_id", "embedding", "label", cent, path)
    hot = corpus.limit(150).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        F.lit(0).alias("label"),
    )
    for i in range(2):
        similarity.append_ivf_vectors(
            hot.withColumn("vec_id", F.col("vec_id") + i * 10_000),
            "vec_id", "embedding", "label", path,
        )
    assert similarity.ivf_needs_rebuild(spark, path, "label", max_ratio=2.0)
    worst_before = (
        similarity.ivf_cell_stats(spark, path, "label")
        .agg(F.max("ratio_to_mean")).head()[0]
    )

    out = str(tmp_path / "ivf2")
    similarity.rebuild_ivf_index(
        spark, path, out, "vec_id", "embedding", "label", k=10, iters=3
    )
    worst_after = (
        similarity.ivf_cell_stats(spark, out, "label")
        .agg(F.max("ratio_to_mean")).head()[0]
    )
    assert worst_after < worst_before

    # full probe over the rebuilt layout == brute force over its vectors
    allv = spark.read.parquet(f"{path}/vectors")
    brute = similarity.cosine_topk(allv, "vec_id", "embedding", qv, 10)
    pruned = similarity.ivf_pruned_topk(
        spark, out, "vec_id", "embedding", "label", qv, k=10, nprobe=10
    )
    assert (
        [tuple(r) for r in pruned.collect()]
        == [tuple(r) for r in brute.collect()]
    )

    # rebuild is row-count-preserving even when an id repeats in the
    # layout (append takes no uniqueness responsibility): the map-only
    # assignment emits one row per INPUT row — a join back on id would
    # square the duplicates
    dup_batch = allv.limit(1)
    similarity.append_ivf_vectors(
        dup_batch, "vec_id", "embedding", "label", path
    )
    n_in = allv.count() + 1
    out2 = str(tmp_path / "ivf3")
    similarity.rebuild_ivf_index(
        spark, path, out2, "vec_id", "embedding", "label", k=10, iters=1
    )
    assert spark.read.parquet(f"{out2}/vectors").count() == n_in


def test_spread_widens_narrow_checkpointed_frames(spark):
    """Checkpointed frames use their REAL partition count: AQE can
    coalesce a shuffle to ONE partition before a localCheckpoint
    (measured on the ingest-survivors frame), and spread() must widen
    that before a heavy stage — while a checkpoint that is already wide
    passes through untouched."""
    from go_streaming_spark.functions.util import spread

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    narrow = docs.repartition(2).localCheckpoint()
    assert spread(narrow, min_partitions=8).rdd.getNumPartitions() == 8
    wide = docs.repartition(8).localCheckpoint()
    assert spread(wide, min_partitions=8) is wide


def test_spread_widens_shuffle_rooted_frames(spark):
    """An aggregate over a scan still reports the scan's inputFiles(),
    but its partitioning is the SHUFFLE's, not the scan's: the
    file-split estimate must not speak for it (_is_scan_rooted False).
    spread() sizes such LAZY frames by the static shuffle width —
    calling .rdd would EXECUTE the whole frame under AQE just to read
    a partition count — so with conf >= target the frame passes through
    untouched, and a target above the conf width forces the widening."""
    from go_streaming_spark.functions.util import (
        _is_scan_rooted,
        spread,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    agg = docs.groupBy("lang").agg(F.count("*").alias("n"))
    assert agg.inputFiles()  # the trap: files visible, partitioning not the scan's
    assert not _is_scan_rooted(agg)
    narrow_chain = docs.select("doc_id", "lang").filter("n_chars >= 0")
    assert _is_scan_rooted(narrow_chain)
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert spread(agg, min_partitions=conf_width) is agg  # no .rdd, no shuffle
    widened = spread(agg, min_partitions=conf_width + 8)
    assert widened.rdd.getNumPartitions() == conf_width + 8


def test_spread_reads_explicit_repartition_width_from_plan(spark):
    """An explicit repartition(n)/coalesce(n) root is plan-static: its
    numPartitions is readable from the optimized plan without executing
    anything, so a deliberately NARROWED frame (coalesce(1) before a
    compute-heavy stage) must be widened by spread() instead of
    reporting the static shuffle width and silently passing through."""
    from go_streaming_spark.functions.util import (
        _static_repartition_width,
        spread,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert _static_repartition_width(docs.repartition(2)) == 2
    assert _static_repartition_width(docs.coalesce(1)) == 1
    # narrow nodes above the Repartition preserve its width
    assert (
        _static_repartition_width(
            docs.repartition(2).select("doc_id", "lang")
        )
        == 2
    )
    # keyed repartition with an explicit count is plan-static too
    assert _static_repartition_width(docs.repartition(3, F.col("lang"))) == 3
    # AQE-sized shuffles stay None (the default_buckets fallback)
    assert (
        _static_repartition_width(docs.groupBy("lang").count()) is None
    )
    # target == conf width: the default_buckets fallback would report
    # "already wide enough" and pass the 1-partition frame through —
    # the plan-static read is what makes this widen
    conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert (
        spread(docs.coalesce(1), min_partitions=conf_width)
        .rdd.getNumPartitions()
        == conf_width
    )


def test_split_estimate_zero_open_cost_terminates(spark, tmp_path):
    """spark.sql.files.openCostInBytes=0 is a legal conf; with total
    bytes < defaultParallelism the split size computed to 0 and the
    chunking loop never terminated — it must clamp to >= 1."""
    from go_streaming_spark.functions.util import _estimated_input_splits

    p = tmp_path / "tiny.txt"
    p.write_text("x\n")
    old = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        est = _estimated_input_splits(spark.read.text(str(tmp_path)))
        assert est is not None and est >= 1  # terminated, sane
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_default_buckets_falls_back_on_non_numeric_conf(spark):
    """spark.sql.shuffle.partitions is legally "auto" on AQE-auto
    platforms; the bucketed-writer default must fall back to cluster
    parallelism instead of raising ValueError."""
    from go_streaming_spark.functions.util import default_buckets

    assert default_buckets(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    class _Conf:
        def get(self, k):
            return "auto"

    class _SC:
        defaultParallelism = 7

    class _Fake:
        conf = _Conf()
        sparkContext = _SC()

    assert default_buckets(_Fake()) == 7
