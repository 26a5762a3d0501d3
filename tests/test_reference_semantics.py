"""Golden tests mirroring the reference's operator-level suites
(pkg/processing/default_operators_test.go, operators_test.go,
pkg/events/selection_policy_test.go) on small deterministic inputs.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from go_streaming_spark import operators as ops
from go_streaming_spark.events import to_events
from go_streaming_spark.operators.joins import window_join
from go_streaming_spark.operators.windows import CountingWindow, TemporalWindow

BASE = dt.datetime(2024, 1, 1)


def _int_stream(spark, values):
    rows = [
        Row(seq=i, ts=BASE + dt.timedelta(milliseconds=100 * i), v=v)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows)
    return to_events(df, value="v", event_time="ts", seq="seq")


def test_filter_golden(spark):
    # default_operators_test.go:28-60: evens of 1..5 → [2, 4]
    out = ops.even()(_int_stream(spark, [1, 2, 3, 4, 5]))
    assert [r.value for r in out.orderBy("seq").collect()] == [2, 4]


def test_even_float_truncation(spark):
    # default_operators_test.go:117-143: floats truncate toward zero
    rows = [Row(seq=i, v=v) for i, v in enumerate([1.5, 2.1, 3.9, 4.9])]
    env = to_events(spark.createDataFrame(rows), value="v", seq="seq")
    out = ops.even()(env)
    assert [r.value for r in out.orderBy("seq").collect()] == [2.1, 4.9]


def test_limit_golden(spark):
    # default_filter_operators.go:55-67: first n in arrival order
    out = ops.limit(3)(_int_stream(spark, [10, 20, 30, 40, 50]))
    assert [r.value for r in out.orderBy("seq").collect()] == [10, 20, 30]


def test_pipeline_sum_1_to_10_is_55(spark):
    # operators_test.go:79-108: windowed sum of 1..10 == 55
    env = _int_stream(spark, list(range(1, 11)))
    agg = ops.batch_sum(TemporalWindow("1 hour"), lineage=False)(env)
    assert [r.value for r in agg.collect()] == [55]


def test_counting_window_skip_golden(spark):
    # selection_policy_test.go:67-80: size 1 shift 2 over e0..e2 → [e0], [e2]
    env = _int_stream(spark, [100, 200, 300])
    agg = ops.counting_window_agg(
        CountingWindow(1, 2), [F.sum("value").alias("value")], lineage=False
    )(env)
    got = {r.window_id: r.value for r in agg.collect()}
    assert got == {0: 100, 1: 300}


def test_counting_window_overlap(spark):
    # selection_policy_test.go:30-66: size 2 shift 1 over 1..4 → 3,5,7
    env = _int_stream(spark, [1, 2, 3, 4])
    agg = ops.counting_window_agg(
        CountingWindow(2, 1), [F.sum("value").alias("value")], lineage=False
    )(env)
    got = [r.value for r in agg.orderBy("window_id").collect()]
    assert got == [3, 5, 7]


def test_temporal_boundary_belongs_to_next_window(spark):
    # selection_policy_test.go:202-232: event exactly at window end → next
    rows = [
        Row(seq=0, ts=BASE, v=1),
        Row(seq=1, ts=BASE + dt.timedelta(seconds=59), v=2),
        Row(seq=2, ts=BASE + dt.timedelta(seconds=60), v=4),
    ]
    env = to_events(spark.createDataFrame(rows), value="v", event_time="ts", seq="seq")
    agg = ops.batch_sum(TemporalWindow("1 minute"), lineage=False)(env)
    got = {r.window_start: r.value for r in agg.collect()}
    assert got == {BASE: 3, BASE + dt.timedelta(seconds=60): 4}


def test_window_origin_drops_early_events(spark):
    # selection_policy.go:587-589: events before WindowStart are dropped
    rows = [Row(seq=0, ts=BASE - dt.timedelta(seconds=1), v=1), Row(seq=1, ts=BASE, v=2)]
    env = to_events(spark.createDataFrame(rows), value="v", event_time="ts", seq="seq")
    agg = ops.batch_sum(
        TemporalWindow("1 minute", origin="2024-01-01 00:00:00"), lineage=False
    )(env)
    assert [r.value for r in agg.collect()] == [2]


def _map_stream(spark, rows_in):
    rows = [
        Row(seq=i, ts=BASE + dt.timedelta(milliseconds=ms), m=m)
        for i, (ms, m) in enumerate(rows_in)
    ]
    df = spark.createDataFrame(rows)
    return to_events(
        df,
        value=F.col("m").cast("map<string,string>"),
        event_time="ts",
        seq="seq",
    )


def test_join_right_precedence_and_cross_product(spark):
    # default_operators.go:131-151: map merge right-wins; duplicate keys
    # cross-product.  Vehicle entry/exit shape (default_operators_test.go:399-483).
    left = _map_stream(
        spark, [(0, {"vehicle": "car1", "loc": "entry"}), (10, {"vehicle": "car2", "loc": "entry"})]
    )
    right = _map_stream(
        spark,
        [
            (500, {"vehicle": "car1", "loc": "exitA"}),
            (600, {"vehicle": "car1", "loc": "exitB"}),  # duplicate key
        ],
    )
    j = window_join(left, right, "vehicle", TemporalWindow("1 second"), how="inner")
    rows = j.collect()
    # car1 × {exitA, exitB} = 2 rows; car2 unmatched
    assert len(rows) == 2
    locs = sorted(r.value["loc"] for r in rows)
    assert locs == ["exitA", "exitB"]  # right value wins on collision


def test_left_join_unmatched_passthrough(spark):
    left = _map_stream(spark, [(0, {"vehicle": "car1"}), (10, {"vehicle": "car9"})])
    right = _map_stream(spark, [(500, {"vehicle": "car1", "loc": "exit"})])
    j = window_join(left, right, "vehicle", TemporalWindow("1 second"), how="left")
    got = {r.value["vehicle"]: r.value.get("loc") for r in j.collect()}
    assert got == {"car1": "exit", "car9": None}


def test_lineage_merge(spark):
    # timestamper.go:22-50: derived event spans min(start)..max(end)
    env = _int_stream(spark, [1, 2, 3])
    agg = ops.batch_sum(TemporalWindow("1 hour"))(env)
    row = agg.collect()[0]
    assert row.event_start == BASE
    assert row.event_end == BASE + dt.timedelta(milliseconds=200)


def test_tokenize_golden(spark):
    # operators_test.go:397-445
    rows = [Row(seq=0, s="hello world"), Row(seq=1, s=" foo  bar ")]
    env = to_events(spark.createDataFrame(rows), value="s", seq="seq")
    out = ops.tokenize()(env)
    assert [r.value for r in out.orderBy("seq", "value").collect()] == [
        "hello", "world", "bar", "foo",
    ]


def test_map_pandas_equals_map_expr(spark):
    # map_pandas is map_expr's Arrow escape hatch: the same transform
    # gives the same events, envelope included
    from go_streaming_spark.operators.maps import map_pandas

    env = _int_stream(spark, [3, -1, 0, 7, 40])
    got = map_pandas(lambda s: s * 2 + 1, "long")(env)
    want = ops.map_expr(F.col("value") * 2 + 1)(env)
    assert got.columns == want.columns
    assert got.orderBy("seq").collect() == want.orderBy("seq").collect()


def test_flatmap_empty_output_filters(spark):
    # default_operators_test.go:244-273: FlatMap returning [] drops the event
    rows = [Row(seq=0, v=1), Row(seq=1, v=2)]
    env = to_events(spark.createDataFrame(rows), value="v", seq="seq")
    out = ops.flat_map(
        F.when(F.col("value") % 2 == 0, F.array(F.col("value"))).otherwise(F.array())
    )(env)
    assert [r.value for r in out.collect()] == [2]


def test_observe_metrics(spark):
    # Observe ≈ StreamMetrics counters (stream.go:144-195) via df.observe
    env = _int_stream(spark, [1, 2, 3])
    out = ops.observe("obs_test")(env)
    out.collect()
    # observation is attached to the plan; presence is enough here (values
    # surface via QueryListener in streaming mode)


# -- as-of join (beyond-reference operator, operators/joins.py) --------------


def test_asof_join_picks_most_recent_at_or_before(spark):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 20, "p2"), ("u2", 5, "p3")],
        "k string, t long, id string",
    )
    right = spark.createDataFrame(
        [("u1", 8, "s1"), ("u1", 15, "s2"), ("u1", 25, "s3"), ("u2", 9, "s4")],
        "k string, t long, sid string",
    )
    out = as_of_join(
        left, right, on="k", left_time="t", right_time="t",
        right_vals={"sid": F.col("sid"), "rt": F.col("t")},
    )
    got = {(r.id, r.sid, r.rt) for r in out.collect()}
    # p1@10 -> s1@8; p2@20 -> s2@15; p3@5 has no prior right row (inner drop)
    assert got == {("p1", "s1", 8), ("p2", "s2", 15)}


def test_asof_join_equal_timestamp_matches(spark):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame([("u1", 10, "p1")], "k string, t long, id string")
    right = spark.createDataFrame([("u1", 10, "s1")], "k string, t long, sid string")
    out = as_of_join(
        left, right, on="k", left_time="t", right_time="t",
        right_vals={"sid": F.col("sid")},
    )
    assert [(r.id, r.sid) for r in out.collect()] == [("p1", "s1")]


def test_asof_join_left_keeps_unmatched(spark):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame([("u1", 5, "p1")], "k string, t long, id string")
    right = spark.createDataFrame([("u1", 9, "s1")], "k string, t long, sid string")
    out = as_of_join(
        left, right, on="k", left_time="t", right_time="t",
        right_vals={"sid": F.col("sid")}, how="left",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0].id == "p1" and rows[0].sid is None


# -- empty-input robustness ---------------------------------------------------


def test_operators_on_empty_input(spark):
    from go_streaming_spark.operators.joins import as_of_join

    empty = spark.createDataFrame([], "seq long, event_start timestamp,"
                                  " event_end timestamp, meta map<string,string>,"
                                  " value double")
    assert ops.greater(1)(empty).count() == 0
    assert ops.batch_sum(TemporalWindow("1 hour"), lineage=False)(empty).count() == 0
    assert ops.counting_window_agg(
        CountingWindow(5), [F.sum("value").alias("s")], lineage=False
    )(empty).count() == 0
    left = spark.createDataFrame([("u", 5, "p")], "k string, t long, id string")
    none_right = spark.createDataFrame([], "k string, t long")
    inner = as_of_join(left, none_right, on="k", left_time="t", right_time="t",
                       right_vals={"rt": F.col("t")})
    assert inner.count() == 0
    outer = as_of_join(left, none_right, on="k", left_time="t", right_time="t",
                       right_vals={"rt": F.col("t")}, how="left")
    assert [r.id for r in outer.collect()] == ["p"]


def test_policy_config_round_trip(spark):
    # ≈ SelectionPolicyConfig JSON round-trip (selection_policy.go:322-348)
    import json

    from go_streaming_spark.operators.windows import policy_from_config

    policies = [
        TemporalWindow("1 hour"),
        TemporalWindow("10 minutes", "1 hour", "2024-01-01T00:00:00+00:00"),
        CountingWindow(100),
        CountingWindow(50, 200),
    ]
    for p in policies:
        back = policy_from_config(json.loads(json.dumps(p.to_config())))
        assert back == p


def test_lineage_meta_union(spark):
    # timestamper.go:22-50: meta union across merged events (right wins on
    # key collision under LAST_WIN, matching maps.Copy order)
    rows = [
        (0, BASE, {"a": "1"}),
        (1, BASE + dt.timedelta(milliseconds=50), {"b": "2"}),
        (2, BASE + dt.timedelta(milliseconds=100), {"a": "3", "c": "4"}),
    ]
    df = spark.createDataFrame(rows, "seq long, ts timestamp, m map<string,string>")
    env = to_events(df, value=F.lit(1), event_time="ts", seq="seq", meta=F.col("m"))
    agg = ops.windowed_agg(
        TemporalWindow("1 hour"),
        [F.count(F.lit(1)).alias("n")],
        merge_meta=True,
    )(env)
    meta = dict(agg.collect()[0].meta)
    assert meta == {"a": "3", "b": "2", "c": "4"}


def test_jaccard_hot_shingle_cap(spark):
    from go_streaming_spark.functions.dedup import jaccard_pairs

    # one shingle shared by all docs; unique tails otherwise
    rows = [(i, f"common phrase here tail{i} tail{i}x tail{i}y") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0)
    capped = jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=5
    )
    assert uncapped.count() == 45   # all pairs share "common phrase here"
    assert capped.count() == 0      # the hot shingle is dropped


def test_hot_shingle_cap_is_on_by_default(spark):
    """A stopword-bombed corpus (one 3-gram shared by >1000 docs) must NOT
    explode the pair count under the DEFAULT arguments — the d²
    single-key blowup is exactly what DEFAULT_MAX_SHINGLE_FREQ exists to
    stop at 100 TB.  Opting out (max_shingle_freq=None) restores the
    exact uncapped measure: every doc pair shares the bomb shingle."""
    from go_streaming_spark.functions.dedup import (
        DEFAULT_MAX_SHINGLE_FREQ, containment_pairs, jaccard_pairs,
    )

    d = DEFAULT_MAX_SHINGLE_FREQ + 100
    rows = [(i, f"the of and pad{i} pad{i}b") for i in range(d)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # default: the bomb shingle exceeds the cap and leaves the universe;
    # remaining shingles are unique per doc -> zero candidate pairs
    assert jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0).count() == 0
    assert (
        containment_pairs(df, "doc_id", "text", n=3, threshold=0.0).count() == 0
    )
    # opt-out: all d*(d-1)/2 pairs meet in the bomb shingle's bucket
    uncapped = jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=None
    )
    assert uncapped.count() == d * (d - 1) // 2


def test_empty_window_divergence_is_loud(spark):
    """The one intentional semantic divergence (reference emits empty
    windows, groupBy can't) must not be silent: default use warns ONCE
    per process, emit_empty=True densifies to reference parity without
    the user finding with_empty_windows by accident, emit_empty=False
    opts out silently, and the unsupported shapes reject loudly."""
    import warnings

    from go_streaming_spark.operators import windows as W

    rows = [(1, "2024-01-01 00:00:05", 1.0), (2, "2024-01-01 00:02:05", 2.0)]
    df = spark.createDataFrame(rows, "event_id long, ts string, value double")
    df = df.select(
        "event_id", F.col("ts").cast("timestamp").alias("event_start"), "value"
    )
    policy = W.TemporalWindow("1 minute")

    W._EMPTY_WINDOW_WARNED = False
    agg = [F.sum("value").alias("v")]
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        sparse = W.windowed_agg(policy, agg, lineage=False)(df)
        sparse.collect()
        W.windowed_agg(policy, agg, lineage=False)(df).collect()
    texts = [str(w.message) for w in got if "EMPTY windows" in str(w.message)]
    assert len(texts) == 1  # once per process, not per query

    dense = (
        W.windowed_agg(
            policy, agg, lineage=False, emit_empty=True, empty_fill={"v": 0.0}
        )(df)
        .orderBy("window_start")
        .collect()
    )
    assert [r["v"] for r in dense] == [1.0, 0.0, 2.0]  # the gap minute emits
    assert sparse.count() == 2

    with pytest.raises(ValueError, match="unkeyed"):
        W.windowed_agg(policy, agg, keys=("k",), emit_empty=True)

    with warnings.catch_warnings(record=True) as got2:
        warnings.simplefilter("always")
        W._EMPTY_WINDOW_WARNED = False
        W.windowed_agg(policy, agg, lineage=False, emit_empty=False)(df).collect()
    assert not [w for w in got2 if "EMPTY windows" in str(w.message)]


def test_asof_join_forward_direction(spark):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 30, "p2")], "k string, t long, id string"
    )
    right = spark.createDataFrame(
        [("u1", 5, "s0"), ("u1", 12, "s1"), ("u1", 20, "s2")],
        "k string, t long, sid string",
    )
    out = as_of_join(
        left, right, on="k", left_time="t", right_time="t",
        right_vals={"sid": F.col("sid"), "rt": F.col("t")},
        how="left", direction="forward",
    )
    got = {r.id: (r.sid, r.rt) for r in out.collect()}
    # p1@10 -> earliest right at/after 10 = s1@12; p2@30 -> none
    assert got == {"p1": ("s1", 12), "p2": (None, None)}


def test_window_join_multi_key(spark):
    # composite join keys: (user_id, day) must both match
    mk = lambda rows: to_events(
        spark.createDataFrame(rows, "seq long, ts timestamp, user_id long, day string"),
        value=["user_id", "day", "seq"], event_time="ts", seq="seq",
    )
    t0 = dt.datetime(2024, 1, 1, 0, 30)
    left = mk([(1, t0, 7, "mon"), (2, t0, 7, "tue")])
    right = mk([(10, t0, 7, "mon"), (11, t0, 8, "mon")])
    out = window_join(left, right, ["user_id", "day"], TemporalWindow("1 hour"))
    got = [(r["value"]["l"]["seq"], r["value"]["r"]["seq"]) for r in out.collect()]
    assert got == [(1, 10)]


def test_asof_join_multi_key(spark):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [("u1", "x", 10, "p1"), ("u1", "y", 10, "p2")],
        "k1 string, k2 string, t long, id string",
    )
    right = spark.createDataFrame(
        [("u1", "x", 8, "s1"), ("u1", "z", 9, "s2")],
        "k1 string, k2 string, t long, sid string",
    )
    out = as_of_join(
        left, right, on=["k1", "k2"], left_time="t", right_time="t",
        right_vals={"sid": F.col("sid")}, how="left",
    )
    got = {r.id: r.sid for r in out.collect()}
    assert got == {"p1": "s1", "p2": None}


def test_approx_aggregates_near_exact(spark):
    """The approx gate queries now self-check their sketch accuracy against
    exact twins (HLL within 5% relative; GK percentiles rank-bracketed
    ±0.01) and emit booleans the DuckDB oracle asserts true.  Pin the same
    invariant here so a bound regression fails fast in pytest too."""
    from go_streaming_spark.queries import QUERIES
    import go_streaming_spark.queries_ext  # noqa: F401

    sf = "/root/testdata/sf0.001"
    d_rows = QUERIES["approx_distinct_users"](spark, sf).collect()
    assert len(d_rows) == 5
    assert all(r.approx_within_5pct for r in d_rows), d_rows

    p_rows = QUERIES["approx_value_percentiles"](spark, sf).collect()
    assert len(p_rows) == 5
    assert all(r.p50_ok and r.p90_ok and r.p99_ok for r in p_rows), p_rows


def test_udtf_registry_over_topics(spark):
    """SURVEY §2.5/§2.6: the reference has no UDTF registry (custom
    operators fill the role); Spark gives one free — a Python UDTF
    registered once is callable from SQL over any topic, composing with
    LATERAL the way the reference composes operator stages."""
    from pyspark.sql.functions import udtf

    from go_streaming_spark.engine import Engine

    @udtf(returnType="pos int, piece string")
    class SplitWords:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(x for x in text.split() if x):
                yield i, w

    spark.udtf.register("split_words_t", SplitWords)
    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    out = eng.sql(
        "SELECT d.doc_id, s.pos, s.piece"
        " FROM documents d, LATERAL split_words_t(d.text) s"
        " WHERE d.doc_id = 0"
    ).collect()
    doc0 = (
        eng.stream("documents").filter("doc_id = 0").select("text").head()[0]
    )
    words = [w for w in doc0.split() if w]
    assert [(r.pos, r.piece) for r in sorted(out, key=lambda r: r.pos)] == list(
        enumerate(words)
    )


def test_hot_shingle_cap_boundary_matches_oracle(spark, tmp_path):
    """The default cap never TRIGGERS on gate/fuzz corpora (no shingle
    reaches 1000 docs there), so the engine's `count > cap` filter and
    the oracle's _SH_CAPPED `HAVING count(*) > 1000` are never
    differentially exercised — an off-by-one (>= vs >) would be
    invisible.  This pins the boundary: one shingle in EXACTLY 1000
    docs (kept) and one in 1001 (dropped), engine vs the capped DuckDB
    CTE, full result compare."""
    import duckdb

    from go_streaming_spark.functions.dedup import jaccard_pairs

    # docs 0..1000: "keep me now padX padXb" -> shingle "keep me now" in
    # 1001 docs (> cap, dropped).  docs 0..999 also carry "stay with us"
    # (exactly 1000 docs, == cap, kept).
    rows = []
    for i in range(1001):
        extra = " stay with us" if i < 1000 else ""
        rows.append((i, f"keep me now{extra} pad{i} pad{i}b"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pq = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(pq)

    got = sorted(
        (r.id_a, r.id_b, r.n_common, round(r.jaccard, 9))
        for r in jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0,
                               max_shingle_freq=1000).collect()
    )

    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = """WITH ws AS (SELECT doc_id,
    list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w
  FROM documents),
sh0 AS (SELECT DISTINCT doc_id AS id,
    unnest(list_transform(range(1, len(w)-1),
           i -> array_to_string(w[i:i+2],' '))) AS shingle
  FROM ws WHERE len(w) >= 3),
sh AS (SELECT id, shingle FROM sh0 WHERE shingle NOT IN
       (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 1000)),
sizes AS (SELECT id, count(*) n FROM sh GROUP BY id),
inter AS (SELECT a.id id_a, b.id id_b, count(*) n_common
          FROM sh a JOIN sh b USING(shingle) WHERE a.id < b.id GROUP BY 1,2)
SELECT id_a, id_b, n_common,
       n_common/(sa.n+sb.n-n_common) AS jaccard
FROM inter JOIN sizes sa ON id_a=sa.id JOIN sizes sb ON id_b=sb.id"""
    want = sorted(
        (a, b, n, round(j, 9)) for a, b, n, j in duck.execute(oracle).fetchall()
    )
    duck.close()
    assert got == want
    # the ==cap shingles ("stay with us" family) survive: the 1000 docs
    # that share them pair up; the >cap shingle family contributes none
    assert len(got) == 1000 * 999 // 2


def test_ams_f2_empty_input_degrades_to_null(spark):
    """ANSI-mode regression guard: on an EMPTY input the counters frame
    is empty, collect_list yields [], and an unguarded element_at(…, rank)
    raises under Spark 4's default ANSI mode — the guarded rank lookup
    must instead degrade to NULL like the old percentile() path."""
    from go_streaming_spark.functions import sketch

    df = spark.createDataFrame([], "k long")
    rows = sketch.ams_f2(df, "k", d=63).collect()
    assert len(rows) == 1 and rows[0]["f2_est"] is None


def test_exact_pair_join_candidate_budget_guard(spark):
    """The exact n-gram pair join is inherently superlinear (SCALE.md:
    5.7x work at 10x data); a 100 TB user must not reach that regime by
    accident.  Above the candidate-pair budget the join refuses with a
    pointer at the LSH scale path; None opts out; the default budget is
    far above any test corpus."""
    import pytest

    from go_streaming_spark.functions.dedup import (
        containment_pairs, jaccard_pairs,
    )

    # 40 docs sharing one shingle -> C(40,2) = 780 candidate pairs
    rows = [(i, f"common phrase here tail{i} tail{i}x") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.0,
            max_shingle_freq=None, max_candidate_pairs=100,
        )
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.0,
            max_shingle_freq=None, max_candidate_pairs=100,
        )
    # opt-out and the default budget both let the small corpus through
    n_optout = jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0,
        max_shingle_freq=None, max_candidate_pairs=None,
    ).count()
    n_default = jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=None
    ).count()
    assert n_optout == n_default == 40 * 39 // 2


def test_shingle_cap_drop_is_logged_once(spark):
    """When the default hot-shingle cap actually drops shingles, callers
    get ONE process-wide signal that the r10 default changed semantics
    and that max_shingle_freq=None opts out; corpora with no hot
    shingles stay silent."""
    import warnings

    from go_streaming_spark.functions import dedup

    hot_rows = [(i, f"the of and pad{i} pad{i}b") for i in range(20)]
    hot_df = spark.createDataFrame(hot_rows, "doc_id long, text string")
    dedup._WARNED_SHINGLE_CAP = False
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        dedup.jaccard_pairs(
            hot_df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=5
        ).count()
        dedup.jaccard_pairs(
            hot_df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=5
        ).count()
    texts = [str(w.message) for w in got if "hot-shingle cap" in str(w.message)]
    assert len(texts) == 1 and "max_shingle_freq=None" in texts[0]

    # no hot shingles -> no warning even with the flag reset
    cold_rows = [(i, f"u{i} v{i} w{i} x{i} y{i}") for i in range(10)]
    cold_df = spark.createDataFrame(cold_rows, "doc_id long, text string")
    dedup._WARNED_SHINGLE_CAP = False
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        dedup.jaccard_pairs(
            cold_df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=5
        ).count()
    assert not [w for w in got if "hot-shingle cap" in str(w.message)]


def test_empty_window_divergence_warns_on_streaming_branch(spark):
    """The one-time empty-window divergence note must fire on the
    STREAMING branch too (plan-build time, no query start needed) —
    sparse streaming windows are the same silent reference divergence
    as sparse batch windows."""
    import warnings

    from go_streaming_spark.operators import windows as W

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("timestamp").alias("event_start"),
                F.col("value").cast("double").alias("value"))
    )
    policy = W.TemporalWindow("1 minute")
    agg = [F.sum("value").alias("v")]

    W._EMPTY_WINDOW_WARNED = False
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        out = W.windowed_agg(policy, agg, lineage=False)(stream)
    assert out.isStreaming
    texts = [str(w.message) for w in got if "EMPTY windows" in str(w.message)]
    assert len(texts) == 1

    # emit_empty=False opts out silently on the streaming branch too
    W._EMPTY_WINDOW_WARNED = False
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        W.windowed_agg(policy, agg, lineage=False, emit_empty=False)(stream)
    assert not [w for w in got if "EMPTY windows" in str(w.message)]
