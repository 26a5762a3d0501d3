"""Property-based tests for window-membership arithmetic.

The reference's selection-policy semantics (`pkg/events/selection_policy.go`)
are specified procedurally (buffer + fire conditions); temporal windows are
assigned by Spark's native ``F.window`` (one path for batch and streams) and
counting windows by closed-form int64 arithmetic.  These tests check both
against a direct Python model over randomized policies and event times —
tumbling, sliding (overlap), sampling (gaps), counting windows with
shift </=/> n, and origin alignment.
"""

from __future__ import annotations

from fractions import Fraction

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from go_streaming_spark.operators.windows import (
    CountingWindow,
    TemporalWindow,
    assign_counting_windows,
    assign_temporal_windows,
)

US = 1_000_000


def model_temporal_windows(off_us: int, length: int, shift: int) -> set[int]:
    """All window ids w with w*shift <= off < w*shift + length.  With no
    origin the grid extends below the epoch: w may be negative (floor
    semantics — the round-1 `div`-truncation bug mis-assigned these)."""
    w_max = off_us // shift  # Python // floors, negative offsets included
    wins = set()
    w = w_max
    while w * shift + length > off_us:
        if w * shift <= off_us:
            wins.add(w)
        w -= 1
    return wins


def model_counting_windows(seq: int, n: int, shift: int) -> set[int]:
    """All window ids w >= 0 whose span [w*shift, w*shift+n) contains seq
    (arrival indexes are dense from 0; window 0 starts at the first event)."""
    return {w for w in model_temporal_windows(seq, n, shift) if w >= 0}


@settings(max_examples=12, deadline=None)
@given(
    lengths=st.integers(min_value=1, max_value=3600),
    shift_frac=st.fractions(min_value="1/4", max_value=4),
    offsets=st.lists(
        st.integers(min_value=-7200 * US, max_value=7200 * US),
        min_size=1,
        max_size=24,
    ),
    origin=st.one_of(st.none(), st.integers(min_value=-3600 * US, max_value=3600 * US)),
)
# sliding with an origin: t=9 s also falls in the pre-origin window [2, 12)
@example(
    lengths=10, shift_frac=Fraction(1, 2),
    offsets=[3 * US, 7 * US, 9 * US, 13 * US, 16 * US], origin=7 * US,
)
def test_temporal_membership_matches_model(spark, lengths, shift_frac, offsets, origin):
    """With an origin, events before it are dropped and window 0 starts at
    it: no window may start before the origin (sliding policies included)."""
    import datetime as dt

    length = lengths * US
    shift = max(1, int(length * shift_frac))
    origin_iso = None
    if origin is not None:
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        origin_iso = (epoch + dt.timedelta(microseconds=origin)).isoformat()
    policy = TemporalWindow(
        f"{length} microseconds", f"{shift} microseconds", origin_iso
    )
    base = origin or 0
    df = spark.createDataFrame(
        [(i, o) for i, o in enumerate(offsets)], "seq long, off long"
    ).select("seq", F.timestamp_micros(F.col("off")).alias("event_start"))
    out = assign_temporal_windows(df, policy)
    got = {}
    for r in out.select(
        "seq", F.unix_micros("window_start").alias("ws"),
        F.unix_micros("window_end").alias("we"),
    ).collect():
        assert r.we - r.ws == length
        assert (r.ws - base) % shift == 0
        assert origin is None or r.ws >= origin
        got.setdefault(r.seq, set()).add((r.ws - base) // shift)
    for i, o in enumerate(offsets):
        want = model_temporal_windows(o - base, length, shift)
        if origin is not None:
            want = {w for w in want if w >= 0} if o >= origin else set()
        assert got.get(i, set()) == want, (
            f"off={o} length={length} shift={shift} origin={origin}"
        )


@settings(max_examples=12, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=20),
    shift=st.integers(min_value=1, max_value=40),
    count=st.integers(min_value=1, max_value=60),
)
def test_counting_membership_matches_model(spark, n, shift, count):
    policy = CountingWindow(n, shift)
    df = spark.createDataFrame([(i,) for i in range(count)], "seq long")
    out = assign_counting_windows(df, policy)
    got = {}
    for r in out.collect():
        got.setdefault(r.seq, set()).add(r.window_id)
    for i in range(count):
        assert got.get(i, set()) == model_counting_windows(i, n, shift), (
            f"seq={i} n={n} shift={shift}"
        )


def test_temporal_origin_alignment(spark):
    # origin shifts window boundaries and drops pre-origin events
    policy = TemporalWindow("10 seconds", origin="1970-01-01T00:00:05+00:00")
    df = spark.createDataFrame(
        [(0, 3), (1, 5), (2, 14), (3, 15)], "seq long, off long"
    ).select("seq", F.timestamp_micros(F.col("off") * US).alias("event_start"))
    rows = assign_temporal_windows(df, policy).select(
        "seq", F.unix_micros("window_start").alias("ws")
    ).collect()
    got = {r.seq: r.ws // US for r in rows}
    # t=3 dropped (pre-origin); [5,15) is window 0; 15 starts the next
    assert got == {1: 5, 2: 5, 3: 15}


def test_origin_parses_to_exact_micros():
    # float seconds * 1e6 lands 1 us short here
    from go_streaming_spark.operators.windows import _origin_micros

    assert _origin_micros("2106-03-01T07:48:32.114427+00:00") == 4296872912114427


@settings(max_examples=10, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["u1", "u2", "u3"]), st.integers(0, 50)),
        min_size=1, max_size=15,
    ),
    rights=st.lists(
        st.tuples(st.sampled_from(["u1", "u2", "u3"]), st.integers(0, 50)),
        min_size=0, max_size=15,
    ),
)
def test_asof_join_matches_model(spark, lefts, rights):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k string, t long, lid long"
    )
    right = spark.createDataFrame([], "k string, t long") if not rights else (
        spark.createDataFrame(rights, "k string, t long")
    )
    out = as_of_join(
        left, right, on="k", left_time="t", right_time="t",
        right_vals={"rt": F.col("t")}, how="left",
    )
    got = {r.lid: r.rt for r in out.collect()}
    for i, (k, t) in enumerate(lefts):
        prior = [rt for rk, rt in rights if rk == k and rt <= t]
        expected = max(prior) if prior else None
        assert got.get(i) == expected, (i, k, t)


@settings(max_examples=10, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["u1", "u2"]), st.integers(-40, 40)),
        min_size=1, max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.sampled_from(["u1", "u2"]), st.integers(-40, 40)),
        min_size=0, max_size=12,
    ),
    tol=st.integers(0, 30),
)
def test_asof_forward_tolerance_matches_model(spark, lefts, rights, tol):
    from go_streaming_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k string, t long, lid long"
    )
    right = spark.createDataFrame([], "k string, t long") if not rights else (
        spark.createDataFrame(rights, "k string, t long")
    )
    out = as_of_join(
        left, right, on="k", left_time="t", right_time="t",
        right_vals={"rt": F.col("t")}, how="left",
        direction="forward", tolerance=tol,
    )
    got = {r.lid: r.rt for r in out.collect()}
    for i, (k, t) in enumerate(lefts):
        nxt = [rt for rk, rt in rights if rk == k and rt >= t]
        expected = min(nxt) if nxt and min(nxt) - t <= tol else None
        assert got.get(i) == expected, (i, k, t, tol)


@settings(max_examples=10, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.sampled_from(["u1", "u2"]), st.integers(-60, 60)),
        min_size=1, max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.sampled_from(["u1", "u2"]), st.integers(-60, 60)),
        min_size=0, max_size=12,
    ),
    bounds=st.tuples(st.integers(-20, 20), st.integers(1, 25)),
)
def test_interval_join_matches_model(spark, lefts, rights, bounds):
    """Bucketed range join == brute-force pairs (negative times and negative
    lower bounds included — exercises the floor-division bucket ids)."""
    from go_streaming_spark.operators.joins import interval_join

    lower, width = bounds
    upper = lower + width
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], "k string, t long, lid long"
    )
    right = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(rights)], "k string, t long, rid long"
    ) if rights else spark.createDataFrame([], "k string, t long, rid long")
    out = interval_join(
        left, right, on="k", left_time="t", right_time="t",
        lower=lower, upper=upper,
    )
    got = {(r.lid, r.r_rid) for r in out.collect()}
    expected = {
        (i, j)
        for i, (lk, lt) in enumerate(lefts)
        for j, (rk, rt) in enumerate(rights)
        if lk == rk and lower <= rt - lt < upper
    }
    assert got == expected, (lower, upper)


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(lambda e: e[0] != e[1]),
        min_size=1, max_size=25,
    ),
    as_strings=st.booleans(),
)
@example(edges=[(9, 10), (10, 2)], as_strings=True)
def test_connected_components_matches_union_find(spark, edges, as_strings):
    """Min-label propagation == union-find ground truth (includes long
    paths, cycles, and multi-component graphs), on long ids and on
    string ids, whose order is not their numbers' ("n10" < "n2")."""
    from go_streaming_spark.functions.graph import connected_components

    id_type = "long"
    if as_strings:
        edges, id_type = [(f"n{a}", f"n{b}") for a, b in edges], "string"
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    got = {r.node: r.component for r in connected_components(df).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=3, max_size=10),
        min_size=2, max_size=8,
    ),
)
def test_jaccard_pairs_matches_model(spark, docs):
    from go_streaming_spark.functions.dedup import jaccard_pairs

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.0)
    got = {(r.id_a, r.id_b): (r.n_common, round(r.jaccard, 9)) for r in out.collect()}

    def shingles(ws):
        return {" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)}

    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            si, sj = shingles(docs[i]), shingles(docs[j])
            inter = len(si & sj)
            if inter:
                expected[(i, j)] = (inter, round(inter / len(si | sj), 9))
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 120)), min_size=1, max_size=10
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 120)), min_size=1, max_size=10
    ),
    length_s=st.integers(min_value=10, max_value=60),
)
def test_window_join_matches_model(spark, lefts, rights, length_s):
    """Tumbling window join == brute force: pairs with equal key whose times
    fall in the same window bucket (duplicate keys -> cross products)."""
    from go_streaming_spark.events import to_events
    from go_streaming_spark.operators.joins import window_join
    from go_streaming_spark.operators.windows import TemporalWindow

    def mk(rows):
        df = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(rows)], "seq long, k long, t long"
        ).select(
            "seq", F.timestamp_micros(F.col("t") * US).alias("ts"), "k", "t"
        )
        return to_events(df, value=["k", "seq"], event_time="ts", seq="seq")

    out = window_join(
        mk(lefts), mk(rights), "k", TemporalWindow(f"{length_s} seconds")
    )
    got = sorted(
        (r["value"]["l"]["seq"], r["value"]["r"]["seq"]) for r in out.collect()
    )
    expected = sorted(
        (i, j)
        for i, (lk, lt) in enumerate(lefts)
        for j, (rk, rt) in enumerate(rights)
        if lk == rk and lt // length_s == rt // length_s
    )
    assert got == expected
