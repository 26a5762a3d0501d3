"""Window / selection policies and windowed batch aggregation.

Reference policies (`pkg/events/selection_policy.go`):

- ``CountingWindowPolicy(n, shift)`` — count-based window of n events sliding
  by shift over *arrival order*; ``shift<n`` overlap, ``==n`` tumbling,
  ``>n`` skip (`selection_policy.go:123-176`).
- ``TemporalWindowPolicy(start, length, shift)`` — event-time window,
  half-open ``[start, start+length)``; the boundary event belongs to the next
  window; events before the initial start are dropped; zero allowed lateness
  (`selection_policy.go:178-215,583-596`).

Spark-first realization: temporal membership is Spark's native
``F.window`` behind a zero-lateness watermark, on batch and streaming frames
alike — the state store needs the window's event-time metadata for
eviction, and a batch frame ignores the watermark, so one assignment serves
both.  Overlapping windows explode each row into its ``length/shift`` member
windows (bounded fan-out).  Counting membership is pure int64 arithmetic on
the dense ``seq`` column — shuffle only for the final groupBy on the window
id, and trivially mirrored by the DuckDB oracle.

Known divergence (documented in SURVEY.md §7): the reference emits *empty*
windows (`selection_policy_test.go:146-201`); a groupBy cannot produce groups
with no rows, and at 100 TB scale enumerating empty windows is a generate-
series join the user can add explicitly.  We do not emit empty windows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_streaming_spark.events import lineage_agg
from go_streaming_spark.operators.base import Operator

_INTERVAL_UNITS = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def interval_to_micros(interval: str | int | float) -> int:
    """Parse '1 hour' / '30 minutes' / numeric-seconds into microseconds."""
    if isinstance(interval, (int, float)):
        return int(interval * 1_000_000)
    total = 0
    for num, unit in re.findall(r"(\d+(?:\.\d+)?)\s*([a-zA-Z]+)", interval):
        unit = unit.rstrip("s").lower()
        if unit not in _INTERVAL_UNITS:
            raise ValueError(f"unknown interval unit {unit!r} in {interval!r}")
        total += int(float(num) * _INTERVAL_UNITS[unit])
    if total <= 0:
        raise ValueError(f"cannot parse interval {interval!r}")
    return total


@dataclass(frozen=True)
class TemporalWindow:
    """Event-time window policy (`selection_policy.go:178-215`).

    ``length``/``shift`` are interval strings or seconds; ``shift`` defaults
    to ``length`` (tumbling).  ``origin`` is the initial window start
    (ISO timestamp string); events before it are dropped, and window
    boundaries align to it (reference ``WindowStart``).
    """

    length: str | int
    shift: str | int | None = None
    origin: str | None = None

    @property
    def length_us(self) -> int:
        return interval_to_micros(self.length)

    @property
    def shift_us(self) -> int:
        return interval_to_micros(self.shift) if self.shift is not None else self.length_us

    @property
    def overlapping(self) -> bool:
        return self.shift_us < self.length_us


    def to_config(self) -> dict:
        """JSON-serializable policy config (≈ ``SelectionPolicyConfig``
        round-trip, `pkg/events/selection_policy.go:322-348`)."""
        return {
            "type": "temporal",
            "window_length": self.length,
            "window_shift": self.shift,
            "window_start": self.origin,
        }


@dataclass(frozen=True)
class CountingWindow:
    """Count-based window policy over arrival order
    (`selection_policy.go:123-176`).  Requires a dense 0-based arrival index
    column (``seq``) — Spark has no implicit row order, and a dense index
    keeps membership a pure map-side computation (no global sort at scale).
    """

    n: int
    shift: int | None = None

    @property
    def shift_n(self) -> int:
        return self.shift if self.shift is not None else self.n

    def to_config(self) -> dict:
        return {"type": "counting", "size": self.n, "slide": self.shift}


def policy_from_config(cfg: dict) -> "TemporalWindow | CountingWindow":
    """Inverse of ``to_config`` — policies round-trip through plain JSON
    dicts, so pipelines are definable from config files the way the
    reference's policies are (`pkg/events/selection_policy.go:43-53`)."""
    kind = cfg.get("type")
    if kind == "temporal":
        return TemporalWindow(
            cfg["window_length"], cfg.get("window_shift"), cfg.get("window_start")
        )
    if kind == "counting":
        return CountingWindow(cfg["size"], cfg.get("slide"))
    raise ValueError(f"unknown policy type {kind!r}")


def assign_temporal_windows(
    df: DataFrame, policy: TemporalWindow, time_col: str = "event_start"
) -> DataFrame:
    """Add the native ``window`` struct plus ``window_start`` /
    ``window_end`` TIMESTAMP columns; overlapping policies explode each row
    into every member window.  One path for batch and streams.

    Membership: with ``off = t - origin``, window ``w`` holds rows where
    ``w*shift <= off < w*shift + length`` — half-open, boundary event to the
    next window, and no window starts before the origin
    (`selection_policy.go:583-596`).  The zero-lateness watermark lets the
    state store evict by window (watermark-driven state GC replaces the
    reference's consumed-prefix GC, `pkg/events/buffer.go:461-475`); Spark
    ignores it on batch frames.  Sampling policies (shift > length) use
    ``F.window(shift)`` plus a membership filter, since Spark requires
    slide <= duration; ``window_end`` is always start + length.
    """
    length, shift = policy.length_us, policy.shift_us
    t = F.col(time_col)
    out = df.withWatermark(time_col, "0 seconds")
    origin_us = 0
    if policy.origin:
        origin_us = _origin_micros(policy.origin)
        out = out.filter(F.unix_micros(t) >= origin_us)  # pre-start dropped (:587-589)
    start_off = f"{origin_us % shift} microseconds"
    if shift > length:
        off = F.unix_micros(t) - F.lit(origin_us)
        out = out.filter(F.pmod(off, F.lit(shift)) < length)
        win = F.window(t, f"{shift} microseconds", startTime=start_off)
    else:
        win = F.window(t, f"{length} microseconds", f"{shift} microseconds", start_off)
    out = out.withColumn("window", win)
    ws = F.col("window.start")
    if policy.origin and policy.overlapping:
        # window 0 starts at the origin: drop the earlier windows a
        # post-origin row also falls in
        out = out.filter(F.unix_micros(ws) >= origin_us)
    return out.withColumn("window_start", ws).withColumn(
        "window_end", F.timestamp_micros(F.unix_micros(ws) + length)
    )


def _origin_micros(origin: str) -> int:
    """Exact epoch microseconds of an ISO timestamp (UTC unless zoned);
    integer timedelta arithmetic — a float ``timestamp() * 1e6`` can land
    one microsecond short."""
    import datetime as dt

    d = dt.datetime.fromisoformat(origin)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (d - epoch) // dt.timedelta(microseconds=1)


def assign_counting_windows(
    df: DataFrame, policy: CountingWindow, seq_col: str = "seq"
) -> DataFrame:
    """Add a ``window_id`` column from the dense arrival index.

    Tumbling/skip (``shift >= n``): ``window_id = seq div shift`` with
    membership ``seq mod shift < n`` — covers the reference's skip case
    (`selection_policy_test.go:67-80`: size 1 shift 2 over e0..e2 →
    windows [e0], [e2]).  Overlapping (``shift < n``): explode into the
    ``~n/shift`` member windows.  Pure map-side; no sort, no global state.
    """
    n, shift = policy.n, policy.shift_n
    df = df.withColumn("_seq", F.col(seq_col).cast("long"))
    if shift >= n:
        df = df.filter(F.col("_seq") % F.lit(shift) < n)
        return df.withColumn("window_id", F.expr(f"_seq div {shift}")).drop("_seq")
    # overlapping: w_min = floor((seq - n)/shift) + 1 = floor((seq - n +
    # shift)/shift); `div` truncates toward zero, which differs from floor
    # only on negative numerators, and those clamp to window 0.
    w_min = F.greatest(
        F.lit(0).cast("long"), F.expr(f"(_seq - {n} + {shift}) div {shift}")
    )
    w_max = F.expr(f"_seq div {shift}")
    return df.withColumn("window_id", F.explode(F.sequence(w_min, w_max))).drop("_seq")


_EMPTY_WINDOW_WARNED = False


def _warn_empty_window_divergence() -> None:
    """One-time loud note on the one intentional semantic divergence:
    the reference's TemporalWindowPolicy emits EMPTY windows
    (`pkg/events/selection_policy_test.go:146-201`); a Spark groupBy
    cannot produce groups with no rows.  Without this, a user porting a
    reference query gets silently different output until they stumble
    on the flag."""
    global _EMPTY_WINDOW_WARNED
    if not _EMPTY_WINDOW_WARNED:
        _EMPTY_WINDOW_WARNED = True
        import warnings

        warnings.warn(
            "TemporalWindow aggregation: the go-streaming reference emits"
            " EMPTY windows for gaps in event time; Spark's groupBy omits"
            " them.  Pass emit_empty=True (or wrap the result in"
            " with_empty_windows) for reference-parity dense emission;"
            " pass emit_empty=False to silence this one-time note.",
            stacklevel=4,
        )


def windowed_agg(
    policy: TemporalWindow,
    aggs: list[Column],
    keys: tuple[str, ...] = (),
    time_col: str = "event_start",
    lineage: bool = True,
    merge_meta: bool = False,
    emit_empty: bool | None = None,
    empty_fill: "dict[str, Column | int | float] | None" = None,
) -> Operator:
    """PipelineOperatorEngine over a temporal policy
    (`pkg/processing/operator_engine.go:122-141`): consume a window batch,
    emit aggregated events stamped with the window's merged lineage
    (min start / max end — `pkg/events/timestamper.go:22-50`).

    Works on batch and streaming inputs (append mode, zero-lateness
    watermark — the reference's fire-on-first-late-event trigger).

    ``emit_empty``: the reference emits EMPTY windows for event-time
    gaps; a groupBy cannot.  ``True`` densifies the batch result over
    the observed window grid (``with_empty_windows``, ``empty_fill``
    for gap values) — reference parity without discovering the wrapper
    by accident; ``None`` (default) keeps sparse output but warns ONCE
    per process; ``False`` keeps sparse output silently.  Dense
    emission needs a bounded grid, so streaming and keyed aggregates
    reject ``True`` (densify the sink table per key instead).
    """
    if emit_empty and keys:
        raise ValueError(
            "emit_empty=True is unkeyed (a global window grid crossed"
            " with keys is almost never what you want) — densify per"
            " key with with_empty_windows on the aggregated result"
        )

    def fn(df: DataFrame) -> DataFrame:
        if emit_empty and df.isStreaming:
            raise ValueError(
                "emit_empty=True needs a bounded grid — replay the"
                " stream to a sink table and apply"
                " with_empty_windows there"
            )
        extra = lineage_agg(merge_meta) if lineage else []
        out = assign_temporal_windows(df, policy, time_col)
        agged = out.groupBy("window", *keys).agg(*aggs, *extra)
        ws = F.col("window.start")
        we = F.timestamp_micros(F.unix_micros(ws) + policy.length_us)
        other = [c for c in agged.columns if c != "window"]
        agged = agged.select(ws.alias("window_start"), we.alias("window_end"), *other)
        if emit_empty:
            return with_empty_windows(agged, policy, empty_fill)
        if emit_empty is None:
            _warn_empty_window_divergence()
        return agged
    return Operator("WindowedAgg", fn, {"policy": policy, "keys": keys})


def with_empty_windows(
    agg: DataFrame,
    policy: TemporalWindow,
    fill: dict[str, "Column | int | float"] | None = None,
) -> DataFrame:
    """Reference-parity opt-in: ``TemporalWindowPolicy`` emits EMPTY windows
    (`pkg/events/selection_policy_test.go:146-201`), a groupBy cannot.
    Generates the full window grid between the observed min and max
    ``window_start`` (one `sequence` over a single aggregated row — no scan
    of the input) and left-joins the aggregate; missing windows appear with
    ``fill`` values (default NULL).  Keyed aggregates should densify per
    key *before* this (or accept a global grid crossed with keys).

    Scale: the grid size is (span / shift) rows — independent of input
    volume; the join broadcasts whichever side is smaller under AQE.
    """
    shift_s = policy.shift_us / 1_000_000
    grid = (
        agg.agg(
            F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
        )
        .select(
            F.explode(
                F.sequence(
                    "lo", "hi", F.expr(f"interval {shift_s} seconds")
                )
            ).alias("window_start")
        )
        .withColumn(
            "window_end",
            F.timestamp_micros(F.unix_micros("window_start") + policy.length_us),
        )
    )
    out = grid.join(agg, ["window_start", "window_end"], "left")
    for name, val in (fill or {}).items():
        col = val if isinstance(val, Column) else F.lit(val)
        out = out.withColumn(name, F.coalesce(F.col(name), col))
    return out


def counting_window_agg(
    policy: CountingWindow,
    aggs: list[Column],
    seq_col: str = "seq",
    complete_only: bool = True,
    lineage: bool = True,
) -> Operator:
    """PipelineOperatorEngine over a counting policy.  ``complete_only``
    mirrors the reference's fire condition (a window emits only once n events
    have arrived — `selection_policy.go:144-146`); the trailing partial window
    is therefore not emitted in a finite replay.
    """
    def fn(df: DataFrame) -> DataFrame:
        out = assign_counting_windows(df, policy, seq_col)
        extra = lineage_agg(False) if lineage else []
        agged = out.groupBy("window_id").agg(
            *aggs, F.count(F.lit(1)).alias("_wsize"), *extra
        )
        if complete_only:
            agged = agged.filter(F.col("_wsize") == policy.n)
        return agged.drop("_wsize")
    return Operator("CountingWindowAgg", fn, {"policy": policy})


def batch_sum(policy: TemporalWindow | CountingWindow, **kw) -> Operator:
    """Sum of numeric payloads per window (`default_operators.go:18-38`)."""
    aggs = [F.sum("value").alias("value")]
    if isinstance(policy, CountingWindow):
        return counting_window_agg(policy, aggs, **kw)
    return windowed_agg(policy, aggs, **kw)


def batch_count(policy: TemporalWindow | CountingWindow, **kw) -> Operator:
    """Count of events per window (`default_operators.go:41-58`)."""
    aggs = [F.count(F.lit(1)).alias("value")]
    if isinstance(policy, CountingWindow):
        return counting_window_agg(policy, aggs, **kw)
    return windowed_agg(policy, aggs, **kw)


def fan_in(
    inputs: list[DataFrame],
    policy: TemporalWindow,
    aggs: list[Column],
    per_source: bool = False,
    time_col: str = "event_start",
) -> DataFrame:
    """FanInOperatorEngine (`pkg/processing/operator_engine.go:164-292`):
    N homogeneous inputs share one temporal window.  Spark-first: tag each
    input with ``source_id``, ``unionByName``, window-aggregate once.  The
    reference's "fire only when every input passed window end" gate is the
    streaming watermark across the union (global watermark = slowest input);
    in batch all windows are complete by definition.

    ``per_source=True`` additionally groups by ``source_id`` (the reference
    hands the fan-in function ``{inputIndex: [events]}``).
    """
    tagged = [
        df.withColumn("source_id", F.lit(i).cast("int")) for i, df in enumerate(inputs)
    ]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    keys = ("source_id",) if per_source else ()
    return windowed_agg(policy, aggs, keys=keys, time_col=time_col, lineage=False)(union)
