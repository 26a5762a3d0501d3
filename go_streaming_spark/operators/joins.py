"""Windowed stream-stream joins.

Reference (`pkg/processing/default_operators.go:117-218`): ``Join``/``LeftJoin``
take exactly two map-content streams sharing one temporal window
(``DuoTemporalWindowPolicy``).  Per window: hash the right slice by ``key``,
probe with the left; duplicate keys → cross product (`:143-149`); output event
content = left map merged with right map, **right wins** on collision
(`:144-147`, via ``maps.Copy`` order); LeftJoin passes unmatched left rows
through with only their own columns (`:166-218`).

Spark-first: assign both sides their native ``window`` struct (see
``windows.assign_temporal_windows``) and equi-join on ``(window, key)``.
Catalyst picks broadcast/sort-merge/shuffle-hash; cross products on duplicate
keys fall out of the equi-join naturally.  At scale this is the classic
window-bucketed join: both sides shuffle *once* on (window, key) — set
``broadcast_right=True`` when the right side is a small dimension-like stream.
On streams the same plan runs as a stream-stream join whose state is evicted
by the window's zero-lateness watermark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_streaming_spark.operators.windows import TemporalWindow, assign_temporal_windows


def window_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    policy: TemporalWindow,
    how: str = "inner",
    time_col: str = "event_start",
    broadcast_right: bool = False,
) -> DataFrame:
    """Join two envelope streams within shared temporal windows.

    ``key`` names a field of the payload: for MAP payloads a map key, for
    STRUCT payloads a field name.  Output payload: merged map/struct with
    right precedence; envelope: merged lineage (min start / max end,
    `pkg/events/timestamper.go:22-50`), ``seq`` = left seq (deterministic
    order anchor).  ``how`` = 'inner' | 'left' (reference surface); other
    Spark join types pass through for free.
    """
    keys = [key] if isinstance(key, str) else list(key)
    lw = _prep_side(left, policy, time_col, keys, "l")
    rw = _prep_side(right, policy, time_col, keys, "r")
    if broadcast_right:
        rw = F.broadcast(rw)

    on = [lw["l_window"] == rw["r_window"]] + [
        lw[f"l_key_{k}"] == rw[f"r_key_{k}"] for k in keys
    ]
    how_spark = {"left": "left_outer", "inner": "inner"}.get(how, how)
    joined = lw.join(rw, on, how_spark)

    value = _merge_payload(left, right, how_spark)
    return joined.select(
        F.col("l_seq").alias("seq"),
        F.least("l_event_start", "r_event_start").alias("event_start")
        if how_spark == "inner"
        else F.coalesce(F.least("l_event_start", "r_event_start"), F.col("l_event_start")).alias("event_start"),
        F.greatest("l_event_end", "r_event_end").alias("event_end")
        if how_spark == "inner"
        else F.coalesce(F.greatest("l_event_end", "r_event_end"), F.col("l_event_end")).alias("event_end"),
        F.col("l_meta").alias("meta"),
        F.col("l_window_start").alias("window_start"),
        F.col("l_window_end").alias("window_end"),
        value.alias("value"),
    )


def _prep_side(
    df: DataFrame,
    policy: TemporalWindow,
    time_col: str,
    keys: list[str],
    prefix: str,
) -> DataFrame:
    w = assign_temporal_windows(df, policy, time_col)
    vt = w.schema["value"].dataType
    key_cols = []
    for k in keys:
        kc = (
            F.col("value").getItem(k)
            if isinstance(vt, T.MapType)
            else F.col(f"value.{k}")
        )
        key_cols.append(kc.alias(f"{prefix}_key_{k}"))
    # The window struct stays each side's only event-time column: a stream
    # join with two (the watermarked time column next to the window) fails
    # analysis once both reach the output.
    return w.select(
        *key_cols,
        *[
            F.col(c).alias(f"{prefix}_{c}", metadata=None if c == "window" else {})
            for c in w.columns
        ],
    )


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    right_vals: dict[str, Column] | None = None,
    how: str = "inner",
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: each left row matched to the most recent right row with
    ``right_time <= left_time`` (``direction="backward"``, default) or the
    earliest right row with ``right_time >= left_time`` (``"forward"``) for
    the same key (the standard temporal join the reference lacks —
    beyond-reference surface, SURVEY.md §2.5).

    ``tolerance`` (same units as the numeric time columns; convert
    timestamps to ``unix_micros`` first) bounds ``|left_time - right_time|``:
    a nearest match farther than the tolerance is discarded — the left row
    becomes unmatched (dropped under ``how='inner'``, NULLs under 'left').

    Scale design: the naive formulation is a range join (left × right pairs
    filtered by time), which Spark plans as a broadcast-nested-loop or an
    exploding theta-join.  This implementation instead unions the two sides
    tagged, sorts within key via a window spec, and propagates the last
    non-null right payload forward — exactly ONE shuffle on the key, O(n log n)
    per partition, no pair explosion, skew-safe under AQE.

    ``right_vals`` maps output column name → expression over the right side;
    default carries ``right_time`` as ``asof_time``.  ``how`` = 'inner' drops
    left rows with no prior right row; 'left' keeps them with NULLs.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_vals = right_vals or {"asof_time": F.col(right_time)}
    out_names = list(right_vals)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if tolerance is not None and (
        isinstance(left.schema[left_time].dataType, T.TimestampType)
        or isinstance(right.schema[right_time].dataType, T.TimestampType)
    ):
        raise ValueError(
            "tolerance requires numeric time columns (unix_micros the"
            " timestamps first)"
        )
    # forward = backward on negated time: "latest rt <= lt" under -t is
    # "earliest rt >= lt" under t — one code path, both directions
    neg = direction == "forward"

    def t_of(src: DataFrame, c: str) -> Column:
        col = F.col(c)
        if neg:
            if isinstance(src.schema[c].dataType, T.TimestampType):
                col = F.unix_micros(col)
            return -col
        return col

    payload = F.struct(
        *[c.alias(n) for n, c in right_vals.items()],
        # matched-side time rides along for the tolerance check (same
        # negation as _t, so left._t - match.__t >= 0 in both directions)
        t_of(right, right_time).alias("__t"),
    )
    r = right.select(
        *[F.col(k) for k in keys],
        t_of(right, right_time).alias("_t"),
        F.lit(0).alias("_side"),
        payload.alias("_rpayload"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
            for c in left.columns
        ],
    )
    l = left.select(
        *[F.col(k) for k in keys],
        t_of(left, left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_rpayload"].dataType).alias("_rpayload"),
        *[F.col(c).alias(f"_l_{c}") for c in left.columns],
    )

    from pyspark.sql.window import Window

    # Right rows at the same timestamp sort before left rows (_side 0 < 1),
    # so a right row with right_time == left_time matches — ASOF `>=`.
    w = (
        Window.partitionBy(*keys)
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r.unionByName(l)
        .withColumn("_match", F.last("_rpayload", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    if tolerance is not None:
        in_tol = (F.col("_t") - F.col("_match.__t")) <= F.lit(tolerance)
        matched = matched.withColumn("_match", F.when(in_tol, F.col("_match")))
    if how == "inner":
        matched = matched.filter(F.col("_match").isNotNull())
    return matched.select(
        *[F.col(f"_l_{c}").alias(c) for c in left.columns],
        *[F.col(f"_match.{n}").alias(n) for n in out_names],
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_time: str,
    right_time: str,
    lower: int,
    upper: int,
    how: str = "inner",
) -> DataFrame:
    """Range join: all (left, right) pairs with the same key and
    ``lower <= right_time - left_time < upper`` (times are numeric, e.g.
    ``unix_micros``; half-open like every window in this engine).

    Scale design: the naive formulation is a theta-join, which Spark plans
    as a broadcast-nested-loop (right side must fit in memory) or an
    exploding cartesian.  This implementation buckets both sides by
    ``width = upper - lower``: a right row lands in ``floor(t/width)``, a
    left row's admissible interval spans at most two buckets, so the left
    side is duplicated ≤2× and the join is a plain **equi-join on
    (key, bucket)** — one shuffle per side, Catalyst-planned (broadcast /
    sort-merge / AQE skew split all apply), then the exact range predicate
    filters within buckets.  Inner-join pairs only (aggregate + join back on
    a left id for outer semantics); right columns come back ``r_``-prefixed.
    """
    if how != "inner":
        raise ValueError(f"interval_join is inner-only, got how={how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    width = upper - lower
    if width <= 0:
        raise ValueError(f"empty interval: lower={lower}, upper={upper}")

    # floor-division bucket ids: `div` truncates toward zero and Spark's %
    # returns negative remainders, so subtract pmod first to floor negative
    # times too
    def bucket(c: str) -> Column:
        return F.expr(f"((({c}) - pmod({c}, {width})) div {width})")

    # a left row's admissible right interval [t+lower, t+upper) spans at
    # most two width-sized buckets
    lb = left.withColumn(
        "_b",
        F.explode(
            F.array_distinct(
                F.array(
                    bucket(f"{left_time} + {lower}"),
                    bucket(f"{left_time} + {upper} - 1"),
                )
            )
        ),
    )
    rb = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    ).withColumn("_rb", bucket(f"r_{right_time}"))
    cond = [F.col("_b") == F.col("_rb")] + [
        F.col(k) == F.col(f"r_{k}") for k in keys
    ]
    diff = F.col(f"r_{right_time}") - F.col(left_time)
    return (
        lb.join(rb, on=cond, how="inner")
        .filter((diff >= lower) & (diff < upper))
        .drop("_b", "_rb")
    )


def _merge_payload(left: DataFrame, right: DataFrame, how: str) -> Column:
    """Right-wins merge of the two payloads (`default_operators.go:144-147`).

    MAP+MAP → ``map_concat`` under ``mapKeyDedupPolicy=LAST_WIN``; otherwise a
    struct ``{l, r}`` (unmatched left rows keep ``r = NULL``, mirroring
    LeftJoin's "only its own columns").
    """
    lt, rt = left.schema["value"].dataType, right.schema["value"].dataType
    if isinstance(lt, T.MapType) and isinstance(rt, T.MapType):
        merged = F.map_concat(
            F.col("l_value"),
            F.coalesce(F.col("r_value"), F.create_map().cast(rt.simpleString())),
        )
        return merged
    return F.struct(F.col("l_value").alias("l"), F.col("r_value").alias("r"))
