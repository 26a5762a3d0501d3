"""Time-series similarity search over value streams.

Sliding-window z-normalized distance between each key's recent window and a
query pattern — the standard streaming subsequence-similarity primitive
(UCR-suite-style z-norm + Euclidean, cf. "Time Series Similarity Search for
Streaming Data in Distributed Systems", EDBT 2019 — PAPERS.md).

Spark-first: the window materializes as an ARRAY column via a ranking
window frame (one shuffle on the key), z-norm and distance are sequential
array folds — deterministic summation order, engine-portable, oracle-exact.
At 100 TB the shuffle is the per-key ordering, identical to any keyed
window function; no state beyond the frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def resample_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket_us: int,
    tie_col: str,
) -> DataFrame:
    """Regularize an irregular event series onto a fixed time grid with
    last-observation-carried-forward fill — the standard preprocessing
    step before any fixed-step sequence model sees sensor/telemetry data.

    Per key, emits one row for EVERY ``bucket_us``-wide bucket between the
    key's first and last observation: ``(key, bucket_start_us, value_f,
    n_obs)`` where ``value_f`` is the bucket's last observation (by
    ``(ts, tie_col)`` — ``tie_col`` unique ⇒ deterministic) carried
    forward across empty buckets, and ``n_obs`` counts the bucket's real
    observations (0 = a filled gap).

    Scale shape: one groupBy on (key, bucket) collapses the raw stream to
    ≤ one row per grid cell *before* anything else; the grid itself is a
    generated ``sequence`` explode off a per-key (min, max) aggregate — no
    driver-side calendar, no cross join against a date table.  The LOCF
    fill is a single ``last(ignorenulls)`` running window per key over
    grid-sized (not event-sized) data.
    """
    t_us = F.unix_micros(F.col(ts_col))
    b = F.floor(t_us / F.lit(bucket_us))
    obs = df.select(
        F.col(key_col).alias("key"),
        b.alias("b"),
        F.col(value_col).alias("v"),
        F.struct(t_us.alias("t"), F.col(tie_col).alias("tie")).alias("ord"),
    )
    per_bucket = obs.groupBy("key", "b").agg(
        F.max_by("v", "ord").alias("v_last"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    grid = (
        obs.groupBy("key")
        .agg(F.min("b").alias("bmin"), F.max("b").alias("bmax"))
        .select(
            "key",
            F.explode(F.sequence("bmin", "bmax")).alias("b"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_bucket, ["key", "b"], "left")
        .select(
            "key",
            (F.col("b") * F.lit(bucket_us)).alias("bucket_start_us"),
            F.last("v_last", ignorenulls=True).over(w).alias("value_f"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        )
    )


def znormalize(values: list[float]) -> list[float]:
    """Driver-side z-norm for query patterns (population σ, ε-guarded)."""
    n = len(values)
    mu = sum(values) / n
    var = sum(x * x for x in values) / n - mu * mu
    sd = max(var, 0.0) ** 0.5 or 1e-12
    return [(x - mu) / sd for x in values]


def znorm_sliding_distance(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    pattern: list[float],
    round_to: int = 6,
) -> DataFrame:
    """Per key, per position: z-normalized Euclidean distance between the
    trailing window of ``len(pattern)`` values and the (pre-z-normalized)
    query pattern.  Emits only complete windows.

    Output: (key, order, zdist) — smaller = more similar; a top-k on zdist
    is subsequence search, a threshold filter is motif detection.
    """
    w = len(pattern)
    q = znormalize(pattern)
    q_arr = F.array(*[F.lit(float(x)) for x in q])
    frame = (
        Window.partitionBy(key_col).orderBy(order_col).rowsBetween(-(w - 1), 0)
    )
    win = F.collect_list(F.col(value_col).cast("double")).over(frame)
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(order_col).alias("pos"),
        win.alias("win"),
    ).filter(F.size("win") == w)

    # Unrolled left-to-right sums (same order as a sequential fold, so the
    # oracle's list_sum matches bit-exactly) — whole-stage-codegen'd instead
    # of interpreted higher-order lambdas; ~5× on wide scans for small w.
    def unroll(terms):
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    xs = [F.element_at(F.col("win"), i + 1) for i in range(w)]
    mu = unroll(xs) / w
    ex2 = unroll([x * x for x in xs]) / w
    sd = F.greatest(F.sqrt(ex2 - mu * mu), F.lit(1e-12))
    zdiffs = [((x - mu) / sd - F.lit(qq)) for x, qq in zip(xs, q)]
    scale = F.lit(float(10 ** round_to))
    dist = F.floor(F.sqrt(unroll([d * d for d in zdiffs])) * scale + F.lit(0.5)) / scale
    return base.select("key", "pos", dist.alias("zdist"))
