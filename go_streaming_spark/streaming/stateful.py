"""Custom stateful streaming operators.

Spark has no native count-based window or global stream limit; the reference
implements both as stateful buffers (`pkg/events/selection_policy.go:123-176`,
`pkg/processing/default_filter_operators.go:55-67`).  Here they are
``applyInPandasWithState`` operators: Arrow-batched state, per-group buffers,
watermark-free (arrival order is the semantic, carried by the explicit
``seq`` column).

Scale notes: a *global* counting window / limit is inherently a single
ordered stream — one state partition, by definition (the reference has the
same property: one buffer guarded by one mutex).  The scalable form is the
*keyed* variant (``key_cols``): state then shards across executors by key.
Batch-mode counting windows (operators/windows.py) need no state at all —
dense-seq arithmetic — so this path only runs where true streaming
incremental emission is required.

All functions passed to applyInPandasWithState are defined locally so
cloudpickle ships them by value (executor workers don't import this package).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_limit(
    df: DataFrame,
    n: int,
    seq_col: str = "seq",
    value_col: str = "value",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """First ``n`` events in ``seq`` order (per key, or globally with the
    single implicit key) — streaming Limit
    (`default_filter_operators.go:55-67`).

    Emits incrementally: each micro-batch passes rows through until the
    counter reaches n, then drops everything (state stays tiny: one long).
    """
    keys = key_cols or []
    if keys:
        gdf = df.groupBy(*[F.col(k) for k in keys])
    else:
        gdf = df.withColumn("_g", F.lit(0)).groupBy("_g")

    out_fields = [T.StructField(seq_col, T.LongType()), T.StructField(value_col, T.DoubleType())]
    out_schema = T.StructType(
        ([T.StructField(k, T.StringType()) for k in keys]) + out_fields
    )
    state_schema = T.StructType([T.StructField("count", T.LongType())])

    limit_n, seq_c, val_c, key_list = n, seq_col, value_col, list(keys)

    def fn(key, pdf_iter, state):
        import pandas as pd

        (count,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            if count >= limit_n:
                continue
            pdf = pdf.sort_values(seq_c)
            take = pdf.head(limit_n - count)
            count += len(take)
            out = {k: take[k].astype(str) for k in key_list}
            out[seq_c] = take[seq_c].astype("int64")
            out[val_c] = take[val_c].astype("float64")
            yield pd.DataFrame(out)
        state.update((count,))

    return gdf.applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def counting_window_stream(
    df: DataFrame,
    n: int,
    shift: int | None = None,
    seq_col: str = "seq",
    value_col: str = "value",
    key_cols: list[str] | None = None,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Streaming CountingWindowPolicy(n, shift): emit (window_id, sum, count)
    as soon as each window fills (`selection_policy.go:123-176`).

    State = the un-consumed event buffer + the count of GC'd events —
    exactly the reference's ``ConsumableAsyncBuffer`` consume-prefix-GC
    behavior (`pkg/events/buffer.go:435-512`): once a window fires, events
    no future window needs are dropped from state.  shift>n (skip) and
    shift<n (overlap) both follow from the ordinal arithmetic.

    Delivery order within each micro-batch is ``seq_col`` order (one global
    sort per batch — the reference's ordered channel delivery); across
    micro-batches it is batch arrival order, so a single-batch replay
    (``availableNow`` with no file cap) is fully deterministic.

    ``quantize_scale``: when set, values are quantized to that many decimal
    digits (HALF_UP, matching SQL ``CAST(double AS DECIMAL(_, scale))``) and
    window sums are computed EXACTLY over the scaled integers — the emitted
    double is then order-independent and bit-reproducible against a
    decimal-summing SQL oracle.  Default (None) keeps raw float summation
    for the hot path.
    """
    shift = shift if shift is not None else n
    keys = key_cols or []
    if keys:
        gdf = df.groupBy(*[F.col(k) for k in keys])
    else:
        gdf = df.withColumn("_g", F.lit(0)).groupBy("_g")

    out_schema = T.StructType(
        [T.StructField(k, T.StringType()) for k in keys]
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("offset", T.LongType()),   # ordinals GC'd so far
            T.StructField("next_w", T.LongType()),   # next window to emit
            T.StructField("vals", T.ArrayType(T.DoubleType())),
        ]
    )

    w_n, w_shift, seq_c, val_c, key_list = n, shift, seq_col, value_col, list(keys)
    q_scale = quantize_scale

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            offset, next_w, vals = state.get
            vals = list(vals)
        else:
            offset, next_w, vals = 0, 0, []
        rows = []
        chunks = list(pdf_iter)
        if chunks:
            # ONE global sort over the whole micro-batch — per-chunk sorting
            # would leave delivery order chunk-arrival-dependent
            allpdf = pd.concat(chunks).sort_values(seq_c)
            if q_scale is None:
                vals.extend(float(v) for v in allpdf[val_c])
            else:
                from decimal import ROUND_HALF_UP, Decimal

                q = Decimal(1).scaleb(-q_scale)
                vals.extend(
                    float(Decimal(repr(float(v)))
                          .quantize(q, ROUND_HALF_UP).scaleb(q_scale))
                    for v in allpdf[val_c]
                )
        # window w spans arrival ordinals [w*shift, w*shift + n)
        while offset + len(vals) >= next_w * w_shift + w_n:
            lo = next_w * w_shift - offset
            win = vals[lo : lo + w_n]
            s = (
                int(sum(win)) / 10**q_scale
                if q_scale is not None else float(sum(win))
            )
            rows.append((next_w, s, len(win)))
            next_w += 1
            keep_from = next_w * w_shift - offset
            if keep_from > 0:
                vals = vals[keep_from:]
                offset += keep_from
        state.update((offset, next_w, vals))
        if rows:
            out = pd.DataFrame(rows, columns=["window_id", "sum_value", "n_events"])
            for k in key_list:
                out.insert(0, k, str(key[key_list.index(k)]))
            yield out
        else:
            yield pd.DataFrame(
                {k: [] for k in key_list}
                | {"window_id": [], "sum_value": [], "n_events": []}
            )

    return gdf.applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
