"""Map-family operators.

Reference: `pkg/processing/default_operators.go` (Map/Convert/SelectFromMap/
Observe/FlatMap/Tokenize).  Map-engine semantics: 1 input event -> exactly 1
output event, output keeps the input's stamp
(`pkg/processing/operator_engine.go:450-510`) — i.e. rewrite ``value``, keep
the envelope.  FlatMap emits 0..n outputs each keeping the input stamp.

All operators here are native Column expressions (JVM-side, codegen'd); a
Python-lambda fallback exists for genuinely non-expressible transforms
(`map_pandas`) using Arrow-vectorized pandas UDFs, never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_streaming_spark.events import with_value
from go_streaming_spark.operators.base import Operator


def map_expr(expr: Column | str, name: str = "Map") -> Operator:
    """1→1 transform, possibly type-changing (`default_operators.go:104-113`).

    ``expr`` is a Column over the current ``value`` (and envelope).
    """
    col = F.expr(expr) if isinstance(expr, str) else expr
    return Operator(name, lambda df: with_value(df, col), {"expr": str(expr)})


def convert(target_type: str) -> Operator:
    """Numeric type cast (`default_operators.go:61-76`).

    Go's numeric conversions truncate float→int toward zero; Spark's
    ``cast`` does the same.
    """
    return Operator(
        "Convert",
        lambda df: with_value(df, F.col("value").cast(target_type)),
        {"to": target_type},
    )


def select_from_map(key: str) -> Operator:
    """Project one key out of a map-typed payload; missing key → NULL value
    (`default_operators.go:81-101` — missing key yields the type's zero/null
    event).  Works on MAP columns via ``element_at`` and on STRUCT via field
    access; on JSON strings use ``map_expr(F.get_json_object(...))``.
    """
    def fn(df: DataFrame) -> DataFrame:
        dt = df.schema["value"].dataType.typeName()
        if dt == "map":
            return with_value(df, F.col("value").getItem(key))
        return with_value(df, F.col(f"value.{key}"))
    return Operator("SelectFromMap", fn, {"key": key})


def observe(name: str, *metrics: Column) -> Operator:
    """Side-effect observer: events pass through unchanged
    (`default_operators.go:245-261`).  Spark-first: ``df.observe`` attaches
    named metrics evaluated during the action — no second pass over the data,
    works in batch and streaming (QueryListener).  Default metric: event count
    (the reference's StreamMetrics in/out counters, `pkg/pubsub/stream.go:144-195`).
    """
    ms = list(metrics) or [F.count(F.lit(1)).alias("n_events")]
    return Operator("Observe", lambda df: df.observe(name, *ms), {"metric": name})


def flat_map(arr_expr: Column | str, name: str = "FlatMap") -> Operator:
    """1→0..n transform (`default_operators.go:221-242`): evaluate an
    array-typed expression over ``value`` and explode it.  Empty array → 0
    outputs (FlatMap-as-filter, `default_operators_test.go:244-273`); each
    output keeps the input's stamp.
    """
    col = F.expr(arr_expr) if isinstance(arr_expr, str) else arr_expr
    def fn(df: DataFrame) -> DataFrame:
        return with_value(df, F.explode(col))
    return Operator(name, fn, {"expr": str(arr_expr)})


def tokenize() -> Operator:
    """Split a string payload into whitespace-separated words, one event per
    word (`default_operators.go:264-268`, Go ``strings.Fields`` — no empty
    tokens)."""
    def fn(df: DataFrame) -> DataFrame:
        words = F.filter(F.split(F.col("value"), r"\s+"), lambda w: w != "")
        return with_value(df, F.explode(words))
    return Operator("Tokenize", fn)


def map_pandas(fn: Callable, value_type: str, name: str = "MapPandas") -> Operator:
    """Escape hatch for transforms with no Column expression: an
    Arrow-vectorized pandas UDF over ``value`` (pandas.Series -> pandas.Series).
    ~10-100x faster than row-at-a-time Python UDFs; still slower than JVM
    expressions — prefer :func:`map_expr`.
    """
    udf = F.pandas_udf(fn, value_type)
    return Operator(name, lambda df: with_value(df, udf(F.col("value"))))
