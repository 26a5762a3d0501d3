"""Structured Streaming execution: replay, watermarks, metrics.

Reference execution is continuous per-event goroutine pipelines
(`pkg/processing/operator_engine.go:64-105`); Spark-first that is the
micro-batch engine.  ``Trigger.AvailableNow`` replays a finite source to
completion — the test/verification mode that makes batch and streaming
runs of the same operator comparable (SURVEY.md §7 "batch-first,
streaming-compatible").  Two start modes live here:

- memory sink: :func:`replay_to_memory` runs a streaming frame into a
  memory table and returns it as a batch frame;
- batch replay: :func:`replay_batches` copies a batch frame into four
  files and feeds them, one per trigger, to a ``foreachBatch`` sink
  through :class:`~go_streaming_spark.plans.builder.ContinuousQuery`.

The reference's temporal trigger has zero lateness: a window fires when the
first event past its end arrives (`pkg/events/selection_policy.go:178-215`
— watermark = max event time seen).  ``assign_temporal_windows`` sets that
watermark itself; ``with_lateness`` widens it.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from go_streaming_spark.plans.builder import ContinuousQuery


def with_lateness(
    df: DataFrame, delay: str, time_col: str = "event_start"
) -> DataFrame:
    """Configurable allowed lateness — beyond-reference surface (the
    reference hard-codes zero: a window fires on the first event past its
    end and late arrivals are lost,
    `pkg/events/selection_policy.go:178-215`).  With a delay, events up to
    ``delay`` behind the max seen event time still join their window;
    state eviction follows the watermark.  Semantics asserted in
    test_streaming.py::test_allowed_lateness_keeps_and_drops."""
    return df.withWatermark(time_col, delay)


def replay_to_memory(
    df: DataFrame,
    spark: SparkSession,
    name: str | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and return
    the materialized result as a batch DataFrame."""
    name = name or f"replay_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def replay_batches(df: DataFrame, sink_fn) -> int:
    """Replay the batch frame ``df`` as a stream: copy it into four
    parquet files in a temp dir, read them back one file per trigger and
    run ``sink_fn(batch_df, batch_id)`` on each micro-batch
    (:meth:`ContinuousQuery.subscribe_batch`).  Returns the number of
    micro-batches; raises ``RuntimeError`` when fewer than two ran (the
    copy landed in one file), since a one-batch replay never carries
    state across batches.  The temp dir is deleted on every exit."""
    tmp = tempfile.mkdtemp(prefix="replay_")
    batches = 0

    def counted(batch_df, batch_id) -> None:
        nonlocal batches
        sink_fn(batch_df, batch_id)
        batches += 1

    try:
        df.repartition(4).write.parquet(f"{tmp}/data")
        cq = ContinuousQuery(
            df.sparkSession.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/data")
        )
        cq.subscribe_batch(counted)
        cq.await_done()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if batches < 2:
        raise RuntimeError(
            f"replay ran {batches} micro-batch(es); expected at least 2"
        )
    return batches


class StreamMetricsListener(StreamingQueryListener):
    """Per-query in/out row counters (≈ ``StreamMetrics`` NumEventsIn/Out,
    `pkg/pubsub/stream.go:144-195`) plus any ``df.observe`` metrics."""

    def __init__(self) -> None:
        self.rows_in: dict[str, int] = {}
        self.rows_out: dict[str, int] = {}
        self.observed: dict[str, dict] = {}

    def onQueryStarted(self, event) -> None:  # pragma: no cover
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        # unnamed queries (name=None) accumulate under "" — one key for both
        # the read and the write, so counters survive across micro-batches
        key = p.name or ""
        self.rows_in[key] = self.rows_in.get(key, 0) + (p.numInputRows or 0)
        if p.sink and p.sink.numOutputRows is not None and p.sink.numOutputRows >= 0:
            self.rows_out[key] = self.rows_out.get(key, 0) + p.sink.numOutputRows
        if p.observedMetrics:
            self.observed.setdefault(key, {}).update(dict(p.observedMetrics))

    def onQueryTerminated(self, event) -> None:  # pragma: no cover
        pass

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass
