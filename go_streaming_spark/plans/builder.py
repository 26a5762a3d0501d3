"""Fluent query builder → continuous query lifecycle.

Reference (`pkg/processing/query_builder.go`, `continuous_query.go`):
``NewBuilder().From(Source[T](topic)).ConnectTo(Operator(op))...Build(run)``
then ``Subscribe``/``Run``/``Close``.  The reference's IR is two maps of
creation closures plus a frontier of unconnected streams (`query_builder.go:
31-37,158-194`); Build validates exactly one output remains (`:204-209`).

Spark-first: the "IR" is the lazily-composed DataFrame itself — Catalyst is
the plan representation and optimizer, so ConnectTo simply applies an
Operator to the frontier DataFrame.  Fan-out = reusing a DataFrame in two
branches (no UUID intermediate topics needed — Catalyst fuses or reuses);
fan-in/merge = union or ``operators.fan_in``.  Build → resolve + validate;
Run → start the action (batch collect/write or ``writeStream.start``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from go_streaming_spark.operators.base import Operator


class AmbiguousOutputError(ValueError):
    """> 1 frontier stream at Build (≈ ``ErrAmbiguousOutput``,
    `query_builder.go:204-209`)."""


class OutputUndefinedError(ValueError):
    """No frontier stream at Build (≈ ``ErrOutputUndefined``)."""


@dataclass
class QueryBuilder:
    engine: "object"
    _frontier: list[DataFrame] = field(default_factory=list)

    # From / AddInput (`query_builder.go:64-84`)
    def from_source(self, topic: str, streaming: bool = False) -> "QueryBuilder":
        self._frontier.append(self.engine.stream(topic, streaming=streaming))
        return self

    def from_df(self, df: DataFrame) -> "QueryBuilder":
        self._frontier.append(df)
        return self

    # ConnectTo (`query_builder.go:158-194`): applies to the whole frontier.
    def connect(self, operator: Operator | Callable[[DataFrame], DataFrame]) -> "QueryBuilder":
        self._frontier = [operator(df) for df in self._frontier]
        return self

    # fan-in of the current frontier into one stream via a 2+-ary function
    def combine(self, fn: Callable[..., DataFrame]) -> "QueryBuilder":
        self._frontier = [fn(*self._frontier)]
        return self

    # Merge (`query_builder.go:87-122`): union another builder's frontier.
    def merge(self, other: "QueryBuilder") -> "QueryBuilder":
        self._frontier.extend(other._frontier)
        return self

    def build(self, name: str | None = None) -> "ContinuousQuery":
        if not self._frontier:
            raise OutputUndefinedError("no source/frontier stream defined")
        if len(self._frontier) > 1:
            raise AmbiguousOutputError(
                f"{len(self._frontier)} frontier streams; combine() or merge them"
            )
        q = ContinuousQuery(self._frontier[0], name=name)
        if name:
            self.engine.register_query(name, q)
        return q


@dataclass
class ContinuousQuery:
    """≈ ``TypedContinuousQuery`` (`continuous_query.go:34-47`)."""

    df: DataFrame
    name: str | None = None
    _sq: "object" = None  # pyspark StreamingQuery when running
    _flush: Callable[[], None] | None = None  # global-order reorder drain
    # observability: high-water mark of the global-order merge buffer
    # (rows parked on the driver awaiting the watermark), updated after
    # every micro-batch — the number to alert on when sizing
    # max_out_of_order: bounded ∝ disorder + one batch, NOT stream
    # length, whenever the incremental watermark drains
    buffer_peak_rows: int = 0

    @property
    def streaming(self) -> bool:
        return self.df.isStreaming

    def collect(self):
        return self.df.collect()

    def subscribe_batch(
        self,
        sink_fn,
        output_mode: str = "append",
        ordered_by=None,
        global_order: bool = False,
        max_out_of_order=None,
        chunk_rows: int = 65_536,
    ):
        """Streaming subscribe via foreachBatch (≈ ``Subscribe``,
        `continuous_query.go:103-116`).

        Default (``ordered_by=None``): ``sink_fn(batch_df, batch_id)``
        receives each micro-batch as a DISTRIBUTED DataFrame — the bulk
        sink path; write it wherever, no driver materialization.

        ``ordered_by=[cols]``: the sorted-delivery semantics of
        :meth:`subscribe` at BULK granularity — ``sink_fn(chunk)`` is
        called with consecutive ``chunk_rows``-sized pandas DataFrames in
        key order (Arrow transfer, one distributed sort per micro-batch)
        instead of one driver callback per row.  ``global_order=True``
        extends the order ACROSS micro-batches exactly like
        :meth:`subscribe`: rows park in a driver-side buffer; with
        ``max_out_of_order=d`` every batch drains the buffer up to the
        PRIMARY-key watermark ``max_seen - d`` (bounded memory ∝
        disorder; with a composite key the drain is STRICT at the
        boundary — equal-primary rows can still arrive with any
        secondary, so boundary rows hold one extra drain cycle),
        otherwise the drain happens at :meth:`flush` /
        :meth:`await_done` (exact for any key).  Ties preserve
        arrival order (stable merge).  Driver memory holds at most the
        undrained buffer + one micro-batch — size the watermark (or the
        micro-batch, via ``maxFilesPerTrigger``) accordingly; the per-row
        :meth:`subscribe` remains the zero-materialization option.
        """
        if ordered_by is None:
            if global_order or max_out_of_order is not None:
                # same contract as subscribe(): ordering knobs without a
                # key would otherwise silently deliver UNORDERED batches
                raise ValueError(
                    "global_order/max_out_of_order require ordered_by"
                )
            if not self.streaming:
                sink_fn(self.df, None)
                return None
            self._sq = (
                self.df.writeStream.outputMode(output_mode)
                .foreachBatch(sink_fn)
                .trigger(availableNow=True)
                .start()
            )
            return self._sq

        cols = list(ordered_by)

        def emit(pdf) -> None:
            for i in range(0, len(pdf), chunk_rows):
                sink_fn(pdf.iloc[i : i + chunk_rows].reset_index(drop=True))

        if not global_order:
            def dispatch(batch_df, batch_id=None):
                emit(batch_df.orderBy(*cols).toPandas())

            if not self.streaming:
                dispatch(self.df)
                return None
            return self.subscribe_batch(dispatch, output_mode=output_mode)

        import pandas as pd

        buf: dict = {"pdf": None, "max_seen": None}

        def dispatch(batch_df, batch_id=None):
            new = batch_df.orderBy(*cols).toPandas()
            if len(new) == 0:
                return
            # NULL ordered_by keys are unorderable: pandas coerces the
            # column to float64 with NaN, and NaN fails BOTH watermark
            # masks below — the row would vanish from the buffer without
            # ever being delivered.  Fail loudly instead (the per-row
            # subscribe() heap fails on None comparison the same way).
            if new[cols].isna().any().any():
                raise ValueError(
                    "subscribe_batch(global_order=True): NULL values in"
                    f" ordered_by columns {cols} — an unorderable key"
                    " cannot pass the reorder watermark; filter NULLs"
                    " upstream or order by a non-nullable key"
                )
            held = buf["pdf"]
            merged = (
                new if held is None or len(held) == 0
                else pd.concat([held, new], ignore_index=True)
            )
            # both inputs are key-sorted; a STABLE sort of the concat is
            # the merge step, and keeps FIFO order among equal keys
            buf["pdf"] = merged.sort_values(
                cols, kind="mergesort", ignore_index=True
            )
            if max_out_of_order is not None:
                # track the frontier explicitly (a fully-drained buffer —
                # max_out_of_order=0 — must not let a later low-keyed
                # batch regress the watermark; same contract as the
                # per-row heap's max_seen)
                new_max = new[cols[0]].max()
                if buf["max_seen"] is None or new_max > buf["max_seen"]:
                    buf["max_seen"] = new_max
                wm = buf["max_seen"] - max_out_of_order
                # single key: everything at-or-below the watermark is
                # safe (a future row equal to the bound only TIES, and
                # ties are arrival-ordered).  Composite key: the bound
                # is scalar on the PRIMARY, so a future row can tie the
                # primary at the bound with ANY secondary — rows ON the
                # boundary must hold (strict <), or secondary order
                # across batches breaks.
                mask = (
                    buf["pdf"][cols[0]] <= wm
                    if len(cols) == 1
                    else buf["pdf"][cols[0]] < wm
                )
                ready = buf["pdf"][mask]
                buf["pdf"] = buf["pdf"][~mask].reset_index(drop=True)
                if len(ready):
                    emit(ready.reset_index(drop=True))
            if len(buf["pdf"]) > self.buffer_peak_rows:
                self.buffer_peak_rows = len(buf["pdf"])

        def drain() -> None:
            held, buf["pdf"] = buf["pdf"], None
            if held is not None and len(held):
                emit(held)

        if not self.streaming:
            dispatch(self.df)
            drain()
            return None
        self._flush = drain
        return self.subscribe_batch(dispatch, output_mode=output_mode)

    def subscribe(
        self,
        callback,
        ordered_by=None,
        output_mode: str = "append",
        global_order: bool = False,
        max_out_of_order=None,
    ):
        """Per-event subscriber: one ``callback(row)`` call per event — the
        reference's primary sink (``Subscribe(func(Event[T]))``,
        `continuous_query.go:103-116`; every example uses it).

        Delivery is driver-side, matching the reference's model: its
        subscriber is a single consumer goroutine fed from the stream's
        notifier (`pkg/pubsub/stream.go:309-339`) — a convergence point, not
        a distributed path.  Rows stream through ``toLocalIterator`` so a
        large micro-batch never materializes on the driver at once; use
        ``subscribe_batch`` for distributed/bulk sinks.

        ``ordered_by``: optional column list to sort each micro-batch before
        dispatch (the reference delivers in stream order; Spark partitions
        are unordered without an explicit sort).  Works on batch queries too
        (one "micro-batch" = the whole result).

        ``global_order=True`` extends the ordering ACROSS micro-batches —
        the reference's sorted delivery (`pkg/pubsub/stream.go:297-319`,
        sorted buffer `pkg/events/buffer.go:391-397`) is global, not
        per-batch.  Rows park in a driver-side reorder heap keyed by
        ``ordered_by``; with ``max_out_of_order=d`` (the caller's disorder
        bound on the FIRST ordered-by column, e.g. a seq delta) every batch
        drains the heap up to the primary-key watermark ``max_seen - d``
        (strict at the boundary for composite keys — see
        :meth:`subscribe_batch`) —
        so delivery stays incremental with bounded memory (heap size ∝
        disorder, not stream length).  With ``max_out_of_order=None`` the
        heap drains only at :meth:`flush` / :meth:`await_done` — exact for
        any orderable key, buffering the full stream.  A row arriving later
        than its bound (watermark violation) is delivered at the next drain
        point, best-effort — same contract as any watermark operator.
        """
        cols = list(ordered_by) if ordered_by else None
        if not global_order:
            def dispatch(batch_df, batch_id=None):
                it = batch_df.orderBy(*cols) if cols else batch_df
                for row in it.toLocalIterator():
                    callback(row)

            if not self.streaming:
                dispatch(self.df)
                return None
            return self.subscribe_batch(dispatch, output_mode=output_mode)

        if not cols:
            raise ValueError("global_order=True requires ordered_by")
        import heapq
        import itertools

        heap: list = []
        tie = itertools.count()  # FIFO among equal keys; rows never compared
        state: dict = {"max_seen": None}

        def drain(wm0=None) -> None:
            # wm0 is the scalar primary-key watermark.  Single key: pop
            # at-or-below (a future arrival equal to the bound only ties,
            # and ties are arrival-ordered).  Composite key: a future row
            # can tie the primary at the bound with ANY secondary, so
            # boundary-primary rows hold — pop strictly below.
            def ready(k):
                return k[0] <= wm0 if len(cols) == 1 else k[0] < wm0

            while heap and (wm0 is None or ready(heap[0][0])):
                _, _, row = heapq.heappop(heap)
                callback(row)

        def dispatch(batch_df, batch_id=None):
            for row in batch_df.orderBy(*cols).toLocalIterator():
                k = tuple(row[c] for c in cols)
                heapq.heappush(heap, (k, next(tie), row))
                if state["max_seen"] is None or k > state["max_seen"]:
                    state["max_seen"] = k
            if max_out_of_order is not None and state["max_seen"] is not None:
                drain(state["max_seen"][0] - max_out_of_order)
            if len(heap) > self.buffer_peak_rows:
                self.buffer_peak_rows = len(heap)

        if not self.streaming:
            dispatch(self.df)
            drain()
            return None
        self._flush = drain
        return self.subscribe_batch(dispatch, output_mode=output_mode)

    def flush(self) -> None:
        """Drain any rows parked by a ``global_order`` subscription (in key
        order).  Idempotent; called automatically by :meth:`await_done`."""
        if self._flush is not None:
            self._flush()

    def run_memory(self, query_name: str, output_mode: str = "append"):
        """Run to a memory sink (test harness; ≈ Run, `continuous_query.go:118-139`)."""
        self._sq = (
            self.df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        return self._sq

    def await_done(self) -> None:
        if self._sq is not None:
            self._sq.awaitTermination()
        self.flush()

    def stop(self) -> None:
        if self._sq is not None and self._sq.isActive:
            self._sq.stop()
