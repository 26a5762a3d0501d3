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

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from go_streaming_spark.operators.base import Operator


def _sorted_whole(batch_df: DataFrame, cols: list) -> DataFrame:
    """``batch_df`` sorted on ``cols`` in one partition, for a caller that
    brings the whole batch to the driver anyway: Spark's own sort order
    (ascending, NULLs first, NaN largest) in one job.  ``orderBy`` would
    plan a range exchange whose partitioner first runs a sample job over
    the whole plan, so a stateful stage below it would run, and load and
    commit its state stores, twice per batch."""
    return batch_df.repartition(1).sortWithinPartitions(*cols)


def _check_order_args(ordered_by, global_order, max_out_of_order) -> None:
    # ordering knobs that cannot act would otherwise be silently ignored
    # and deliver UNORDERED rows
    if not ordered_by and (global_order or max_out_of_order is not None):
        raise ValueError("global_order/max_out_of_order require ordered_by")
    if max_out_of_order is not None and not global_order:
        raise ValueError("max_out_of_order requires global_order=True")


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

    def _start(self, dispatch, output_mode: str, drain=None):
        """Run ``dispatch(df, batch_id)`` once on a batch frame, or per
        micro-batch of a stream (foreachBatch, availableNow).  ``drain``
        releases rows a ``global_order`` buffer still holds: at once on a
        batch frame, at :meth:`flush` / :meth:`await_done` on a stream."""
        if not self.streaming:
            dispatch(self.df, None)
            if drain is not None:
                drain()
            return None
        self._flush = drain
        self._sq = (
            self.df.writeStream.outputMode(output_mode)
            .foreachBatch(dispatch)
            .trigger(availableNow=True)
            .start()
        )
        return self._sq

    def _reorder(self, cols, max_out_of_order, emit):
        """The global-order merge buffer both subscribers share.  ``push``
        takes one micro-batch as a pandas frame sorted on ``cols``;
        ``emit`` receives each released run of rows in key order.
        Returns ``(push, drain)``."""
        import pandas as pd

        buf: dict = {"pdf": None, "max_seen": None}

        def push(new) -> None:
            if len(new) == 0:
                return
            # NULL ordered_by keys are unorderable: pandas coerces the
            # column to float64 with NaN, and NaN fails BOTH watermark
            # masks below — the row would vanish from the buffer without
            # ever being delivered.  Fail loudly instead.
            if new[cols].isna().any().any():
                raise ValueError(
                    "global_order=True: NULL values in"
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
                # batch regress the watermark)
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

        return push, drain

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
        key order instead of one driver callback per row.  Each
        micro-batch is sorted in one partition by one Spark job and moves
        by Arrow transfer: a distributed sort's range sample would run the
        batch's stateful stages a second time, and the whole batch comes
        to the driver anyway.  ``global_order=True``
        extends the order ACROSS micro-batches: rows park in a driver-side
        merge buffer; with ``max_out_of_order=d`` every batch drains the
        buffer up to the PRIMARY-key watermark ``max_seen - d`` (bounded memory ∝
        disorder; with a composite key the drain is STRICT at the
        boundary — equal-primary rows can still arrive with any
        secondary, so boundary rows hold one extra drain cycle),
        otherwise the drain happens at :meth:`flush` /
        :meth:`await_done` (exact for any key).  Ties preserve
        arrival order (stable merge).  Driver memory holds at most the
        undrained buffer + one micro-batch — size the watermark (or the
        micro-batch, via ``maxFilesPerTrigger``) accordingly; the per-row
        :meth:`subscribe` without ``global_order`` remains the
        zero-materialization option.
        """
        _check_order_args(ordered_by, global_order, max_out_of_order)
        if not ordered_by:
            return self._start(sink_fn, output_mode)
        cols = list(ordered_by)

        def emit(pdf) -> None:
            for i in range(0, len(pdf), chunk_rows):
                sink_fn(pdf.iloc[i : i + chunk_rows].reset_index(drop=True))

        if global_order:
            push, drain = self._reorder(cols, max_out_of_order, emit)
        else:
            push, drain = emit, None
        return self._start(
            lambda batch_df, _: push(_sorted_whole(batch_df, cols).toPandas()),
            output_mode, drain,
        )

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
        a distributed path.  Without ``global_order``, rows stream through
        ``toLocalIterator`` so a large micro-batch never materializes on the
        driver at once; use
        ``subscribe_batch`` for distributed/bulk sinks.

        ``ordered_by``: optional column list to sort each micro-batch before
        dispatch (the reference delivers in stream order; Spark partitions
        are unordered without an explicit sort).  Works on batch queries too
        (one "micro-batch" = the whole result).

        ``global_order=True`` extends the ordering ACROSS micro-batches —
        the reference's sorted delivery (`pkg/pubsub/stream.go:297-319`,
        sorted buffer `pkg/events/buffer.go:391-397`) is global, not
        per-batch.  Each micro-batch's rows park in the merge buffer
        :meth:`subscribe_batch` uses, keyed by ``ordered_by`` with each
        ``Row`` carried beside its key, so callbacks still receive the
        ``Row`` objects; ``max_out_of_order`` (the disorder bound on the
        FIRST ordered-by column, e.g. a seq delta) and the drain points
        behave exactly as there.  A row arriving later than its bound (watermark
        violation) is delivered at the next drain point, best-effort —
        same contract as any watermark operator.
        """
        _check_order_args(ordered_by, global_order, max_out_of_order)
        cols = list(ordered_by or [])
        if not global_order:
            def dispatch(batch_df, _):
                # the range sort's sample job and its map stage read one
                # evaluation of the batch, so a stateful stage runs once;
                # a frame the caller cached stays cached
                owned = bool(cols) and batch_df.storageLevel == StorageLevel.NONE
                if owned:
                    batch_df.persist()
                try:
                    it = batch_df.orderBy(*cols) if cols else batch_df
                    for row in it.toLocalIterator():
                        callback(row)
                finally:
                    if owned:
                        batch_df.unpersist()

            return self._start(dispatch, output_mode)

        import pandas as pd

        # the Row column's label is an int: never a (string) column name
        row_col = 0

        def emit(pdf) -> None:
            for row in pdf[row_col]:
                callback(row)

        push, drain = self._reorder(cols, max_out_of_order, emit)

        def dispatch(batch_df, _):
            rows = list(_sorted_whole(batch_df, cols).toLocalIterator())
            keys = pd.DataFrame([[r[c] for c in cols] for r in rows], columns=cols)
            keys[row_col] = pd.Series(rows, dtype=object)
            push(keys)

        return self._start(dispatch, output_mode, drain)

    def flush(self) -> None:
        """Drain any rows parked by a ``global_order`` subscription (in key
        order).  Idempotent; called automatically by :meth:`await_done`."""
        if self._flush is not None:
            self._flush()

    def await_done(self) -> None:
        if self._sq is not None:
            self._sq.awaitTermination()
        self.flush()

    def stop(self) -> None:
        if self._sq is not None and self._sq.isActive:
            self._sq.stop()
