"""Replay phase of ``stream_join_replay``: closed-loop drain of a seeded backlog.

A backlog of parquet files (Zipf-skewed keys, a small share of events out
of order inside their file) drains through ``greater`` -> ``map_expr`` ->
keyed ``windowed_agg(TemporalWindow)`` and the engine's ordered delivery,
``ContinuousQuery.subscribe_batch(ordered_by=[window_start, k],
global_order=True, max_out_of_order=...)``.  ``maxFilesPerTrigger`` makes
the drain run as many micro-batches.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import common
import gen
from w_join import _read_us, envelope

N_FILES = 40
ROWS_PER_FILE = 6000
FILES_PER_TRIGGER = 5
FILE_SPAN_US = 1_000_000       # each file covers 1 s of event time
WINDOW_S = 10
N_KEYS = 500
ZIPF_A = 1.3
DISORDER = 0.05
THRESHOLD = 100                # greater(): amount > 100 keeps ~90%
T0_US = 1_700_000_000_000_000


def build_query(spark, in_root: str, files_per_trigger: int):
    from pyspark.sql import functions as F

    from go_streaming_spark import Engine
    from go_streaming_spark.operators import TemporalWindow, greater, map_expr, windowed_agg
    from go_streaming_spark.sources.catalog import load_stream

    eng = Engine(spark)
    eng.register_stream("events", envelope(
        load_stream(spark, in_root, "events", max_files_per_trigger=files_per_trigger)))
    agg = windowed_agg(
        TemporalWindow(f"{WINDOW_S} seconds"),
        [F.sum("value").alias("total"), F.count(F.lit(1)).alias("n")],
        keys=("k",), lineage=False, emit_empty=False,
    )
    return (
        eng.builder().from_source("events", streaming=True)
        .connect(greater(THRESHOLD))
        .connect(map_expr(F.col("value") * 3 + 1, name="Scale"))
        .connect(agg)
        .build()
    )


def _subscribe(q, sink):
    return q.subscribe_batch(
        sink, ordered_by=["window_start", "k"], global_order=True,
        max_out_of_order=pd.Timedelta(seconds=WINDOW_S),
    )


class ReplayPhase:
    """Closed-loop phase of the ``stream_join_replay`` workload."""

    LAYERS = (
        "sources.replay.offset_ms", "sources.replay.backlog_rows",
        "sources.replay.files_per_batch", "operators.windows.add_batch_ms",
        "operators.windows.state_rows", "operators.windows.state_bytes",
        "operators.windows.state_commit_ms", "operators.windows.late_rows_dropped",
        "streaming.replay_batches", "plans.buffer_peak_rows", "plans.chunks",
        "plans.sink_ms", "spark.replay.jobs", "spark.replay.tasks",
    )

    def __init__(self, work: str, seed: int, seconds: int, tracer, rss):
        self.work, self.seed, self.tracer, self.rss = work, seed, tracer, rss

    def generate(self) -> None:
        self.backlog = gen.write_backlog(
            os.path.join(self.work, "replay-in"), self.seed, N_FILES, ROWS_PER_FILE,
            FILE_SPAN_US, N_KEYS, ZIPF_A, DISORDER, T0_US)
        gen.write_backlog(os.path.join(self.work, "replay-warm"), self.seed + 1,
                          3 * FILES_PER_TRIGGER, ROWS_PER_FILE, FILE_SPAN_US, N_KEYS,
                          ZIPF_A, DISORDER, T0_US)

    def warmup(self, spark) -> None:
        """The timed query over a three-batch backlog of full-size files."""
        q = build_query(spark, os.path.join(self.work, "replay-warm"), FILES_PER_TRIGGER)
        _subscribe(q, lambda pdf: None)
        q.await_done()

    def measure(self, spark) -> dict:
        tr = self.tracer
        in_root = os.path.join(self.work, "replay-in")
        listener = common.ProgressListener(spark) if tr.enabled else None
        chunks: list = []

        def sink(pdf) -> None:  # ordered-delivery consumer: keep every window row
            chunks.append(pdf[["window_start", "k", "total", "n"]].copy())

        try:
            t0 = time.perf_counter()
            with tr.span("plans.build"):
                q = build_query(spark, in_root, FILES_PER_TRIGGER)
            with tr.span("plans.subscribe_batch"):
                sq = _subscribe(q, sink)
                q.await_done()
            wall = time.perf_counter() - t0
            progress = common.progress_of(sq)
            jobs, tasks = common.jobs_and_tasks(spark, str(sq.runId))
            intervals = common.job_intervals(spark, str(sq.runId)) if tr.enabled else []
        finally:
            if listener is not None:
                listener.detach()
        dig = common.digest_progress(progress)
        with self.rss.paused():
            checks = self._check(chunks, dig["late_rows_dropped"])
        out = {
            "attempted": self.backlog["events"],
            "checks": checks,
            "e2e": {"throughput_per_s": self.backlog["events"] / wall},
            "samples": {"throughput_per_s": 1},
            "notes": {"files_per_trigger": FILES_PER_TRIGGER, "drain_s": wall,
                      "backlog_events": self.backlog["events"],
                      "micro_batches": dig["data_batches"],
                      "replay_batches_ms_rows": [(common._dur(p, "triggerExecution"),
                                                  p["numInputRows"]) for p in progress]},
        }
        if tr.enabled:
            out["layers"] = self._layers(listener.events, q, chunks, intervals, jobs, tasks)
        return out

    def _check(self, chunks: list, dropped: int) -> dict:
        """Window sums and counts equal a pandas reference for every closed
        window; each window arrives exactly once, in nondecreasing
        (window_start, k) order."""
        with self.tracer.span("check"):
            got = (pd.concat(chunks, ignore_index=True) if chunks
                   else pd.DataFrame(columns=["window_start", "k", "total", "n"]))
            ws = got["window_start"].to_numpy().astype("datetime64[us]").astype(np.int64)
            ks = got["k"].to_numpy()
            ordered = bool(np.all((ws[1:] > ws[:-1]) | ((ws[1:] == ws[:-1]) & (ks[1:] >= ks[:-1]))))
            dup = int(got.duplicated(["window_start", "k"]).sum())
            ev = _read_us(self.backlog["dir"])
            ev = ev[(ev["amount"] > THRESHOLD) & (ev["id"] >= 0)]
            ev["w"] = ev["ts_us"] // (WINDOW_S * 1_000_000) * WINDOW_S
            ev["v"] = ev["amount"] * 3 + 1
            ref = ev.groupby(["w", "k"]).agg(total=("v", "sum"), n=("v", "size")).reset_index()
            mine = got.assign(w=ws // 1_000_000)
            m = ref.merge(mine, on=["w", "k"], how="outer", suffixes=("_ref", ""),
                          indicator=True)
            missing = int((m["_merge"] == "left_only").sum())
            extra = int((m["_merge"] == "right_only").sum())
            both = m[m["_merge"] == "both"]
            wrong = int(((both["total"] != both["total_ref"]) | (both["n"] != both["n_ref"])).sum())
        ok = ordered and dup == 0 and missing == 0 and extra == 0 and wrong == 0 and dropped == 0
        return {"ok": ok, "windows": len(got), "windows_reference": len(ref),
                "ordered": ordered, "duplicated": dup, "missing": missing, "extra": extra,
                "wrong_values": wrong, "rows_dropped_by_watermark": dropped}

    def _layers(self, events: list, q, chunks: list, intervals: list,
                jobs: int, tasks: int) -> dict:
        data = [p for p in events if p.get("numInputRows", 0) > 0]
        # the ordered delivery (orderBy + toPandas, merge sort, watermark
        # split, sink calls) runs inside addBatch: its driver-side share is
        # addBatch minus the wall time of the batch's Spark jobs
        delivery_ms = [
            max(0.0, common._dur(p, "addBatch")
                - 1000 * common.covered(intervals, _end(p) - common._dur(
                    p, "triggerExecution") / 1000, _end(p)))
            for p in data]
        total = self.backlog["events"] + 1
        backlog, consumed = [], 0
        for p in events:
            backlog.append(total - consumed)       # rows not yet read at batch start
            consumed += p.get("numInputRows", 0)
            end = _end(p)
            self.tracer.add("streaming.batch", end - common._dur(p, "triggerExecution") / 1000, end)
        dig = common.digest_progress(events)
        return {
            "sources.replay.offset_ms": dig.get("offset_ms", 0.0),
            "sources.replay.backlog_rows": common.median(backlog) if backlog else 0.0,
            "sources.replay.files_per_batch": common.median(
                [p["numInputRows"] / ROWS_PER_FILE for p in data]) if data else 0.0,
            "operators.windows.add_batch_ms": dig.get("add_batch_ms", 0.0),
            "operators.windows.state_rows": dig.get("state_rows", 0),
            "operators.windows.state_bytes": dig.get("state_bytes", 0),
            "operators.windows.state_commit_ms": dig.get("state_commit_ms", 0.0),
            "operators.windows.late_rows_dropped": dig["late_rows_dropped"],
            "streaming.replay_batches": dig["batches"],
            "plans.buffer_peak_rows": q.buffer_peak_rows,
            "plans.chunks": len(chunks),
            "plans.sink_ms": common.median(delivery_ms) if delivery_ms else 0.0,
            "spark.replay.jobs": jobs / max(1, len(data)),
            "spark.replay.tasks": tasks / max(1, len(data)),
        }


def _end(p: dict) -> float:
    from w_join import _ts

    return _ts(p["timestamp"]) + common._dur(p, "triggerExecution") / 1000
