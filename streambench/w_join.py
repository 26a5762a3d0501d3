"""Join phase of ``stream_join_replay``: open-loop windowed stream-stream join.

One generator process writes the keyed topics ``entry`` and ``exit``
every 250 ms at a fixed rate; the engine's builder composes
``greater`` -> payload pack -> ``window_join(inner, 1 second)`` over both
file streams, and a processing-time foreachBatch sink collects the pairs.
Latency runs from the creation stamp of the later of the two joined
events to the moment its pair reaches the sink.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import common
import gen

# events/s per topic: about half the rate at which the backlog starts to
# grow (between 64k and 128k per topic on a 4-vCPU box: at 64k a batch
# takes ~2 s and keeps up, at 128k batch times and backlog climb)
RATE = 32000
PERIOD = 0.25          # generator tick and processing-time trigger
WARM_S = 3.0           # stream start-up: pairs created before this are not measured
WARM_TICKS = 8         # set-up warm-up input: full-size ticks, four micro-batches
TAIL_S = 0.5           # generator keeps writing briefly past the measured window
THRESHOLD = 10         # greater(): amount > 10 keeps ~89% of events
WINDOW = "1 second"


def envelope(df):
    """Raw topic rows -> the engine's event envelope, keeping the key ``k``
    as an extra column (operators pass extra columns through)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("id").alias("seq"),
        F.col("ts").alias("event_start"),
        F.col("ts").alias("event_end"),
        F.create_map().cast("map<string,string>").alias("meta"),
        F.col("amount").alias("value"),
        F.col("k"),
    )


def build_query(spark, in_root: str, max_files_per_trigger: int | None = None):
    from pyspark.sql import functions as F

    from go_streaming_spark import Engine
    from go_streaming_spark.operators import TemporalWindow, greater, map_expr, window_join
    from go_streaming_spark.sources.catalog import load_stream

    eng = Engine(spark)
    for topic in ("entry", "exit"):
        eng.register_stream(topic, envelope(
            load_stream(spark, in_root, topic, max_files_per_trigger=max_files_per_trigger)))
    pack = map_expr(F.struct(
        F.col("k"), F.col("value").alias("amount"), F.col("seq").alias("id"),
        F.unix_micros("event_start").alias("created_us"),
    ), name="Pack")
    policy = TemporalWindow(WINDOW)
    return (
        eng.builder().from_source("entry", streaming=True)
        .merge(eng.builder().from_source("exit", streaming=True))
        .connect(greater(THRESHOLD) >> pack)
        # the full window_join output cannot be sunk yet (a known defect,
        # probed separately); project (window_start, value) like the tests
        .combine(lambda l, r: window_join(l, r, "k", policy).select("window_start", "value"))
        .build()
    )


def _sink_factory(rows: list, tracer):
    from pyspark.sql import functions as F

    def sink(df, batch_id):
        with tracer.span("plans.sink"):
            pdf = df.select(
                F.col("value.l.id").alias("l"), F.col("value.r.id").alias("r"),
                F.greatest("value.l.created_us", "value.r.created_us").alias("c"),
            ).toPandas()
            t = time.time()
            if len(pdf):
                rows.append((pdf["l"].to_numpy(), pdf["r"].to_numpy(),
                             pdf["c"].to_numpy(), t))
    return sink


def _start(q, sink, ckpt: str):
    return (
        q.df.writeStream.foreachBatch(sink)
        .trigger(processingTime=f"{int(PERIOD * 1000)} milliseconds")
        .option("checkpointLocation", ckpt)
        .start()
    )


def _wait_files(in_root: str, timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    dirs = [os.path.join(in_root, t + ".parquet") for t in ("entry", "exit")]
    while time.time() < deadline:
        if all(os.path.isdir(d) and any(n.endswith(".parquet") for n in os.listdir(d))
               for d in dirs):
            return
        time.sleep(0.02)
    raise RuntimeError("generator wrote no files")


def _consumed(sq) -> int:
    return sum(p.numInputRows for p in sq.recentProgress)


class JoinPhase:
    """Open-loop phase of the ``stream_join_replay`` workload."""

    LAYERS = (
        "sources.join.offset_ms", "sources.join.backlog_rows", "sources.join.files_per_batch",
        "operators.joins.add_batch_ms", "operators.joins.state_rows",
        "operators.joins.state_bytes", "operators.joins.late_rows_dropped",
        "streaming.batches", "streaming.trigger_ms", "streaming.planning_ms",
        "streaming.commit_ms", "streaming.idle_share",
        "spark.join.jobs", "spark.join.tasks", "generator.lateness_p99_s",
    )

    def __init__(self, work: str, seed: int, seconds: int, tracer, rss):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer, self.rss = tracer, rss
        self.warm_root = os.path.join(work, "join-warm")
        self.in_root = os.path.join(work, "join-in")

    def generate(self) -> None:
        """Warm-up input only: the timed input comes from the generator
        process while the query runs."""
        rng = np.random.default_rng(self.seed + 7919)
        n = int(RATE * PERIOD)
        for t in ("entry", "exit"):
            os.makedirs(os.path.join(self.warm_root, t + ".parquet"), exist_ok=True)
        for k in range(WARM_TICKS):
            tables = gen.join_tick(rng, n, 1_700_000_000_000_000 + k * 250_000, k * n, 0.7)
            for t, table in zip(("entry", "exit"), tables):
                gen.write_atomic(table, os.path.join(self.warm_root, t + ".parquet"),
                                 f"part-{k:06d}.parquet")

    def warmup(self, spark) -> None:
        """The timed query over full-size ticks, two ticks a micro-batch,
        so the join's code paths are compiled before anything is timed."""
        q = build_query(spark, self.warm_root, max_files_per_trigger=2)
        sq = (q.df.writeStream.foreachBatch(lambda df, b: df.count())
              .trigger(availableNow=True)
              .option("checkpointLocation", os.path.join(self.work, "join-warm-ckpt"))
              .start())
        sq.awaitTermination()

    def measure(self, spark) -> dict:
        tr = self.tracer
        stats_file = os.path.join(self.work, "join-gen-stats.json")
        n_ticks = int(round((WARM_S + self.seconds + TAIL_S) / PERIOD))
        cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
               "--out", self.in_root, "--rate", str(RATE), "--period", str(PERIOD),
               "--ticks", str(n_ticks), "--seed", str(self.seed), "--stats", stats_file]
        proc = subprocess.Popen(cmd)
        self.rss.exclude.add(proc.pid)
        listener = common.ProgressListener(spark) if tr.enabled else None
        rows: list = []
        try:
            _wait_files(self.in_root)
            with tr.span("plans.build"):
                q = build_query(spark, self.in_root)
            with tr.span("streaming.run"):
                sq = _start(q, _sink_factory(rows, tr), os.path.join(self.work, "join-ckpt"))
                proc.wait(timeout=n_ticks * PERIOD + 60)
                if proc.returncode != 0:
                    raise RuntimeError(f"generator exited with {proc.returncode}")
                with open(stats_file) as fh:
                    gstats = json.load(fh)
                total = 2 * gstats["events_per_tick"] * len(gstats["ticks"])
                deadline = time.time() + 30
                while _consumed(sq) < total and time.time() < deadline:
                    if sq.exception() is not None:
                        raise RuntimeError(str(sq.exception()))
                    time.sleep(0.05)
                sq.stop()
            progress = common.progress_of(sq)
            jobs, tasks = common.jobs_and_tasks(spark, str(sq.runId))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            if listener is not None:
                listener.detach()

        ticks = np.asarray(gstats["ticks"], dtype=np.int64)
        lo = ticks[0] + int(WARM_S * 1e6)
        hi = lo + int(self.seconds * 1e6)
        cat = (lambda i: np.concatenate([x[i] for x in rows])) if rows else (
            lambda i: np.zeros(0, np.int64))
        l, r, c = cat(0), cat(1), cat(2)
        t_sink = np.concatenate([np.full(len(x[0]), x[3]) for x in rows]) if rows else np.zeros(0)
        sel = (c >= lo) & (c < hi)
        lat = t_sink[sel] - c[sel] / 1e6
        late = common.digest_progress(progress)["late_rows_dropped"]
        with self.rss.paused():
            checks = self._check(l, r, late)
        lateness_p99 = float(np.percentile(gstats["lateness_s"], 99))
        pct = lambda q: float(np.percentile(lat, q)) if len(lat) else None
        out = {
            "attempted": total,
            "checks": checks,
            "e2e": {
                "latency_p50_s": pct(50),
                "latency_p90_s": pct(90),
                "recall": 1 - checks["pairs_missing"] / max(1, checks["pairs_reference"]),
            },
            "samples": {"latency_p50_s": int(len(lat)), "latency_p90_s": int(len(lat)),
                        "recall": checks["pairs_reference"]},
            "notes": {"rate_per_topic": RATE, "ticks": len(ticks),
                      "generator_lateness_p99_s": lateness_p99,
                      "join_batches_ms_rows": [(common._dur(p, "triggerExecution"),
                                                p["numInputRows"]) for p in progress]},
        }
        if tr.enabled:
            out["layers"] = self._layers(listener.events, gstats, jobs, tasks)
        return out

    def _check(self, l, r, dropped: int) -> dict:
        """Every emitted pair is in a pandas reference join of the
        generated files; pairs may be missing only where Spark reports
        rows dropped by the watermark: a dropped row loses at most as many
        pairs as the most pairs any one row has in the reference (1 unless
        two entry keys of a window collide in the 2^40 key space)."""
        with self.tracer.span("check"):
            ent, ext = (_read_us(os.path.join(self.in_root, t + ".parquet"))
                        for t in ("entry", "exit"))
            for side in (ent, ext):
                side.query("amount > @THRESHOLD", inplace=True)
                side["w"] = side["ts_us"] // 1_000_000
            m = ent.merge(ext, on=["w", "k"], suffixes=("_l", "_r"))
            ref = set(zip(m["id_l"].tolist(), m["id_r"].tolist()))
            got = list(zip(l.tolist(), r.tolist()))
            got_set = set(got)
            extra = len(got_set - ref)
            missing = len(ref - got_set)
            dup = len(got) - len(got_set)
            fanout = max([int(m[c].value_counts().max()) for c in ("id_l", "id_r")]
                         if len(m) else [0])
        ok = extra == 0 and dup == 0 and missing <= dropped * fanout
        return {"ok": ok, "pairs_emitted": len(got), "pairs_reference": len(ref),
                "pairs_extra": extra, "pairs_duplicated": dup, "pairs_missing": missing,
                "rows_dropped_by_watermark": dropped,
                "pairs_missing_allowed": dropped * fanout}

    def _layers(self, events: list, gstats: dict, jobs: int, tasks: int) -> dict:
        data = [p for p in events if p.get("numInputRows", 0) > 0]
        n = gstats["events_per_tick"]
        # backlog (generated - consumed) at the end of every data batch
        written = np.asarray(gstats["ticks"]) / 1e6 + np.asarray(gstats["lateness_s"])
        backlog, consumed = [], 0
        for p in events:
            consumed += p.get("numInputRows", 0)
            end = _ts(p["timestamp"]) + common._dur(p, "triggerExecution") / 1000
            backlog.append(2 * n * int(np.sum(written <= end)) - consumed)
            self.tracer.add("streaming.batch", end - common._dur(p, "triggerExecution") / 1000, end)
        ddig = common.digest_progress(events)
        return {
            "sources.join.offset_ms": ddig.get("offset_ms", 0.0),
            "sources.join.backlog_rows": common.median(backlog) if backlog else 0.0,
            "sources.join.files_per_batch": common.median(
                [p["numInputRows"] / n for p in data]) if data else 0.0,
            "operators.joins.add_batch_ms": ddig.get("add_batch_ms", 0.0),
            "operators.joins.state_rows": ddig.get("state_rows", 0),
            "operators.joins.state_bytes": ddig.get("state_bytes", 0),
            "operators.joins.late_rows_dropped": ddig["late_rows_dropped"],
            "streaming.batches": ddig["batches"],
            "streaming.trigger_ms": ddig.get("trigger_ms", 0.0),
            "streaming.planning_ms": ddig.get("planning_ms", 0.0),
            "streaming.commit_ms": ddig.get("commit_ms", 0.0),
            "streaming.idle_share": _idle_share(events),
            "spark.join.jobs": jobs / max(1, len(data)),
            "spark.join.tasks": tasks / max(1, len(data)),
            "generator.lateness_p99_s": float(np.percentile(gstats["lateness_s"], 99)),
        }


def _read_us(path: str):
    """A parquet topic as pandas, with ``ts`` as int64 epoch microseconds."""
    import pyarrow as pa

    t = pq.read_table(path)
    return t.drop(["ts"]).append_column("ts_us", t["ts"].cast(pa.int64())).to_pandas()


def _ts(s: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def _idle_share(events: list) -> float:
    """Share of the query's wall time in which no trigger was executing."""
    if len(events) < 2:
        return 0.0
    start = _ts(events[0]["timestamp"])
    end = _ts(events[-1]["timestamp"]) + common._dur(events[-1], "triggerExecution") / 1000
    busy = sum(common._dur(p, "triggerExecution") for p in events) / 1000
    return max(0.0, 1.0 - busy / max(1e-9, end - start))
