"""Harness plumbing shared by the workloads: Spark session set-up, the
span tracer, memory and load sampling, Spark job/task counting, streaming
progress digestion, and the known-defect probes."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor


def median(xs) -> float:
    return float(statistics.median(xs))


# -- tracing ----------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once at the end.  Disabled, ``span`` is a no-op, so untraced runs
    pay nothing for the call sites."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._local = threading.local()  # per-thread span stack
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": stack[-1] if stack else None, "run": self.run_id}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a micro-batch from streaming
        progress)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "start": start,
                               "end": end, "parent": None, "run": self.run_id})

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh)


# -- process-tree memory ----------------------------------------------------

def _proc_table() -> dict:
    """pid -> (ppid, rss_bytes) for every readable process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(pid)] = (int(rest[1]), int(rest[21]) * page)
    return out


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and its descendants (the
    JVM and the Python workers) every ``interval`` seconds, skipping the
    subtrees of ``exclude`` pids (the load generator)."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude: set = set()
        self.peak = 0
        self._halt = threading.Event()
        self._paused = threading.Event()

    def sample(self) -> int:
        table = _proc_table()
        kids: dict = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        root = os.getpid()
        total, stack = 0, [root]
        while stack:
            pid = stack.pop()
            if pid in self.exclude or pid not in table:
                continue
            ppid, rss = table[pid]
            parent_rss = table[ppid][1] if pid != root and ppid in table else 0
            # a child whose RSS matches its parent's is a fork that still
            # shares the parent's pages (the JVM spawns helper commands
            # through vfork, and until exec the child maps the whole JVM):
            # counting it again would double the parent
            if not 0.9 * parent_rss <= rss <= 1.1 * parent_rss:
                total += rss
            stack.extend(kids.get(pid, ()))
        return total

    @contextlib.contextmanager
    def paused(self):
        """No samples while the harness itself holds reference data (the
        output checks): the metric is the engine's footprint."""
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def run(self) -> None:
        while not self._halt.is_set():
            if not self._paused.is_set():
                self.peak = max(self.peak, self.sample())
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak / (1 << 20)


# -- Spark session ----------------------------------------------------------

def prepare_env(work: str) -> None:
    """Keep every file Spark writes inside ``work``, give Spark half the
    machine's CPUs and cap driver memory below the machine's RAM
    (session.get_session defaults to 24g).  The other half of the CPUs is
    left to what runs beside the engine's task threads: the driver JVM's
    planning, commit and state-maintenance threads, the Python driver and
    workers, and the load generator (NOTES.md has the measurement).  The
    heap is fixed-size (-Xms = -Xmx, the usual server setting), so peak
    RSS does not depend on G1's heap-resizing heuristics run to run."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (its launcher too) would otherwise
    # write a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 2) // 2)))
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1536m")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{mem}'"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " --conf spark.ui.showConsoleProgress=false"
        " pyspark-shell"
    )


def start_session(work: str):
    """``get_session`` picks local[N] from ``SPARK_GRAFT_CPUS`` (set by
    ``prepare_env`` unless already set)."""
    from go_streaming_spark.session import get_session

    spark = get_session(app_name="streambench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   os.path.join(work, "checkpoints"))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    return spark


def setup(work: str, phases, tracer: Tracer):
    """Session start (JVM launch included) + every phase's warm-up.
    Returns (spark, start_s, warmup_s)."""
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(work)
    t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        # independent warm-ups overlap, as the phases' own queries would
        with ThreadPoolExecutor(max_workers=len(phases)) as ex:
            for f in [ex.submit(ph.warmup, spark) for ph in phases]:
                f.result()
    return spark, t1 - t0, time.perf_counter() - t1


# -- Spark jobs/tasks -------------------------------------------------------

@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_and_tasks(spark, group: str) -> tuple:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), tasks


def job_intervals(spark, group: str) -> list:
    """(submitted, completed) wall times in seconds of every finished
    Spark job in ``group``, read from the driver's status store."""
    st = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in st.getJobIdsForGroup(group):
        d = store.job(j)
        sub, done = d.submissionTime(), d.completionTime()
        if sub.isDefined() and done.isDefined():
            out.append((sub.get().getTime() / 1000, done.get().getTime() / 1000))
    return sorted(out)


def covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of sorted ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in intervals:
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


# -- streaming progress -----------------------------------------------------

def _dur(p: dict, key: str) -> float:
    return float((p.get("durationMs") or {}).get(key, 0) or 0)


def digest_progress(progress: list) -> dict:
    """Per-layer numbers from StreamingQueryProgress JSON dicts: source
    offset time, per-batch fixed cost (planning, WAL + offset commit),
    state-store size/time and watermark drops."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        "batches": len(progress),
        "data_batches": len(data),
        "late_rows_dropped": sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in progress for so in p.get("stateOperators", [])
        ),
    }
    if not data:
        return out
    out.update({
        "trigger_ms": median([_dur(p, "triggerExecution") for p in data]),
        "planning_ms": median([_dur(p, "queryPlanning") for p in data]),
        "commit_ms": median([_dur(p, "walCommit") + _dur(p, "commitOffsets") for p in data]),
        "offset_ms": median([_dur(p, "latestOffset") + _dur(p, "getBatch") for p in data]),
        "add_batch_ms": median([_dur(p, "addBatch") for p in data]),
        "state_rows": max(
            (sum(so.get("numRowsTotal", 0) for so in p.get("stateOperators", []))
             for p in data), default=0),
        "state_bytes": max(
            (sum(so.get("memoryUsedBytes", 0) for so in p.get("stateOperators", []))
             for p in data), default=0),
        "state_commit_ms": median([
            sum(so.get("commitTimeMs", 0) for so in p.get("stateOperators", []))
            for p in data]),
    })
    return out


def progress_of(sq) -> list:
    return [json.loads(p.json) for p in sq.recentProgress]


class ProgressListener:
    """StreamingQueryListener collecting every progress event of the
    queries started after ``attach`` (traced runs only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        self.spark = spark
        spark.streams.addListener(self._listener)

    def detach(self) -> None:
        self.spark.streams.removeListener(self._listener)


# -- known-defect probes ----------------------------------------------------

def _cause(exc: Exception) -> str:
    """The innermost error line of a (possibly JVM-wrapped) failure."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    for marker in ("TypeError", "More than one event time", "Error:", "Exception:"):
        for ln in lines:
            if marker in ln:
                return ln[:200]
    return type(exc).__name__

def run_probes(spark, work: str) -> list:
    """Run the engine paths with known defects, outside the timed window,
    so they count as failed operations instead of hiding:

    * ``groupstate_get``: ``counting_window_stream`` and ``stream_limit``
      call ``state.get()`` but PySpark's ``GroupState.get`` is a property,
      so both raise on their second micro-batch;
    * ``window_join_full_sink``: sinking ``window_join``'s full streaming
      output fails analysis ("More than one event time columns").

    Returns [(name, outcome, detail)] with outcome ``passed`` (the defect
    is gone), ``known_defect`` (every failure carries the probe's expected
    cause) or ``unexpected`` (a failure with another cause)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from go_streaming_spark.events import to_events
    from go_streaming_spark.operators import TemporalWindow, window_join
    from go_streaming_spark.sources.catalog import load_stream
    from go_streaming_spark.streaming import counting_window_stream, stream_limit

    root = os.path.join(work, "probes")
    d = os.path.join(root, "p.parquet")
    os.makedirs(d, exist_ok=True)
    for i in range(2):
        ids = list(range(i * 8, i * 8 + 8))
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "k": pa.array([x % 2 for x in ids], pa.int64()),
            "v": pa.array([float(x) for x in ids]),
            "ts": pa.array([1_700_000_000_000_000 + x * 100_000 for x in ids],
                           pa.timestamp("us", tz="UTC")),
        }), os.path.join(d, f"part-{i}.parquet"))

    def env(parity=None):
        st = load_stream(spark, root, "p", max_files_per_trigger=1)
        if parity is None:
            return to_events(st, value="v", event_time="ts", seq="id")
        return to_events(st.filter(F.col("k") == parity),
                         value=F.struct(F.lit(0).alias("k"), F.col("id")),
                         event_time="ts", seq="id")

    def start(df):
        return (df.writeStream.format("memory").queryName(f"probe_{uuid.uuid4().hex[:8]}")
                .trigger(availableNow=True).start())

    probes = {  # name -> (start the queries, the expected failure's cause)
        "groupstate_get": (lambda: [start(counting_window_stream(env(), 4)),
                                    start(stream_limit(env(), 12))],
                           "TypeError: 'tuple' object is not callable"),
        "window_join_full_sink": (lambda: [start(window_join(
            env(0), env(1), "k", TemporalWindow("1 second")))],
                                  "More than one event time columns"),
    }
    # the failures are expected: keep their stack traces out of the log
    spark.sparkContext.setLogLevel("OFF")
    # start every probe query first so they overlap, then collect outcomes
    started = {}
    for name, (fn, _) in probes.items():
        try:
            started[name] = fn()
        except Exception as exc:  # a probe exists to catch this failure
            started[name] = exc
    results = []
    for name, qs in started.items():
        errors = [_cause(qs)] if isinstance(qs, Exception) else []
        for q in [] if isinstance(qs, Exception) else qs:
            try:
                q.awaitTermination()
            except Exception as exc:
                errors.append(_cause(exc))
        marker = probes[name][1]
        outcome = ("passed" if not errors
                   else "known_defect" if all(marker in e for e in errors)
                   else "unexpected")
        results.append((name, outcome, "; ".join(errors)))
    spark.sparkContext.setLogLevel("ERROR")
    return results
