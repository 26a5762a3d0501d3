"""Shared helpers for the function library."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# SQL template of the cross-engine 6-dec quantizer (format with the
# expression string); keep in sync with :func:`q6`.
Q6_SQL = "floor(({})*1e6 + 0.5)/1e6"


def q6(c: Column) -> Column:
    """Quantize a double to 6 decimals with ``floor(x*1e6 + 0.5)/1e6`` —
    the repo's cross-engine rounding idiom.  ``round(double, 6)`` diverges
    between Spark and DuckDB on representation ties (half-away vs
    round-half-even banker's behavior interacting with the binary
    representation of x*10^6); this form is the SAME two double ops in
    both engines, so results agree bit-for-bit whenever the input double
    does.  Use it (with the matching ``Q6_SQL`` template in the oracle)
    for every oracle-compared rounded-double output column."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def _local_fs_path(path: str) -> str | None:
    """The bare filesystem path when ``path`` is local (no scheme, or an
    explicit ``file:`` URI), else ``None``.  Driver-side parquet I/O only
    applies to local paths; anything else must go through a Spark job."""
    if path.startswith("file://"):
        rest = path[len("file://"):]
        return rest or "/"
    if "://" not in path:
        return path
    return None


def append_manifest_row(spark, dir_path: str, row: dict) -> None:
    """Append ONE manifest row as a parquet part file under ``dir_path``
    — the epoch-flip commit shared by the IVF and corpus-snapshot
    serving manifests.

    Manifests are control-plane metadata (a handful of rows by design),
    so on a local filesystem the row is written DRIVER-SIDE via pyarrow
    (~ms) instead of scheduling a whole Spark job for a 1-row frame —
    the same driver-written commit-file pattern table formats use, and
    optimization-guide §5's "the driver should do almost no data work"
    does not make a 1-row pointer flip data work.  Measured: each
    publish was a ~1.5-2 s Spark job inside the lifecycle gates; the
    driver write is ~5 ms.  Non-local roots keep the Spark write (same
    file-per-append layout either way; readers cannot tell them apart).

    ``row`` value types map int → int64, everything else → string —
    exactly the two manifest schemas in this repo.
    """
    local = _local_fs_path(dir_path)
    if local is not None:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        fields, arrays = [], []
        for k, v in row.items():
            if isinstance(v, bool) or not isinstance(v, int):
                fields.append(pa.field(k, pa.string()))
                arrays.append(pa.array([str(v)], pa.string()))
            else:
                fields.append(pa.field(k, pa.int64()))
                arrays.append(pa.array([int(v)], pa.int64()))
        os.makedirs(local, exist_ok=True)
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            os.path.join(local, f"part-{uuid.uuid4().hex}.parquet"),
        )
        return
    schema = ", ".join(
        f"{k} long" if isinstance(v, int) and not isinstance(v, bool)
        else f"{k} string"
        for k, v in row.items()
    )
    spark.createDataFrame([tuple(row.values())], schema).coalesce(1) \
        .write.mode("append").parquet(dir_path)


def read_manifest_max(spark, dir_path: str, order_col: str):
    """Resolve the live (max-``order_col``) row of an append-only
    manifest directory; ``None`` when nothing was ever published.  Local
    paths read driver-side (pyarrow over the part files — the manifest
    is tiny by design); non-local roots pay the one small Spark read."""
    local = _local_fs_path(dir_path)
    if local is not None:
        import glob
        import os

        import pyarrow.parquet as pq
        from pyspark.sql import Row

        files = sorted(glob.glob(os.path.join(local, "*.parquet")))
        if not files:
            return None
        best = None
        for f in files:
            t = pq.read_table(f)
            for rec in t.to_pylist():
                if best is None or rec[order_col] > best[order_col]:
                    best = rec
        return Row(**best) if best is not None else None
    from pyspark.errors import AnalysisException

    try:
        return (
            spark.read.parquet(dir_path)
            .orderBy(F.col(order_col).desc())
            .head()
        )
    except AnalysisException:
        return None


def run_concurrent(spark, tasks, max_workers: int = 4):
    """Run independent Spark actions/writes concurrently from a small
    driver thread pool (optimization guide §2.6: actions are only
    sequential because driver code calls them sequentially; overlapping
    independent jobs lets one job's tasks backfill executors freed by
    another's tail).  Used by the snapshot writers, whose per-table
    writes share no dependency, and by ``CorpusState.checkpoint``.
    Results keep input order; the first exception propagates.

    Each task runs with the caller's Spark local properties and ``spark``'s
    tags (job group, job tags, scheduler pool): a pool thread is a fresh
    JVM thread and would otherwise submit its jobs outside the caller's
    group.  Each task gets its own copy of the properties, because a
    query execution writes its id into them."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def inheriting(t):
        wrap = inheritable_thread_target(spark)
        # without pinned threads (PYSPARK_PIN_THREAD=false) there is no
        # per-thread JVM state, and the helper hands the session back
        return t if wrap is spark else wrap(t)

    if len(tasks) <= 1:
        return [t() for t in tasks]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(tasks))) as ex:
        futures = [ex.submit(inheriting(t)) for t in tasks]
        return [f.result() for f in futures]


def _size_conf_bytes(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf value ("134217728b", "128MB", "4m")."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
    except Exception:
        return default
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    mult, num = 1, raw
    if raw.endswith("b"):
        num = raw[:-1]
    if num and num[-1] in units:
        mult, num = units[num[-1]], num[:-1]
    try:
        return int(float(num) * mult)
    except ValueError:
        return default


# Logical-plan nodes that PRESERVE the scan's partitioning (narrow, no
# Exchange): only when every node in the optimized plan is one of these
# does the file-split estimate speak for the frame's real partition
# count.  Anything else (Aggregate, Join, Repartition, Sort, Window,
# Deduplicate, limits, set ops...) roots the frame in a shuffle — its
# partition count is set by AQE/shuffle config, NOT the scan, and the
# estimate would silently skip a needed widening (AQE can coalesce a
# heavy aggregate to ONE partition over a many-file scan) or add a
# spurious round-robin shuffle.
_SCAN_SAFE_NODES = frozenset(
    {"Project", "Filter", "Generate", "SubqueryAlias", "View",
     "Relation", "RelationV2", "LogicalRelation"}
)


def _is_scan_rooted(df: DataFrame) -> bool:
    """True iff the optimized logical plan is a pure narrow chain over a
    file scan (no Exchange-introducing node), so the scan's split count
    IS the frame's partition count."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for line in plan.splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _SCAN_SAFE_NODES:
            return False
    return True


def _static_repartition_width(df: DataFrame) -> int | None:
    """Plan-static partition count of an explicit ``repartition(n)`` /
    ``coalesce(n)`` sitting under (only) narrow nodes — readable from
    the optimized logical plan WITHOUT executing anything: the
    ``Repartition`` / ``RepartitionByExpression`` node carries its
    numPartitions.  A caller that narrowed a frame on purpose
    (``coalesce(1)`` before a tiny write, ``repartition(2)`` in a test)
    would otherwise report the static shuffle width from
    :func:`default_buckets` and silently skip the widening
    :func:`spread` exists for.  Returns ``None`` when the topmost
    shuffle is anything else (join/aggregate — the AQE-sized case)."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            name = node.nodeName()
            if name == "Repartition":
                return int(node.numPartitions())
            if name == "RepartitionByExpression":
                opt = node.optNumPartitions()
                return int(opt.get()) if opt.isDefined() else None
            if name not in _SCAN_SAFE_NODES:
                return None
            ch = node.children()
            if ch.size() != 1:
                return None
            node = ch.apply(0)
    except Exception:
        return None


def default_buckets(spark) -> int:
    """Default bucket count for bucketed-table writers: the session's
    shuffle partitions when that conf is numeric, else the cluster
    parallelism — ``spark.sql.shuffle.partitions`` is legally ``"auto"``
    on AQE-auto platforms, where ``int(...)`` would raise."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return max(1, spark.sparkContext.defaultParallelism)


def _estimated_input_splits(df: DataFrame) -> int | None:
    """Estimate the scan's partition count WITHOUT touching ``df.rdd``
    (which forces a full plan→RDD conversion per call) — mirrors
    ``FilePartition.maxSplitBytes`` + greedy bin packing over the input
    files: maxSplit = min(maxPartitionBytes, max(openCost,
    totalBytes/defaultParallelism)), files split into maxSplit chunks and
    packed (size + openCost per file) into maxSplit-capacity bins.

    File sizes come from ``os.stat`` on ``file:`` URIs (the local-mode
    and test path).  On a remote FS (no cheap stat from the driver) the
    estimate degrades to the openCost-only packing bound
    ``ceil(n_files·openCost / maxPartitionBytes)`` — a LOWER bound on
    the real packing (real bins also carry the bytes), so the only
    error mode is one extra narrow-row round-robin shuffle, never lost
    parallelism (a naive one-split-per-file count would OVERestimate
    many-small-files scans and skip a needed widening).

    Returns ``None`` for frames with no input files (checkpointed,
    in-memory).  The estimate only speaks for pure scans — callers
    gate on :func:`_is_scan_rooted` first (``inputFiles()`` is
    non-empty for a join/aggregate over a scan too, but there the
    partitioning is the SHUFFLE's, not the scan's).
    """
    import os
    from urllib.parse import unquote, urlparse

    files = df.inputFiles()
    if not files:
        return None
    spark = df.sparkSession
    max_pb = _size_conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _size_conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    sizes = []
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return max(1, -(-len(files) * open_cost // max_pb))
        try:
            sizes.append(os.stat(unquote(parsed.path)).st_size)
        except OSError:
            return max(1, -(-len(files) * open_cost // max_pb))
    total = sum(sizes) + open_cost * len(sizes)
    par = max(1, spark.sparkContext.defaultParallelism)
    # clamp to >= 1: openCostInBytes=0 is a legal conf, and a 0 split
    # size would loop forever on any non-empty file below
    max_split = max(1, min(max_pb, max(open_cost, total // par)))
    chunks = []
    for s in sizes:
        while s > max_split:
            chunks.append(max_split)
            s -= max_split
        chunks.append(s)
    chunks.sort(reverse=True)
    bins, cur = 0, None
    for c in chunks:
        if cur is None or cur + c > max_split:
            bins, cur = bins + 1, 0
        cur += c + open_cost
    return bins


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster parallelism)
    partitions before a compute-heavy per-row stage.

    A small parquet file arrives as one input split, which serializes any
    expensive downstream expression (shingling, hashing, regex sweeps) onto
    one core no matter how large the cluster.  The round-robin shuffle of the
    *narrow* input rows is far cheaper than running the exploded/hashed
    stage single-threaded.  Inputs that already have enough splits (the
    100 TB case) pass through untouched — no extra shuffle.  The split
    count is a plan-level estimate (:func:`_estimated_input_splits`) —
    no ``df.rdd`` conversion at query-build time.

    Three regimes by plan shape:

    - **Checkpointed / in-memory** (no input files): the REAL count via
      ``df.rdd`` — trivial (the plan is already a materialized RDD
      scan) and the count genuinely matters: AQE coalesces small
      shuffles, and a checkpoint can materialize at ONE partition
      (measured: the ingest-survivors frame does exactly that), which
      would serialize the downstream shingle/index build on one core
      at any corpus size.
    - **Scan-rooted** (pure narrow chain over files): the plan-level
      file-split estimate — no ``.rdd`` conversion at all.
    - **Lazy shuffle-rooted** (join/aggregate over a scan): the STATIC
      shuffle width.  ``.rdd`` here would EXECUTE every upstream stage
      under AQE (Dataset.rdd finalizes the adaptive plan) — the frame's
      work would run twice.  AQE only coalesces the static width
      downward for small outputs; a caller needing a hard guarantee on
      a small-but-CPU-heavy frame should ``localCheckpoint()`` first
      (the ingest path does), which lands in the first regime with the
      real count.
    """
    if df.isStreaming:
        # micro-batch partitioning is the source's concern; input files
        # are unknowable before triggers fire
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if not df.inputFiles():
        # checkpointed / in-memory: the plan is already a materialized
        # RDD scan, so .rdd is trivial AND the real count matters (AQE
        # can materialize a checkpoint at ONE partition)
        est = df.rdd.getNumPartitions()
    elif _is_scan_rooted(df):
        est = _estimated_input_splits(df)
    else:
        # LAZY shuffle-rooted frame (join/aggregate over a scan): the
        # file estimate doesn't speak for it, but .rdd would be worse —
        # under AQE, Dataset.rdd EXECUTES every upstream stage to
        # finalize the plan, running the frame's work twice.  An
        # EXPLICIT repartition(n)/coalesce(n) root is the exception —
        # its width is plan-static and a deliberately narrowed frame
        # (coalesce(1)) must not read as "already wide".  For every
        # other shuffle root use the static shuffle width (the
        # plan-time partition count): AQE only coalesces it downward
        # for SMALL outputs, and a caller that needs a hard guarantee
        # for a small-but-CPU-heavy frame localCheckpoints first (the
        # ingest path does), landing in the branch above with the real
        # count.
        est = _static_repartition_width(df)
        if est is None:
            est = default_buckets(df.sparkSession)
    if est < target:
        return df.repartition(target)
    return df
