"""Builder / engine lifecycle semantics, mirroring the reference's
query-builder tests (`pkg/processing/query_builder_test.go:139-253`,
`pkg/pubsub/pub_sub_test.go:102-118`): chained operators, fan-out → fan-in,
build-time validation errors, and typed-topic registry rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_streaming_spark import operators as ops
from go_streaming_spark.engine import Engine, StreamTypeMismatchError
from go_streaming_spark.events import to_events
from go_streaming_spark.plans.builder import (
    AmbiguousOutputError,
    OutputUndefinedError,
)


@pytest.fixture()
def engine(spark):
    eng = Engine(spark)
    ints = spark.createDataFrame([(i, i) for i in range(1, 11)], "seq long, value long")
    eng.register_stream("ints", to_events(ints, value="value", seq="seq"))
    yield eng
    eng.close()


def test_chained_operators(spark, engine):
    # 10 ints -> +1 -> *2; reference asserts 10 -> 22 (query_builder_test.go:139-174)
    q = (
        engine.builder()
        .from_source("ints")
        .connect(ops.map_expr(F.col("value") + 1))
        .connect(ops.map_expr(F.col("value") * 2))
        .build(name="chain")
    )
    got = sorted(r.value for r in q.collect())
    assert got == [2 * (i + 1) for i in range(1, 11)]
    assert "chain" in engine.queries()


def test_fan_out_fan_in_a_plus_a(spark, engine):
    # reuse one stream in two branches, then combine: A + A = 2A
    # (`query_builder_test.go:195-253`)
    b = engine.builder().from_source("ints")
    (branch_a,) = b._frontier
    doubled = (
        engine.builder()
        .from_df(branch_a)
        .from_df(branch_a)
        .combine(
            lambda left, right: left.alias("l").join(
                right.alias("r"), F.col("l.seq") == F.col("r.seq")
            ).select(
                F.col("l.seq").alias("seq"),
                (F.col("l.value") + F.col("r.value")).alias("value"),
            )
        )
        .build()
    )
    got = sorted(r.value for r in doubled.collect())
    assert got == [2 * i for i in range(1, 11)]


def test_per_event_subscribe_batch_query(spark, engine):
    """≈ Subscribe(func(Event[T])) on a batch query: one callback per event,
    in the requested order (`continuous_query.go:103-116`)."""
    q = (
        engine.builder()
        .from_source("ints")
        .connect(ops.map_expr(F.col("value") * 10))
        .build()
    )
    seen: list[int] = []
    ret = q.subscribe(lambda row: seen.append(row.value), ordered_by=["seq"])
    assert ret is None  # batch: delivery completes synchronously
    assert seen == [i * 10 for i in range(1, 11)]


def test_per_event_subscribe_multipartition_order_no_collect(
    spark, monkeypatch
):
    """Per-event delivery under load: a 20k-row, 16-partition batch arrives
    in global ``ordered_by`` order, and the dispatch path streams rows via
    ``toLocalIterator`` — it must never call ``DataFrame.collect`` (which
    would materialize the whole batch on the driver at once)."""
    from pyspark.sql import DataFrame as _DF

    n = 20_000
    df = (
        spark.range(n)
        .repartition(16)
        .select(F.col("id").alias("seq"), (F.col("id") * 3).alias("value"))
    )
    eng = Engine(spark)
    cq = eng.builder().from_df(df).build()

    def _boom(self):
        raise AssertionError("subscribe() dispatch must not collect()")

    monkeypatch.setattr(_DF, "collect", _boom)
    seen: list[int] = []
    cq.subscribe(lambda row: seen.append(row.seq), ordered_by=["seq"])
    assert seen == list(range(n))  # exactly once, globally ordered


def test_per_event_subscribe_streaming(spark, tmp_path):
    """Streaming per-event delivery across multiple micro-batches: each
    batch's events arrive one callback at a time, ordered within the batch
    (maxFilesPerTrigger=1 forces ≥2 micro-batches)."""
    import json as _json

    eng = Engine(spark)
    src = tmp_path / "topic"
    src.mkdir()
    for fidx, base in enumerate((0, 100)):
        with open(src / f"part-{fidx}.json", "w") as f:
            for i in range(3):
                f.write(_json.dumps({"seq": base + i, "value": base + i}) + "\n")

    stream = (
        spark.readStream.schema("seq long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    cq = eng.builder().from_df(stream).build()
    assert cq.streaming  # from_df picks up df.isStreaming

    events: list[int] = []
    cq.subscribe(lambda row: events.append(row.seq), ordered_by=["seq"])
    cq.await_done()
    # all events delivered exactly once; order holds within each micro-batch
    assert sorted(events) == [0, 1, 2, 100, 101, 102]
    batches = [events[i : i + 3] for i in range(0, len(events), 3)]
    assert all(b == sorted(b) for b in batches), events


def test_subscribe_global_order_across_batches(spark, tmp_path):
    """global_order=True reorders ACROSS micro-batches (the reference's
    sorted delivery, `pkg/pubsub/stream.go:297-319`, is global): seqs
    arrive shuffled over 3 micro-batches, callbacks fire in strict global
    seq order after the flush point."""
    import json as _json

    eng = Engine(spark)
    src = tmp_path / "topic"
    src.mkdir()
    # interleaved seq ranges: batch files deliberately out of order
    batches = [[5, 2, 8], [0, 7, 3], [6, 1, 4]]
    for fidx, seqs in enumerate(batches):
        with open(src / f"part-{fidx}.json", "w") as f:
            for s in seqs:
                f.write(_json.dumps({"seq": s, "value": s * 10}) + "\n")

    stream = (
        spark.readStream.schema("seq long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    cq = eng.builder().from_df(stream).build()
    events: list[int] = []
    cq.subscribe(
        lambda row: events.append(row.seq), ordered_by=["seq"],
        global_order=True,
    )
    cq.await_done()
    assert events == list(range(9))  # exactly once, GLOBALLY ordered


def test_subscribe_global_order_watermark_incremental(spark, tmp_path):
    """With max_out_of_order=d the reorder buffer drains incrementally
    behind the seq high-watermark (max_seen - d) instead of holding the
    whole stream: earlier batches' safe rows are delivered before the
    stream terminates, and the final order is still globally ascending."""
    import json as _json

    eng = Engine(spark)
    src = tmp_path / "topic"
    src.mkdir()
    # disorder bounded by 3: each file's seqs stay within 3 of the frontier.
    # Distinct ascending mtimes pin the file-source batch order (equal
    # mtimes leave Spark's processing order undefined).
    import os as _os

    batches = [[2, 0, 1], [3, 5, 4], [8, 6, 7]]
    for fidx, seqs in enumerate(batches):
        path = src / f"part-{fidx}.json"
        with open(path, "w") as f:
            for s in seqs:
                f.write(_json.dumps({"seq": s, "value": s}) + "\n")
        _os.utime(path, (1_700_000_000 + fidx * 10, 1_700_000_000 + fidx * 10))

    stream = (
        spark.readStream.schema("seq long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    cq = eng.builder().from_df(stream).build()
    events: list[int] = []
    cq.subscribe(
        lambda row: events.append(row.seq), ordered_by=["seq"],
        global_order=True, max_out_of_order=3,
    )
    sq = cq._sq
    sq.awaitTermination()
    # before the flush, the watermark (8 - 3 = 5) has already released the
    # early seqs — delivery was incremental, not hold-everything
    assert events[:3] == [0, 1, 2] and len(events) >= 6, events
    cq.flush()
    assert events == list(range(9))


def test_build_without_source_raises(engine):
    with pytest.raises(OutputUndefinedError):
        engine.builder().build()


def test_build_with_two_frontiers_raises(engine):
    with pytest.raises(AmbiguousOutputError):
        engine.builder().from_source("ints").from_source("ints").build()


def test_schema_mismatch_on_reregistration(spark, engine):
    other = spark.createDataFrame([("a",)], "value string")
    with pytest.raises(StreamTypeMismatchError):
        engine.register_stream("ints", other)
    # replace=True migrates the stream (≈ AddOrReplaceStream)
    engine.register_stream("ints", other, replace=True)
    assert engine.stream("ints").schema == other.schema


def test_unknown_topic_raises(engine):
    with pytest.raises(KeyError):
        engine.stream("nope")


def test_engine_isolation(spark):
    # two Engine instances are separate namespaces (≈ WithRepository,
    # `pkg/processing/queries_test.go:75-125`)
    e1, e2 = Engine(spark), Engine(spark)
    e1.register_stream("t", spark.createDataFrame([(1,)], "value long"))
    with pytest.raises(KeyError):
        e2.stream("t")
    assert e1.topics() == ["t"] and e2.topics() == []


def test_configure_session_skips_static_confs(spark, monkeypatch):
    # a deployment may pin a conf as static: configure_session goes on
    from go_streaming_spark import session

    monkeypatch.setitem(session._TUNING_CONFS, "spark.sql.warehouse.dir", "/nonexistent")
    assert session.configure_session(spark) is spark


def test_configure_session_raises_other_conf_errors(spark, monkeypatch):
    # an invalid value is a real error, not a static conf to skip
    from pyspark.errors import IllegalArgumentException

    from go_streaming_spark import session

    monkeypatch.setitem(session._TUNING_CONFS, "spark.sql.adaptive.enabled", "notabool")
    with pytest.raises(IllegalArgumentException, match="spark.sql.adaptive.enabled"):
        session.configure_session(spark)


def test_engine_sql_entry_point(spark):
    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    n = eng.sql("SELECT count(*) AS n FROM events WHERE value > 100").head()["n"]
    direct = eng.stream("events").filter(F.col("value") > 100).count()
    assert n == direct > 0
    # registered topics are visible too
    eng.register_stream("tiny", spark.createDataFrame([(1,)], "x long"))
    assert eng.sql("SELECT sum(x) AS s FROM tiny").head()["s"] == 1


def test_engine_sql_leaves_topic_registry_alone(spark, sf_dir):
    """sql() gives driver tables views, not topics: a later streaming
    from_source still gets a stream, and the registry stays empty."""
    eng = Engine(spark, sf_dir=sf_dir)
    assert eng.sql("SELECT count(*) AS n FROM events").head()["n"] > 0
    assert eng.topics() == [] and eng.to_config()["topics"] == {}
    assert eng.builder().from_source("events", streaming=True).build().streaming


def test_engine_sql_isolation_under_clobber(spark):
    """Two engines sharing one SparkSession register CONFLICTING views for
    the same topic name; each sql() must see its own data, and a DataFrame
    returned earlier must keep its pinned bindings after the other engine
    re-registers (eager analysis in Engine.sql)."""
    e1, e2 = Engine(spark), Engine(spark)
    e1.register_stream("clash", spark.createDataFrame([(1,), (2,)], "v long"))
    e2.register_stream("clash", spark.createDataFrame([("a",)], "v string"))

    df1 = e1.sql("SELECT sum(v) AS s FROM clash")
    # e2 clobbers the session-global view AFTER df1 is analyzed...
    df2 = e2.sql("SELECT count(v) AS c FROM clash")
    # ...but df1's bindings were pinned at call time
    assert df1.head()["s"] == 3
    assert df2.head()["c"] == 1
    # interleave again the other way
    assert e1.sql("SELECT count(*) AS c FROM clash").head()["c"] == 2


def test_engine_sql_concurrent_engines(spark):
    """Concurrent sql() from engines with conflicting schemas: the
    register+analyze critical section is locked, so no call can analyze
    against the other engine's registration."""
    import concurrent.futures

    e1, e2 = Engine(spark), Engine(spark)
    e1.register_stream("hot", spark.createDataFrame([(i,) for i in range(10)], "v long"))
    e2.register_stream("hot", spark.createDataFrame([("x",)] * 3, "v string"))

    def run(eng, sql, expect):
        for _ in range(10):
            assert eng.sql(sql).head()["n"] == expect

    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as ex:
        futs = [
            ex.submit(run, e1, "SELECT count(*) AS n FROM hot WHERE v >= 0", 10),
            ex.submit(run, e2, "SELECT count(*) AS n FROM hot WHERE v = 'x'", 3),
        ]
        for f in futs:
            f.result()


def test_engine_sql_lock_is_per_session(spark):
    """The sql() critical section is keyed by SparkSession: engines on the
    SAME session share one lock (their temp-view namespaces conflict),
    engines on DISTINCT sessions get distinct locks (session-scoped views
    can't conflict, so they must not serialize behind each other)."""
    from go_streaming_spark.engine import _sql_lock

    assert _sql_lock(spark) is _sql_lock(spark)
    other = spark.newSession()  # fresh temp-view namespace, same context
    try:
        assert _sql_lock(other) is not _sql_lock(spark)
        # distinct namespaces really are isolated: same view name, no clash
        e1, e2 = Engine(spark), Engine(other)
        e1.register_stream("ns", spark.createDataFrame([(1,)], "v long"))
        e2.register_stream("ns", other.createDataFrame([("x",)], "v string"))
        with _sql_lock(spark):  # held lock must not block the other session
            assert e2.sql("SELECT count(*) AS n FROM ns").head()["n"] == 1
        assert e1.sql("SELECT sum(v) AS s FROM ns").head()["s"] == 1
    finally:
        pass  # newSession shares the SparkContext; nothing to stop


def test_engine_config_round_trip(spark):
    """Registry serialization parity (StreamID/StreamConfig JSON round-trip,
    pkg/pubsub/config.go:165-188): topic -> schema DDL survives a round
    trip, and re-registering with a conflicting schema still raises."""
    import pytest
    from go_streaming_spark.engine import Engine, StreamTypeMismatchError

    eng = Engine(spark)
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    eng.register_stream("people", df)
    cfg = eng.to_config()
    assert cfg["topics"]["people"] == df.schema.simpleString()

    rebuilt = Engine.from_config(spark, cfg)
    assert rebuilt.topics() == ["people"]
    assert rebuilt.stream("people").schema == df.schema
    with pytest.raises(StreamTypeMismatchError):
        rebuilt.register_stream(
            "people", spark.createDataFrame([(1.0,)], "id double")
        )


def _ordered_topic(tmp_path, batches, pin_mtime=False):
    import json as _json
    import os as _os

    src = tmp_path / "topic"
    src.mkdir()
    for fidx, seqs in enumerate(batches):
        path = src / f"part-{fidx}.json"
        with open(path, "w") as f:
            for s in seqs:
                f.write(_json.dumps({"seq": s, "value": s * 10}) + "\n")
        if pin_mtime:
            t = 1_700_000_000 + fidx * 10
            _os.utime(path, (t, t))
    return str(src)


def test_subscribe_batch_ordered_chunks_within_batch(spark, tmp_path):
    """subscribe_batch(ordered_by=...) delivers each micro-batch as
    key-sorted pandas CHUNKS of at most chunk_rows — the bulk sorted sink
    (one single-partition sort + Arrow transfer per batch, no per-row
    driver callback)."""
    eng = Engine(spark)
    src = _ordered_topic(tmp_path, [[2, 0, 1], [102, 100, 101]])
    stream = (
        spark.readStream.schema("seq long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    cq = eng.builder().from_df(stream).build()
    chunks: list[list[int]] = []
    cq.subscribe_batch(
        lambda pdf: chunks.append(pdf["seq"].tolist()),
        ordered_by=["seq"], chunk_rows=2,
    )
    cq.await_done()
    assert all(len(c) <= 2 for c in chunks)
    assert sorted(x for c in chunks for x in c) == [0, 1, 2, 100, 101, 102]
    # each micro-batch's chunk sequence is ascending end-to-end
    flat_by_batch = {}
    for c in chunks:
        flat_by_batch.setdefault(c[0] // 100, []).extend(c)
    assert all(v == sorted(v) for v in flat_by_batch.values()), chunks


def test_subscribe_batch_global_order_across_batches(spark, tmp_path):
    """global_order=True merges micro-batches in the driver-side buffer:
    the concatenated chunk stream is in strict global key order after the
    await_done flush — the same merge buffer (``_reorder``) that
    subscribe(global_order=True) delivers from row by row."""
    eng = Engine(spark)
    src = _ordered_topic(tmp_path, [[5, 2, 8], [0, 7, 3], [6, 1, 4]])
    stream = (
        spark.readStream.schema("seq long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    cq = eng.builder().from_df(stream).build()
    out: list[int] = []
    cq.subscribe_batch(
        lambda pdf: out.extend(pdf["seq"].tolist()),
        ordered_by=["seq"], global_order=True,
    )
    cq.await_done()
    assert out == list(range(9))


def test_subscribe_batch_global_order_watermark_incremental(spark, tmp_path):
    """max_out_of_order=d drains the bulk buffer incrementally behind the
    key high-watermark (bounded driver memory), and never regresses the
    frontier; the final chunk stream is still globally ascending."""
    eng = Engine(spark)
    src = _ordered_topic(
        tmp_path, [[2, 0, 1], [3, 5, 4], [8, 6, 7]], pin_mtime=True
    )
    stream = (
        spark.readStream.schema("seq long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    cq = eng.builder().from_df(stream).build()
    out: list[int] = []
    cq.subscribe_batch(
        lambda pdf: out.extend(pdf["seq"].tolist()),
        ordered_by=["seq"], global_order=True, max_out_of_order=3,
    )
    cq._sq.awaitTermination()
    # watermark 8-3=5 already released the early seqs pre-flush
    assert out[:3] == [0, 1, 2] and len(out) >= 6, out
    cq.flush()
    assert out == list(range(9))


def test_subscribe_batch_ordering_knobs_require_key(spark):
    """global_order / max_out_of_order without ordered_by must raise —
    silently delivering unordered batches is the failure mode."""
    eng = Engine(spark)
    df = spark.createDataFrame([(1, 1)], "seq long, value long")
    cq = eng.builder().from_df(df).build()
    with pytest.raises(ValueError, match="require ordered_by"):
        cq.subscribe_batch(lambda pdf: None, global_order=True)
    with pytest.raises(ValueError, match="require ordered_by"):
        cq.subscribe_batch(lambda pdf: None, max_out_of_order=3)
    # a disorder bound only means something to the global-order buffer
    for subscribe in (cq.subscribe, cq.subscribe_batch):
        with pytest.raises(ValueError, match="requires global_order"):
            subscribe(lambda _: None, ordered_by=["seq"], max_out_of_order=2)
        with pytest.raises(ValueError, match="require ordered_by"):
            subscribe(lambda _: None, global_order=True)


def test_global_order_buffer_peak_bounded_by_watermark(spark, tmp_path):
    """buffer_peak_rows reports the merge buffer's high-water mark: with
    max_out_of_order=d the peak is ∝ disorder (rows above the watermark),
    NOT stream length; exact mode (no watermark) holds everything until
    flush — the observable difference the metric exists to expose."""
    eng = Engine(spark)

    def run(max_ooo):
        base = tmp_path / f"t_{max_ooo}"
        base.mkdir()
        src = _ordered_topic(
            base, [[2, 0, 1], [3, 5, 4], [8, 6, 7]], pin_mtime=True
        )
        stream = (
            spark.readStream.schema("seq long, value long")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        cq = eng.builder().from_df(stream).build()
        out: list[int] = []
        cq.subscribe_batch(
            lambda pdf: out.extend(pdf["seq"].tolist()),
            ordered_by=["seq"], global_order=True, max_out_of_order=max_ooo,
        )
        cq.await_done()
        assert out == list(range(9))
        return cq.buffer_peak_rows

    assert run(3) <= 4          # held rows track the disorder bound
    assert run(None) == 9       # exact mode buffers the whole stream


def test_global_order_composite_key_tie_across_batches(spark, tmp_path):
    """Composite ordered_by + max_out_of_order: the incremental
    watermark is scalar on the PRIMARY key, so rows ON the watermark
    boundary must HOLD (strict drain) — an equal-primary row with a
    smaller secondary can still arrive in a later batch.  A ≤-drain
    (the bug this regression pins) would deliver (1,2) before (1,1)
    arrived.  Exact mode keeps ordering composite keys fully."""
    import json as _json
    import os as _os

    eng = Engine(spark)

    def topic(name, batches):
        src = tmp_path / name
        src.mkdir()
        for fidx, rows_ in enumerate(batches):
            path = src / f"part-{fidx}.json"
            with open(path, "w") as f:
                for a, b in rows_:
                    f.write(_json.dumps({"a": a, "b": b}) + "\n")
            t = 1_700_000_000 + fidx * 10
            _os.utime(path, (t, t))
        return str(src)

    # batch 1 carries (1,2); (1,1) — same primary, SMALLER secondary —
    # arrives only in batch 2.  With d=0 the watermark after batch 1
    # sits exactly on primary 1.
    batches = [[(1, 2), (0, 1)], [(1, 1), (2, 5)]]
    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .json(topic("t_bulk", batches))
    )
    cq = eng.builder().from_df(stream).build()
    out: list[tuple] = []
    cq.subscribe_batch(
        lambda pdf: out.extend(map(tuple, pdf[["a", "b"]].to_numpy())),
        ordered_by=["a", "b"], global_order=True, max_out_of_order=0,
    )
    cq.await_done()
    assert out == [(0, 1), (1, 1), (1, 2), (2, 5)], out

    # per-row delivery from the same merge buffer, same shape
    stream2 = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .json(topic("t_row", batches))
    )
    cq2 = eng.builder().from_df(stream2).build()
    rows: list[tuple] = []
    cq2.subscribe(
        lambda r: rows.append((r.a, r.b)), ordered_by=["a", "b"],
        global_order=True, max_out_of_order=0,
    )
    cq2.await_done()
    assert rows == [(0, 1), (1, 1), (1, 2), (2, 5)], rows

    # exact mode: composite keys fully ordered (primary, then secondary)
    out2: list[int] = []
    cq3 = eng.builder().from_df(
        spark.createDataFrame(
            [(1, 2, 10), (1, 1, 20), (0, 5, 30)],
            "a long, b long, value long",
        )
    ).build()
    cq3.subscribe_batch(
        lambda pdf: out2.extend(pdf["value"].tolist()),
        ordered_by=["a", "b"], global_order=True,
    )
    assert out2 == [30, 20, 10]


@pytest.mark.parametrize("method", ["subscribe", "subscribe_batch"])
def test_subscribe_batch_global_order_null_key_raises(spark, method):
    """A NULL ordered_by key is unorderable: NaN would fail both
    watermark masks and the row would silently vanish from the reorder
    buffer — both subscribers must fail loudly instead."""
    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, 1), (None, 2)], "seq long, value long"
    )
    cq = eng.builder().from_df(df).build()
    with pytest.raises(ValueError, match="NULL values in ordered_by"):
        getattr(cq, method)(
            lambda _: None, ordered_by=["seq"], global_order=True,
            max_out_of_order=1,
        )


def test_global_order_equal_keys_keep_arrival_order_across_batches(
    spark, tmp_path
):
    """Exact global order is FIFO among equal keys across micro-batches:
    k = seq // 10 ties 13 (first file) with 11 (second file), and both
    subscribers deliver 13 first — a sort that fell back on any other
    column would put 11 first."""
    eng = Engine(spark)
    src = _ordered_topic(tmp_path, [[13, 5], [11, 22]], pin_mtime=True)

    def query():
        stream = (
            spark.readStream.schema("seq long, value long")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .withColumn("k", (F.col("seq") / 10).cast("long"))
        )
        return eng.builder().from_df(stream).build()

    rows: list[int] = []
    cq = query()
    cq.subscribe(lambda r: rows.append(r.seq), ordered_by=["k"], global_order=True)
    cq.await_done()
    out: list[int] = []
    cq2 = query()
    cq2.subscribe_batch(
        lambda pdf: out.extend(pdf["seq"].tolist()),
        ordered_by=["k"], global_order=True,
    )
    cq2.await_done()
    assert rows == out == [5, 13, 11, 22], (rows, out)


@pytest.mark.parametrize(
    "method,global_order",
    [("subscribe_batch", False), ("subscribe_batch", True),
     ("subscribe", False), ("subscribe", True)],
)
def test_ordered_delivery_runs_stateful_stage_once(spark, tmp_path, method, global_order):
    """Every ordered path evaluates a micro-batch's stateful stage once: a
    keyed windowed aggregate over four files, one per micro-batch, reports
    one state-store instance per shuffle partition in every batch (a range
    sort's sample job would run the stage a second time).  The delivered
    rows equal a pandas reference in (window_start, k) order, and the paths
    that bring the whole batch to the driver run one Spark job per batch."""
    import json as _json
    import os as _os

    import pandas as pd

    from go_streaming_spark.operators import TemporalWindow, windowed_agg

    src = tmp_path / "events"
    src.mkdir()
    events = []
    for f in range(4):  # file f covers event seconds [10f, 10f + 10)
        path = src / f"part-{f}.json"
        with open(path, "w") as fh:
            for i in range(12):
                ev = {"ts": 10 * f + (7 * i) % 10, "k": (3 * i + f) % 5, "value": 100 * f + i}
                events.append(ev)
                fh.write(_json.dumps(ev) + "\n")
        _os.utime(path, (1_700_000_000 + 10 * f,) * 2)
    stream = (
        spark.readStream.schema("ts long, k long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("event_start", F.timestamp_seconds("ts"))
    )
    agg = windowed_agg(
        TemporalWindow("10 seconds"), [F.sum("value").alias("total")],
        keys=("k",), lineage=False, emit_empty=False,
    )
    cq = Engine(spark).builder().from_df(stream).connect(agg).build()
    cols = ["window_start", "k", "total"]
    got: list = []
    if method == "subscribe_batch":
        cq.subscribe_batch(
            lambda pdf: got.extend(pdf[cols].itertuples(index=False, name=None)),
            ordered_by=["window_start", "k"], global_order=global_order,
        )
    else:
        cq.subscribe(
            lambda r: got.append(tuple(r[c] for c in cols)),
            ordered_by=["window_start", "k"], global_order=global_order,
        )
    cq.await_done()

    # zero-lateness append mode: the windows that end at or before the
    # last event time are emitted, each once
    ev = pd.DataFrame(events)
    ev["w"] = ev["ts"] // 10 * 10
    ref = ev[ev["w"] + 10 <= ev["ts"].max()].groupby(["w", "k"])["value"].sum()
    want = [(w, k, int(total)) for (w, k), total in ref.items()]
    assert len(want) == 15  # three closed windows, five keys each
    assert [(int(pd.Timestamp(w).timestamp()), k, t) for w, k, t in got] == want

    progress = cq._sq.recentProgress
    ops = [p.stateOperators[0] for p in progress]
    assert len(ops) >= 4
    assert all(
        op.numStateStoreInstances == op.numShufflePartitions for op in ops
    ), [(op.numStateStoreInstances, op.numShufflePartitions) for op in ops]
    if method == "subscribe_batch" or global_order:
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(cq._sq.runId))
        assert len(jobs) == len(progress)


def test_per_event_subscribe_keeps_caller_cache(spark, engine):
    """The per-row sorted path persists a frame only for its own
    dispatch: a batch query over a frame the caller cached delivers in
    order and leaves that frame cached."""
    from pyspark import StorageLevel

    df = engine.stream("ints").cache()
    cq = engine.builder().from_df(df).build()
    seen: list[int] = []
    cq.subscribe(lambda row: seen.append(row.seq), ordered_by=["seq"])
    assert seen == list(range(1, 11))
    assert df.storageLevel != StorageLevel.NONE
    df.unpersist()
