"""Streaming parity: the same operators produce the same results on a
streaming replay (availableNow) as on the batch DataFrame — SURVEY.md §7's
batch-first/streaming-compatible design commitment — plus the stateful
operators Spark lacks natively (stream limit, counting windows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_streaming_spark import operators as ops
from go_streaming_spark.events import to_events
from go_streaming_spark.operators.joins import window_join
from go_streaming_spark.operators.windows import CountingWindow, TemporalWindow
from go_streaming_spark.sources.catalog import load_stream, load_table
from go_streaming_spark.streaming import (
    counting_window_stream,
    replay_to_memory,
    stream_limit,
)

SF = "/root/testdata/sf0.001"


def _env(df):
    return to_events(df, value="value", event_time="ts", seq="event_id")


def _collect_sorted(df, *cols):
    return sorted(map(str, df.select(*cols).collect()))


def _fired(batch_df, spark, time_max):
    """Streaming (like the reference, selection_policy.go:179-184) only
    fires windows once an event at/past their end arrives; a finite batch
    replay also materializes the trailing open window.  Restrict the batch
    side to fired windows for parity comparison."""
    return batch_df.filter(F.col("window_end") <= F.lit(time_max))


def _max_ts(spark, event_type=None):
    df = load_table(spark, SF, "events")
    if event_type:
        df = df.filter(F.col("event_type") == event_type)
    return df.agg(F.max("ts")).head()[0]


def test_stateless_ops_stream_parity(spark):
    batch = ops.greater(100)(_env(load_table(spark, SF, "events")))
    stream = ops.greater(100)(_env(load_stream(spark, SF, "events")))
    got = replay_to_memory(stream, spark)
    assert _collect_sorted(got, "seq", "value") == _collect_sorted(batch, "seq", "value")


def test_windowed_sum_stream_parity(spark):
    agg = ops.batch_sum(TemporalWindow("1 hour"), lineage=False)
    batch = _fired(agg(_env(load_table(spark, SF, "events"))), spark, _max_ts(spark))
    stream = agg(_env(load_stream(spark, SF, "events")))
    got = replay_to_memory(stream, spark)
    assert _collect_sorted(got, "window_start", "value") == _collect_sorted(
        batch, "window_start", "value"
    )


def test_sliding_window_stream_parity(spark):
    agg = ops.batch_count(TemporalWindow("1 hour", "15 minutes"), lineage=False)
    batch = _fired(agg(_env(load_table(spark, SF, "events"))), spark, _max_ts(spark))
    got = replay_to_memory(agg(_env(load_stream(spark, SF, "events"))), spark)
    assert _collect_sorted(got, "window_start", "value") == _collect_sorted(
        batch, "window_start", "value"
    )


def test_sampling_window_stream_parity(spark):
    agg = ops.batch_count(TemporalWindow("10 minutes", "1 hour"), lineage=False)
    batch = _fired(agg(_env(load_table(spark, SF, "events"))), spark, _max_ts(spark))
    got = replay_to_memory(agg(_env(load_stream(spark, SF, "events"))), spark)
    assert _collect_sorted(got, "window_start", "window_end", "value") == _collect_sorted(
        batch, "window_start", "window_end", "value"
    )


def _typed_env(df, event_type):
    return to_events(
        df.filter(F.col("event_type") == event_type),
        value=["user_id", "event_id"],
        event_time="ts",
        seq="event_id",
    )


def test_window_join_stream_parity(spark):
    policy = TemporalWindow("1 hour")
    bt = load_table(spark, SF, "events")
    st = load_stream(spark, SF, "events")
    batch = window_join(
        _typed_env(bt, "signup"), _typed_env(bt, "purchase"), "user_id", policy
    ).filter(
        F.col("window_end") <= F.lit(min(_max_ts(spark, "signup"), _max_ts(spark, "purchase")))
    ).select(
        "window_start",
        F.col("value.l.event_id").alias("l_id"),
        F.col("value.r.event_id").alias("r_id"),
    )
    stream = window_join(
        _typed_env(st, "signup"), _typed_env(st, "purchase"), "user_id", policy
    ).select(
        "window_start",
        F.col("value.l.event_id").alias("l_id"),
        F.col("value.r.event_id").alias("r_id"),
    )
    got = replay_to_memory(stream, spark)
    assert _collect_sorted(got, "window_start", "l_id", "r_id") == _collect_sorted(
        batch, "window_start", "l_id", "r_id"
    )


def test_fan_in_stream(spark):
    st = load_stream(spark, SF, "events")
    bt = load_table(spark, SF, "events")
    mk = lambda src, t: to_events(
        src.filter(F.col("event_type") == t), value="value", event_time="ts", seq="event_id"
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    policy = TemporalWindow("1 day")
    batch = _fired(
        ops.fan_in([mk(bt, "click"), mk(bt, "purchase")], policy, aggs),
        spark,
        min(_max_ts(spark, "click"), _max_ts(spark, "purchase")),
    )
    stream = ops.fan_in([mk(st, "click"), mk(st, "purchase")], policy, aggs)
    got = replay_to_memory(stream, spark)
    assert _collect_sorted(got, "window_start", "n") == _collect_sorted(
        batch, "window_start", "n"
    )


def test_stream_limit(spark):
    st = _env(load_stream(spark, SF, "events"))
    out = replay_to_memory(stream_limit(st, 25), spark)
    rows = sorted((r.seq, r.value) for r in out.collect())
    batch = _env(load_table(spark, SF, "events"))
    expected = sorted(
        (r.seq, r.value) for r in ops.limit(25)(batch).select("seq", "value").collect()
    )
    assert rows == expected


@pytest.mark.parametrize("n,shift", [(100, 100), (100, 40), (50, 200)])
def test_counting_window_stream_parity(spark, n, shift):
    st = _env(load_stream(spark, SF, "events"))
    got = replay_to_memory(counting_window_stream(st, n, shift), spark)
    batch = ops.counting_window_agg(
        CountingWindow(n, shift),
        [F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n_events")],
        lineage=False,
    )(_env(load_table(spark, SF, "events")))
    g = sorted((r.window_id, round(r.sum_value, 6), r.n_events) for r in got.collect())
    b = sorted((r.window_id, round(r.sum_value, 6), r.n_events) for r in batch.collect())
    assert g == b


def test_counting_window_stream_keyed(spark):
    """Keyed counting windows shard state by key — the scalable variant."""
    st = load_stream(spark, SF, "events")
    env = st.select(
        F.col("event_type").cast("string").alias("k"),
        F.col("event_id").alias("seq"),
        F.col("value"),
    )
    got = replay_to_memory(
        counting_window_stream(env, 10, 10, key_cols=["k"]), spark
    )
    bt = load_table(spark, SF, "events")
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_events == 10
    # per-key window count = floor(events_of_key / 10)
    per_key = {
        r.event_type: r.n
        for r in bt.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    from collections import Counter

    got_per_key = Counter(r.k for r in rows)
    for k, n in per_key.items():
        assert got_per_key.get(k, 0) == n // 10, k


def _two_file_stream(spark, root, ts_us):
    """Write events ``event_id -> ts_us[event_id]`` (``value`` = the id,
    ``k`` = its parity) as two parquet files (first and second half) and
    return ``(stream, batch, run)``: the stream reads one
    file per micro-batch, so operator state crosses a batch boundary, and
    ``run(df)`` sinks a streaming frame through an availableNow memory
    query, asserting both files were fed separately."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = root / "p.parquet"
    d.mkdir()
    half = len(ts_us) // 2
    for i, ids in enumerate([range(half), range(half, len(ts_us))]):
        part = str(d / f"part-{i}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(list(ids), pa.int64()),
            "k": pa.array([x % 2 for x in ids], pa.int64()),
            "value": pa.array([float(x) for x in ids]),
            "ts": pa.array([ts_us[x] for x in ids], pa.timestamp("us", tz="UTC")),
        }), part)
        # the file source orders batches by modification time — pin it,
        # or both files can share an mtime and the feed order is luck
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))

    def run(df):
        name = f"multi_{uuid.uuid4().hex[:8]}"
        q = (df.writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(fed) == 2, q.recentProgress
        return spark.sql(f"SELECT * FROM {name}")

    stream = load_stream(spark, str(root), "p", max_files_per_trigger=1)
    return stream, load_table(spark, str(root), "p"), run


_T0 = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in epoch microseconds


def test_stateful_ops_carry_state_across_micro_batches(spark, tmp_path):
    """counting_window_stream and stream_limit read their GroupState on
    every micro-batch after the first: replaying 2 parquet files with
    maxFilesPerTrigger=1 (2 micro-batches) must match the batch path."""
    st, bt, run = _two_file_stream(
        spark, tmp_path, [_T0 + x * 100_000 for x in range(16)]
    )
    bt = _env(bt)
    got = run(counting_window_stream(_env(st), 4))
    batch = ops.counting_window_agg(
        CountingWindow(4, 4),
        [F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n_events")],
        lineage=False,
    )(bt)
    g = sorted((r.window_id, r.sum_value, r.n_events) for r in got.collect())
    b = sorted((r.window_id, r.sum_value, r.n_events) for r in batch.collect())
    assert g == b == [(0, 6.0, 4), (1, 22.0, 4), (2, 38.0, 4), (3, 54.0, 4)]

    got = run(stream_limit(_env(st), 12))
    rows = sorted((r.seq, r.value) for r in got.collect())
    expected = sorted(
        (r.seq, r.value) for r in ops.limit(12)(bt).select("seq", "value").collect()
    )
    assert rows == expected == [(i, float(i)) for i in range(12)]


def test_sliding_window_with_origin_stream_equals_batch(spark, tmp_path):
    """A sliding window with an origin emits no window that starts before
    the origin, on a stream as in batch: 16 events 200 ms apart, origin at
    +0.3 s, 1 s windows every 0.5 s; the event at +0.4 s also lies in the
    pre-origin window starting at -0.2 s."""
    st, bt, run = _two_file_stream(
        spark, tmp_path, [_T0 + x * 200_000 for x in range(16)]
    )
    agg = ops.batch_count(
        TemporalWindow("1 second", "500 milliseconds",
                       origin="2023-11-14T22:13:20.300000+00:00"),
        lineage=False,
    )
    got = run(agg(_env(st)))
    batch = _fired(agg(_env(bt)), spark, bt.agg(F.max("ts")).head()[0])
    cols = ("window_start", "window_end", "value")
    assert _collect_sorted(got, *cols) == _collect_sorted(batch, *cols)
    starts = sorted(r.ws - _T0 for r in got.select(
        F.unix_micros("window_start").alias("ws")).collect())
    assert starts == [300_000, 800_000, 1_300_000, 1_800_000]


def test_window_join_full_output_sinks_across_micro_batches(spark, tmp_path):
    """The whole 7-column window_join envelope sinks from a stream and
    equals the batch join over the closed windows.  Window [0 s, 1 s) pairs
    events from both files; the last event sits alone in the open window."""
    st, bt, run = _two_file_stream(
        spark, tmp_path, [_T0 + x * 100_000 for x in range(15)] + [_T0 + 2_000_000]
    )
    policy = TemporalWindow("1 second")

    def side(df, parity):
        return to_events(
            df.filter(F.col("k") == parity),
            value=F.struct(F.lit(0).alias("k"), F.col("event_id")),
            event_time="ts", seq="event_id",
        )

    got = run(window_join(side(st, 0), side(st, 1), "k", policy))
    assert got.columns == [
        "seq", "event_start", "event_end", "meta", "window_start", "window_end", "value",
    ]
    batch = window_join(side(bt, 0), side(bt, 1), "k", policy)
    closed = batch.filter(F.col("window_end") <= F.lit(bt.agg(F.max("ts")).head()[0]))
    assert _collect_sorted(got, *got.columns) == _collect_sorted(closed, *got.columns)
    assert got.count() == 5 * 5 + 3 * 2


def test_checkpoint_restart_no_loss_no_duplicates(spark, tmp_path_factory):
    """Stream migration parity (`AddOrReplaceStream` drain-then-swap,
    `pkg/pubsub/pub_sub.go:54-74`): stopping a query and restarting from its
    checkpoint processes exactly the new data — nothing lost, nothing
    reprocessed."""
    from go_streaming_spark.sources.formats import read_source_stream, write_sink

    root = tmp_path_factory.mktemp("ckpt")
    topic, ckpt = str(root / "topic"), str(root / "checkpoint")
    batch1 = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "seq long, value double"
    )
    write_sink(batch1, topic, fmt="json")

    received = []

    def sink(df, _bid):
        received.extend((r.seq, r.value) for r in df.collect())

    def run_once():
        q = (
            read_source_stream(spark, topic, fmt="json", schema=batch1.schema)
            .writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert len(received) == 50

    batch2 = spark.createDataFrame(
        [(i, float(i)) for i in range(50, 100)], "seq long, value double"
    )
    write_sink(batch2, topic, fmt="json", mode="append")
    run_once()

    assert sorted(received) == [(i, float(i)) for i in range(100)]


def test_window_left_join_stream_parity(spark):
    """Left-outer stream-stream join: unmatched lefts emit once the global
    watermark passes their window end; parity with the fired-window subset
    of the batch result."""
    policy = TemporalWindow("1 hour")
    bt = load_table(spark, SF, "events")
    st = load_stream(spark, SF, "events")
    fired_end = min(_max_ts(spark, "signup"), _max_ts(spark, "purchase"))
    batch = window_join(
        _typed_env(bt, "signup"), _typed_env(bt, "purchase"), "user_id", policy,
        how="left",
    ).filter(F.col("window_end") <= F.lit(fired_end)).select(
        "window_start",
        F.col("value.l.event_id").alias("l_id"),
        F.col("value.r.event_id").alias("r_id"),
    )
    stream = window_join(
        _typed_env(st, "signup"), _typed_env(st, "purchase"), "user_id", policy,
        how="left",
    ).select(
        "window_start",
        F.col("value.l.event_id").alias("l_id"),
        F.col("value.r.event_id").alias("r_id"),
    )
    got = replay_to_memory(stream, spark).filter(
        F.col("window_start") < F.lit(fired_end)
    )
    assert _collect_sorted(got, "window_start", "l_id", "r_id") == _collect_sorted(
        batch, "window_start", "l_id", "r_id"
    )


def test_streaming_incremental_neardup_ingestion(spark, tmp_path):
    """Continuous-crawl near-dup ingestion: each micro-batch of a document
    stream is deduped against the STATIC corpus band index via
    incremental_minhash_dedup inside foreachBatch (stream-stream anti-joins
    don't exist; per-micro-batch batch semantics is the Spark idiom).
    Near-dups of corpus docs are dropped in every batch; novel docs pass."""
    import json as _json

    from go_streaming_spark.functions import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    )
    src = tmp_path / "crawl"
    src.mkdir()
    batches = [
        [(1, base), (2, "one totally novel document body here")],
        [(3, base.replace("kappa", "lambda")), (4, "another novel text entirely")],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for did, txt in rows:
                f.write(_json.dumps({"doc_id": did, "text": txt}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    survivors: list[int] = []
    # Production shape: the corpus index is built+cached ONCE outside the
    # batch loop; every micro-batch joins it (no per-call corpus
    # re-shingling, no cache entries accumulating across batches).
    idx = dedup.build_minhash_index(corpus, "doc_id", "text").cache()

    def ingest(batch_df, _bid):
        out = dedup.dedup_against_index(
            batch_df, idx, "doc_id", "text", threshold=0.5
        )
        survivors.extend(r.doc_id for r in out.collect())

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    idx.unpersist()
    assert sorted(survivors) == [2, 4]


def test_counting_window_quantized_exact_sums(spark, tmp_path):
    """quantize_scale=4 makes streamed window sums EXACT decimal arithmetic:
    values round half-up at 4 decimals (0.00005 -> 0.0001, like CAST to
    DECIMAL(_,4)) and the sum is order-independent — bit-equal to summing
    the quantized values as scaled integers."""
    import json as _json

    from go_streaming_spark.streaming import counting_window_stream

    vals = [1.00005, 2.12344, 3.99999, 0.00005]  # ties + near-carry cases
    src = tmp_path / "q"
    src.mkdir()
    with open(src / "events.json", "w") as f:
        for i, v in enumerate(vals):
            f.write(_json.dumps({"seq": i, "value": v}) + "\n")
    st = spark.readStream.schema("seq long, value double").json(str(src))
    out = replay_to_memory(
        counting_window_stream(st, 4, quantize_scale=4), spark
    )
    row = out.head()
    # HALF_UP at scale 4: 10001 + 21234 + 40000 + 1 = 71236 µunits
    assert row.sum_value == 71236 / 10**4
    assert row.n_events == 4


def test_session_window_stream_parity(spark):
    """Gap-based session windows run streaming too (watermark + append);
    fully-closed sessions match the batch result."""
    bt = load_table(spark, SF, "events")
    st = load_stream(spark, SF, "events")

    def sessions(df):
        src = df.withWatermark("ts", "0 seconds") if df.isStreaming else df
        return (
            src.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "user_id",
                F.unix_micros("session_window.start").alias("s_us"),
                F.unix_micros("session_window.end").alias("e_us"),
                "n",
            )
        )

    max_us = bt.agg(F.max(F.unix_micros("ts"))).head()[0]
    batch = sessions(bt).filter(F.col("e_us") <= max_us)
    got = replay_to_memory(sessions(st), spark)
    assert _collect_sorted(got, "user_id", "s_us", "n") == _collect_sorted(
        batch, "user_id", "s_us", "n"
    )


def test_stream_metrics_listener(spark):
    """StreamMetricsListener ≈ StreamMetrics NumEventsIn/Out
    (`pkg/pubsub/stream.go:144-195`) + df.observe metrics."""
    import time

    from go_streaming_spark import operators as ops
    from go_streaming_spark.streaming import StreamMetricsListener

    listener = StreamMetricsListener()
    spark.streams.addListener(listener)
    try:
        env = _env(load_stream(spark, SF, "events"))
        observed = ops.observe("m_in")(env)
        q = (
            observed.writeStream.format("memory")
            .queryName("metrics_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .queryName("metrics_probe")
            .start()
        )
        q.awaitTermination()
        n_total = load_table(spark, SF, "events").count()
        # listener delivery is async; poll briefly
        for _ in range(50):
            if listener.rows_in.get("metrics_probe", 0) >= n_total:
                break
            time.sleep(0.2)
        assert listener.rows_in.get("metrics_probe", 0) == n_total
        obs = listener.observed.get("metrics_probe", {})
        assert obs.get("m_in") is not None and obs["m_in"]["n_events"] == n_total
    finally:
        spark.streams.removeListener(listener)


def test_fan_in_per_source_stream(spark):
    """Per-source fan-in (the reference's {inputIndex: [events]} shape) in
    streaming mode matches batch."""
    st = load_stream(spark, SF, "events")
    bt = load_table(spark, SF, "events")
    mk = lambda src, t: _env(src.filter(F.col("event_type") == t))
    aggs = [F.count(F.lit(1)).alias("n")]
    policy = TemporalWindow("1 day")
    fired_end = min(_max_ts(spark, "click"), _max_ts(spark, "purchase"))
    batch = ops.fan_in(
        [mk(bt, "click"), mk(bt, "purchase")], policy, aggs, per_source=True
    ).filter(F.col("window_end") <= F.lit(fired_end))
    stream = ops.fan_in(
        [mk(st, "click"), mk(st, "purchase")], policy, aggs, per_source=True
    )
    got = replay_to_memory(stream, spark)
    assert _collect_sorted(got, "window_start", "source_id", "n") == _collect_sorted(
        batch, "window_start", "source_id", "n"
    )


def test_stream_limit_keyed(spark):
    """Keyed limit: first n events per key (state shards by key)."""
    st = load_stream(spark, SF, "events")
    env = st.select(
        F.col("event_type").cast("string").alias("k"),
        F.col("event_id").alias("seq"),
        F.col("value"),
    )
    got = replay_to_memory(stream_limit(env, 5, key_cols=["k"]), spark)
    rows = got.collect()
    from collections import Counter

    per_key = Counter(r.k for r in rows)
    bt = load_table(spark, SF, "events")
    types = [r.event_type for r in bt.select("event_type").distinct().collect()]
    assert per_key == {t: 5 for t in types}
    # the kept events are the lowest-seq ones per key
    for t in types:
        expected = sorted(
            r.event_id for r in bt.filter(F.col("event_type") == t).collect()
        )[:5]
        assert sorted(r.seq for r in rows if r.k == t) == expected


def test_allowed_lateness_keeps_and_drops(spark, tmp_path):
    """Configurable lateness (beyond the reference's hard-coded zero).

    Realistic scenario: a run processes on-time events and commits its
    watermark to the checkpoint; a straggler arrives before the next run.
    Under a 30-minute allowed lateness the 9:00 event is dropped by the
    persisted 10:30 watermark (numRowsDroppedByWatermark=1); under 3 hours
    the watermark is 8:00 and the straggler aggregates normally."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_streaming_spark.streaming.runner import with_lateness

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    h = dt.timedelta(hours=1)

    def write_file(src, name, ts_list):
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(ts_list, type=pa.timestamp("us")),
                    "v": pa.array([1.0] * len(ts_list)),
                }
            ),
            str(src / name),
        )

    def scenario(tag, delay):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        ckpt = str(tmp_path / f"ckpt_{tag}")
        write_file(src, "f1.parquet", [base, base + h])

        def run():
            got = []
            stream = spark.readStream.schema("ts timestamp, v double").parquet(
                str(src)
            )
            agg = (
                with_lateness(stream, delay, "ts")
                .groupBy(F.window("ts", "1 hour"))
                .count()
            )
            q = (
                agg.writeStream.outputMode("update")
                .foreachBatch(lambda df, bid: got.extend(df.collect()))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return got, q

        run()  # commits watermark = 11:00 - delay to the checkpoint
        write_file(src, "f2.parquet", [base - h])  # 9:00 straggler
        rows, q = run()
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
        return {
            r["window"]["start"].strftime("%H:%M"): r["count"] for r in rows
        }, dropped

    strict_rows, strict_dropped = scenario("strict", "30 minutes")
    assert strict_rows == {} and strict_dropped == 1, (strict_rows, strict_dropped)

    lenient_rows, lenient_dropped = scenario("lenient", "3 hours")
    assert lenient_rows == {"09:00": 1} and lenient_dropped == 0, (
        lenient_rows, lenient_dropped
    )


def test_streaming_span_dedup_ingestion(spark, tmp_path):
    """Continuous-crawl SPAN dedup: each micro-batch's duplicated 8-gram
    runs are flagged against the static corpus gram index (plus in-batch
    repeats) via duplicated_spans_against_index inside foreachBatch —
    boilerplate the corpus already contains is spotted in every batch,
    novel text emits no spans."""
    import json as _json

    from go_streaming_spark.functions import dedup

    boiler = " ".join(f"b{i}" for i in range(10))
    corpus = spark.createDataFrame([(100, f"h1 h2 {boiler}")], "doc_id long, text string")
    idx = dedup.build_gram_index(corpus, "doc_id", "text", k=8).cache()

    src = tmp_path / "crawl"
    src.mkdir()
    batches = [
        [(1, f"{boiler} n1 n2"), (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9")],
        [(3, f"intro {boiler} outro"), (4, "y1 y2 y3 y4 y5 y6 y7 y8 y9")],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for did, txt in rows:
                f.write(_json.dumps({"doc_id": did, "text": txt}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    flagged: list[tuple] = []

    def ingest(batch_df, _bid):
        out = dedup.duplicated_spans_against_index(
            batch_df, idx, "doc_id", "text", k=8
        )
        flagged.extend((r.id, r.span_start, r.span_end) for r in out.collect())

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    idx.unpersist()
    # doc 1: boiler at 0..9; doc 3: boiler at 1..10; novel docs clean
    assert sorted(flagged) == [(1, 0, 9), (3, 1, 10)]


def test_streaming_cms_accumulates_across_batches(spark, tmp_path):
    """Count-min sketches are the streaming-native frequency state:
    per-micro-batch sketches merge by bucket-wise addition into a running
    sketch that EQUALS the batch-built sketch over all data seen — so
    estimates (and heavy-hitter prefilters) stay exact-equivalent under
    any micro-batch slicing."""
    import json as _json

    from pyspark.sql import functions as F

    from go_streaming_spark.functions import sketch

    words = ["hot"] * 30 + ["warm"] * 10 + [f"t{i}" for i in range(25)]
    src = tmp_path / "stream"
    src.mkdir()
    for b in range(3):  # arbitrary slicing into 3 files/micro-batches
        with open(src / f"b{b}.json", "w") as f:
            for w in words[b::3]:
                f.write(_json.dumps({"word": w}) + "\n")

    stream = (
        spark.readStream.schema("word string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    state = {"sk": None}

    def ingest(batch_df, _bid):
        part = sketch.count_min_build(batch_df, "word", depth=4, width=64)
        running = (
            part if state["sk"] is None
            else state["sk"].unionByName(part)
            .groupBy("row", "bucket")
            .agg(F.sum("count").alias("count"))
        )
        state["sk"] = running.localCheckpoint()  # bounded: depth×width rows

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    all_df = spark.createDataFrame([(w,) for w in words], ["word"])
    expect = {
        (r.row, r.bucket): r["count"]
        for r in sketch.count_min_build(all_df, "word", 4, 64).collect()
    }
    got = {(r.row, r.bucket): r["count"] for r in state["sk"].collect()}
    assert got == expect


def test_streaming_hll_max_merge_equals_batch(spark, tmp_path):
    """Grouped HLL state max-merges across micro-batches into EXACTLY the
    batch-built sketch — and unlike the CMS's additive merge, max-merge is
    idempotent: re-ingesting a batch (at-least-once replay) must leave the
    state unchanged."""
    import json as _json

    from pyspark.sql import functions as F

    from go_streaming_spark.functions import sketch

    rows = [("a", i % 37) for i in range(60)] + [("b", i % 11) for i in range(40)]
    src = tmp_path / "stream"
    src.mkdir()
    for b in range(3):
        with open(src / f"b{b}.json", "w") as f:
            for g, k in rows[b::3]:
                f.write(_json.dumps({"g": g, "k": k}) + "\n")

    stream = (
        spark.readStream.schema("g string, k long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    state = {"sk": None, "last": None}

    def ingest(batch_df, _bid):
        part = sketch.hll_grouped_build(batch_df, "g", "k", p=8)
        running = (
            part if state["sk"] is None
            else state["sk"].unionByName(part)
            .groupBy("grp", "reg")
            .agg(F.max("max_rank").alias("max_rank"))
        )
        state["sk"] = running.localCheckpoint()
        state["last"] = batch_df.localCheckpoint()

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    all_df = spark.createDataFrame(rows, ["g", "k"])
    expect = {
        (r.grp, r.reg): r.max_rank
        for r in sketch.hll_grouped_build(all_df, "g", "k", p=8).collect()
    }
    got = {(r.grp, r.reg): r.max_rank for r in state["sk"].collect()}
    assert got == expect
    # idempotence: replaying the last batch must not change the state
    replay = sketch.hll_grouped_build(state["last"], "g", "k", p=8)
    merged = (
        state["sk"].unionByName(replay)
        .groupBy("grp", "reg")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    assert {(r.grp, r.reg): r.max_rank for r in merged.collect()} == expect


def test_streaming_drop_duplicates_state_spans_batches(spark, tmp_path):
    """Native streaming dropDuplicates must suppress a digest ALREADY
    emitted in an earlier micro-batch — the cross-batch state the
    stream_dedup_exact gate query relies on."""
    import json as _json

    from pyspark.sql import functions as F

    src = tmp_path / "stream"
    src.mkdir()
    # "dup" appears in every file; each file adds one unique text
    for b in range(3):
        with open(src / f"b{b}.json", "w") as f:
            f.write(_json.dumps({"text": "dup"}) + "\n")
            f.write(_json.dumps({"text": f"only-{b}"}) + "\n")

    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    from go_streaming_spark.streaming.runner import replay_to_memory

    out = replay_to_memory(
        stream.select(F.md5("text").alias("h"), F.col("text"))
        .dropDuplicates(["h"]),
        spark,
        output_mode="append",
    ).collect()
    texts = sorted(r.text for r in out)
    assert texts == ["dup", "only-0", "only-1", "only-2"]


def test_streaming_session_window_merges_across_batches(spark, tmp_path):
    """session_window state must MERGE a session whose events arrive in
    different micro-batches: two events 10 minutes apart (inside the
    30-minute gap) split across files must come out as ONE session, while
    a third event 2 hours later opens a second session."""
    import json as _json

    from pyspark.sql import functions as F

    from go_streaming_spark.streaming.runner import replay_to_memory

    src = tmp_path / "sess"
    src.mkdir()
    batches = [
        [("u1", "2024-01-01T00:00:00")],
        [("u1", "2024-01-01T00:10:00")],  # same session, later batch
        [("u1", "2024-01-01T02:10:00")],  # > 30 min gap → new session
    ]
    for b, rows in enumerate(batches):
        with open(src / f"b{b}.json", "w") as f:
            for uid, ts in rows:
                f.write(_json.dumps({"user_id": uid, "ts": ts}) + "\n")

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = replay_to_memory(
        stream.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("string").alias("start"),
            "n_events",
        ),
        spark,
        output_mode="complete",
    ).collect()
    got = sorted((r.user_id, r.start, r.n_events) for r in out)
    assert got == [
        ("u1", "2024-01-01 00:00:00", 2),
        ("u1", "2024-01-01 02:10:00", 1),
    ], got


def test_streaming_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark = the state-BOUNDED streaming dedup:
    duplicates arriving within the watermark window are suppressed, and
    a duplicate arriving after its key was evicted re-emits — the price
    of fixed state, vs dropDuplicates' unbounded key store.  Within one
    micro-batch the key is always live, so the in-batch duplicate and
    the next-batch duplicate inside the window must both be suppressed."""
    import json as _json

    from pyspark.sql import functions as F

    from go_streaming_spark.streaming.runner import replay_to_memory

    src = tmp_path / "wmdedup"
    src.mkdir()
    batches = [
        # b0: key A twice (in-batch dup), key B once
        [("A", "2024-01-01T00:00:00"), ("A", "2024-01-01T00:00:01"),
         ("B", "2024-01-01T00:00:02")],
        # b1: A again 1 minute later — inside the 10-minute watermark
        # window of its first sighting → suppressed
        [("A", "2024-01-01T00:01:00")],
        # b2: far-future event advances the watermark past A's expiry
        [("C", "2024-01-01T05:00:00")],
        # b3: another advance — state eviction applies at batch END with
        # the batch's watermark, so A leaves the store here
        [("D", "2024-01-01T10:00:00")],
        # b4: A re-arrives with a fresh event time → RE-EMITTED (evicted)
        [("A", "2024-01-01T10:00:30")],
    ]
    import os as _os

    for b, rows in enumerate(batches):
        p = src / f"b{b}.json"
        with open(p, "w") as f:
            for k, ts in rows:
                f.write(_json.dumps({"k": k, "ts": ts}) + "\n")
        # the file source orders batches by modification time — pin it,
        # or all four files share an mtime and the replay order is luck
        _os.utime(p, (1_700_000_000 + b, 1_700_000_000 + b))

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = replay_to_memory(
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"]),
        spark,
        output_mode="append",
    ).collect()
    got = sorted((r.k, str(r.ts)) for r in out)
    assert got == [
        ("A", "2024-01-01 00:00:00"),
        ("A", "2024-01-01 10:00:30"),  # re-emitted after eviction
        ("B", "2024-01-01 00:00:02"),
        ("C", "2024-01-01 05:00:00"),
        ("D", "2024-01-01 10:00:00"),
    ], got


def test_stream_enrich_rereads_dim_per_batch(spark, tmp_path):
    """Slowly-changing-dimension enrichment: a dim RE-READ inside
    foreachBatch picks up updates made between micro-batches — the safe
    refresh pattern (a static frame captured once pins its file listing
    and may serve stale or deleted files).  Batch 1 enriches with v1,
    the callback rewrites the dim, batch 2 must see v2."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    src = tmp_path / "facts"
    src.mkdir()
    for b in range(2):
        p = src / f"b{b}.json"
        with open(p, "w") as f:
            f.write(_json.dumps({"k": 1, "batch": b}) + "\n")
        _os.utime(p, (1_700_000_000 + b,) * 2)

    dim_path = str(tmp_path / "dim")

    def write_dim(tag):
        spark.createDataFrame([(1, tag)], "k long, tag string").coalesce(
            1
        ).write.mode("overwrite").parquet(dim_path)

    write_dim("v1")
    seen = []

    def enrich(batch_df, _bid):
        dim = spark.read.parquet(dim_path)  # re-read EVERY batch
        rows = batch_df.join(dim, "k").select("batch", "tag").collect()
        seen.extend((r["batch"], r["tag"]) for r in rows)
        write_dim("v2")  # dim changes after the first batch

    q = (
        spark.readStream.schema("k long, batch long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(enrich)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert sorted(seen) == [(0, "v1"), (1, "v2")], seen
