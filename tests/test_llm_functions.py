"""Tests for the LLM-pipeline paths without SQL oracles: ANN-LSH recall,
multimodal mapInPandas plumbing, IVF probe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_streaming_spark.functions import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _query_vec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]


def test_ann_lsh_recall(spark):
    emb = _emb(spark)
    qv = _query_vec(emb)
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.id for r in similarity.cosine_topk(corpus, "vec_id", "embedding", qv, 10).collect()]
    approx = {r.id for r in similarity.ann_lsh_topk(corpus, "vec_id", "embedding", qv, k=10, n_planes=4).collect()}
    # synthetic vectors are diffuse (best cosine ~0.33, not near-dups), so
    # the bar is modest: the true top-1 must be found + reasonable overlap
    assert exact[0] in approx, "LSH missed the true nearest neighbor"
    assert len(set(exact) & approx) >= 3, f"recall too low: {set(exact) & approx}"


def test_ann_lsh_subset_of_corpus(spark):
    emb = _emb(spark)
    qv = _query_vec(emb)
    out = similarity.ann_lsh_topk(emb, "vec_id", "embedding", qv, k=10)
    rows = out.collect()
    assert 0 < len(rows) <= 10
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in rows)


def test_ivf_topk(spark):
    emb = _emb(spark)
    qv = _query_vec(emb)
    centroids = (
        emb.groupBy("label")
        .agg(
            F.transform(
                F.aggregate(
                    F.collect_list(F.col("embedding").cast("array<double>")),
                    F.array_repeat(F.lit(0.0), 64),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ),
                lambda s: s / F.count(F.lit(1)),
            ).alias("vec")
        )
    )
    out = similarity.ivf_topk(emb, "vec_id", "embedding", "label", centroids, qv, k=5, nprobe=2)
    rows = out.collect()
    assert len(rows) == 5


def test_multimodal_features_deterministic(spark):
    media = multimodal.attach_media(_docs(spark).limit(20), "text", "image", "png")
    out1 = multimodal.extract_features(media, "doc_id").collect()
    out2 = multimodal.extract_features(media, "doc_id").collect()
    assert sorted(map(str, out1)) == sorted(map(str, out2))
    r = out1[0]
    assert len(r.feature) == 8 and all(0 <= x <= 1 for x in r.feature)
    assert r.n_bytes > 0


def test_multimodal_meta_schema(spark):
    media = multimodal.attach_media(_docs(spark).limit(5), "text", "image", "png")
    assert "media" in media.columns and "media_meta" in media.columns
    row = media.select("media_meta").head()
    assert row.media_meta.media_type == "image"
    assert row.media_meta.n_bytes > 0
    assert row.media_meta.width is None  # not decoded in stub environment


def _png_bytes(w, h, depth=8, color=2, body=b""):
    import struct, zlib

    ihdr = struct.pack(">II5B", w, h, depth, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        + body
    )


def _jpeg_bytes(w, h, precision=8, extra_segments=2):
    import struct

    out = b"\xff\xd8"
    # several variable-length segments BEFORE the SOF — the parser must
    # skip each by its stored length, not scan naively for 0xFFC0
    for n in range(extra_segments):
        payload = bytes([n]) * (5 + 3 * n)
        out += bytes([0xFF, 0xE0 + n]) + struct.pack(">H", len(payload) + 2) + payload
    sof = struct.pack(">BHHB", precision, h, w, 1) + b"\x01\x11\x00"
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # progressive SOF2
    return out + b"\x00" * 16


def _wav_bytes(rate, channels, bits, data):
    import struct

    byte_rate = rate * channels * (bits // 8)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                byte_rate, channels * (bits // 8), bits)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_parse_media_header_real_decode():
    """Pure-byte container decode against hand-built valid files: PNG IHDR
    (big-endian), JPEG marker walk across multiple APPn segments to a
    progressive SOF2, GIF/BMP (little-endian), WAV RIFF chunk walk with
    duration arithmetic."""
    import struct

    p = multimodal.parse_media_header(_png_bytes(640, 480, depth=16))
    assert (p["format"], p["width"], p["height"], p["bit_depth"]) == (
        "png", 640, 480, 16)

    j = multimodal.parse_media_header(_jpeg_bytes(1920, 1080, extra_segments=3))
    assert (j["format"], j["width"], j["height"], j["bit_depth"]) == (
        "jpeg", 1920, 1080, 8)

    g = multimodal.parse_media_header(
        b"GIF89a" + struct.pack("<HH", 320, 200) + bytes([0b10110111, 0, 0]))
    assert (g["format"], g["width"], g["height"], g["bit_depth"]) == (
        "gif", 320, 200, 4)

    bmp_hdr = b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
    info = struct.pack("<IiiHH", 40, 800, -600, 1, 24) + b"\x00" * 24
    b = multimodal.parse_media_header(bmp_hdr + info)
    assert (b["format"], b["width"], b["height"], b["bit_depth"]) == (
        "bmp", 800, 600, 24)  # negative height = top-down, abs()ed

    # 2 channels * 16 bit * 8000 Hz = 32000 B/s; 16000 B data = 500 ms
    w = multimodal.parse_media_header(_wav_bytes(8000, 2, 16, b"\x00" * 16000))
    assert (w["format"], w["bit_depth"], w["duration_ms"]) == ("wav", 16, 500)
    assert w["width"] is None and w["media_type"] == "audio"


def test_parse_media_header_malformed_degrades_to_null():
    """Truncated / unknown / hostile payloads must yield all-NULL metadata,
    never raise — one bad blob cannot kill a 100 TB scan stage."""
    cases = [
        b"", None, b"not media at all",
        b"\x89PNG\r\n\x1a\n",                 # signature only
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + b"XXXX" + b"\x00" * 20,  # no IHDR
        b"\xff\xd8\xff",                      # JPEG cut mid-marker
        b"\xff\xd8\xff\xe0\x00\x00",          # segment length < 2
        b"RIFF\x00\x00\x00\x00WAVE",          # WAV with no chunks
        b"GIF89a\x01",                        # GIF truncated
        _png_bytes(1, 1)[:20],                # IHDR truncated
    ]
    for payload in cases:
        m = multimodal.parse_media_header(payload)
        assert m["format"] is None and m["width"] is None, payload


def test_parse_media_header_never_raises_on_arbitrary_bytes():
    """Property: ANY byte string parses to a dict without raising — the
    100 TB contract that one hostile/corrupt blob cannot kill a scan
    stage.  Seeds the fuzz with valid-prefix mutations so the format
    branches (not just the sniff) get exercised."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    prefixes = st.sampled_from(
        [b"", b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"RIFF", b"GIF89a", b"BM",
         b"RIFFxxxxWAVE", b"RIFFxxxxAVI ", b"\x00\x00\x00\x10ftyp", b"\xff\xd8\xff\xe0"]
    )

    @settings(max_examples=300, deadline=None)
    @given(prefix=prefixes, tail=st.binary(max_size=200))
    def run(prefix, tail):
        m = multimodal.parse_media_header(prefix + tail)
        assert set(m) == {
            "media_type", "format", "width", "height", "bit_depth",
            "duration_ms",
        }

    run()


def test_decode_media_meta_end_to_end(spark):
    """synthesize_payloads (JVM hex synth) → decode_media_meta (Arrow-batched
    real parse): decoded fields must equal the synthesis formulas, and
    decode_media must fill the media_meta struct with them."""
    docs = _docs(spark).limit(30)
    media = multimodal.synthesize_payloads(docs, "doc_id", "text")
    got = {r.id: r for r in multimodal.decode_media_meta(media, "doc_id").collect()}
    assert len(got) == 30
    for i, r in got.items():
        if i % 3 == 0:
            assert (r.format, r.width, r.height, r.bit_depth) == (
                "png", 16 + i % 317, 16 + i % 211, 8)
        elif i % 3 == 1:
            assert (r.format, r.width, r.height) == (
                "jpeg", 16 + i % 317, 16 + i % 211)
        else:
            assert r.format == "wav" and r.width is None
            assert r.duration_ms is not None and r.bit_depth == 16
    # struct refresh keeps the media convention with real dimensions
    refreshed = multimodal.decode_media(media, "doc_id")
    row = refreshed.filter(F.col("doc_id") == 3).select("media_meta").head()
    assert row.media_meta.format == "png"
    assert row.media_meta.width == 16 + 3 % 317
    assert row.media_meta.height == 16 + 3 % 211


def test_frame_plan_from_real_decoded_duration(spark):
    """End-to-end audio chunking off REAL container metadata: synthesized
    WAV payloads → byte-level duration decode → frame sampling plan, with
    frame counts matching the decoded duration arithmetic."""
    docs = _docs(spark).filter(F.col("doc_id") % 3 == 2).limit(5)
    media = multimodal.synthesize_payloads(docs, "doc_id", "text")
    decoded = multimodal.decode_media(media, "doc_id")
    durations = {
        r.doc_id: r.media_meta.duration_ms
        for r in decoded.select("doc_id", "media_meta").collect()
    }
    assert all(d is not None and d >= 0 for d in durations.values())
    plan = multimodal.frame_sample_plan(decoded, "doc_id", every_ms=100)
    counts = {
        r.id: r.n for r in plan.groupBy(F.col("id")).agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    for doc_id, dur in durations.items():
        assert counts[doc_id] == max(dur // 100, 1)


def test_frame_sample_plan(spark):
    docs = _docs(spark).limit(3)
    media = multimodal.attach_media(docs, "text", "video", "mp4")
    media = media.withColumn(
        "media_meta",
        F.col("media_meta").withField("duration_ms", F.lit(3500).cast("long")),
    )
    plan = multimodal.frame_sample_plan(media, "doc_id", every_ms=1000)
    rows = plan.collect()
    assert len(rows) == 9  # 3 videos × 3 frames (3500ms // 1000)
    assert {r.frame_ts_ms for r in rows} == {0, 1000, 2000}


def test_exact_dedup_finds_planted_dupes(spark):
    docs = _docs(spark)
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    out = dedup.exact_dedup(docs.union(dup), "doc_id", ["text"])
    n_dupes = out.filter(F.col("n_copies") > 1).count()
    assert n_dupes == 5
    # keep_id is the lowest id of each duplicate group
    kept = out.filter(F.col("n_copies") > 1).select("keep_id").collect()
    assert all(r.keep_id < 100000 for r in kept)


def test_ann_ivf_query_matches_bruteforce_when_probing_all(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    nlabels = cent.count()
    exact = {r.id for r in similarity.cosine_topk(corpus, "vec_id", "embedding", qv, 10).collect()}
    allprobe = {
        r.id
        for r in similarity.ivf_topk(
            corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=nlabels
        ).collect()
    }
    assert allprobe == exact  # probing every cluster must equal brute force


def test_ivf_manifest_epoch_flip_and_rollback(spark, tmp_path_factory):
    """The serving-manifest lifecycle: queries resolve THROUGH the
    max-epoch row; publishing a new epoch after a rebuild flips which
    snapshot answers (write-manifest-last); superseded rows stay, so a
    rollback is just a higher epoch pointing at the older path; an
    unpublished manifest raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("ivf_manifest"))
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    nlabels = cent.count()

    with _pytest.raises(ValueError, match="no published epochs"):
        similarity.current_ivf_epoch(spark, root)

    # epoch 0: a HALF corpus — a manifest probe must see only it
    similarity.save_ivf_index(
        corpus.filter(F.col("vec_id") % 2 == 0),
        "vec_id", "embedding", "label", cent, f"{root}/e0",
    )
    similarity.publish_ivf_epoch(spark, root, f"{root}/e0", epoch=0)
    live = similarity.current_ivf_epoch(spark, root)
    assert (live["epoch"], live["path"]) == (0, f"{root}/e0")
    half = {
        r.id
        for r in similarity.ivf_manifest_topk(
            spark, root, "vec_id", "embedding", "label", qv,
            k=10, nprobe=nlabels,
        ).collect()
    }
    assert all(i % 2 == 0 for i in half)

    # epoch 1: the full corpus; the SAME call now answers from it
    similarity.save_ivf_index(
        corpus, "vec_id", "embedding", "label", cent, f"{root}/e1"
    )
    similarity.publish_ivf_epoch(spark, root, f"{root}/e1", epoch=1)
    exact = {
        r.id
        for r in similarity.cosine_topk(
            corpus, "vec_id", "embedding", qv, 10
        ).collect()
    }
    flipped = {
        r.id
        for r in similarity.ivf_manifest_topk(
            spark, root, "vec_id", "embedding", "label", qv,
            k=10, nprobe=nlabels,
        ).collect()
    }
    assert flipped == exact

    # rollback = epoch 2 pointing at the e0 path; history intact
    similarity.publish_ivf_epoch(spark, root, f"{root}/e0", epoch=2)
    rolled = similarity.current_ivf_epoch(spark, root)
    assert (rolled["epoch"], rolled["path"]) == (2, f"{root}/e0")
    assert spark.read.parquet(f"{root}/manifest").count() == 3

    with _pytest.raises(ValueError, match="epoch"):
        similarity.publish_ivf_epoch(spark, root, f"{root}/e0", epoch=-1)


def test_manifest_driver_side_io_interops_with_spark(spark, tmp_path_factory):
    """r14 optimization: local-root manifest appends/reads run driver-side
    (util.append_manifest_row / read_manifest_max) instead of a Spark job
    per 1-row flip.  The two writers must interoperate file-for-file:
    Spark reads a pyarrow-written manifest, the driver-side reader
    resolves the max epoch across a MIXED directory, and file:// URIs
    hit the same driver path."""
    from go_streaming_spark.functions.util import (
        append_manifest_row,
        read_manifest_max,
    )

    root = str(tmp_path_factory.mktemp("manifest_io"))
    man = f"{root}/manifest"
    assert read_manifest_max(spark, man, "epoch") is None

    # driver-side (pyarrow) row + a Spark-written row in one directory
    append_manifest_row(spark, man, {"epoch": 0, "path": "/p0"})
    spark.createDataFrame(
        [(1, "/p1")], "epoch long, path string"
    ).coalesce(1).write.mode("append").parquet(man)
    append_manifest_row(spark, f"file://{man}", {"epoch": 2, "path": "/p2"})

    live = read_manifest_max(spark, man, "epoch")
    assert (live["epoch"], live["path"]) == (2, "/p2")
    live_uri = read_manifest_max(spark, f"file://{man}", "epoch")
    assert (live_uri["epoch"], live_uri["path"]) == (2, "/p2")

    # Spark sees every row of the mixed directory with one schema
    rows = {(r["epoch"], r["path"])
            for r in spark.read.parquet(man).collect()}
    assert rows == {(0, "/p0"), (1, "/p1"), (2, "/p2")}


def test_ivf_filtered_topk_escalation(spark, tmp_path_factory):
    """Filtered ANN over-probe escalation: (1) a predicate matching
    fewer than k rows forces probing ALL cells — the result must be
    EXACT filtered brute force; (2) a predicate confined to one cluster
    (possibly far from the query) keeps escalating past empty probed
    cells until that cluster is reached — the result must equal brute
    force restricted to the predicate."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("ivf_filtered"))
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    similarity.save_ivf_index(corpus, "vec_id", "embedding", "label", cent, root)

    def rows(df):
        return [(r["id"], r["cos_sim"]) for r in df.collect()]

    # (1) sparse predicate: < k matches anywhere -> exact brute force
    pred = F.col("vec_id") % 101 == 3
    n_match = corpus.filter(pred).count()
    assert 0 < n_match < 10
    got = similarity.ivf_filtered_topk(
        spark, root, "vec_id", "embedding", "label", qv, pred,
        k=10, nprobe=1,
    )
    exact = similarity.cosine_topk(
        corpus.filter(pred), "vec_id", "embedding", qv, 10
    )
    assert rows(got) == rows(exact)
    assert got.count() == n_match  # short list, not silently padded

    # (2) single-cluster predicate with >= k matches: probed cells
    # before it contribute nothing, so escalation must walk to it
    lab = corpus.groupBy("label").count().orderBy("count").head()["label"]
    pred2 = F.col("label") == lab
    got2 = similarity.ivf_filtered_topk(
        spark, root, "vec_id", "embedding", "label", qv, pred2,
        k=5, nprobe=1,
    )
    exact2 = similarity.cosine_topk(
        corpus.filter(pred2), "vec_id", "embedding", qv, 5
    )
    assert rows(got2) == rows(exact2)


def test_exact_dedup_stream(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from go_streaming_spark.functions.dedup import exact_dedup_stream
    from go_streaming_spark.sources.formats import read_source_stream, write_sink
    from go_streaming_spark.streaming import replay_to_memory

    base = int(1e6)
    rows = [(i, base + i * 1_000, f"text-{i % 20}") for i in range(100)]
    staged = spark.createDataFrame(rows, "seq long, t_us long, text string")
    path = str(tmp_path_factory.mktemp("dds") / "events")
    write_sink(staged, path, fmt="json")
    stream = read_source_stream(spark, path, fmt="json", schema=staged.schema)
    env = stream.select(
        "seq", F.timestamp_micros("t_us").alias("event_start"), "text"
    )
    out = replay_to_memory(
        exact_dedup_stream(env, ["text"], watermark="1 hour"), spark
    )
    got = out.select("text").collect()
    assert len(got) == 20  # one survivor per distinct content
    assert {r.text for r in got} == {f"text-{i}" for i in range(20)}


def test_embedding_cosine_blocked_matches_expression(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", 0.4, dim=64)
    blocked = dedup.embedding_cosine_pairs_blocked(
        emb, "vec_id", "embedding", 0.4, n_blocks=4
    )
    e = {(r.id_a, r.id_b): r.cos_sim for r in expr.collect()}
    b = {(r.id_a, r.id_b): r.cos_sim for r in blocked.collect()}
    # sequential-order accumulation on both paths: bit-identical
    assert e == b

    # a zero or NULL vector has no direction: neither path pairs it, even
    # at a threshold every other pair clears
    zero = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0]), (4, [1.0, 1.0]),
         (5, None)],
        "vec_id long, embedding array<double>",
    )
    e0 = {tuple(r) for r in dedup.embedding_cosine_pairs(
        zero, "vec_id", "embedding", 0.0).collect()}
    b0 = {tuple(r) for r in dedup.embedding_cosine_pairs_blocked(
        zero, "vec_id", "embedding", 0.0, n_blocks=2).collect()}
    assert b0 == e0 and {(1, 3), (1, 4), (3, 4)} == {p[:2] for p in e0}


def test_cosine_kernel_ships_by_value(tmp_path):
    """The block UDFs' BLAS kernel must load and run in a Python that
    cannot import this package: cloudpickle ships a closure by value but
    a module-level function by reference."""
    import json
    import subprocess
    import sys

    import numpy as np
    from pyspark import cloudpickle

    scores = dedup._cosine_scorer(dedup._band_pick(0.5))
    args = (
        np.array([[1.0, 0.0], [0.0, 0.0], [1.0, 0.1]]),
        np.array([[2.0, 0.0], [0.0, 1.0]]),
        np.array([1, 2, 3]),
        np.array([10, 11]),
    )
    want = [a.tolist() for a in scores(*args)]
    code = (
        "import json, pickle, sys\n"
        "f, args = pickle.loads(sys.stdin.buffer.read())\n"
        "out = [a.tolist() for a in f(*args)]\n"
        "print(json.dumps([out, sorted(m for m in sys.modules"
        " if m.startswith('go_streaming_spark'))]))\n"
    )
    run = subprocess.run(
        [sys.executable, "-I", "-c", code],
        input=cloudpickle.dumps((scores, args)),
        capture_output=True, cwd=tmp_path, timeout=60,
    )
    assert run.returncode == 0, run.stderr.decode()
    got, imported = json.loads(run.stdout)
    assert got == want and want[0] == [1, 3]
    assert imported == []


def test_media_decoders_ship_by_value(tmp_path):
    """The media header parser that decode_media_meta and content_stats
    call on workers must load and run in a Python that cannot import
    this package: the module registers itself with cloudpickle to ship
    its functions by value."""
    import json
    import struct
    import subprocess
    import sys

    from pyspark import cloudpickle

    bmp = (b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
           + struct.pack("<IiiHH", 40, 800, -600, 1, 24) + b"\x00" * 24)
    want = multimodal.parse_media_header(bmp)
    code = (
        "import json, pickle, sys\n"
        "f, payload = pickle.loads(sys.stdin.buffer.read())\n"
        "print(json.dumps([f(payload), sorted(m for m in sys.modules"
        " if m.startswith('go_streaming_spark'))]))\n"
    )
    run = subprocess.run(
        [sys.executable, "-I", "-c", code],
        input=cloudpickle.dumps((multimodal.parse_media_header, bmp)),
        capture_output=True, cwd=tmp_path, timeout=60,
    )
    assert run.returncode == 0, run.stderr.decode()
    got, imported = json.loads(run.stdout)
    assert got == want and (got["format"], got["width"]) == ("bmp", 800)
    assert imported == []


def test_transform_media_chain(spark):
    """Media transforms chain: attach -> transform -> extract, all Arrow
    paths, deterministic stub outputs."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    media = multimodal.attach_media(docs, "text", "text_blob", "utf8")
    resized = multimodal.transform_media(media, "doc_id")
    rows = resized.collect()
    assert len(rows) == 50
    for r in rows:
        assert bytes(r.media).startswith(b"resized:")
        assert r.media_meta.n_bytes == len(bytes(r.media))
    # chains into feature extraction
    feats = multimodal.extract_features(resized, "id")
    out = feats.collect()
    assert len(out) == 50 and all(len(r.feature) == 8 for r in out)


def test_minhash_lsh_bucket_cap(spark):
    """max_bucket_size drops degenerate buckets: identical boilerplate docs
    all collide into one bucket; capped, they produce no pairs while
    normal near-dups still surface."""
    rows = [(i, "identical boilerplate text repeated in every doc here") for i in range(20)]
    rows += [(100, "a unique document about apples oranges and pears today"),
             (101, "a unique document about apples oranges and pears tonight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
    capped = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=5
    )
    un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in un and (100, 101) in cp
    assert any(a < 20 and b < 20 for a, b in un)      # boilerplate pairs present
    assert not any(a < 20 and b < 20 for a, b in cp)  # ...and capped away


def test_znorm_sliding_distance_model(spark):
    import numpy as np

    from go_streaming_spark.functions import timeseries

    vals = [float(v) for v in [1, 3, 2, 8, 4, 4, 5, 9, 1, 2]]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], "u string, i long, value double"
    )
    pattern = [1.0, 2.0, 3.0, 4.0]
    out = {r.pos: r.zdist for r in timeseries.znorm_sliding_distance(
        df, "u", "i", "value", pattern
    ).collect()}
    q = np.array(timeseries.znormalize(pattern))
    for pos in range(3, len(vals)):
        w = np.array(vals[pos - 3 : pos + 1])
        sd = max(np.sqrt((w * w).mean() - w.mean() ** 2), 1e-12)
        z = (w - w.mean()) / sd
        expected = round(float(np.sqrt(((z - q) ** 2).sum())), 6)
        assert abs(out[pos] - expected) < 1e-9, pos
    assert set(out) == set(range(3, len(vals)))  # only complete windows


def test_deterministic_sampling_and_split(spark):
    from go_streaming_spark.functions.sampling import deterministic_sample, hash_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).collect()}
    s2 = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3).collect()}
    assert s1 == s2 and 0.15 < len(s1) / docs.count() < 0.45   # stable + roughly 30%
    # different seed -> different (but stable) sample
    s3 = {r.doc_id for r in deterministic_sample(docs, "doc_id", 0.3, seed="other").collect()}
    assert s3 != s1
    # splits partition the corpus and are label-stable
    split = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert counts["train"] > counts.get("val", 0) and counts["train"] > counts.get("test", 0)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"a": 0.9, "b": 0.2})


def test_chunk_tokens_overlap_and_tail(spark):
    from go_streaming_spark.functions import text

    df = spark.createDataFrame([(1, "t1 t2 t3 t4 t5")], ["doc_id", "text"])
    rows = sorted(
        text.chunk_tokens(df, "doc_id", "text", chunk_size=4, stride=2).collect(),
        key=lambda r: r.chunk_id,
    )
    assert [(r.chunk_id, r.n_tokens, r.chunk) for r in rows] == [
        (0, 4, "t1 t2 t3 t4"),   # full window
        (1, 3, "t3 t4 t5"),      # overlap of 2 with previous
        (2, 1, "t5"),            # clipped tail kept
    ]
    # empty text -> one empty chunk, not a crash
    empty = text.chunk_tokens(
        spark.createDataFrame([(2, "")], ["doc_id", "text"]),
        "doc_id", "text", chunk_size=4, stride=2,
    ).collect()
    assert len(empty) == 1 and empty[0].n_tokens == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.chunk_tokens(df, "doc_id", "text", chunk_size=4, stride=0)


def test_repetition_ratio_values_and_short_docs(spark):
    from go_streaming_spark.functions import text

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "all words unique here"), (3, "solo"), (4, "")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.ratio
        for r in df.select(
            "doc_id", text.repetition_ratio(F.col("text"), 2).alias("ratio")
        ).collect()
    }
    assert got[1] == 0.5        # 4 bigrams, 2 distinct
    assert got[2] == 0.0        # no repetition
    assert got[3] == 0.0        # shorter than n: defined as 0, no crash
    assert got[4] == 0.0


def test_decontaminate_short_docs_no_crash(spark):
    from go_streaming_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    banned = spark.createDataFrame([("quick brown fox",)], ["ngram"])
    kept = {r.doc_id for r in text.decontaminate(docs, "doc_id", "text", banned).collect()}
    assert kept == {1}          # short doc survives, contaminated doc dropped


def test_pack_sequences_semantics(spark):
    """Token-offset packing: within a bucket, start_off is the exclusive
    cumsum of token counts in id order, and seq_id = start_off div budget
    — docs land in the sequence containing their first token."""
    from go_streaming_spark.functions import text as text_fns

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([5, 3, 4, 6, 2, 7])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in text_fns.pack_sequences(
            df, "doc_id", "text", budget=8, n_buckets=1
        ).collect()
    }
    # one bucket -> ids in order; offsets 0,5,8,12,18,20
    expect_off = {0: 0, 1: 5, 2: 8, 3: 12, 4: 18, 5: 20}
    expect_seq = {i: off // 8 for i, off in expect_off.items()}
    assert {i: r.start_off for i, r in out.items()} == expect_off
    assert {i: r.seq_id for i, r in out.items()} == expect_seq
    assert all(r.bucket == 0 for r in out.values())

    # bucketed: cumsum restarts per bucket, sequences never cross buckets
    out2 = text_fns.pack_sequences(df, "doc_id", "text", budget=8, n_buckets=2)
    for r in out2.collect():
        assert r.bucket == r.id % 2
    firsts = {r.id: r.start_off for r in out2.collect() if r.id < 2}
    assert firsts == {0: 0, 1: 0}


def test_normalized_dedup_catches_trivial_variants(spark):
    """Casing / punctuation / whitespace variants collapse to one canonical
    form and dedup together; genuinely different text stays distinct."""
    from go_streaming_spark.functions import text as text_fns

    rows = [
        (0, "Hello,   World!"),
        (1, "hello world"),
        (2, "HELLO -- WORLD"),
        (3, "goodbye world"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    norm = df.withColumn("_n", text_fns.normalize_for_dedup(F.col("text")))
    got = {r.doc_id: r._n for r in norm.collect()}
    assert got[0] == got[1] == got[2] == "hello world"
    assert got[3] == "goodbye world"
    d = dedup.exact_dedup(norm, "doc_id", ["_n"])
    out = {r.keep_id: r.n_copies for r in d.collect()}
    assert out == {0: 3, 3: 1}


def test_pack_sequences_null_and_empty_text(spark):
    """NULL or empty text counts 0 tokens (not Spark's size-of-null -1) so
    downstream start_off stays a valid non-decreasing cumsum."""
    from go_streaming_spark.functions import text as text_fns

    rows = [(0, "a b c"), (1, None), (2, ""), (3, "d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: r
        for r in text_fns.pack_sequences(
            df, "doc_id", "text", budget=4, n_buckets=1
        ).collect()
    }
    assert {i: r.n_tokens for i, r in out.items()} == {0: 3, 1: 0, 2: 0, 3: 2}
    assert {i: r.start_off for i, r in out.items()} == {0: 0, 1: 3, 2: 3, 3: 3}


def test_incremental_exact_dedup(spark):
    """New-batch docs drop when their digest exists in the corpus OR when a
    lower-id in-batch duplicate wins; unseen uniques survive."""
    corpus = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "seen before"),   # dropped: in corpus
            (2, "brand new"),     # survives
            (3, "brand new"),     # dropped: in-batch dupe of 2
            (4, "also seen"),     # dropped: in corpus
            (5, "unique too"),    # survives
        ],
        "doc_id long, text string",
    )
    got = {
        r.keep_id: r.n_copies
        for r in dedup.incremental_exact_dedup(
            batch, corpus, "doc_id", ["text"]
        ).collect()
    }
    assert got == {2: 2, 5: 1}


def test_incremental_minhash_dedup(spark):
    """Batch docs near-dup to a CORPUS doc are dropped; novel docs and
    docs that are only near-dups of other BATCH docs survive (in-batch
    resolution is explicitly out of scope)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely unrelated corpus text about spark")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base),                                   # exact corpus dup
            (2, base.replace("today", "tomorrow")),      # near-dup of corpus
            (3, "novel document with entirely fresh content and words"),
            (4, "novel document with entirely fresh content and words!"),
            # 3 and 4 are near-dups of EACH OTHER but not of the corpus
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_minhash_dedup(
        batch, corpus, "doc_id", "text", n=3, threshold=0.5
    )
    assert {r.doc_id for r in out.collect()} == {3, 4}


def test_incremental_minhash_full_resolves_in_batch(spark):
    """incremental_minhash_dedup_full drops corpus near-dups AND resolves
    near-dups within the batch (min id per component survives) — an ingest
    batch leaves fully near-dup-free."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, base),                                   # corpus dup → drop
            (3, "novel document with entirely fresh content and words"),
            (4, "novel document with entirely fresh content and words!"),
            (5, "some other brand new text that matches nothing else"),
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_minhash_dedup_full(
        batch, corpus, "doc_id", "text", n=3, threshold=0.5
    )
    # 1 dropped vs corpus; {3,4} collapse to min id 3; 5 novel
    assert {r.doc_id for r in out.collect()} == {3, 5}


@pytest.mark.parametrize("edges, id_type", [
    # an 8-node chain, its edges out of order
    ([(5, 6), (1, 2), (7, 8), (3, 4), (2, 3), (6, 7), (4, 5)], "long"),
    # a star whose centre is not the minimum
    ([(5, i) for i in (9, 1, 3, 2, 4, 6, 7, 8)], "long"),
    # two components, each edge written max-first
    ([(12, 10), (12, 11), (3, 2), (4, 2)], "long"),
    # string ids: "a10" < "a9" and "z" < "é" in byte and code-point order
    ([("a9", "a10"), ("é", "z"), ("b", "a9")], "string"),
], ids=["chain8", "star", "two_components", "string_ids"])
def test_component_drops_match_dedup_components(spark, edges, id_type):
    """Stage 2's driver-side union-find drops exactly the non-canonical
    members graph.dedup_components finds: every id but its component's
    minimum, in Spark's own ordering of the ids."""
    from go_streaming_spark.functions.graph import dedup_components

    pairs = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    ref = {
        r.doc_id for r in dedup_components(pairs)
        .filter("doc_id != cluster_id").collect()
    }
    assert dedup._component_drops(edges) == ref


def _sliding_doc(i: int) -> str:
    """20 tokens starting at 3·i: neighbours share 15 of 21 distinct
    3-shingles (J≈0.71), docs two apart 12 of 24 (J=0.5)."""
    return " ".join(f"w{j}" for j in range(3 * i, 3 * i + 20))


def _fresh_doc(i: int) -> str:
    return " ".join(f"u{i}x{j}" for j in range(20))


def _stage2_index(spark):
    corpus = spark.createDataFrame(
        [(100, _fresh_doc(100))], "doc_id long, text string"
    )
    return dedup.build_minhash_index(corpus, "doc_id", "text", 3, 16, 1)


def test_minhash_full_keeps_null_id_survivor(spark):
    """A NULL-id row never pairs, so stage 2 passes it through, as a
    left_anti join on the id would; the in-batch pair still collapses to
    its minimum id."""
    batch = spark.createDataFrame(
        [(None, _sliding_doc(0)), (1, _sliding_doc(0)),
         (2, _sliding_doc(1)), (3, _fresh_doc(3))],
        "doc_id long, text string",
    )
    out = dedup.incremental_minhash_dedup_full(
        batch, None, "doc_id", "text", n=3, k=16, rows_per_band=1,
        threshold=0.6, index=_stage2_index(spark),
    )
    assert sorted((r.doc_id for r in out.collect()), key=str) == [1, 3, None]


def test_minhash_full_stage2_jobs_flat_in_chain_length(spark):
    """Stage 2 runs as many Spark jobs for an 8-node chain of in-batch
    near-dups as for a batch of the same size with one pair: components
    are resolved on the driver, not by label rounds that grow with the
    chain."""
    idx = _stage2_index(spark)
    chain = [(i, _sliding_doc(i)) for i in range(8)]
    one_pair = chain[:2] + [(i, _fresh_doc(i)) for i in range(2, 8)]
    sc = spark.sparkContext
    jobs, kept = {}, {}
    for name, rows in (("chain", chain), ("pair", one_pair)):
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        group = f"stage2-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            kept[name] = {r.doc_id for r in dedup.incremental_minhash_dedup_full(
                batch, None, "doc_id", "text", n=3, k=16, rows_per_band=1,
                threshold=0.6, index=idx,
            ).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert kept == {"chain": {0}, "pair": {0, 2, 3, 4, 5, 6, 7}}, kept
    assert jobs["chain"] == jobs["pair"], jobs


def test_incremental_minhash_full_rejects_streaming_input(spark, tmp_path):
    """Stage 2 runs driver actions, so a streaming frame is refused with a
    pointer to foreachBatch instead of failing inside Spark."""
    corpus = spark.createDataFrame([(100, "a b c d e")], "doc_id long, text string")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(tmp_path))
    with pytest.raises(ValueError, match="foreachBatch"):
        dedup.incremental_minhash_dedup_full(stream, corpus, "doc_id", "text")


def test_successive_batches_against_updated_index(spark):
    """Two ingest batches, each full-deduped against an index UPDATED with
    the prior batch's survivors (band/shingle frames appended — the index
    is an append-able per-doc property), give the same survivor set as one
    from-scratch full dedup of the concatenated batches.  Batch-1 ids are
    lower than batch-2 ids, so sequential keep-first equals the canonical
    min-id rule."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel_a = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame([(100, base)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [
            (1, base),                                  # corpus dup → drop
            (2, novel_a),                               # novel → keep
            (3, novel_a.replace("nine", "nina")),       # in-batch dup of 2
            (4, "fully distinct text mentioning nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (5, novel_a.replace("ten", "eleven")),      # near-dup of kept 2
            (6, "yet another completely fresh document body arrives"),
        ],
        "doc_id long, text string",
    )
    kw = dict(n=3, k=16, rows_per_band=2, threshold=0.5)

    idx = dedup.build_minhash_index(corpus, "doc_id", "text", 3, 16, 2)
    s1 = dedup.incremental_minhash_dedup_full(
        b1, None, "doc_id", "text", index=idx, **kw
    )
    ids1 = {r.doc_id for r in s1.collect()}
    # append the survivors' band/shingle rows to the index
    idx1 = dedup.build_minhash_index(s1, "doc_id", "text", 3, 16, 2)
    updated = dedup.MinHashIndex(
        idx.bands.unionByName(idx1.bands),
        idx.shingles.unionByName(idx1.shingles),
        3, 16, 2,
    )
    s2 = dedup.incremental_minhash_dedup_full(
        b2, None, "doc_id", "text", index=updated, **kw
    )
    ids2 = {r.doc_id for r in s2.collect()}

    scratch = dedup.incremental_minhash_dedup_full(
        b1.unionByName(b2), corpus, "doc_id", "text", **kw
    )
    assert ids1 | ids2 == {r.doc_id for r in scratch.collect()} == {2, 4, 6}


def test_minhash_index_save_load_roundtrip(spark, tmp_path):
    """A saved+loaded corpus index produces the identical dedup result to
    the in-memory one (the corpus-snapshot persistence path)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely unrelated corpus text about spark")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, base), (3, "novel document with entirely fresh content")],
        "doc_id long, text string",
    )
    idx = dedup.build_minhash_index(corpus, "doc_id", "text")
    idx.save(str(tmp_path / "idx"))
    loaded = dedup.MinHashIndex.load(spark, str(tmp_path / "idx"))
    assert (loaded.n, loaded.k, loaded.rows_per_band) == (
        idx.n, idx.k, idx.rows_per_band
    )
    mem = dedup.dedup_against_index(batch, idx, "doc_id", "text", 0.5)
    disk = dedup.dedup_against_index(batch, loaded, "doc_id", "text", 0.5)
    assert (
        {r.doc_id for r in mem.collect()}
        == {r.doc_id for r in disk.collect()}
        == {3}
    )


def test_classifier_auc_matches_rank_reference(spark):
    """Exact AUC vs a pure-Python Mann-Whitney reference with average
    ranks for ties — the sklearn roc_auc_score semantics — plus the
    closed-form corners (perfect = 1e6, reversed = 0, coin-flip ties,
    single-class NULL)."""
    import random

    from go_streaming_spark.functions.stats import classifier_auc

    def ref_auc_q6(pairs):
        pos = [s for s, y in pairs if y]
        neg = [s for s, y in pairs if not y]
        if not pos or not neg:
            return None
        wins = 0  # 2x (wins + ties/2), integer
        for p in pos:
            for q in neg:
                wins += 2 if p > q else (1 if p == q else 0)
        return (wins * 1_000_000) // (2 * len(pos) * len(neg))

    rng = random.Random(11)
    cases = [
        [(i, 1 if i >= 5 else 0) for i in range(10)],        # perfect
        [(i, 1 if i < 5 else 0) for i in range(10)],         # reversed
        [(7, 1)] * 4 + [(7, 0)] * 4,                          # all tied
        [(rng.randint(-5, 5), rng.randint(0, 1)) for _ in range(60)],
        [(rng.randint(0, 2), rng.randint(0, 1)) for _ in range(40)],
        [(3, 1), (4, 1)],                                     # single class
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "s long, y long")
        r = classifier_auc(df, "s", "y", n_buckets=4).collect()[0]
        assert r["n"] == len(pairs)
        assert r["auc_q6"] == ref_auc_q6(pairs), pairs
    assert ref_auc_q6(cases[0]) == 1_000_000
    assert ref_auc_q6(cases[1]) == 0
    assert ref_auc_q6(cases[2]) == 500_000


def test_winsorized_approx_matches_exact(spark):
    """The percentile_approx bounds path (100 TB form) reproduces the exact
    winsorized mean within the tail mass it can misplace: with accuracy
    10000 on 10k rows the sketch bounds are near-exact, so wins_mean lands
    within a tight tolerance and clamp counts stay plausible."""
    from go_streaming_spark.functions.stats import winsorized_stats

    df = (
        spark.range(10_000)
        .select(
            (F.col("id") % 4).cast("string").alias("g"),
            # heavy-tailed deterministic values: mostly small, 1% huge
            F.when(F.col("id") % 100 == 0, F.col("id") * 1000.0)
            .otherwise((F.col("id") % 97).cast("double"))
            .alias("v"),
        )
    )
    exact = {
        r.g: r for r in winsorized_stats(df, "g", "v").collect()
    }
    approx = {
        r.g: r
        for r in winsorized_stats(
            df, "g", "v", approx_accuracy=10_000
        ).collect()
    }
    assert set(exact) == set(approx) == {"0", "1", "2", "3"}
    for g in exact:
        e, a = exact[g], approx[g]
        assert a.n == e.n
        # the raw (unclamped) mean is wildly different — sanity that
        # clamping actually did something in both modes
        assert e.n_clamped > 0 and a.n_clamped > 0
        assert abs(a.wins_mean - e.wins_mean) <= 0.02 * max(abs(e.wins_mean), 1)


def test_corpus_shuffle_deterministic_permutation(spark):
    """Shuffle order is a permutation (each (bucket,pos) unique, every id
    present), reproducible across calls, and seed changes reorder."""
    from go_streaming_spark.functions.sampling import corpus_shuffle

    docs = _docs(spark)
    a = corpus_shuffle(docs, "doc_id", n_buckets=4)
    b = corpus_shuffle(docs, "doc_id", n_buckets=4)
    rows_a = sorted((r.id, r.bucket, r.pos) for r in a.collect())
    rows_b = sorted((r.id, r.bucket, r.pos) for r in b.collect())
    assert rows_a == rows_b  # reproducible
    n = docs.count()
    assert len(rows_a) == n
    assert len({(r[1], r[2]) for r in rows_a}) == n  # (bucket,pos) unique
    # per-bucket positions are dense 0..k-1
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for _id, bkt, pos in rows_a:
        by_bucket[bkt].append(pos)
    assert all(sorted(v) == list(range(len(v))) for v in by_bucket.values())
    c = corpus_shuffle(docs, "doc_id", seed="epoch2", n_buckets=4)
    rows_c = sorted((r.id, r.bucket, r.pos) for r in c.collect())
    assert rows_c != rows_a  # new seed = new order


def test_mixture_sample_epoch_weights(spark):
    """weight 2.5 -> every doc twice + ~half a third time; weight 0.5 ->
    ~half the docs once; weight 0 -> none; integer weights exact."""
    from go_streaming_spark.functions.sampling import mixture_sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    mixed = mixture_sample(df, "doc_id", "source", {"a": 2.5, "b": 0.0}, default=1.0)
    counts = {
        (r.source, r.doc_id): r.n
        for r in mixed.groupBy("source", "doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    a_counts = [n for (s, _), n in counts.items() if s == "a"]
    assert all(n in (2, 3) for n in a_counts)          # floor(2.5)=2, +1 for ~half
    assert 0 < sum(n == 3 for n in a_counts) < len(a_counts)
    assert not any(s == "b" for (s, _) in counts)       # weight 0 drops all
    # exact integer weight: every row exactly w copies
    exact = mixture_sample(df, "doc_id", "source", {"a": 2, "b": 1})
    got = {
        (r.source, r.n): r.c
        for r in exact.groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source", "n")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == {("a", 2): 100, ("b", 1): 100}


def test_mixture_copy_counts_sees_dropped_strata(spark):
    """The pre-explode accounting frame keeps every input row — a stratum
    whose rows ALL get 0 copies still shows up with count 0, whereas
    mixture_sample drops it entirely at the explode; the two views agree
    on every surviving copy count."""
    from go_streaming_spark.functions.sampling import (
        mixture_copy_counts,
        mixture_sample,
    )

    rows = [(i, "a" if i % 2 == 0 else "gone") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    weights = {"a": 1.5, "gone": 0.0}
    counted = mixture_copy_counts(df, "doc_id", "source", weights)
    by_source = {
        r.source: (r.rows, r.copies)
        for r in counted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_copies").alias("copies"),
        )
        .collect()
    }
    assert by_source["gone"] == (50, 0)  # visible with 0 copies
    assert by_source["a"][0] == 50 and 50 <= by_source["a"][1] <= 100
    # exploded view drops the stratum entirely...
    mixed = mixture_sample(df, "doc_id", "source", weights)
    assert mixed.filter(F.col("source") == "gone").count() == 0
    # ...but matches the accounting on what survives
    assert (
        mixed.filter(F.col("source") == "a").count() == by_source["a"][1]
    )


def test_duplicated_spans_planted(spark):
    """Two docs sharing a 10-token boilerplate → one merged span each at
    the right offsets; unique docs and sub-k docs emit nothing."""
    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [
        (1, f"u1 u2 u3 {boiler} t1 t2"),        # span at tokens 3..12
        (2, f"{boiler} v1 v2 v3 v4 v5"),        # span at tokens 0..9
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),  # unique, no dup grams
        (4, "x1 x2 x3"),                        # shorter than k
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.id: (r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_spans(df, "doc_id", "text", k=8).collect()
    }
    assert out == {1: (3, 12, 10), 2: (0, 9, 10)}


def test_duplicated_spans_within_doc_repeat(spark):
    """A k-gram repeating WITHIN one document counts toward min_count:
    both occurrences are flagged (disjoint → two spans)."""
    gram = " ".join(f"g{i}" for i in range(8))
    df = spark.createDataFrame(
        [(7, f"{gram} m1 m2 m3 m4 {gram}")], ["doc_id", "text"]
    )
    spans = sorted(
        (r.span_start, r.span_end)
        for r in dedup.duplicated_spans(df, "doc_id", "text", k=8).collect()
    )
    assert spans == [(0, 7), (12, 19)]


def test_duplicated_spans_adjacent_merge(spark):
    """Overlapping flagged windows merge into ONE maximal span (a 12-token
    shared run with k=8 flags positions 0..4 → single span 0..11)."""
    run = " ".join(f"r{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, f"{run} a1 a2"), (2, f"c1 c2 {run}")], ["doc_id", "text"]
    )
    out = {
        r.id: (r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_spans(df, "doc_id", "text", k=8).collect()
    }
    assert out == {1: (0, 11, 12), 2: (2, 13, 12)}


def test_remove_spans_cuts_flagged_tokens(spark):
    """remove_spans drops exactly the span tokens; docs without spans pass
    through byte-identical."""
    boiler = " ".join(f"b{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, f"u1 u2 {boiler} u3"), (2, f"{boiler} v1"), (3, "w1 w2 w3")],
        ["doc_id", "text"],
    )
    spans = dedup.duplicated_spans(df, "doc_id", "text", k=8)
    # keep policy: keep the copy in the lowest doc_id → only cut elsewhere
    cut = spans.filter(F.col("id") != 1)
    out = {r.doc_id: r.text for r in dedup.remove_spans(df, cut, "doc_id", "text").collect()}
    assert out == {1: f"u1 u2 {boiler} u3", 2: "v1", 3: "w1 w2 w3"}


def test_ngram_counts_exact(spark):
    from go_streaming_spark.functions import text as tx

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], ["doc_id", "text"]
    )
    out = {
        r.gram: (r.n_occ, r.n_docs)
        for r in tx.ngram_counts(df, "doc_id", "text", n=2).collect()
    }
    assert out == {
        "a b": (3, 2),   # twice in doc 1, once in doc 2
        "b a": (1, 1),
        "b c": (1, 1),
        "b x": (1, 1),
    }


def test_weighted_sample_topk_properties(spark):
    from go_streaming_spark.functions.sampling import weighted_sample_topk

    rows = [(i, 1.0) for i in range(1, 200)] + [(1000, 1e9), (2000, 0.0)]
    df = spark.createDataFrame(rows, ["id", "w"])
    got = sorted(r.id for r in weighted_sample_topk(df, "id", "w", k=20).collect())
    assert len(got) == 20
    assert 1000 in got, "overwhelming weight must be sampled"
    assert 2000 not in got, "zero weight must never be sampled"
    again = sorted(r.id for r in weighted_sample_topk(df, "id", "w", k=20).collect())
    assert got == again, "sample must be deterministic"
    other = sorted(
        r.id for r in weighted_sample_topk(df, "id", "w", k=20, seed="ep2").collect()
    )
    assert got != other, "a new seed must give a different sample"


def test_quantized_cosine_matches_exact_ranking(spark):
    emb = _emb(spark)
    qv = _query_vec(emb)
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = [r.id for r in similarity.cosine_topk(corpus, "vec_id", "embedding", qv, 10).collect()]
    quant = [r.id for r in similarity.quantized_cosine_topk(corpus, "vec_id", "embedding", qv, 10).collect()]
    assert quant[0] == exact[0], "int8 quantization must keep the top-1"
    assert len(set(exact) & set(quant)) >= 8, f"overlap too low: {set(exact) & set(quant)}"


def test_ivf_quantized_composition(spark):
    """ivf_quantized_topk = quantized scoring restricted to the probed
    cells: probing every cluster must equal the full quantized scan
    bit-for-bit, and nprobe=2 must equal quantized scoring over exactly
    the rows ivf_topk's probe admits."""
    emb = _emb(spark)
    qv = _query_vec(emb)
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    nlabels = cent.count()
    full = [
        (r.id, r.cos_sim)
        for r in similarity.quantized_cosine_topk(
            corpus, "vec_id", "embedding", qv, 10
        ).collect()
    ]
    allprobe = [
        (r.id, r.cos_sim)
        for r in similarity.ivf_quantized_topk(
            corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=nlabels
        ).collect()
    ]
    assert allprobe == full
    # nprobe=2: recompute the probe set independently, then quantized-score it
    probe = {
        r.id
        for r in similarity.cosine_topk(cent, "label", "vec", qv, 2).collect()
    }
    cand = corpus.filter(F.col("label").isin([int(p) for p in probe]))
    want = [
        (r.id, r.cos_sim)
        for r in similarity.quantized_cosine_topk(
            cand, "vec_id", "embedding", qv, 10
        ).collect()
    ]
    got = [
        (r.id, r.cos_sim)
        for r in similarity.ivf_quantized_topk(
            corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=2
        ).collect()
    ]
    assert got == want


def test_quantize_vec_bounds_and_zero():
    assert similarity.quantize_vec([0.0, 0.0]) == [0, 0]
    q = similarity.quantize_vec([-1.0, 0.5, 1.0])
    assert q == [-127, 64, 127]
    assert all(-127 <= x <= 127 for x in similarity.quantize_vec([3.7, -9.99, 0.01]))


def test_temperature_weights_flatten(spark):
    """α=0.5 flattening: head stratum weight < 1 < tail stratum weight,
    expected total ≈ input total, α=1 is proportional (all weights 1)."""
    from go_streaming_spark.functions.sampling import temperature_weights

    rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "src"])
    w = {r.stratum: (r.n_rows, r.weight) for r in temperature_weights(df, "src", 0.5).collect()}
    assert w["head"][0] == 900 and w["tail"][0] == 100
    assert w["head"][1] < 1.0 < w["tail"][1]
    # expected copies = Σ n_s * w_s ≈ N
    exp_total = sum(n * wt for n, wt in w.values())
    assert abs(exp_total - 1000) < 1e-6
    prop = {r.stratum: r.weight for r in temperature_weights(df, "src", 1.0).collect()}
    assert all(abs(x - 1.0) < 1e-9 for x in prop.values())


def test_mixture_copy_counts_df_matches_dict_variant(spark):
    """The join-based variant must agree with the CASE-chain dict variant
    row for row (same hash rule), and default-fill absent strata."""
    from go_streaming_spark.functions.sampling import (
        mixture_copy_counts,
        mixture_copy_counts_df,
    )

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "src"])
    weights = {"a": 2.5, "b": 0.25}  # c absent → default 1.0
    wdf = spark.createDataFrame(
        [("a", 2.5), ("b", 0.25)], ["stratum", "weight"]
    )
    via_dict = {
        r.id: r.n_copies
        for r in mixture_copy_counts(df, "id", "src", weights).collect()
    }
    via_df = {
        r.id: r.n_copies
        for r in mixture_copy_counts_df(df, "id", "src", wdf).collect()
    }
    assert via_dict == via_df
    assert all(via_df[i] == 1 for i in range(300) if i % 3 == 2)  # default


def test_spans_against_index_matches_full_run(spark):
    """Incremental span dedup (batch vs prebuilt gram index) must equal
    the from-scratch run over corpus∪batch restricted to batch docs."""
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    idx = dedup.build_gram_index(corpus, "doc_id", "text", k=8)
    inc = {
        tuple(r)
        for r in dedup.duplicated_spans_against_index(
            batch, idx, "doc_id", "text", k=8
        ).collect()
    }
    full = {
        tuple(r)
        for r in dedup.duplicated_spans(docs, "doc_id", "text", k=8)
        .filter(F.col("id") % 10 != 0)
        .collect()
    }
    assert inc == full and inc, "expected non-empty identical span sets"


def test_contamination_stats_planted(spark):
    from go_streaming_spark.functions import text as tx

    leak = " ".join(f"c{i}" for i in range(10))  # 10 tokens → 3 dup 8-grams
    train = spark.createDataFrame(
        [(100, f"t1 t2 {leak} t3")], ["doc_id", "text"]
    )
    test_set = spark.createDataFrame(
        [
            (1, f"{leak} z1 z2 z3 z4 z5"),   # 8 grams, 3 hit
            (2, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),  # 2 grams, 0 hit
            (3, "short doc"),                 # < 8 tokens → absent
        ],
        ["doc_id", "text"],
    )
    out = {
        r.id: (r.n_grams, r.n_hit, r.hit_rate)
        for r in tx.contamination_stats(test_set, train, "doc_id", "text", 8).collect()
    }
    assert out == {1: (8, 3, 0.375), 2: (2, 0, 0.0)}


def test_gopher_quality_flags_rules(spark):
    from go_streaming_spark.functions import text as tx

    rows = [
        (1, "word " * 60 + "end"),                       # repetitive 1-word bigrams
        (2, " ".join(f"alpha{i} bravo{i} charlie{i} delta{i} the" for i in range(12))),  # healthy
        (3, "too short"),                                 # < min_words
        (4, " ".join("supercalifragilistic" for _ in range(60))),  # long words + repetitive
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: r.asDict() for r in tx.gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[3]["flag_too_short"] == 1 and out[3]["keep"] == 0
    assert out[1]["flag_repetitive"] == 1 and out[1]["keep"] == 0
    assert out[4]["flag_bad_word_len"] == 1 and out[4]["flag_repetitive"] == 1
    assert out[2]["keep"] == 1, out[2]
    # flags are exhaustive: keep == 1 iff no flag fired
    for r in out.values():
        fired = sum(v for k, v in r.items() if k.startswith("flag_"))
        assert r["keep"] == (1 if fired == 0 else 0)


def test_duplicated_spans_keep_first_policy(spark):
    """keep_first exempts the globally-first occurrence per gram: the
    lowest-(id,pos) copy keeps its text, later copies (and later
    within-doc repeats) are flagged for removal."""
    boiler = " ".join(f"b{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"u1 u2 {boiler} u3"),
            (2, f"{boiler} v1"),
            (5, f"w1 {boiler} {boiler}"),
        ],
        ["doc_id", "text"],
    )
    spans = dedup.duplicated_spans(df, "doc_id", "text", k=8, keep_first=True)
    got = sorted((r.id, r.span_start, r.span_end) for r in spans.collect())
    # doc 1 holds every first occurrence → no spans; doc 2 fully flagged;
    # doc 5 both copies flagged (first occurrences live in doc 1)
    assert [t[0] for t in got] == [2, 5]
    cleaned = {
        r.doc_id: r.text
        for r in dedup.remove_spans(df, spans, "doc_id", "text").collect()
    }
    assert cleaned[1] == f"u1 u2 {boiler} u3"      # canonical copy intact
    assert boiler not in cleaned[2] and boiler not in cleaned[5]


def test_count_min_never_undercounts_and_merges(spark):
    from go_streaming_spark.functions import sketch

    rows = [(w,) for w in ["a"] * 50 + ["b"] * 20 + ["c"] * 5 + [f"t{i}" for i in range(40)]]
    df = spark.createDataFrame(rows, ["word"])
    sk = sketch.count_min_build(df, "word", depth=4, width=64)
    keys = df.distinct()
    est = {r.key: r.est_count for r in sketch.count_min_estimate(sk, keys, "word", 4, 64).collect()}
    exact = {r.word: r.cnt for r in df.groupBy("word").agg(F.count("*").alias("cnt")).collect()}
    assert all(est[k] >= exact[k] for k in exact), "CMS must never undercount"
    # heavy hitters stand out even at width 64
    assert est["a"] >= 50 and est["b"] >= 20
    # wide sketch → exact (43 keys, width 4096: collisions ~ nothing)
    sk_wide = sketch.count_min_build(df, "word", depth=4, width=4096)
    est_w = {r.key: r.est_count for r in sketch.count_min_estimate(sk_wide, keys, "word", 4, 4096).collect()}
    assert est_w == exact

    # merge property: per-half sketches summed bucket-wise == full sketch
    half_a = spark.createDataFrame(rows[:60], ["word"])
    half_b = spark.createDataFrame(rows[60:], ["word"])
    merged = (
        sketch.count_min_build(half_a, "word", 4, 64)
        .unionByName(sketch.count_min_build(half_b, "word", 4, 64))
        .groupBy("row", "bucket")
        .agg(F.sum("count").alias("count"))
    )
    full = {(r.row, r.bucket): r["count"] for r in sk.collect()}
    assert {(r.row, r.bucket): r["count"] for r in merged.collect()} == full


def test_heavy_hitters_equals_exact(spark):
    """Sketch-prefiltered heavy hitters must EQUAL the exact GROUP BY /
    HAVING result (the prefilter is sound), even at a narrow width with
    many colliding tail keys."""
    from go_streaming_spark.functions import sketch

    rows = [(w,) for w in ["hot"] * 40 + ["warm"] * 12 + [f"t{i}" for i in range(200)]]
    df = spark.createDataFrame(rows, ["word"])
    got = {
        (r.key, r.n_occ)
        for r in sketch.heavy_hitters(df, "word", min_count=10, width=32).collect()
    }
    assert got == {("hot", 40), ("warm", 12)}


def test_stratified_fixed_sample_sizes_and_determinism(spark):
    from go_streaming_spark.functions.sampling import stratified_fixed_sample

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "src"])
    out = stratified_fixed_sample(df, "id", "src", m=15)
    sizes = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    assert sizes == {"big": 15, "small": 10}, "m per stratum, capped at stratum size"
    a = sorted(r.id for r in out.collect())
    b = sorted(r.id for r in stratified_fixed_sample(df, "id", "src", m=15).collect())
    assert a == b, "deterministic"
    c = sorted(r.id for r in stratified_fixed_sample(df, "id", "src", m=15, seed="v2").collect())
    assert a != c, "seed changes the pick"


def test_duplicated_spans_matches_bruteforce(spark):
    """Property: on random small corpora over a tiny alphabet (to force
    gram collisions), duplicated_spans matches a brute-force Python
    reference — counts, island merging, keep_first exemption and all."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    K = 3

    def brute(docs, keep_first):
        grams = {}
        for did, txt in enumerate(docs):
            toks = [w for w in txt.split() if w]
            for p in range(len(toks) - K + 1):
                grams.setdefault(" ".join(toks[p : p + K]), []).append((did, p))
        flagged = {}
        for occs in grams.values():
            if len(occs) < 2:
                continue
            skip = min(occs) if keep_first else None
            for occ in occs:
                if occ != skip:
                    flagged.setdefault(occ[0], set()).add(occ[1])
        spans = set()
        for did, poss in flagged.items():
            cur = None
            for p in sorted(poss):
                s, e = p, p + K - 1
                if cur and s <= cur[1] + 1:  # overlap or contiguous → merge
                    cur = (cur[0], max(cur[1], e))
                else:
                    if cur:
                        spans.add((did, cur[0], cur[1], cur[1] - cur[0] + 1))
                    cur = (s, e)
            if cur:
                spans.add((did, cur[0], cur[1], cur[1] - cur[0] + 1))
        return spans

    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=6)

    @settings(max_examples=6, deadline=None)
    @given(docs=corpus, keep_first=st.booleans())
    def run(docs, keep_first):
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        got = {
            (r.id, r.span_start, r.span_end, r.span_tokens)
            for r in dedup.duplicated_spans(
                df, "doc_id", "text", k=K, keep_first=keep_first
            ).collect()
        }
        assert got == brute(docs, keep_first), (docs, keep_first)

    run()


def test_png_encode_decode_roundtrip_all_filters():
    """A 7-row image exercises every scanline filter (encoder uses r%5:
    None/Sub/Up/Average/Paeth) — defiltering must reproduce the exact
    pixel bytes."""
    import hashlib

    w, h = 8, 7
    pixels = b"".join(
        hashlib.md5(bytes([r])).digest() + hashlib.md5(bytes([r, 1])).digest()[:8]
        for r in range(h)
    )
    assert len(pixels) == h * w * 3
    png = multimodal.png_encode(pixels, w, h)
    assert multimodal.parse_media_header(png)["format"] == "png"
    assert multimodal.png_pixel_bytes(png) == pixels


def test_png_pixel_bytes_rejects_malformed():
    import struct
    import zlib

    good = multimodal.png_encode(b"\x01" * 48, 8, 2)
    assert multimodal.png_pixel_bytes(good) == b"\x01" * 48
    assert multimodal.png_pixel_bytes(b"not a png") is None
    assert multimodal.png_pixel_bytes(good[:40]) is None          # truncated
    # corrupt the deflate stream inside IDAT (flip a byte after its header)
    idat_at = good.index(b"IDAT")
    corrupt = bytearray(good)
    corrupt[idat_at + 8] ^= 0xFF
    assert multimodal.png_pixel_bytes(bytes(corrupt)) is None
    # 16-bit depth is out of scope → None, not garbage
    ihdr = struct.pack(">II5B", 8, 2, 16, 2, 0, 0, 0)
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        + good[good.index(b"IDAT") - 4:]
    )
    assert multimodal.png_pixel_bytes(deep) is None


def test_png_pixel_bytes_never_raises_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seed = multimodal.png_encode(b"\x02" * 48, 8, 2)

    @settings(max_examples=150, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.png_pixel_bytes(seed[:cut] + tail)
        assert out is None or isinstance(out, bytes)

    run()


def test_gif_encode_decode_roundtrip():
    """Real LZW round trip: repetitive data (dictionary growth + width
    increases) and varied data both reproduce the exact index bytes."""
    rep = bytes([7, 7, 7, 9] * 30)[: 8 * 14]
    varied = bytes((i * 37 + 11) % 256 for i in range(8 * 9))
    for px, h in [(rep, 14), (varied, 9)]:
        g = multimodal.gif_encode(px, 8, h)
        assert multimodal.parse_media_header(g)["format"] == "gif"
        assert multimodal.gif_pixel_bytes(g) == px


def test_gif_pixel_bytes_rejects_malformed():
    good = multimodal.gif_encode(bytes(48), 8, 6)
    assert multimodal.gif_pixel_bytes(good) == bytes(48)
    assert multimodal.gif_pixel_bytes(b"GIF89a") is None          # truncated
    assert multimodal.gif_pixel_bytes(b"not a gif") is None
    assert multimodal.gif_pixel_bytes(good[:-10]) is None          # cut LZW stream
    # interlace flag set → out of scope, None not garbage.  The image
    # descriptor sits at the structural offset 6 (header) + 7 (LSD) +
    # 768 (256-entry GCT) — searching for 0x2C would hit palette bytes.
    i = 6 + 7 + 768
    assert good[i] == 0x2C
    bad = bytearray(good)
    bad[i + 9] |= 0x40
    assert multimodal.gif_pixel_bytes(bytes(bad)) is None


def test_gif_pixel_bytes_never_raises_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seed = multimodal.gif_encode(bytes([3] * 48), 8, 6)

    @settings(max_examples=150, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.gif_pixel_bytes(seed[:cut] + tail)
        assert out is None or isinstance(out, bytes)

    run()


def _avi_bytes(w, h, uspf, frames):
    import struct

    # spec layout: usPerFrame, maxBps, padding, flags, TOTALFRAMES,
    # initialFrames, streams, bufSize, WIDTH, HEIGHT, 4 reserved dwords
    avih = struct.pack(
        "<IIIIIIIIII", uspf, 0, 0, 0, frames, 0, 1, 0, w, h
    ) + b"\x00" * 16
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(hdrl)) + b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
    )


def test_parse_media_header_avi():
    """AVI (video) header decode: RIFF LIST walk to the avih main header —
    dimensions + duration from µs-per-frame × frame count."""
    # careful: avih layout is us/frame, maxbytes, padding, flags, TOTALFRAMES
    # at +24 inside the chunk data (offset +8 incl. the 'avih'+size header)
    m = multimodal.parse_media_header(_avi_bytes(640, 360, 33333, 300))
    assert (m["media_type"], m["format"]) == ("video", "avi")
    assert (m["width"], m["height"]) == (640, 360)
    assert m["duration_ms"] == 33333 * 300 // 1000  # ≈ 10 s
    # truncated AVI → NULLs, not garbage
    t = multimodal.parse_media_header(_avi_bytes(640, 360, 33333, 300)[:20])
    assert t["format"] is None


def test_avi_frame_bytes_roundtrip(spark):
    """synthesize_payloads_avi → avi_frame_bytes reconstructs exactly the
    cycled body bytes across all '00db' frames, for every (height,
    n_frames) combination id%21 produces."""
    from pyspark.sql import functions as F

    rows = [(i, f"payload {i} " * (i % 4)) for i in range(21)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = multimodal.synthesize_payloads_avi(
        df.select("doc_id", F.coalesce("text", F.lit("")).alias("text")),
        "doc_id", "text",
    ).collect()
    assert len(out) == 21
    for r in out:
        p = bytes(r.media)
        i = r.doc_id
        h, nf = 2 + i % 7, 1 + i % 3
        body = (r.text or "").encode() or b"\x00"
        needed = nf * 24 * h
        want = (body * (needed // len(body) + 1))[:needed]
        hdr = multimodal.parse_media_header(p)
        assert (hdr["format"], hdr["width"], hdr["height"]) == ("avi", 8, h)
        assert hdr["duration_ms"] == 40000 * nf // 1000
        assert multimodal.avi_frame_bytes(p) == want, i


def test_avi_frame_bytes_rejects_malformed():
    """Truncation / missing movi / compressed-only frames degrade to None
    or partial bytes, never raise."""
    import struct

    # build one good payload without a session dependency: reuse the spec
    # layout from _avi_bytes plus a movi list with one 00db frame
    frame = bytes(range(48))
    movi = b"movi" + b"00db" + struct.pack("<I", len(frame)) + frame
    hdr = _avi_bytes(8, 2, 40000, 1)
    good = hdr + b"LIST" + struct.pack("<I", len(movi)) + movi
    assert multimodal.avi_frame_bytes(good) == frame
    # no movi list at all → None (header-only AVI)
    assert multimodal.avi_frame_bytes(hdr) is None
    # compressed frames ('00dc') are skipped → empty bytes, not garbage
    movi_dc = b"movi" + b"00dc" + struct.pack("<I", len(frame)) + frame
    only_dc = hdr + b"LIST" + struct.pack("<I", len(movi_dc)) + movi_dc
    assert multimodal.avi_frame_bytes(only_dc) == b""
    # non-AVI and truncated payloads → None
    assert multimodal.avi_frame_bytes(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert multimodal.avi_frame_bytes(good[:30]) is None or isinstance(
        multimodal.avi_frame_bytes(good[:30]), bytes
    )


def test_avi_frame_bytes_never_raises_on_arbitrary_bytes():
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    frame = bytes(range(48))
    movi = b"movi" + b"00db" + struct.pack("<I", len(frame)) + frame
    seed = _avi_bytes(8, 2, 40000, 1) + b"LIST" + struct.pack("<I", len(movi)) + movi

    @settings(max_examples=150, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.avi_frame_bytes(seed[:cut] + tail)
        assert out is None or isinstance(out, bytes)

    run()


def test_temperature_weights_pow_path(spark):
    """α≠0.5 exercises the pow branch: flattening is monotonic in α
    (smaller α → flatter mix) and expected totals stay ≈ N."""
    from go_streaming_spark.functions.sampling import temperature_weights

    rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "src"])
    by_alpha = {}
    for alpha in (0.25, 0.7):
        w = {r.stratum: (r.n_rows, r.weight) for r in temperature_weights(df, "src", alpha).collect()}
        exp_total = sum(n * wt for n, wt in w.values())
        assert abs(exp_total - 1000) < 1e-6, (alpha, exp_total)
        by_alpha[alpha] = w["tail"][1]
    # smaller alpha upweights the tail harder
    assert by_alpha[0.25] > by_alpha[0.7] > 1.0


def test_contamination_stats_matches_bruteforce(spark):
    """Property: random train/test corpora over a colliding alphabet —
    per-doc gram totals, hits and rates match a Python reference."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from go_streaming_spark.functions import text as tx

    K = 3
    word = st.sampled_from(["aa", "bb", "cc"])
    doc = st.lists(word, min_size=0, max_size=10).map(" ".join)

    def grams(txt):
        toks = [w for w in txt.split() if w]
        return [" ".join(toks[p:p + K]) for p in range(len(toks) - K + 1)]

    @settings(max_examples=6, deadline=None)
    @given(train=st.lists(doc, min_size=1, max_size=4),
           test=st.lists(doc, min_size=1, max_size=4))
    def run(train, test):
        train_df = spark.createDataFrame(list(enumerate(train)), "doc_id long, text string")
        test_df = spark.createDataFrame(
            [(100 + i, t) for i, t in enumerate(test)], "doc_id long, text string"
        )
        got = {
            r.id: (r.n_grams, r.n_hit, r.hit_rate)
            for r in tx.contamination_stats(test_df, train_df, "doc_id", "text", K).collect()
        }
        tg = {g for t in train for g in grams(t)}
        want = {}
        for i, t in enumerate(test):
            gs = grams(t)
            if not gs:
                continue
            hits = sum(1 for g in gs if g in tg)
            want[100 + i] = (len(gs), hits, round(hits / len(gs), 6))
        assert got == want, (train, test)

    run()


def test_jpeg_flat_blocks_roundtrip_exactly():
    """Every flat 8×8 block reconstructs to the closed-form value: the
    lossy pipeline's only signal is the DC coefficient, which both codec
    halves compute with exact arithmetic (q00=16)."""
    import math

    for L in range(256):
        j = multimodal.jpeg_encode_gray(bytes([L]) * 64, 8, 8)
        dec = multimodal.jpeg_pixel_bytes(j)
        want = min(255, max(0, 2 * int(math.floor((L - 128) / 2 + 0.5)) + 128))
        assert dec is not None and set(dec) == {want}, (L, want)


def test_jpeg_generic_image_high_fidelity():
    """A varied (non-flat) image exercises the full AC path — run-length
    Huffman, ZRL, sign extension, cosine IDCT — and reconstructs within
    tight error bounds (flat-16 quantization ≈ visually lossless)."""
    w, h = 16, 24
    px = bytes((x * 17 + y * 31 + (x * y) % 23) % 256 for y in range(h) for x in range(w))
    j = multimodal.jpeg_encode_gray(px, w, h)
    dec = multimodal.jpeg_pixel_bytes(j)
    assert dec is not None and len(dec) == w * h
    mse = sum((a - b) ** 2 for a, b in zip(px, dec)) / (w * h)
    assert mse < 150, mse


def test_jpeg_pixel_bytes_rejects_out_of_scope():
    good = multimodal.jpeg_encode_gray(bytes([9]) * 64, 8, 8)
    assert multimodal.jpeg_pixel_bytes(good) is not None
    assert multimodal.jpeg_pixel_bytes(b"\xff\xd8\xff\xd9") is None   # no scan
    assert multimodal.jpeg_pixel_bytes(good[:-20]) is None            # cut entropy
    assert multimodal.jpeg_pixel_bytes(b"not jpeg") is None
    # progressive SOF2 (the header-test builder) → None, not garbage
    assert multimodal.jpeg_pixel_bytes(_jpeg_bytes(8, 8)) is None


def test_jpeg_pixel_bytes_never_raises_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seed = multimodal.jpeg_encode_gray(bytes([77]) * 64, 8, 8)

    @settings(max_examples=120, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.jpeg_pixel_bytes(seed[:cut] + tail)
        assert out is None or isinstance(out, bytes)

    run()


def _mp4_bytes(w, h, timescale, duration):
    import struct

    def box(btype, payload):
        return struct.pack(">I", len(payload) + 8) + btype + payload

    mvhd = bytes(4) + bytes(8) + struct.pack(">II", timescale, duration) + bytes(80)
    tkhd = bytes(4) + bytes(72) + struct.pack(">II", w << 16, h << 16)
    moov = box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd))
    return box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + box(b"moov", moov)


def test_parse_media_header_mp4():
    """MP4/ISO-BMFF box walk: mvhd duration/timescale + first trak's tkhd
    16.16-fixed dimensions."""
    m = multimodal.parse_media_header(_mp4_bytes(1280, 720, 600, 6000))
    assert (m["media_type"], m["format"]) == ("video", "mp4")
    assert (m["width"], m["height"]) == (1280, 720)
    assert m["duration_ms"] == 10_000
    # ftyp alone (no moov) → NULLs; truncated boxes → NULLs, never raise
    only_ftyp = _mp4_bytes(1, 1, 1, 1)[:16]
    assert multimodal.parse_media_header(only_ftyp)["format"] is None


def test_results_independent_of_shuffle_partitioning(spark):
    """The determinism contract: representative queries (sampling, dedup,
    sketch, ranking) return IDENTICAL rows under a different
    spark.sql.shuffle.partitions — no operator may leak partition layout
    into values (the property that makes results reproducible across
    cluster sizes)."""
    import __spark_entry__ as em

    names = [
        "weighted_sample_ids",        # TakeOrdered boundary
        "dedup_substring_spans",      # groupBy+join+window chain
        "cms_word_counts",            # sketch arithmetic
        "corpus_shuffle_order",       # bucketed rank
        "temperature_mixture_counts", # quantized normalization
    ]
    qs = em.queries()
    sf = "/root/testdata/sf0.001"

    def rows(session, name):
        return sorted(map(str, qs[name](session, sf).collect()))

    alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    assert alt.conf.get("spark.sql.shuffle.partitions") == "7"
    for name in names:
        assert rows(spark, name) == rows(alt, name), name


def test_hll_estimate_accuracy_and_merge(spark):
    """HLL at p=12: estimate within a few % of exact distinct, and the
    sketch merges losslessly (build on halves + groupBy-max == build on
    the whole — the incremental-ingestion contract)."""
    from go_streaming_spark.functions import sketch

    df = spark.range(0, 120_000).select(
        (F.col("id") % 50_021).alias("k")  # 50021 distinct keys ≈ 12·m
    )
    sk = sketch.hll_build(df, "k", p=12)
    est = sketch.hll_estimate(sk, p=12).head()
    assert abs(est.est - 50_021) / 50_021 < 0.05, est.est

    # small-range regime (n ≈ 2m): the raw estimate is biased high by
    # design; the returned EXACT state supports the paper's linear-count
    # correction driver-side
    import math

    small = spark.range(0, 20_000).select((F.col("id") % 7_919).alias("k"))
    st = sketch.hll_estimate(sketch.hll_build(small, "k", p=12), p=12).head()
    zeros = 4096 - st.n_regs
    assert zeros > 0
    corrected = 4096 * math.log(4096 / zeros)
    assert abs(corrected - 7_919) / 7_919 < 0.05, corrected

    left = sketch.hll_build(df.filter(F.col("k") % 2 == 0), "k", p=12)
    right = sketch.hll_build(df.filter(F.col("k") % 2 == 1), "k", p=12)
    merged = (
        left.unionByName(right)
        .groupBy("reg")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    whole = {(r.reg, r.max_rank) for r in sk.collect()}
    assert {(r.reg, r.max_rank) for r in merged.collect()} == whole


def test_bloom_no_false_negatives_and_merge(spark):
    """Every inserted key must test positive (Bloom soundness), and two
    filters merged by bit_or equal the filter built on the union."""
    from go_streaming_spark.functions import sketch

    keys = spark.range(0, 500).select(F.concat(F.lit("k"), "id").alias("key"))
    bloom = sketch.bloom_build(keys, "key", k=4, m_bits=4096)
    maybe = sketch.bloom_maybe_contains(bloom, F.col("key"), k=4, m_bits=4096)
    assert keys.filter(~maybe).count() == 0

    left = sketch.bloom_build(
        keys.filter(F.expr("CAST(substr(key, 2) AS INT) % 2 = 0")),
        "key", k=4, m_bits=4096,
    )
    right = sketch.bloom_build(
        keys.filter(F.expr("CAST(substr(key, 2) AS INT) % 2 = 1")),
        "key", k=4, m_bits=4096,
    )
    # bloom_build emits per-partition PARTIAL tables (r15): canonicalize
    # each side with the documented or-merge before comparing — the
    # merged halves must equal the filter built on the union
    def canon(f):
        rows = f.groupBy("word").agg(F.bit_or("bits").alias("bits"))
        return {(r.word, r.bits) for r in rows.collect()}

    assert canon(left.unionByName(right)) == canon(bloom)


def test_bloom_collect_bounded_across_partitions(spark, monkeypatch):
    """bloom_maybe_contains must or-merge per-partition partials before
    its driver collect: a filter built over 8 partitions sends at most
    ceil(m_bits/60) rows to the driver, and answers exactly as the filter
    built over one partition does."""
    from go_streaming_spark.functions import sketch

    m_bits = 4096
    n_words = -(-m_bits // sketch.BLOOM_WORD)
    keys = spark.range(0, 800, numPartitions=8).select(
        F.concat(F.lit("k"), "id").alias("key")
    )
    probe = spark.range(0, 1600).select(
        F.concat(F.lit("k"), "id").alias("key")
    )
    spread_bloom = sketch.bloom_build(keys, "key", k=4, m_bits=m_bits)
    one_bloom = sketch.bloom_build(keys.coalesce(1), "key", k=4, m_bits=m_bits)
    assert spread_bloom.rdd.getNumPartitions() >= 8
    assert spread_bloom.count() > n_words  # partial tables, not compacted

    collected = []
    real_collect = type(spread_bloom).collect

    def spy(df):
        rows = real_collect(df)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(spread_bloom), "collect", spy)
    maybe = sketch.bloom_maybe_contains(
        spread_bloom, F.col("key"), k=4, m_bits=m_bits
    )
    assert len(collected) == 1 and 0 < collected[0] <= n_words, collected
    monkeypatch.undo()
    ref = sketch.bloom_maybe_contains(one_bloom, F.col("key"), k=4, m_bits=m_bits)
    got = {r.key: r.m for r in probe.select("key", maybe.alias("m")).collect()}
    want = {r.key: r.m for r in probe.select("key", ref.alias("m")).collect()}
    assert got == want
    assert all(got[f"k{i}"] for i in range(800))  # no false negatives
    assert not all(got.values())  # the filter rejects some non-members


def test_bloom_incremental_dedup_equals_exact(spark):
    """The Bloom-prefiltered path must be output-identical to the plain
    digest anti-join, including true cross-corpus dups that the filter
    flags and the exact pass verifies."""
    docs = _docs(spark)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        corpus.limit(20).select(
            (F.col("doc_id") + 100_000).alias("doc_id"),
            *[c for c in docs.columns if c != "doc_id"],
        )
    )
    ref = sorted(map(str, dedup.incremental_exact_dedup(
        batch, corpus, "doc_id", ["text"]).collect()))
    blm = sorted(map(str, dedup.incremental_exact_dedup_bloom(
        batch, corpus, "doc_id", ["text"]).collect()))
    assert ref == blm and len(ref) > 0


def test_prefix_jaccard_matches_bruteforce(spark):
    """Property: random small-vocab corpora — prefix filtering must find
    EXACTLY the brute-force token-set Jaccard pairs (soundness of the
    s - floor(t*s) + 1 prefix), across thresholds including an exact
    integer-boundary t·s."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(word, min_size=1, max_size=6).map(" ".join)

    @settings(max_examples=8, deadline=None)
    @given(texts=st.lists(doc, min_size=2, max_size=8),
           t=st.sampled_from([0.5, 0.75, 0.8]))
    def run(texts, t):
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            (r.id_a, r.id_b)
            for r in dedup.jaccard_pairs_prefix(df, "doc_id", "text", t).collect()
        }
        sets = [set(x.split()) for x in texts]
        want = set()
        for i in range(len(sets)):
            for j in range(i + 1, len(sets)):
                u = len(sets[i] | sets[j])
                if u and len(sets[i] & sets[j]) / u >= t:
                    want.add((i, j))
        assert got == want, (texts, t, got, want)

    run()


def test_bmp_thumbnail_geometry_and_passthrough():
    """2x nearest-neighbor downscale: a 24-bit BMP shrinks to
    ceil(w/2) x ceil(h/2) keeping exactly the even-indexed pixels/rows;
    non-BMP payloads pass through unchanged."""
    w, h = 8, 5
    stride = 24
    px = bytes((y * stride + x) % 256 for y in range(h) for x in range(stride))
    bmp = multimodal.bmp_encode(px, w, h)
    thumb = multimodal.bmp_thumbnail(bmp, factor=2)
    m = multimodal.parse_media_header(thumb)
    assert (m["format"], m["width"], m["height"]) == ("bmp", 4, 3)
    raw = multimodal.bmp_pixel_bytes(thumb)
    want = bytearray()
    for y2 in range(3):
        for x2 in range(4):
            o = (2 * y2) * stride + (2 * x2) * 3
            want += px[o:o + 3]
    assert raw == bytes(want)
    # non-BMP: unchanged, not mangled
    assert multimodal.bmp_thumbnail(b"RIFFxxxxWAVEdata") == b"RIFFxxxxWAVEdata"
    assert multimodal.bmp_thumbnail(b"") == b""


def test_bmp_thumbnail_never_raises_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seed = multimodal.bmp_encode(bytes(range(48)), 8, 2)

    @settings(max_examples=150, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.bmp_thumbnail(seed[:cut] + tail)
        assert isinstance(out, bytes)

    run()


def test_bloom_filtered_join_equals_plain(spark):
    """The Bloom prefilter must not change inner-join results, and must
    reject outer joins it would corrupt."""
    import pytest

    from go_streaming_spark.functions import sketch

    fact = spark.range(0, 2000).select(
        F.col("id").alias("fk"), (F.col("id") % 97).alias("val")
    )
    dim = spark.range(0, 2000, 7).select(F.col("id").alias("dk"))
    plain = fact.join(dim, fact["fk"] == dim["dk"]).select("fk", "val")
    blm = sketch.bloom_filtered_join(fact, dim, "fk", "dk").select("fk", "val")
    assert sorted(map(str, blm.collect())) == sorted(map(str, plain.collect()))
    with pytest.raises(ValueError):
        sketch.bloom_filtered_join(fact, dim, "fk", "dk", how="left")


def test_wav_downsample_decimation_and_passthrough():
    """2x decimation keeps exactly the even-indexed 16-bit samples,
    halves the declared rate, and re-encodes a parseable WAV; non-WAV
    payloads pass through unchanged."""
    import struct

    samples = [100, -200, 300, -400, 500, -600, 700]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    down = multimodal.wav_downsample(wav, factor=2)
    m = multimodal.parse_media_header(down)
    assert m["format"] == "wav"
    got = multimodal.wav_pcm_samples(down)
    assert got == samples[::2]
    # rate halved -> duration preserved: 4 samples at 4000 Hz = 1 ms
    assert m["duration_ms"] == (4 * 2) * 1000 // (4000 * 1 * 2)
    assert multimodal.wav_downsample(b"BM\x00\x01") == b"BM\x00\x01"


def test_wav_downsample_never_raises_on_arbitrary_bytes():
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    data = bytes(range(32))
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    seed = b"RIFF" + struct.pack("<I", len(body)) + body

    @settings(max_examples=150, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.wav_downsample(seed[:cut] + tail)
        assert isinstance(out, bytes)

    run()


def test_sketch_null_keys_dropped_not_crashing(spark):
    """r7 advisory: NULL keys used to emit bucket=NULL/word=NULL sketch
    rows that crashed the driver-collect loops with a TypeError.  The
    build now drops NULLs (drop-NULL-keys semantics, matching the old
    semi-join implementation) and the loops skip defensively."""
    from go_streaming_spark.functions import sketch

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,), (None,)], "word string"
    )
    hh = {r.key: r.n_occ for r in
          sketch.heavy_hitters(df, "word", min_count=2, width=32).collect()}
    assert hh == {"a": 2}

    dim = spark.createDataFrame([(1, "x"), (None, "y")], "dk long, nm string")
    fact = spark.createDataFrame([(1, 10), (2, 20), (None, 30)], "fk long, v long")
    got = sorted(
        (r.fk, r.v)
        for r in sketch.bloom_filtered_join(fact, dim, "fk", "dk")
        .select("fk", "v").collect()
    )
    assert got == [(1, 10)]  # == plain inner join: NULL never equi-matches


def test_hll_high_precision_no_overflow(spark):
    """r7 advisory: the fixed 2^50 register scale overflowed int64 under
    ANSI at p >= 13.  The 2^(62-p) scale must hold the full advertised
    p in [4, 18] range and stay bit-identical to the historical formula
    at the default p=12."""
    from go_streaming_spark.functions import sketch

    import math

    def corrected(st, p):
        # the paper's linear-counting small-range correction, applied
        # driver-side from the EXACT returned state (the documented contract)
        m = 1 << p
        zeros = m - st.n_regs
        if st.est <= 2.5 * m and zeros > 0:
            return m * math.log(m / zeros)
        return st.est

    df = spark.range(0, 60_000).select((F.col("id") % 30_011).alias("k"))
    for p in (13, 14, 16):
        est = sketch.hll_estimate(sketch.hll_build(df, "k", p=p), p=p).head()
        assert est.s_int <= 1 << 62
        assert abs(corrected(est, p) - 30_011) / 30_011 < 0.06, (p, est.est)
    grouped = sketch.hll_grouped(
        df.withColumn("g", F.col("k") % 2), "g", "k", p=14
    ).collect()
    assert len(grouped) == 2
    for r in grouped:
        assert abs(corrected(r, 14) - 15_005) / 15_005 < 0.06, (r.g, r.est)
    # p=12 regression pin: scale exponent is exactly the historical 50
    assert sketch.hll_scale_exp(12) == 50


def test_wav_downsample_stereo_preserves_interleave():
    """r7 advisory: decimation must step per FRAME (channel group), not
    per sample — stereo factor=2 keeps frames 0,2,4... with BOTH channels
    intact and byteRate consistent with the halved rate."""
    import struct

    frames = [(100, -100), (200, -200), (300, -300), (400, -400), (500, -500)]
    data = b"".join(struct.pack("<hh", l, r) for l, r in frames)
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    down = multimodal.wav_downsample(wav, factor=2)
    got = multimodal.wav_pcm_samples(down)
    kept = [frames[0], frames[2], frames[4]]
    assert got == [s for fr in kept for s in fr]
    m = multimodal.parse_media_header(down)
    assert m["format"] == "wav"
    # fmt chunk re-encoded consistently: 2 channels, rate 4000, byteRate
    # rate*channels*2 (fmt chunk starts at offset 20 in this layout)
    ch, rate, byte_rate = struct.unpack("<HII", down[22:32])
    assert (ch, rate, byte_rate) == (2, 4000, 16000)


def test_mp4_synthesis_roundtrip_and_header(spark):
    """synthesize_payloads_mp4 emits a real ISO-BMFF container whose
    sample tables locate exactly the cycled body bytes, and whose
    mvhd/tkhd parse back to the declared geometry."""
    texts = {0: "hello world", 1: "", 2: "x", 3: "abcdefg" * 40, 7: None}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    media = multimodal.synthesize_payloads_mp4(docs, "doc_id", "text")
    for r in media.collect():
        i, p = r.doc_id, bytes(r.media)
        h, nf = 2 + i % 6, 1 + i % 4
        needed = nf * h * 24
        cyc = (texts[i] or "").encode() or b"\x00"
        expect = (cyc * (needed // len(cyc) + 1))[:needed]
        assert multimodal.mp4_sample_bytes(p) == expect, i
        m = multimodal.parse_media_header(p)
        assert (m["format"], m["width"], m["height"], m["duration_ms"]) == (
            "mp4", 8, h, nf * 40), i


def test_mp4_sample_bytes_multi_chunk_stsc():
    """The decoder honors stsc sample-to-chunk RUNS, not just the
    single-chunk layout the synthesizer emits: two chunks with 2+1
    samples via an explicit two-entry stsc."""
    import struct

    samples = [b"AAAA", b"BBBBBB", b"CC"]

    def box(t, payload):
        return struct.pack(">I", 8 + len(payload)) + t + payload

    mdat_payload = b"".join(samples)
    ftyp = box(b"ftyp", b"isom" + b"\x00" * 4)
    stsz = box(b"stsz", b"\x00" * 4 + struct.pack(">II", 0, 3)
               + b"".join(struct.pack(">I", len(s)) for s in samples))
    # chunk 1 at off1 holds samples 1-2, chunk 2 at off2 holds sample 3
    stsc = box(b"stsc", b"\x00" * 4 + struct.pack(">I", 2)
               + struct.pack(">III", 1, 2, 1) + struct.pack(">III", 2, 1, 1))
    # compute offsets: file = ftyp + moov + mdat_header + payload
    def build(off1, off2):
        stco = box(b"stco", b"\x00" * 4 + struct.pack(">III", 2, off1, off2))
        stbl = box(b"stbl", stsz + stsc + stco)
        moov = box(b"moov", box(b"trak", box(b"mdia", box(b"minf", stbl))))
        return ftyp + moov + box(b"mdat", mdat_payload)
    probe = build(0, 0)
    base = len(probe) - len(mdat_payload)
    p = build(base, base + len(samples[0]) + len(samples[1]))
    assert multimodal.mp4_sample_bytes(p) == b"AAAABBBBBBCC"


def test_mp4_sample_bytes_never_raises_on_arbitrary_bytes(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    docs = spark.createDataFrame([(5, "seed body")], "doc_id long, text string")
    seed = bytes(
        multimodal.synthesize_payloads_mp4(docs, "doc_id", "text").head().media
    )

    @settings(max_examples=150, deadline=None)
    @given(cut=st.integers(0, len(seed)), tail=st.binary(max_size=64))
    def run(cut, tail):
        out = multimodal.mp4_sample_bytes(seed[:cut] + tail)
        assert out is None or isinstance(out, bytes)

    run()


def test_hist_quantiles_accuracy_merge_and_clamp(spark):
    """Histogram quantile sketch: estimates within one bin width of the
    exact percentile, per-half builds merged by count addition equal the
    whole build, and out-of-domain values clamp into edge bins."""
    from go_streaming_spark.functions import sketch

    lo, hi, nb = 0.0, 1000.0, 2048
    w_bin = (hi - lo) / nb
    df = spark.range(0, 50_000).select(
        ((F.col("id") * 7919) % 100_000 / 100.0).alias("v")  # ~U[0, 1000)
    )
    hist = sketch.hist_build(df, "v", lo, hi, nb)
    got = {r.q: r.est for r in
           sketch.hist_quantiles(hist, [0.5, 0.9, 0.99], lo, hi, nb).collect()}
    exact = df.agg(
        F.percentile("v", F.lit(0.5)), F.percentile("v", F.lit(0.9)),
        F.percentile("v", F.lit(0.99))).head()
    for q, ex in zip((0.5, 0.9, 0.99), exact):
        assert abs(got[q] - ex) <= w_bin + 1e-9, (q, got[q], ex)

    left = sketch.hist_build(df.filter(F.col("id") % 2 == 0), "v", lo, hi, nb)
    right = sketch.hist_build(df.filter(F.col("id") % 2 == 1), "v", lo, hi, nb)
    merged = (left.unionByName(right).groupBy("bin")
              .agg(F.sum("count").alias("count")))
    assert ({(r.bin, r["count"]) for r in merged.collect()}
            == {(r.bin, r["count"]) for r in hist.collect()})

    oob = spark.createDataFrame([(-5.0,), (1e9,), (None,)], "v double")
    bins = {r.bin: r["count"] for r in
            sketch.hist_build(oob, "v", lo, hi, nb).collect()}
    assert bins == {0: 1, nb - 1: 1}  # clamped; NULL dropped


def test_hist_grouped_quantiles_match_exact_within_bin(spark):
    from go_streaming_spark.functions import sketch

    lo, hi, nb = 0.0, 1000.0, 2048
    w_bin = (hi - lo) / nb
    df = spark.range(0, 30_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 104_729) % 100_000 / 100.0).alias("v"),
    )
    got = {(r.g, r.q): r.est for r in sketch.hist_grouped_quantiles(
        df, "g", "v", [0.5, 0.99], lo, hi, nb).collect()}
    exact = {(r.g, q): getattr(r, f"p{int(q*100)}")
             for r in df.groupBy("g").agg(
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.99)).alias("p99")).collect()
             for q in (0.5, 0.99)}
    assert set(got) == set(exact)
    for k in got:
        assert abs(got[k] - exact[k]) <= w_bin + 1e-9, (k, got[k], exact[k])


def test_pq_codebooks_bounded_shape(spark):
    emb = _emb(spark)
    books = similarity.pq_codebooks(emb, "vec_id", "embedding", exclude_id=0)
    assert len(books) == 8
    assert all(len(m) == 16 for m in books)
    assert all(len(cw) == 8 for m in books for cw in m)
    # int8 range — the broadcast payload is bounded by construction
    assert all(-127 <= v <= 127 for m in books for cw in m for v in cw)


def test_pq_encode_codes_in_range(spark):
    emb = _emb(spark)
    books = similarity.pq_codebooks(emb, "vec_id", "embedding", exclude_id=0)
    codes = similarity.pq_encode(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", books
    )
    assert codes.columns == ["id"] + [f"_c{m}" for m in range(8)]
    mins = codes.select(
        *[F.min(f"_c{m}").alias(f"lo{m}") for m in range(8)],
        *[F.max(f"_c{m}").alias(f"hi{m}") for m in range(8)],
    ).head()
    assert all(mins[f"lo{m}"] >= 0 and mins[f"hi{m}"] <= 15 for m in range(8))


def test_pq_anchor_reconstructs_to_itself(spark):
    """A vector that IS a codeword source snaps to its own subvectors in
    every subspace (distance 0), so ADC against itself as the query is
    num = den = ||q||² → cos_pq exactly 1.0 — the bit-exactness witness."""
    emb = _emb(spark)
    aid = emb.filter((F.col("vec_id") % 13 == 7) & (F.col("vec_id") != 0)).agg(
        F.min("vec_id")
    ).head()[0]
    aqv = [float(x) for x in emb.filter(F.col("vec_id") == aid).select("embedding").head()[0]]
    books = similarity.pq_codebooks(emb, "vec_id", "embedding", exclude_id=0)
    top = similarity.pq_adc_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", aqv, books, 3
    ).collect()
    assert top[0].id == aid and top[0].cos_pq == 1.0


def test_pq_topk_partition_stable_and_overlaps_exact(spark):
    emb = _emb(spark)
    qv = _query_vec(emb)
    corpus = emb.filter(F.col("vec_id") != 0)
    books = similarity.pq_codebooks(emb, "vec_id", "embedding", exclude_id=0)
    got = [(r.id, r.cos_pq) for r in similarity.pq_adc_topk(
        corpus, "vec_id", "embedding", qv, books, 10).collect()]
    re7 = [(r.id, r.cos_pq) for r in similarity.pq_adc_topk(
        corpus.repartition(7), "vec_id", "embedding", qv, books, 10).collect()]
    assert got == re7
    exact = {r.id for r in similarity.quantized_cosine_topk(
        corpus, "vec_id", "embedding", qv, 10).collect()}
    # 16 codewords/subspace is a coarse codebook — expect partial recall,
    # not agreement; the number below is measured on the seed-42 corpus
    assert len({i for i, _ in got} & exact) >= 2


def test_pmi_bigrams_hand_computed(spark):
    """6 docs of 'a b', 2 of 'a c': N_tok=16, N_big=8, c_a=8, c_b=6,
    c_c=2.  ratio(a b) = 6·16²/(8·8·6) = 4.0; ratio(a c) = 2·16²/(8·8·2)
    = 4.0 — tie broken by gram."""
    from go_streaming_spark.functions import text as textf

    docs = spark.createDataFrame(
        [("a b",)] * 6 + [("a c",)] * 2, ["text"]
    )
    got = [
        (r.gram, r.n_xy, r.pmi_r)
        for r in textf.pmi_bigrams(docs, "text", min_count=1, k=10).collect()
    ]
    assert got == [("a b", 6, 4.0), ("a c", 2, 4.0)]


def test_pmi_bigrams_min_count_prunes_before_ranking(spark):
    from go_streaming_spark.functions import text as textf

    docs = spark.createDataFrame([("a b",)] * 6 + [("a c",)] * 2, ["text"])
    got = textf.pmi_bigrams(docs, "text", min_count=3, k=10).collect()
    assert [r.gram for r in got] == ["a b"]


def _blob_rows(n_per, dim=64):
    """Two deterministic, well-separated blobs: ids 0..n-1 around +100,
    ids n..2n-1 around -100, with per-row integer jitter."""
    rows = []
    for i in range(n_per):
        rows.append((i, [100.0 + ((i * 7 + j) % 5) for j in range(dim)]))
    for i in range(n_per):
        rows.append((n_per + i, [-100.0 - ((i * 3 + j) % 5) for j in range(dim)]))
    return rows


def test_kmeans_fit_separates_blobs_and_is_partition_stable(spark):
    from go_streaming_spark.functions import clustering

    df = spark.createDataFrame(_blob_rows(20), ["vec_id", "embedding"])
    # init: one anchor from each blob (ids 3 and 20 via %17==3)
    init = clustering.anchor_centroids_q(df, "vec_id", "embedding", k=2)
    cents = clustering.kmeans_fit(df, "vec_id", "embedding", init, iters=3)
    asg = {
        r.id: r.cluster
        for r in clustering.kmeans_assign_q(df, "vec_id", "embedding", cents).collect()
    }
    blob_a = {asg[i] for i in range(20)}
    blob_b = {asg[i] for i in range(20, 40)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    # exact int64 sums → identical centroids under any partitioning
    cents7 = clustering.kmeans_fit(
        df.repartition(7), "vec_id", "embedding", init, iters=3
    )
    assert cents == cents7


def test_kmeans_fit_empty_cluster_keeps_previous_centroid(spark):
    from go_streaming_spark.functions import clustering, similarity

    rows = _blob_rows(10)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    init = [
        similarity.quantize_vec(rows[0][1]),
        similarity.quantize_vec(rows[10][1]),
        [0] * 63 + [1],  # faraway: no member will ever map here
    ]
    cents = clustering.kmeans_fit(df, "vec_id", "embedding", init, iters=2)
    assert cents[2] == init[2]
    assert cents[0] != init[0]  # populated clusters DID move to their means


def test_semdedup_drops_duplicate_keeps_first(spark):
    from go_streaming_spark.functions import clustering

    # near-orthogonal one-hot vectors (pairwise cos = 0) + one exact
    # duplicate of id 0 — only the duplicate pair crosses tau
    rows = [(i, [127.0 if j == i else 0.0 for j in range(64)]) for i in range(5)]
    rows.append((99, list(rows[0][1])))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = clustering.anchor_centroids_q(
        df, "vec_id", "embedding", k=2
    )  # only id 3 matches %17==3 → a single cluster; fine for this test
    out = {
        r.cluster: (r.n_members, r.n_survivors)
        for r in clustering.semdedup_survivor_stats(
            df, "vec_id", "embedding", cents, tau=0.999
        ).collect()
    }
    assert sum(m for m, _ in out.values()) == 6
    assert sum(m - s for m, s in out.values()) == 1


def test_kmeans_fit_one_step_matches_gated_mstep(spark):
    """kmeans_fit(iters=1)'s Python floor-div update must equal the
    distributed M-step the kmeans_lloyd_centroids gate query computes
    (populated clusters; empty ones keep their previous centroid)."""
    import go_streaming_spark.queries_llm  # noqa: F401  (registers QUERIES)
    from go_streaming_spark.functions import clustering
    from go_streaming_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    emb = _emb(spark)
    cents0 = clustering.anchor_centroids_q(emb, "vec_id", "embedding", k=8)
    fit1 = clustering.kmeans_fit(emb, "vec_id", "embedding", cents0, iters=1)
    gate = {
        r.cluster: [int(x) for x in r.centroid_s.split(",")]
        for r in QUERIES["kmeans_lloyd_centroids"](spark, sf).collect()
    }
    for cl, cent in gate.items():
        assert fit1[cl] == cent, cl


def test_hashed_linear_score_matches_python_reference(spark):
    """Margin must equal a pure-Python recomputation of the same md5
    bucket/weight arithmetic; zero-token docs keep margin 0 and a NULL
    score; the floor idiom must floor (not truncate) negative margins."""
    import hashlib

    from go_streaming_spark.functions import text as T

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def weight(tok, seed="qmodel", buckets=4096):
        b = md5i(f"{seed}|{tok}") % buckets
        return md5i(f"w|{seed}|{b}") % 2001 - 1000

    docs = [
        (1, "The quick Brown fox JUMPS over the lazy dog"),
        (2, "hash join hash join hash"),
        (3, ""),  # zero tokens → margin 0, NULL score
        (4, "singleton"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in T.hashed_linear_score(df, "doc_id", "text").collect()
    }
    saw_negative = False
    for doc_id, txt in docs:
        toks = [w for w in txt.lower().split() if w]
        margin = sum(weight(w) for w in toks)
        row = out[doc_id]
        assert row["n_tokens"] == len(toks)
        assert row["margin"] == margin
        if toks:
            expect = (margin * 1_000_000) // len(toks)  # Python // floors
            assert row["score_q"] == expect, (doc_id, margin)
            saw_negative = saw_negative or margin < 0
        else:
            assert row["score_q"] is None
    # the fixture must actually exercise a signed margin; if the frozen
    # weights ever make every doc positive, change a document above
    assert saw_negative or any(
        sum(weight(w) for w in t.lower().split() if w) < 0 for _, t in docs
    )


def test_leakage_safe_split_components_share_label(spark):
    """Every member of a near-dup component must get the SAME split label
    (hashed from the min member id); rows outside any pair must keep the
    plain hash_split label exactly."""
    from go_streaming_spark.functions.sampling import (
        hash_split,
        leakage_safe_split,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # components: {0,1,2} (chained), {10,11}; everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    out = leakage_safe_split(
        df, "doc_id", pairs, {"train": 0.5, "val": 0.25, "test": 0.25}
    ).collect()
    got = {r["doc_id"]: r["split"] for r in out}
    assert len(got) == 40  # left join must not drop or duplicate rows
    assert got[0] == got[1] == got[2]
    assert got[10] == got[11]
    plain = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df, "doc_id", {"train": 0.5, "val": 0.25, "test": 0.25}
        ).collect()
    }
    for i in range(40):
        if i in (1, 2, 11):  # non-representative members may move
            continue
        assert got[i] == plain[i], i


def test_bucketed_negative_samples_properties(spark):
    """No self-pairs, exactly min(k, m-1) negatives per row, distinct
    negatives per row, and partition-layout independence."""
    from go_streaming_spark.functions.sampling import (
        bucketed_negative_samples,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )
    out = bucketed_negative_samples(df, "doc_id", k=3, n_buckets=4).collect()
    by_id = {}
    for r in out:
        assert r["neg_id"] != r["id"]
        by_id.setdefault(r["id"], []).append(r["neg_id"])
    for negs in by_id.values():
        assert len(negs) == len(set(negs)) <= 3
    # single-bucket tiny corpus: m=2 → exactly one negative each
    tiny = spark.createDataFrame([(1,), (2,)], "doc_id long")
    t = bucketed_negative_samples(tiny, "doc_id", k=5, n_buckets=1).collect()
    assert sorted((r["id"], r["neg_id"]) for r in t) == [(1, 2), (2, 1)]
    # determinism across partition layouts
    a = sorted(map(tuple, out))
    b = sorted(
        map(
            tuple,
            bucketed_negative_samples(
                df.repartition(7), "doc_id", k=3, n_buckets=4
            ).collect(),
        )
    )
    assert a == b


def test_pii_hit_counts_per_pattern(spark):
    from go_streaming_spark.functions.text import pii_hit_counts

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c@d.org, call +1 555-123-4567", "s0"),
            (2, "server at 192.168.0.1 and 10.0.0.2", "s1"),
            (3, "clean text, no pii here", "s0"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r["id"]: r
        for r in pii_hit_counts(df, "doc_id", "text", carry=["source"]).collect()
    }
    assert (out[1]["email"], out[1]["phone"], out[1]["ipv4"]) == (2, 1, 0)
    assert (out[2]["email"], out[2]["phone"], out[2]["ipv4"]) == (0, 0, 2)
    assert out[3]["n_pii"] == 0
    assert out[1]["n_pii"] == 3
    assert out[1]["source"] == "s0"  # carry column passes through


def test_knn_join_matches_per_query_brute_force(spark):
    """knn_join's per-query neighbor lists must equal independent
    cosine_topk runs (same ordering contract: cos desc, id asc)."""
    from go_streaming_spark.functions import similarity

    emb = _emb(spark).limit(80).cache()
    probes = emb.filter((F.col("vec_id") % 11) == 2)
    out = similarity.knn_join(probes, emb, "vec_id", "embedding", k=4).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["cos_sim"])
        )
    for qrow in probes.collect():
        qid = qrow["vec_id"]
        brute = similarity.cosine_topk(
            emb.filter(F.col("vec_id") != qid),
            "vec_id", "embedding", [float(x) for x in qrow["embedding"]], 4,
        ).collect()
        expect = [(r["id"], r["cos_sim"]) for r in brute]
        assert by_q[qid] == expect, qid
    emb.unpersist()

    # NULL and zero vectors never pair, and blocks outnumber rows (most
    # blocks hold queries only)
    small = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.1]), (4, [0.0, 1.0]),
         (5, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = similarity.knn_join(
        small, small, "vec_id", "embedding", k=2, n_blocks=16
    ).collect()
    by_q = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["cos_sim"])
        )
    assert set(by_q) == {1, 3, 4}
    for qid, vec in ((1, [1.0, 0.0]), (3, [1.0, 0.1]), (4, [0.0, 1.0])):
        brute = similarity.cosine_topk(
            small.filter(F.col("vec_id") != qid), "vec_id", "embedding", vec, 2
        ).collect()
        assert by_q[qid] == [(r["id"], r["cos_sim"]) for r in brute], qid


def test_bpe_encode_matches_python_reference(spark):
    """Corpus-wide encode must equal a per-word pure-Python greedy merge
    fold (rank order, skip-after-merge), including the 'aaaa' -> 'aa aa'
    boundary case string replace can't reproduce."""
    from go_streaming_spark.functions.text import bpe_encode

    merges = [("a", "a"), ("aa", "b"), ("c", "d")]

    def enc_len(w):
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    docs = [
        (1, "aaaa aab cd"),        # 'aa aa'=2, 'aab'->'aa b'->'aab'=1, 'cd'=1
        (2, "abcd dcba abcd"),
        (3, "aaa"),                # odd run: 'aa a' = 2
        (4, ""),                   # no words -> absent from output
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in bpe_encode(df, "doc_id", "text", merges).collect()}
    assert 4 not in out
    for doc_id, txt in docs[:3]:
        words = [w for w in txt.split() if w]
        assert out[doc_id]["n_words"] == len(words)
        assert out[doc_id]["n_pieces"] == sum(enc_len(w) for w in words), doc_id
    assert out[1]["n_pieces"] == 4
    assert out[3]["n_pieces"] == 2


def test_token_tv_drift_hand_computed(spark):
    """TV distance must match the hand-derived exact value, including the
    absent-token algebra; a group matching the corpus distribution
    exactly scores 0; zero-token groups are absent."""
    from go_streaming_spark.functions.text import token_tv_drift

    # g1: 3×a 1×b (N_g=4); g2: 3×a 1×b (N_g=4)  -> both == corpus -> 0
    df = spark.createDataFrame(
        [
            (1, "a a a b", "g1"),
            (2, "a a a b", "g2"),
            (3, "", "g3"),  # zero tokens -> absent
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in
           token_tv_drift(df, "doc_id", "text", "source").collect()}
    assert set(out) == {"g1", "g2"}
    assert out["g1"]["tv_q6"] == 0 and out["g2"]["tv_q6"] == 0

    # skewed: g1 = {a:2} (p_a=1), corpus = {a:2+1, b:1} of N=4
    # TV = ½(|1 - 3/4| + |0 - 1/4|) = 1/4 -> 250000 µ
    df2 = spark.createDataFrame(
        [(1, "a a", "g1"), (2, "a b", "g2")],
        "doc_id long, text string, source string",
    )
    out2 = {r["source"]: r["tv_q6"] for r in
            token_tv_drift(df2, "doc_id", "text", "source").collect()}
    assert out2["g1"] == 250000
    # g2 = {a:1, b:1}: TV = ½(|1/2 - 3/4| + |1/2 - 1/4|) = 1/4
    assert out2["g2"] == 250000


def test_categorical_psi_drift_hand_computed(spark):
    """PSI must match a literal Python recomputation of the smoothed
    log-ratio sum; identical epochs score exactly 0; an empty epoch is
    still defined (prior mass only) and large."""
    import math

    from go_streaming_spark.functions.stats import categorical_psi_drift

    def ref_psi(cells):
        # cells: {key: (c_a, c_b)} for one group — replicate the exact
        # smoothing and quantization
        n_a = sum(a for a, _ in cells.values())
        n_b = sum(b for _, b in cells.values())
        bg = len(cells)
        u = 0
        for a, b in cells.values():
            pa = (float(a) + 1.0) / (n_a + bg)
            pb = (float(b) + 1.0) / (n_b + bg)
            u += math.floor((pa - pb) * math.log(pa / pb) * 1e9 + 0.5)
        return n_a, n_b, bg, u

    rows = []
    # g1: identical epochs -> PSI 0
    for e in (0, 1):
        rows += [("g1", "x", e)] * 3 + [("g1", "y", e)] * 1
    # g2: mass moves x->y between epochs
    rows += [("g2", "x", 0)] * 4 + [("g2", "y", 0)] * 1
    rows += [("g2", "x", 1)] * 1 + [("g2", "y", 1)] * 4
    # g3: epoch 1 empty (two keys — a single-key support is a point
    # mass on both sides and correctly scores 0)
    rows += [("g3", "x", 0)] * 4 + [("g3", "y", 0)] * 1
    df = spark.createDataFrame(rows, "grp_src string, key string, e int")
    got = {r["grp_src"]: r for r in
           categorical_psi_drift(df, "grp_src", "key", "e").collect()}

    assert got["g1"]["psi_u"] == 0
    want = {"g1": ref_psi({"x": (3, 3), "y": (1, 1)}),
            "g2": ref_psi({"x": (4, 1), "y": (1, 4)}),
            "g3": ref_psi({"x": (4, 0), "y": (1, 0)})}
    for g, (n_a, n_b, bg, u) in want.items():
        r = got[g]
        assert (r["n_a"], r["n_b"], r["n_bins"], r["psi_u"]) == \
            (n_a, n_b, bg, u), g
    assert got["g2"]["psi_u"] > 100_000_000  # 0.1+ = drifting
    assert got["g3"]["n_b"] == 0 and got["g3"]["psi_u"] > 0

    # NULL / out-of-domain epochs are excluded BEFORE counting: they
    # must not mint support rows that skew the smoothing
    dirty = rows + [("g1", "z", None), ("g1", "z", 7), ("g2", "x", -1)]
    df2 = spark.createDataFrame(dirty, "grp_src string, key string, e int")
    got2 = {r["grp_src"]: r for r in
            categorical_psi_drift(df2, "grp_src", "key", "e").collect()}
    for g in ("g1", "g2", "g3"):
        r, r2 = got[g], got2[g]
        assert (r2["n_a"], r2["n_b"], r2["n_bins"], r2["psi_u"]) == \
            (r["n_a"], r["n_b"], r["n_bins"], r["psi_u"]), g


def test_value_psi_ref_bins_equidepth(spark):
    """The learned-boundary PSI: reference-epoch deciles must produce
    near-uniform reference bins (the point of equi-depth binning), the
    bin index stays in [0, 9], and the PSI output carries the full
    per-group contract."""
    from go_streaming_spark.queries import QUERIES
    import go_streaming_spark.queries_ext as qe

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = F.col("value").cast("double")
    ref = ev.filter(v.isNotNull() & (qe._psi_epoch_expr() == 0))
    n_ref = ref.count()

    from go_streaming_spark.functions.util import q6

    bounds = ref.agg(*[
        q6(F.percentile(v, F.lit(i / 10))).alias(f"b{i}")
        for i in range(1, 10)
    ]).collect()[0]
    bs = [bounds[f"b{i}"] for i in range(1, 10)]
    assert bs == sorted(bs)

    # equi-depth: every decile bin of the REFERENCE epoch holds ~n/10
    k = sum((v > F.lit(b)).cast("int") for b in bs)
    counts = {r["k"]: r["c"] for r in
              ref.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("c"))
              .collect()}
    assert set(counts) <= set(range(10))
    for c in counts.values():
        assert abs(c - n_ref / 10) <= max(2.0, 0.02 * n_ref)

    out = QUERIES["value_psi_ref_bins"](spark, SF).collect()
    assert {r["event_type"] for r in out} == {
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    }
    for r in out:
        assert 1 <= r["n_bins"] <= 10
        assert r["psi_u"] is not None and r["n_a"] > 0


def test_char_entropy_scores_hand_computed(spark):
    """Entropy must match the literal per-character recomputation;
    constant docs read 0; the ASCII projection and empty-projection
    omission behave as documented; the plan is shuffle-free."""
    import math

    from go_streaming_spark.functions.text import char_entropy_scores

    def ref_ent(text):
        import collections

        t = "".join(c for c in text.lower() if c.isascii()
                    and (c.isalnum() or c == " "))
        n = len(t)
        counts = collections.Counter(t)
        return n, sum(
            math.floor((k / n) * math.log(n / k) * 1e9 + 0.5)
            for k in counts.values()
        )

    docs = [
        (1, "aaaa"),                      # constant -> 0
        (2, "ab"),                        # uniform 2 -> ln 2
        (3, "abcd"),                      # uniform 4 -> ln 4
        (4, "Hello, World! 123"),         # projection: case+punct folded
        (5, "!!!???"),                    # empty projection -> omitted
        (6, "the quick brown fox jumps"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = char_entropy_scores(df, "doc_id", "text")
    got = {r["doc_id"]: (r["n_chars"], r["ent_u"]) for r in out.collect()}

    assert set(got) == {1, 2, 3, 4, 6}  # doc 5 omitted
    assert got[1][1] == 0
    # uniform docs: entropy ~ ln(alphabet size), within quantization
    assert abs(got[2][1] / 1e9 - math.log(2.0)) < 1e-8
    assert abs(got[3][1] / 1e9 - math.log(4.0)) < 1e-8
    for doc_id, text in docs:
        if doc_id in got:
            assert got[doc_id] == ref_ent(text), doc_id

    # map-only: no Exchange anywhere in the executed plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixed_language_flags_detects_code_switch(spark):
    from go_streaming_spark.functions.text import mixed_language_flags

    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat der hund ist nicht ein gut"),  # en|de
            (2, "the dog is a good dog and it is here"),              # en|en
            (3, "one"),                                               # 1 word
            (4, "xyzzy plugh"),                                       # und|und
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in
           mixed_language_flags(df, "doc_id", "text").collect()}
    assert 3 not in out
    assert (out[1]["lang_head"], out[1]["lang_tail"], out[1]["mixed"]) == (
        "en", "de", 1)
    assert out[2]["mixed"] == 0 and out[2]["lang_head"] == "en"
    assert (out[4]["lang_head"], out[4]["lang_tail"], out[4]["mixed"]) == (
        "und", "und", 0)


def test_missing_days_report_finds_planted_gaps(spark, tmp_path):
    import datetime as dt

    import go_streaming_spark.queries_ext  # noqa: F401
    from go_streaming_spark.queries import QUERIES

    rows = []
    # type A: days 1,2,5 -> missing 3,4 ; type B: days 1,2 -> none
    for i, (t, day) in enumerate(
        [("A", 1), ("A", 2), ("A", 5), ("B", 1), ("B", 2)]
    ):
        rows.append(
            (i, dt.datetime(2024, 3, day, 12, 0), i, t, 1.0, "{}")
        )
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    out = sorted(
        (r.event_type, r.missing_day)
        for r in QUERIES["missing_days_report"](spark, sf).collect()
    )
    assert out == [("A", "2024-03-03"), ("A", "2024-03-04")], out


def test_compression_ratio_matches_direct_zlib(spark):
    import zlib

    from go_streaming_spark.functions.text import compression_ratio

    docs = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),   # highly compressible
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, ""),                                        # empty -> NULL ratio
        (4, "z8#kQ!m2@vX9$wL7%"),                       # noise
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["id"]: r for r in
           compression_ratio(df, "doc_id", "text").collect()}
    for doc_id, t in docs:
        raw = t.encode("utf-8")
        c = len(zlib.compress(raw, 6))
        row = out[doc_id]
        assert row["n_bytes"] == len(raw)
        assert row["c_bytes"] == c
        if raw:
            assert row["ratio_q"] == (c * 1_000_000) // len(raw)
        else:
            assert row["ratio_q"] is None
    # the repetitive doc must compress far better than the noise doc
    assert out[1]["ratio_q"] < out[4]["ratio_q"]
    # partition stability
    again = {r["id"]: r["ratio_q"] for r in
             compression_ratio(df.repartition(5), "doc_id", "text").collect()}
    assert again == {k: v["ratio_q"] for k, v in out.items()}


def test_cms_join_size_never_undercounts_and_tightens(spark):
    """est >= true always (non-negative counts); with width >> distinct
    keys the inner product has no collisions and est == true."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions import sketch

    a = spark.createDataFrame([(i % 5,) for i in range(100)], "k long")
    b = spark.createDataFrame([(i % 7,) for i in range(70)], "k long")
    true = a.join(b, "k").count()

    def est(width):
        ska = sketch.count_min_build(a, "k", depth=4, width=width)
        skb = sketch.count_min_build(b, "k", depth=4, width=width)
        return sketch.cms_join_size_estimate(ska, skb, depth=4).collect()[0][
            "est_join_size"
        ]

    wide = est(4096)   # no collisions among <= 7 keys
    narrow = est(4)    # heavy collisions
    assert wide == true
    assert narrow >= true


def test_cms_join_size_disjoint_keys_is_zero_with_wide_sketch(spark):
    from go_streaming_spark.functions import sketch

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(100,), (200,)], "k long")
    ska = sketch.count_min_build(a, "k", depth=4, width=4096)
    skb = sketch.count_min_build(b, "k", depth=4, width=4096)
    out = sketch.cms_join_size_estimate(ska, skb, depth=4).collect()[0]
    assert out["est_join_size"] == 0  # empty-row spine keeps the 0 min


def test_hist_cdf_transform_monotone_and_bounded(spark):
    from pyspark.sql import functions as F

    from go_streaming_spark.functions.sketch import hist_cdf_transform

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 5, 5, 42, 99, 77, 3])],
        "id long, x double",
    )
    out = hist_cdf_transform(df, "x", lo=0.0, hi=100.0, n_bins=100).collect()
    by_val = sorted((r["x"], r["cdf_q"]) for r in out)
    # monotone in the value; bounded in (0, 1e6]; duplicates share cdf
    for (v1, c1), (v2, c2) in zip(by_val, by_val[1:]):
        assert c1 <= c2
        if v1 == v2:
            assert c1 == c2
    assert by_val[0][1] > 0 and by_val[-1][1] == 1_000_000


def test_keep_best_per_component_prefers_quality_over_id(spark):
    """The survivor must be the highest-scored member even when it has
    the LARGEST id (the min-id convention would pick differently);
    unpaired rows always survive."""
    from go_streaming_spark.functions.dedup import keep_best_per_component

    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (9, 5.0)],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in keep_best_per_component(df, "doc_id", pairs, "score").collect()
    )
    assert kept == [2, 9]  # 2 wins its cluster on score; 9 unpaired
    # tie on score -> smaller id
    df2 = spark.createDataFrame(
        [(5, 1.0), (7, 1.0)], "doc_id long, score double"
    )
    p2 = spark.createDataFrame([(5, 7)], "id_a long, id_b long")
    kept2 = [r["doc_id"] for r in
             keep_best_per_component(df2, "doc_id", p2, "score").collect()]
    assert kept2 == [5]


def test_query_registry_rejects_duplicate_names():
    """The r9 registry guard: a second registration under an existing
    name must raise at decoration time (pre-r9, last-import-wins
    silently shadowed two gated streaming capabilities)."""
    import pytest as _pytest

    from go_streaming_spark.queries import QUERIES, query

    taken = next(iter(QUERIES))
    with _pytest.raises(ValueError, match="duplicate query registration"):
        @query(taken)
        def _dup(spark, sf_dir):  # pragma: no cover
            return None


def test_hist_cdf_transform_tolerates_bin_and_cum_input_columns(spark):
    """An input frame that already owns 'bin'/'cum' columns must survive
    the sketch join un-clobbered (sketch-side columns use reserved
    __cdf_* names since r9)."""
    from go_streaming_spark.functions.sketch import hist_cdf_transform

    df = spark.createDataFrame(
        [(float(i), i * 7, f"c{i}") for i in range(50)],
        "x double, bin long, cum string",
    )
    out = hist_cdf_transform(df, "x", lo=0.0, hi=50.0, n_bins=50)
    assert set(out.columns) == {"x", "bin", "cum", "cdf_q"}
    rows = sorted(out.collect(), key=lambda r: r["x"])
    assert len(rows) == 50
    # user columns preserved verbatim
    assert all(r["bin"] == int(r["x"]) * 7 for r in rows)
    assert all(r["cum"] == f"c{int(r['x'])}" for r in rows)
    # and the transform itself still behaves: monotone in x
    cdfs = [r["cdf_q"] for r in rows]
    assert cdfs == sorted(cdfs)


def test_heavy_hitters_from_sketch_accumulates_unmerged_union(spark):
    """Soundness with an UNMERGED sketch: two per-batch CMS sketches
    unioned without a groupBy merge must still never prefilter a true
    heavy hitter (r9 fix: accumulate +=, not last-write-wins)."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions import sketch

    rows = [("hot",)] * 30 + [("warm",)] * 12 + [("cold",)] * 2
    df = spark.createDataFrame(rows, "k string")
    half_a = spark.createDataFrame(rows[:22], "k string")
    half_b = spark.createDataFrame(rows[22:], "k string")
    unmerged = sketch.count_min_build(half_a, "k", depth=4, width=64).unionByName(
        sketch.count_min_build(half_b, "k", depth=4, width=64)
    )
    got = {
        r["key"]: r["n_occ"]
        for r in sketch.heavy_hitters_from_sketch(
            df, unmerged, "k", min_count=10, depth=4, width=64
        ).collect()
    }
    assert got == {"hot": 30, "warm": 12}


def test_partition_fingerprint_sum_hash_breaks_xor_dup_cancellation(spark):
    """Two partitions with equal counts whose row multisets differ only
    by duplicated rows xor to the same value (pairwise cancellation);
    the r9 sum_hash fold must distinguish them."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions.cdc import partition_fingerprint

    # partition A: rows {r1, r1, r2, r2} → xor = 0; B: {r3, r3, r4, r4}
    # → xor = 0 as well, same count, different contents
    a = spark.createDataFrame(
        [("p", "r1"), ("p", "r1"), ("p", "r2"), ("p", "r2")],
        "part string, k string",
    )
    b = spark.createDataFrame(
        [("p", "r3"), ("p", "r3"), ("p", "r4"), ("p", "r4")],
        "part string, k string",
    )
    ma = partition_fingerprint(a, ["part"], ["k"]).collect()[0]
    mb = partition_fingerprint(b, ["part"], ["k"]).collect()[0]
    assert ma["xor_hash"] == 0 and mb["xor_hash"] == 0  # the degeneracy
    assert ma["n_rows"] == mb["n_rows"]
    assert ma["sum_hash"] != mb["sum_hash"]  # the fix
    # identical multisets keep identical manifests regardless of layout
    ma2 = partition_fingerprint(a.repartition(5), ["part"], ["k"]).collect()[0]
    assert (ma["xor_hash"], ma["sum_hash"]) == (ma2["xor_hash"], ma2["sum_hash"])


def test_hll_overlap_accuracy_and_identity(spark):
    """Controlled 50% overlap: estimates land within HLL error of the
    exact counts, and est_intersect is exactly the inclusion-exclusion
    of the three reported estimates."""
    from go_streaming_spark.functions import sketch

    # the raw (uncorrected — see hll_estimate docstring) estimate is
    # only unbiased for n ≳ 2.5·m, so use sets well above 2.5·4096
    n = 30_000
    rows = [("a", i) for i in range(n)] + [
        ("b", i) for i in range(n // 2, n + n // 2)
    ]
    df = spark.createDataFrame(rows, "grp string, k long")
    out = sketch.hll_overlap(df, "grp", "k", "a", "b", p=12).collect()
    assert len(out) == 1
    r = out[0]
    # p=12 → relative error ~1.6% per set; the differenced intersection
    # compounds three estimates
    assert abs(r["est_a"] - n) < 0.05 * n
    assert abs(r["est_b"] - n) < 0.05 * n
    assert abs(r["est_union"] - 1.5 * n) < 0.05 * 1.5 * n
    assert abs(r["est_intersect"] - 0.5 * n) < 0.15 * 0.5 * n
    ie = r["est_a"] + r["est_b"] - r["est_union"]
    assert abs(r["est_intersect"] - ie) < 2e-6  # q6 of the same IEEE chain


def test_hll_overlap_disjoint_and_identical(spark):
    from go_streaming_spark.functions import sketch

    n = 20_000
    rows = [("a", i) for i in range(n)] + [("b", i + 10 * n) for i in range(n)]
    df = spark.createDataFrame(rows, "grp string, k long")
    r = sketch.hll_overlap(df, "grp", "k", "a", "b", p=12).collect()[0]
    # near zero relative to the set sizes (may be slightly negative)
    assert abs(r["est_intersect"]) < 0.06 * n
    same = spark.createDataFrame(
        [("a", i) for i in range(n)] + [("b", i) for i in range(n)],
        "grp string, k long",
    )
    r2 = sketch.hll_overlap(same, "grp", "k", "a", "b", p=12).collect()[0]
    # identical sets: all three register states coincide exactly
    assert r2["s_a"] == r2["s_b"] == r2["s_union"]
    assert r2["est_intersect"] == r2["est_a"]


def test_theta_kmv_exact_below_k(spark):
    """Groups with < k distinct keys: theta stays at the full domain and
    every estimate is the EXACT count — including the set difference,
    the op HLL inclusion-exclusion cannot deliver."""
    from go_streaming_spark.functions import sketch

    rows = [("a", i) for i in range(30)] + [("b", i) for i in range(20, 45)]
    df = spark.createDataFrame(rows, "grp string, k long")
    r = sketch.theta_kmv_overlap(df, "grp", "k", "a", "b", k=64).collect()[0]
    assert r["theta_ab"] == sketch.THETA_FULL
    assert (r["est_a"], r["est_b"]) == (30.0, 25.0)
    assert r["est_union"] == 45.0
    assert r["est_intersect"] == 10.0  # {20..29}
    assert r["est_diff"] == 20.0       # {0..19}
    assert r["n_int"] == 10 and r["n_anotb"] == 20
    # a group with no rows at all: no sketch to compare -> empty result,
    # not a fabricated zero row
    only_a = spark.createDataFrame(
        [("a", i) for i in range(5)], "grp string, k long"
    )
    assert sketch.theta_kmv_overlap(only_a, "grp", "k", "a", "b").count() == 0


def test_theta_kmv_sketched_accuracy_and_consistency(spark):
    """Above k: estimates land within KMV error (~1/sqrt(k)), the
    window identities hold exactly (n_int + n_anotb = retained-a below
    theta), and est_intersect + est_diff = est of A's window — the
    retained-sample consistency HLL differencing lacks."""
    from go_streaming_spark.functions import sketch

    n = 4000
    rows = [("a", i) for i in range(n)] + [
        ("b", i) for i in range(n // 2, n + n // 2)
    ]
    df = spark.createDataFrame(rows, "grp string, k long")
    k = 256
    r = sketch.theta_kmv_overlap(df, "grp", "k", "a", "b", k=k).collect()[0]
    tol = 4 / (k ** 0.5)  # ~4 sigma
    assert abs(r["est_a"] - n) < tol * n
    assert abs(r["est_b"] - n) < tol * n
    assert abs(r["est_union"] - 1.5 * n) < tol * 1.5 * n
    assert abs(r["est_intersect"] - 0.5 * n) < 2 * tol * n
    assert abs(r["est_diff"] - 0.5 * n) < 2 * tol * n
    # every hash in A's window is either shared or not: counts partition
    assert r["n_int"] + r["n_anotb"] <= k
    assert r["n_int"] > 0 and r["n_anotb"] > 0


def test_hll_overlap_from_state_ignores_extra_groups_and_merges(spark):
    """from_state on a max-merged union of per-batch sketches (with a
    third group present) equals the single-pass batch overlap."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions import sketch

    rows = (
        [("a", i) for i in range(600)]
        + [("b", i) for i in range(300, 900)]
        + [("c", i) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "grp string, k long")
    direct = sketch.hll_overlap(df, "grp", "k", "a", "b", p=10).collect()[0]
    half1 = spark.createDataFrame(rows[:700], "grp string, k long")
    half2 = spark.createDataFrame(rows[700:], "grp string, k long")
    merged = (
        sketch.hll_grouped_build(half1, "grp", "k", p=10)
        .unionByName(sketch.hll_grouped_build(half2, "grp", "k", p=10))
        .groupBy("grp", "reg")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    via_state = sketch.hll_overlap_from_state(merged, "a", "b", p=10).collect()[0]
    assert direct.asDict() == via_state.asDict()


def test_hll_overlap_empty_group_returns_no_rows(spark):
    from go_streaming_spark.functions import sketch

    df = spark.createDataFrame([("a", i) for i in range(100)], "grp string, k long")
    assert sketch.hll_overlap(df, "grp", "k", "a", "missing", p=10).count() == 0


def _winnow_ref(text, k, w):
    """Pure-Python winnowing reference (Schleimer et al. SIGMOD'03)."""
    import hashlib

    n = max(len(text) - k + 1, 1)
    hashes = [
        int(hashlib.md5(text[i:i + k].encode()).hexdigest()[:8], 16)
        for i in range(n)
    ]
    sel = set()
    for j in range(max(len(hashes) - w + 1, 1)):
        sel.add(min(hashes[j:j + w]))
    return sel


def test_winnowing_matches_python_reference(spark):
    from go_streaming_spark.functions.text import winnowing_fingerprints

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abcabcabcabcabc"),
        (3, "xy"),          # shorter than k
        (4, "aaaaaaaaaaaa"),  # degenerate repeats
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = winnowing_fingerprints(df, "doc_id", "text", k=5, w=4).collect()
    got = {}
    for r in out:
        got.setdefault(r["id"], set()).add(r["fp"])
    for doc_id, text in texts:
        assert got[doc_id] == _winnow_ref(text, 5, 4), doc_id


def test_winnowing_local_match_guarantee(spark):
    """Two documents sharing a substring of length >= w+k-1 MUST share a
    selected fingerprint (the paper's detection guarantee), even when
    globally dissimilar."""
    from go_streaming_spark.functions.text import winnowing_fingerprints

    k, w = 5, 4
    shared = "zqvjxkwpmynrt"  # length 13 >= w+k-1 = 8, unusual chars
    df = spark.createDataFrame(
        [
            (1, "completely different prefix " + shared + " and a tail"),
            (2, shared + " wholly other document body follows here"),
            (3, "no overlap with anything else at all in this one"),
        ],
        "doc_id long, text string",
    )
    out = winnowing_fingerprints(df, "doc_id", "text", k=k, w=w).collect()
    sets = {}
    for r in out:
        sets.setdefault(r["id"], set()).add(r["fp"])
    assert sets[1] & sets[2], "guaranteed shared fingerprint missing"
    # density sanity: a selection exists and is far smaller than the
    # full gram set (~2/(w+1) of positions)
    for doc_id in (1, 2):
        assert 2 <= len(sets[doc_id]) < 40


def test_token_budget_sample_prefix_and_determinism(spark):
    """The kept set is the maximal strict hash-prefix within budget: kept
    total <= budget, adding the first excluded doc would exceed it, and
    the 256-bucket distributed prefix sum equals the naive global-window
    answer regardless of partitioning."""
    import hashlib

    from pyspark.sql import functions as F

    from go_streaming_spark.functions.sampling import sample_to_token_budget

    rows = [(i, 10 + (i * 7) % 90) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    budget = 8_000
    kept = sample_to_token_budget(df, "doc_id", "n_tok", budget).collect()
    kept_ids = {r["doc_id"] for r in kept}
    total = sum(r["n_tok"] for r in kept)
    assert total <= budget

    # python reference: global hash order, strict prefix
    def h(i):
        return hashlib.md5(f"budget|{i}".encode()).hexdigest()

    ordered = sorted(rows, key=lambda r: (h(r[0]), r[0]))
    cum, ref = 0, set()
    for i, t in ordered:
        cum += t
        if cum > budget:
            break
        ref.add(i)
    assert kept_ids == ref
    # partitioning-independent
    kept2 = {
        r["doc_id"]
        for r in sample_to_token_budget(
            df.repartition(13), "doc_id", "n_tok", budget
        ).collect()
    }
    assert kept2 == kept_ids
    # original columns survive
    assert set(kept[0].asDict()) == {"doc_id", "n_tok"}


def test_token_budget_sample_edges(spark):
    from go_streaming_spark.functions.sampling import sample_to_token_budget

    df = spark.createDataFrame([(1, 100), (2, 100)], "doc_id long, n_tok long")
    assert sample_to_token_budget(df, "doc_id", "n_tok", 0).count() == 0
    assert sample_to_token_budget(df, "doc_id", "n_tok", 10**9).count() == 2
    empty = spark.createDataFrame([], "doc_id long, n_tok long")
    assert sample_to_token_budget(empty, "doc_id", "n_tok", 100).count() == 0


def test_lsh_index_save_load_round_trip(spark, tmp_path):
    """A saved (bucket-partitioned) LSH index must answer queries
    identically to the in-memory build, and a probe filter on the loaded
    frame must prune partitions (reach PartitionFilters, not a full
    scan)."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions import similarity as sim

    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[5][1]
    idx = sim.build_lsh_index(df, "embedding", dim=8, n_planes=6)
    direct = sim.lsh_query(idx, "vec_id", "embedding", qv, k=5, n_planes=6).collect()

    path = str(tmp_path / "lshidx")
    sim.save_lsh_index(idx, path, n_planes=6, seed=42)
    loaded, n_planes, seed = sim.load_lsh_index(spark, path)
    assert (n_planes, seed) == (6, 42)
    via_disk = sim.lsh_query(
        loaded, "vec_id", "embedding", qv, k=5, n_planes=6
    ).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_disk))

    probes = sim.query_probes(qv, 6, 42)
    plan = (
        loaded.filter(F.col("_bucket").isin(probes))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "_bucket" in plan.split("PartitionFilters")[1][:200]


def test_ams_f2_accuracy_and_merge(spark):
    """The AMS estimate lands within estimator error of the exact F2 on
    a skewed distribution, and per-shard counters SUM to the full-data
    counters (mergeable state)."""
    from pyspark.sql import functions as F

    from go_streaming_spark.functions import sketch

    # skewed: key k appears k times, k in 1..40 → F2 = sum k^2 = 22140
    rows = [(k,) for k in range(1, 41) for _ in range(k)]
    df = spark.createDataFrame(rows, "k long")
    exact = sum(k * k for k in range(1, 41))
    est = sketch.ams_f2(df, "k", d=63).collect()[0]["f2_est"]
    assert abs(est - exact) < 0.6 * exact  # single-level median: coarse
    # determinism
    est2 = sketch.ams_f2(df.repartition(7), "k", d=63).collect()[0]["f2_est"]
    assert est == est2
    # d must be odd
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sketch.ams_f2(df, "k", d=8)


def test_stratified_token_budget_independent_per_stratum(spark):
    """Each stratum keeps its own maximal hash prefix within budget; one
    stratum's content never affects another's kept set."""
    import hashlib

    from go_streaming_spark.functions.sampling import (
        sample_to_token_budget_per_stratum,
    )

    rows = [(i, "a" if i % 2 == 0 else "b", 50 + i % 37) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n_tok long")
    budget = 2_000
    kept = sample_to_token_budget_per_stratum(
        df, "doc_id", "n_tok", budget, "src"
    ).collect()

    def ref(stratum):
        sub = [(i, t) for i, s, t in rows if s == stratum]
        sub.sort(key=lambda r: (hashlib.md5(f"budget|{r[0]}".encode()).hexdigest(), r[0]))
        out, cum = set(), 0
        for i, t in sub:
            cum += t
            if cum > budget:
                break
            out.add(i)
        return out

    for stratum in ("a", "b"):
        got = {r["doc_id"] for r in kept if r["src"] == stratum}
        assert got == ref(stratum), stratum
        assert sum(r["n_tok"] for r in kept if r["src"] == stratum) <= budget
    # dropping stratum b entirely must not change a's kept set
    only_a = sample_to_token_budget_per_stratum(
        df.filter("src = 'a'"), "doc_id", "n_tok", budget, "src"
    ).collect()
    assert {r["doc_id"] for r in only_a} == ref("a")


def test_ridge_fit_from_distributed_gram_matches_local(spark):
    """The one-pass augmented gram statistic must reproduce the local
    normal-equations solve exactly (all entries are exact int64, so the
    driver solve sees bit-identical inputs), and the statistic must
    merge BY ADDITION across disjoint corpus halves."""
    import numpy as np

    from go_streaming_spark.functions.stats import (
        gram_matrix_long,
        ridge_fit_from_gram,
    )
    from go_streaming_spark.functions.text import hashed_bucket_features

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = hashed_bucket_features(docs, "doc_id", "text", k=8)
    lab = docs.selectExpr(
        "doc_id AS id", "CAST(lang = 'en' AS LONG) AS y"
    )
    j = feats.join(lab, "id")
    cols = [f"f{i}" for i in range(8)]

    gram = gram_matrix_long(j, cols, "y").collect()
    w = ridge_fit_from_gram(gram, 8, lam=1.0)

    pdf = j.toPandas()
    X = pdf[cols].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    w_ref = np.linalg.solve(X.T @ X + np.eye(8), X.T @ y)
    # integer entries < 2^53: both accumulations are exact -> identical
    assert np.array_equal(w, w_ref)

    # mergeability: gram(half A) + gram(half B) == gram(all), cell-exact
    a = gram_matrix_long(j.filter("id % 2 = 0"), cols, "y").collect()
    b = gram_matrix_long(j.filter("id % 2 = 1"), cols, "y").collect()
    merged = {}
    for rows in (a, b):
        for r in rows:
            merged[(r["i"], r["j"])] = merged.get((r["i"], r["j"]), 0) + r["v"]
    assert merged == {(r["i"], r["j"]): r["v"] for r in gram}


def test_gram_matrix_exploded_parity_with_literal(spark):
    """The sparse long form must reproduce the literal wide-agg gram
    cell-for-cell at probe width (k=8 + label): dense=True emits the
    identical full grid; sparse omits only zero cells and ridge reads
    them as 0 — the fitted weights are bit-identical."""
    import numpy as np

    from go_streaming_spark.functions.stats import (
        gram_matrix_exploded,
        gram_matrix_long,
        ridge_fit_from_gram,
    )
    from go_streaming_spark.functions.text import (
        hashed_bucket_entries,
        hashed_bucket_features,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lab = docs.selectExpr("doc_id AS id", "CAST(lang = 'en' AS LONG) AS y")

    wide = hashed_bucket_features(docs, "doc_id", "text", k=8).join(lab, "id")
    lit_cells = {
        (r["i"], r["j"]): r["v"]
        for r in gram_matrix_long(
            wide, [f"f{i}" for i in range(8)], "y"
        ).collect()
    }

    sparse_in = hashed_bucket_entries(docs, "doc_id", "text", k=8).join(
        lab, "id"
    )
    dense_cells = {
        (r["i"], r["j"]): r["v"]
        for r in gram_matrix_exploded(
            sparse_in, "entries", 8, "y", dense=True
        ).collect()
    }
    assert dense_cells == lit_cells

    sparse_rows = gram_matrix_exploded(sparse_in, "entries", 8, "y").collect()
    sparse_cells = {(r["i"], r["j"]): r["v"] for r in sparse_rows}
    assert all(
        sparse_cells.get(c, 0) == v for c, v in lit_cells.items()
    ) and set(sparse_cells) <= set(lit_cells)
    w_sparse = ridge_fit_from_gram(sparse_rows, 8, lam=1.0)
    w_lit = ridge_fit_from_gram(
        gram_matrix_long(wide, [f"f{i}" for i in range(8)], "y").collect(),
        8,
        lam=1.0,
    )
    assert np.array_equal(w_sparse, w_lit)


def test_gram_matrix_exploded_wide_k_matches_numpy(spark):
    """Smoke the sparse form at k=256 — a width where the literal agg
    would plan ~33k expressions — against an exact int64 numpy
    accumulation of the same hashed features."""
    import numpy as np

    from go_streaming_spark.functions.stats import gram_matrix_exploded
    from go_streaming_spark.functions.text import hashed_bucket_entries

    k = 256
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(200)
    ent = hashed_bucket_entries(docs, "doc_id", "text", k=k)
    cells = {
        (r["i"], r["j"]): r["v"]
        for r in gram_matrix_exploded(ent, "entries", k).collect()
    }

    X = np.zeros((200, k), dtype=np.int64)
    for rix, row in enumerate(ent.collect()):
        for e in row["entries"]:
            X[rix, e["i"]] = e["x"]
    G = X.T @ X
    ref = {
        (i, j): int(G[i, j])
        for i in range(k)
        for j in range(i, k)
        if G[i, j] != 0
    }
    assert cells == ref


def test_hashed_bucket_entries_match_wide_features(spark):
    """The sparse entries are the SAME features as the wide columns —
    same seed, same md5 bucket hash — just without the zeros."""
    from go_streaming_spark.functions.text import (
        hashed_bucket_entries,
        hashed_bucket_features,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50)
    wide = {
        r["id"]: [r[f"f{i}"] for i in range(8)]
        for r in hashed_bucket_features(docs, "doc_id", "text", k=8).collect()
    }
    for r in hashed_bucket_entries(docs, "doc_id", "text", k=8).collect():
        dense = [0] * 8
        for e in r["entries"]:
            dense[e["i"]] = e["x"]
        assert dense == wide[r["id"]], r["id"]


def test_hashed_bucket_entries_run_length_edge_cases(spark):
    """The sorted run-length counting path (r14 rewrite of the
    per-distinct-bucket filter-count): exact Counter ground truth per
    doc, sorted-by-i entries, and the degenerate shapes — empty text
    (sequence(0,-1) DESCENDS in Spark; the guard must not fabricate a
    NULL-bucket entry), NULL text (NULL propagates), one token, all
    tokens identical, every bucket distinct."""
    from collections import Counter

    from go_streaming_spark.functions.dedup import md5_int  # noqa: F401
    from go_streaming_spark.functions.text import hashed_bucket_entries

    k = 16
    rows = [
        (1, "alpha beta gamma alpha beta alpha"),
        (2, ""),
        (3, None),
        (4, "solo"),
        (5, "same same same same"),
        (6, " ".join(f"tok{i}" for i in range(40))),
        (7, "   "),  # whitespace-only → zero tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in hashed_bucket_entries(docs, "doc_id", "text", k=k).collect()
    }

    import hashlib

    def bucket(tok):
        h = int(hashlib.md5(f"probe|{tok}".encode()).hexdigest()[:8], 16)
        return h % k

    for doc_id, text in rows:
        r = out[doc_id]
        if text is None:
            assert r["entries"] is None
            continue
        toks = [t.lower() for t in text.split()]
        expect = sorted(Counter(bucket(t) for t in toks).items())
        got = [(e["i"], e["x"]) for e in r["entries"]]
        assert got == expect, (doc_id, got, expect)
        assert r["n_tokens"] == len(toks)


def test_gram_matrix_exploded_null_entries_keep_label(spark):
    """A NULL entries array (NULL text upstream) must behave like an
    all-zero feature row, not vanish: the row's y'y contribution has to
    match the literal form, which sums the non-NULL label regardless."""
    from go_streaming_spark.functions.stats import (
        gram_matrix_exploded,
        gram_matrix_long,
    )

    entries_t = "array<struct<i: long, x: long>>"
    sparse_in = spark.createDataFrame(
        [([(0, 2)], 1), (None, 1), ([(1, 3)], 0)],
        f"entries {entries_t}, y long",
    )
    cells = {
        (r["i"], r["j"]): r["v"]
        for r in gram_matrix_exploded(sparse_in, "entries", 2, "y").collect()
    }
    wide = spark.createDataFrame(
        [(2, 0, 1), (0, 0, 1), (0, 3, 0)], "f0 long, f1 long, y long"
    )
    lit_cells = {
        (r["i"], r["j"]): r["v"]
        for r in gram_matrix_long(wide, ["f0", "f1"], "y").collect()
    }
    assert all(cells.get(c, 0) == v for c, v in lit_cells.items())
    assert cells[(2, 2)] == 2  # BOTH labeled rows' y² counted


def test_ridge_fit_empty_input_raises_descriptive(spark):
    """gram_matrix_long over zero rows sums to NULL cells; the solver
    must name the real cause (empty training frame), not die on
    float(None)."""
    import pytest as _pytest

    from go_streaming_spark.functions.stats import (
        gram_matrix_long,
        ridge_fit_from_gram,
    )

    empty = spark.createDataFrame([], "f0 long, f1 long, y long")
    rows = gram_matrix_long(empty, ["f0", "f1"], "y").collect()
    with _pytest.raises(ValueError, match="empty"):
        ridge_fit_from_gram(rows, 2)
    with _pytest.raises(ValueError, match="empty"):
        ridge_fit_from_gram([], 2)


def test_lsh_recall_stats_counts_and_bounds(spark):
    """The recall audit: verified-LSH pairs are a subset of the exact
    pairs, recall = n_lsh/n_true (q6), NULL when the sample has no true
    pairs — and an identical-text pair is ALWAYS found by LSH (equal
    signatures collide in every band), so recall > 0 whenever an exact
    dup exists."""
    from go_streaming_spark.functions.dedup import (
        jaccard_pairs,
        lsh_recall_stats,
        minhash_lsh_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1 — LSH must find it
            (3, base + " extra words tail one two"),
            (4, "totally different content with no shared shingles xy"),
        ],
        "doc_id long, text string",
    )
    out = lsh_recall_stats(docs, "doc_id", "text", threshold=0.2).head()
    n_true = jaccard_pairs(
        docs, "doc_id", "text", 3, 0.2,
        max_shingle_freq=None, max_candidate_pairs=None,
    ).count()
    n_lsh = minhash_lsh_pairs(docs, "doc_id", "text", 3, 16, 4, 0.2).count()
    assert (out["n_true_pairs"], out["n_lsh_pairs"]) == (n_true, n_lsh)
    assert n_lsh <= n_true and n_lsh >= 1  # subset; exact dup found
    assert out["recall"] == round(n_lsh / n_true, 6) or abs(
        out["recall"] - n_lsh / n_true
    ) < 1e-6
    assert 0 < out["recall"] <= 1.0

    empty = lsh_recall_stats(
        spark.createDataFrame(
            [(1, "one lonely document here")], "doc_id long, text string"
        ),
        "doc_id", "text", threshold=0.2,
    ).head()
    assert empty["n_true_pairs"] == 0 and empty["recall"] is None


def test_lsh_recall_stats_refuses_unbounded_input(spark):
    """The bounded-sample contract is enforced: above max_docs the audit
    raises (its exact side runs the UNCAPPED all-pairs inverted-index
    join) unless unbounded_ok=True explicitly accepts the quadratic
    regime — the DEFAULT_MAX_CANDIDATE_PAIRS refusal pattern."""
    import pytest as _pytest

    from go_streaming_spark.functions.dedup import lsh_recall_stats

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(6)],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="audit bound"):
        lsh_recall_stats(docs, "doc_id", "text", threshold=0.2, max_docs=5)
    # explicit opt-in runs; the small-sample default bound never trips
    assert (
        lsh_recall_stats(
            docs, "doc_id", "text", threshold=0.2, max_docs=5,
            unbounded_ok=True,
        ).head()
        is not None
    )


def test_kmeans_assign_q_payload_collision_guard(spark):
    """payload_cols colliding with the reserved output names (id,
    cluster, _q, _qb) must raise descriptively instead of silently
    emitting duplicate/ambiguous columns; same for quantize_embeddings'
    output names."""
    import pytest as _pytest

    from go_streaming_spark.functions import clustering

    emb = _emb(spark).limit(8)
    cents = [[0] * 64, [1] * 64]
    with _pytest.raises(ValueError, match="reserved"):
        clustering.kmeans_assign_q(
            emb, "vec_id", "embedding", cents, payload_cols=("cluster",)
        )
    with _pytest.raises(ValueError, match="collide"):
        similarity.quantize_embeddings(
            emb, "vec_id", "embedding", payload_cols=("qvec",)
        )
    # non-colliding payloads still pass through
    out = clustering.kmeans_assign_q(
        emb, "vec_id", "embedding", cents, payload_cols=("label",)
    )
    assert set(out.columns) == {"id", "cluster", "label"}


# ---------------------------------------------------------------------------
# distributed PCA (second moments → driver eigh → map-only projection)


def _np_quantized(emb_rows, dim=64, scale=1e6):
    import numpy as np

    ids = [r["vec_id"] for r in emb_rows]
    X = np.floor(
        np.array([r["embedding"] for r in emb_rows], dtype=np.float64) * scale
        + 0.5
    ) / scale
    return ids, X


def test_second_moments_match_numpy_and_merge_by_addition(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import (
        embedding_second_moments,
    )

    emb = _emb(spark)
    rows = embedding_second_moments(emb, "embedding", 64).collect()
    _, X = _np_quantized(emb.collect())
    Q = np.rint(X * 1e6).astype(np.int64)
    S = Q.T @ Q
    assert len(rows) == 64 * 65 // 2
    for r in rows:
        assert r["v"] == S[r["i"], r["j"]], (r["i"], r["j"])

    # the statistic is a sketch: cells ADD across corpus shards
    a = embedding_second_moments(
        emb.filter("vec_id % 2 = 0"), "embedding", 64
    ).collect()
    b = embedding_second_moments(
        emb.filter("vec_id % 2 = 1"), "embedding", 64
    ).collect()
    merged = {}
    for r in list(a) + list(b):
        merged[(r["i"], r["j"])] = merged.get((r["i"], r["j"]), 0) + r["v"]
    for r in rows:
        assert merged[(r["i"], r["j"])] == r["v"]


def test_pca_embed_matches_full_numpy_pca(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import pca_embed

    emb = _emb(spark)
    proj, vals = pca_embed(emb, "vec_id", "embedding", dim=64, k=8)
    got = {r["vec_id"]: np.array(r["pc"]) for r in proj.collect()}

    ids, X = _np_quantized(emb.collect())
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / X.shape[0]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    comps = evecs[:, order].T.copy()
    for c in range(8):
        if comps[c, np.argmax(np.abs(comps[c]))] < 0:
            comps[c] = -comps[c]
    expect = (X - mu) @ comps.T

    assert np.allclose(np.asarray(vals), evals[order], atol=1e-9)
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], expect[i], atol=1e-8), vid
    # components explain variance in descending order and the top-8
    # carry a real spectrum (not all-equal noise)
    v = np.asarray(vals)
    assert (v[:-1] >= v[1:] - 1e-12).all()


def test_pca_project_is_map_only(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import pca_project

    emb = _emb(spark)
    comps = np.eye(4, 64)
    plan = (
        pca_project(emb, "embedding", comps, mu=np.zeros(64))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # projection must stay a scan-side map: no shuffle, no python worker
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pca_parseval_full_rank(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import pca_embed

    emb = _emb(spark)
    proj, _ = pca_embed(emb, "vec_id", "embedding", dim=64, k=64)
    rows = proj.collect()
    ids, X = _np_quantized(rows)
    mu_rows = np.floor(
        np.array([r["embedding"] for r in rows], dtype=np.float64) * 1e6 + 0.5
    ) / 1e6
    mu = mu_rows.mean(axis=0)
    for r, x in zip(rows, mu_rows):
        ssq = float(np.sum(np.square(np.array(r["pc"]))))
        assert abs(ssq - float(np.sum((x - mu) ** 2))) < 1e-9


def test_pca_project_hof_form_bit_identical_to_unrolled(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import pca_project

    emb = _emb(spark).limit(100)
    rng = np.random.default_rng(7)
    comps = rng.standard_normal((4, 64))
    mu = rng.standard_normal(64) * 0.01
    small = pca_project(emb, "embedding", comps, mu)           # 256 terms: unrolled
    # pad with zero-rows to push past the unroll threshold — the extra
    # components score 0-ish but force the HOF form; the first 4 must
    # come out BIT-identical (same left-to-right summation order)
    big = np.vstack([comps, np.zeros((40, 64))])
    hof = pca_project(emb, "embedding", big, mu)
    a = {r["vec_id"]: r["pc"][:4] for r in small.select("vec_id", "pc").collect()}
    b = {r["vec_id"]: r["pc"][:4] for r in hof.select("vec_id", "pc").collect()}
    for vid in a:
        assert a[vid] == b[vid], vid


def test_pca_whiten_identity_covariance_and_mahalanobis(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import (
        embedding_dim_stats,
        embedding_second_moments,
        pca_from_moments,
        pca_whiten,
    )

    emb = _emb(spark)
    moments = embedding_second_moments(emb, "embedding", 64).collect()
    dstats = embedding_dim_stats(emb, "vec_id", "embedding", 64).collect()
    vals, comps, mu, n = pca_from_moments(moments, dstats, 64, 64)
    rows = pca_whiten(emb, "embedding", comps, vals, mu).collect()
    Z = np.array([r["z"] for r in rows])
    cov = Z.T @ Z / Z.shape[0]
    assert np.allclose(cov, np.eye(64), atol=1e-6)
    assert np.allclose(Z.mean(axis=0), 0.0, atol=1e-9)

    # |z|² is the Mahalanobis distance² from the corpus mean
    _, X = _np_quantized(rows)
    mu_np = X.mean(axis=0)
    S = np.cov(X.T, bias=True)
    inv = np.linalg.inv(S + 1e-12 * np.eye(64))
    d2 = np.einsum("ij,jk,ik->i", X - mu_np, inv, X - mu_np)
    z2 = (Z * Z).sum(axis=1)
    assert np.allclose(z2, d2, rtol=1e-4)


def test_pca_whiten_validates_inputs(spark):
    import numpy as np
    import pytest

    from go_streaming_spark.functions.similarity import pca_whiten

    emb = _emb(spark).limit(5)
    with pytest.raises(ValueError, match="eigenvalue"):
        pca_whiten(emb, "embedding", np.eye(2, 64), [1.0], np.zeros(64))
    with pytest.raises(ValueError, match="negative"):
        pca_whiten(emb, "embedding", np.eye(2, 64), [1.0, -0.5], np.zeros(64))


def test_second_moments_pandas_impl_matches_expr_exactly(spark):
    from go_streaming_spark.functions.similarity import (
        embedding_second_moments,
    )

    emb = _emb(spark)
    a = {
        (r["i"], r["j"]): r["v"]
        for r in embedding_second_moments(
            emb, "embedding", 64, impl="expr"
        ).collect()
    }
    b = {
        (r["i"], r["j"]): r["v"]
        for r in embedding_second_moments(
            emb, "embedding", 64, impl="pandas"
        ).collect()
    }
    assert a == b
    # auto routes dense widths to the pandas path and both reject junk
    import pytest

    with pytest.raises(ValueError, match="unknown impl"):
        embedding_second_moments(emb, "embedding", 64, impl="nope")


def test_second_moments_pandas_impl_handles_empty_and_null(spark):
    from pyspark.sql import functions as F

    from go_streaming_spark.functions.similarity import (
        embedding_second_moments,
    )

    emb = _emb(spark)
    empty = emb.filter("vec_id < 0")
    rows = embedding_second_moments(empty, "embedding", 64, impl="pandas").collect()
    assert all(r["v"] == 0 for r in rows) and len(rows) == 64 * 65 // 2

    with_null = emb.limit(10).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 2 == 0, F.col("embedding")),
    )
    a = embedding_second_moments(with_null, "embedding", 64, impl="pandas")
    b = embedding_second_moments(
        emb.limit(10).filter("vec_id % 2 = 0"), "embedding", 64, impl="pandas"
    )
    av = {(r["i"], r["j"]): r["v"] for r in a.collect()}
    bv = {(r["i"], r["j"]): r["v"] for r in b.collect()}
    assert av == bv


def test_augmented_moments_fold_in_sums_and_count(spark):
    import numpy as np

    from go_streaming_spark.functions.similarity import (
        embedding_dim_stats,
        embedding_second_moments,
        pca_from_augmented,
        pca_from_moments,
    )

    emb = _emb(spark)
    for impl in ("pandas", "expr"):
        aug = {
            (r["i"], r["j"]): r["v"]
            for r in embedding_second_moments(
                emb, "embedding", 64, impl=impl, augmented=True
            ).collect()
        }
        plain = {
            (r["i"], r["j"]): r["v"]
            for r in embedding_second_moments(
                emb, "embedding", 64, impl=impl
            ).collect()
        }
        # top-left block identical; last column = scale * per-dim sums;
        # corner = n * scale^2
        assert all(aug[c] == v for c, v in plain.items())
        dstats = {r["d"]: r for r in embedding_dim_stats(
            emb, "vec_id", "embedding", 64).collect()}
        n = next(iter(dstats.values()))["n"]
        assert aug[(64, 64)] == n * 10**12
        for d in range(64):
            assert aug[(d, 64)] == dstats[d]["sum_q"] * 10**6, d

    # the one-pass eig result is BIT-identical to the two-pass path
    aug_rows = embedding_second_moments(
        emb, "embedding", 64, augmented=True
    ).collect()
    vals_a, comps_a, mu_a, n_a = pca_from_augmented(aug_rows, 64, 8)
    moments = embedding_second_moments(emb, "embedding", 64).collect()
    ds = embedding_dim_stats(emb, "vec_id", "embedding", 64).collect()
    vals_b, comps_b, mu_b, n_b = pca_from_moments(moments, ds, 64, 8)
    assert n_a == n_b
    assert np.array_equal(mu_a, mu_b)
    assert np.array_equal(np.asarray(vals_a), np.asarray(vals_b))
    assert np.array_equal(comps_a, comps_b)


def test_pca_project_rejects_empty_components(spark):
    import numpy as np
    import pytest

    from go_streaming_spark.functions.similarity import pca_project

    emb = _emb(spark).limit(3)
    with pytest.raises(ValueError, match="non-empty"):
        pca_project(emb, "embedding", np.zeros((0, 64)))
    with pytest.raises(ValueError, match="non-empty"):
        pca_project(emb, "embedding", np.zeros(64))


# ---------------------------------------------------------------------------
# waterfill mixture planning


def _waterfill_reference(T, W, budget):
    """Brute fixed-point: bisect the water level t so Σ min(T, t·w) = B."""
    if budget >= sum(T):
        return list(T)
    lo, hi = 0.0, max(t / w for t, w in zip(T, W)) + 1.0
    for _ in range(200):
        mid = (lo + hi) / 2
        used = sum(min(t, mid * w) for t, w in zip(T, W))
        if used < budget:
            lo = mid
        else:
            hi = mid
    t = (lo + hi) / 2
    return [min(ti, t * wi) for ti, wi in zip(T, W)]


def test_waterfill_plan_matches_fixed_point(spark):
    import random

    from go_streaming_spark.functions.sampling import mixture_waterfill_plan

    rng = random.Random(11)
    for trial in range(6):
        n_strata = rng.randint(2, 7)
        rows, T, W = [], [], []
        weights = {}
        for s in range(n_strata):
            tokens = rng.randint(1, 400)
            w = rng.randint(1, 9)
            T.append(tokens)
            W.append(w)
            weights[f"s{s}"] = w
            left = tokens
            while left > 0:
                c = min(left, rng.randint(1, 60))
                rows.append((f"s{s}", c))
                left -= c
        budget = rng.randint(0, sum(T) + 100)
        df = spark.createDataFrame(rows, "src string, tok long")
        got = {
            r["stratum"]: r
            for r in mixture_waterfill_plan(
                df, "src", "tok", budget, weights
            ).collect()
        }
        expect = _waterfill_reference(T, W, budget)
        total_used = 0
        for s in range(n_strata):
            row = got[f"s{s}"]
            assert row["n_tokens"] == T[s]
            # exact plan within 1 of the float fixed point (engine floors)
            assert abs(row["used_tokens"] - expect[s]) <= 1, (trial, s)
            assert row["used_tokens"] <= T[s]
            assert (row["saturated"] == 1) == (row["used_tokens"] == T[s]) or (
                row["saturated"] == 0
            )
            total_used += row["used_tokens"]
        assert total_used <= min(budget, sum(T))
        # floors can undershoot by at most one token per unsaturated stratum
        assert total_used >= min(budget, sum(T)) - n_strata


def test_waterfill_plan_edges(spark):
    import pytest

    from go_streaming_spark.functions.sampling import mixture_waterfill_plan

    df = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 30)], "src string, tok long"
    )
    # budget covers everything: all saturated
    rows = {r["stratum"]: r for r in mixture_waterfill_plan(
        df, "src", "tok", 1000).collect()}
    assert all(r["saturated"] == 1 and r["used_tokens"] == r["n_tokens"]
               for r in rows.values())
    # zero budget: nothing allocated
    rows = {r["stratum"]: r for r in mixture_waterfill_plan(
        df, "src", "tok", 0).collect()}
    assert all(r["used_tokens"] == 0 for r in rows.values())
    # strata missing from the weight map are excluded
    rows = mixture_waterfill_plan(df, "src", "tok", 20, {"a": 1}).collect()
    assert [r["stratum"] for r in rows] == ["a"]
    with pytest.raises(ValueError, match="negative budget"):
        mixture_waterfill_plan(df, "src", "tok", -1)


# ---------------------------------------------------------------------------
# CUSUM drift detection


def _cusum_reference(rows, k, h):
    """Sequential S_n = max(0, S_{n-1} + (q - k)) per key."""
    import collections
    import math

    byk = collections.defaultdict(list)
    for key, ts, seq, v in rows:
        byk[key].append((ts, seq, v))
    out = {}
    for key, rs in byk.items():
        rs.sort()
        s, mx, na = 0, 0, 0
        for _, _, v in rs:
            s = max(0, s + math.floor(v * 1e6 + 0.5) - k)
            mx = max(mx, s)
            if s > h:
                na += 1
        out[key] = (len(rs), na, mx)
    return out


def test_cusum_alarms_match_sequential_reference(spark):
    import datetime as dt
    import random

    from pyspark.sql import functions as F

    from go_streaming_spark.functions.stats import cusum_alarms

    rng = random.Random(5)
    rows = []
    seq = 0
    for key in ("a", "b", "c"):
        # spread across 6 days so the two-level bucket stitch is real
        for day in range(6):
            for _ in range(rng.randint(0, 25)):
                seq += 1
                ts = dt.datetime(2026, 1, 1 + day, rng.randint(0, 23),
                                 rng.randint(0, 59))
                rows.append((key, ts, seq, rng.uniform(0, 120)))
    k, h = 55_000_000, 120_000_000
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, seq long, v double"
    )
    got = {
        r["k"]: (r["n_events"], r["n_alarms"], r["max_cusum"])
        for r in cusum_alarms(df, "k", "ts", "seq", "v", k, h).collect()
    }
    assert got == _cusum_reference(rows, k, h)

    # one-bucket degenerate case (everything in a single day)
    sub = [r for r in rows if r[1].day == 1]
    df1 = spark.createDataFrame(
        sub, "k string, ts timestamp, seq long, v double"
    )
    got1 = {
        r["k"]: (r["n_events"], r["n_alarms"], r["max_cusum"])
        for r in cusum_alarms(df1, "k", "ts", "seq", "v", k, h).collect()
    }
    assert got1 == _cusum_reference(sub, k, h)

    # all-negative drift: cusum pinned at 0, no alarms
    gotneg = cusum_alarms(
        df, "k", "ts", "seq", "v", 1_000_000_000, 1
    ).collect()
    assert all(r["n_alarms"] == 0 and r["max_cusum"] == 0 for r in gotneg)


def test_dim_stats_by_group_partitions_the_global_stats(spark):
    from go_streaming_spark.functions.similarity import (
        embedding_dim_stats,
        embedding_dim_stats_by,
    )

    emb = _emb(spark)
    grouped = embedding_dim_stats_by(emb, "label", "embedding", 64).collect()
    total = {r["d"]: r for r in embedding_dim_stats(
        emb, "vec_id", "embedding", 64).collect()}
    # group stats are a partition of the corpus stats: sums add up exactly
    import collections

    acc = collections.defaultdict(lambda: [0, 0, 0])
    for r in grouped:
        acc[r["d"]][0] += r["n"]
        acc[r["d"]][1] += r["sum_q"]
        acc[r["d"]][2] += r["sumsq_q"]
    for d, (n, s1, s2) in acc.items():
        t = total[d]
        assert (n, s1, s2) == (t["n"], t["sum_q"], t["sumsq_q"]), d


def test_smd_from_dim_stats(spark):
    import math

    from go_streaming_spark.functions.similarity import (
        embedding_dim_stats_by,
        smd_from_dim_stats,
    )

    emb = _emb(spark)
    stats = embedding_dim_stats_by(emb, "label", "embedding", 64)

    # a cohort against itself: every dimension reads exactly 0
    self_rows = smd_from_dim_stats(stats, 3, 3).collect()
    assert len(self_rows) == 64
    assert all(r["smd_q6"] == 0.0 for r in self_rows)

    # cross-cohort: matches the numpy-double recomputation from the
    # same integer sums, in the same op order
    by_cell = {(r["grp"], r["d"]): r for r in stats.collect()}
    for r in smd_from_dim_stats(stats, 3, 7).collect():
        ra, rb = by_cell[(3, r["d"])], by_cell[(7, r["d"])]
        assert (r["n_a"], r["n_b"]) == (ra["n"], rb["n"])
        mu_a = ra["sum_q"] / ra["n"]
        mu_b = rb["sum_q"] / rb["n"]
        var_a = ra["sumsq_q"] / ra["n"] - mu_a * mu_a
        var_b = rb["sumsq_q"] / rb["n"] - mu_b * mu_b
        pooled = (var_a + var_b) / 2.0
        want = (
            math.floor((mu_a - mu_b) / math.sqrt(pooled) * 1e6 + 0.5) / 1e6
            if pooled > 0.0 else None
        )
        assert r["smd_q6"] == want, r["d"]

    # constant dimensions in both cohorts: pooled variance 0 -> NULL
    const = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [1.0, 2.0]),
         ("b", [3.0, 2.0]), ("b", [3.0, 2.0])],
        "grp_src string, vec array<double>",
    )
    cstats = embedding_dim_stats_by(const, "grp_src", "vec", 2)
    got = {r["d"]: r for r in
           smd_from_dim_stats(cstats, "a", "b").collect()}
    assert got[0]["smd_q6"] is None and got[1]["smd_q6"] is None
    # ...with REAL counts: the benign constant-dim NULL is
    # distinguishable from a misconfigured cohort
    assert got[0]["n_a"] == 2 and got[0]["n_b"] == 2

    # an ABSENT cohort signals through NULL counts on every row — a
    # monitor must treat NULL n_a/n_b as a configuration error, never
    # as "no drift"
    absent = {r["d"]: r for r in
              smd_from_dim_stats(cstats, "a", "zz").collect()}
    assert all(r["n_b"] is None and r["smd_q6"] is None
               for r in absent.values())
    assert all(r["n_a"] == 2 for r in absent.values())


def test_sparse_gram_ridge_bit_identical_to_dense(spark, sf_dir):
    """The distributed sparse-gram ridge weights must be BIT-IDENTICAL to
    weights trained by dense numpy accumulation over the same collected
    features (identical int64 gram -> identical float64 solve).

    This proof needs every row, so it lives here at test scale; the
    quality_linear_scores_wide GATE verifies margins on a bounded seeded
    sample instead (r14's in-gate full-table collect was a §5 driver
    scale-killer — VERDICT r14 item 3)."""
    import numpy as np

    from go_streaming_spark.functions.stats import (
        gram_matrix_exploded,
        ridge_fit_from_gram,
    )
    from go_streaming_spark.functions.text import hashed_bucket_entries
    from go_streaming_spark.queries_llm import _docs

    k, lam = 1024, 1.0
    docs = _docs(spark, sf_dir)
    ent = hashed_bucket_entries(docs, "doc_id", "text", k=k, seed="probe")
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    )
    joined = ent.join(lab, "id").localCheckpoint()
    w = ridge_fit_from_gram(
        gram_matrix_exploded(joined, "entries", k, "y").collect(), k, lam=lam
    )

    collected = joined.select("entries", "y").collect()
    X = np.zeros((len(collected), k), dtype=np.int64)
    yv = np.zeros(len(collected), dtype=np.int64)
    for rix, row in enumerate(collected):
        yv[rix] = row["y"]
        for e in row["entries"] or []:
            X[rix, e["i"]] = e["x"]
    # float64 BLAS dense accumulation is still EXACT here: counts are
    # non-negative, partial sums are integers bounded by the final cell,
    # and integers below 2^53 are exactly representable (guarded)
    Xf = X.astype(np.float64)
    xtx = Xf.T @ Xf
    xty = Xf.T @ yv.astype(np.float64)
    assert xtx.max() < 2.0**53 and xty.max() < 2.0**53
    w_np = np.linalg.solve(xtx + lam * np.eye(k), xty)
    assert np.array_equal(w, w_np)


def test_margin_sample_never_empty_when_rows_have_features(spark):
    """quality_linear_scores_wide's verification sample is hash bucket 3
    of 64; on an id set that misses that bucket (or whose bucket-3 rows
    have no features) it falls back to the smallest featured id, so the
    margin check never passes with nothing compared."""
    from go_streaming_spark.queries_ext import _margin_sample

    ids = spark.range(0, 200).select(
        "id", F.pmod(F.xxhash64("id"), F.lit(64)).alias("b")
    ).collect()
    in3 = [r.id for r in ids if r.b == 3]
    off3 = [r.id for r in ids if r.b != 3]
    assert in3 and len(off3) >= 3
    schema = "id long, entries array<struct<i:int,x:long>>"
    e = [(0, 2)]
    # bucket 3 empty: the smallest featured id, skipping a NULL-entries one
    missing = spark.createDataFrame(
        [(off3[0], None), (off3[2], e), (off3[1], e)], schema
    )
    assert [r["id"] for r in _margin_sample(missing)] == [off3[1]]
    # bucket 3 holds only a NULL-entries row: same fallback
    null3 = spark.createDataFrame(
        [(in3[0], None), (off3[2], e), (off3[1], e)], schema
    )
    assert [r["id"] for r in _margin_sample(null3)] == [off3[1]]
    # bucket 3 holds a featured row: the seeded sample stands
    hit = spark.createDataFrame([(in3[0], e), (off3[0], e)], schema)
    assert [r["id"] for r in _margin_sample(hit)] == [in3[0]]
