"""The driver-side IVF probe: cell ranking and candidate scoring in Python.

Every IVF variant ranks the centroid rows on the driver
(``similarity._rank_cells``) instead of running ``cosine_topk`` over
them, and the path-based ones open the layout from its parquet footers
instead of a schema-inference job.  On a local root ``ivf_pruned_topk``
also scores the probed cells on the driver, so it runs no Spark job; a
non-local root keeps the partition-pruned Spark scan.  These tests pin
the driver-side scores to Spark's ``cosine_topk`` bit for bit, count the
probes' Spark jobs, and check every variant against its brute-force
scorer when it probes every cell.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from go_streaming_spark.functions import similarity

DIM = 6


def _spark_rank(spark, rows, q, schema):
    df = spark.createDataFrame(rows, schema)
    # the driver rows are what Spark holds (array<float> rounds here)
    held = [tuple(r) for r in df.collect()]
    want = [
        (r["id"], r["cos_sim"])
        for r in similarity.cosine_topk(df, "cell", "vec", q, len(rows)).collect()
    ]
    return held, want


def _table(rng, n, ints=True):
    if ints:  # small integer components make exact score ties common
        return [[float(rng.randint(-2, 2)) for _ in range(DIM)] for _ in range(n)]
    return [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(n)]


def _cases():
    rng = random.Random(5)
    out = []
    for t in range(8):
        vecs = _table(rng, 9, ints=t % 2 == 0)
        q = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
        out.append((f"random{t}", list(enumerate(vecs)), q, "cell int, vec array<double>"))
    base = _table(rng, 5, ints=False)
    tied = base + [base[1], [2.0 * x for x in base[1]], [0.0] * DIM]
    rows = list(enumerate(tied))[::-1]  # ids out of order on input
    q = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    out.append(("ties_and_zero_norm", rows, q, "cell long, vec array<double>"))
    out.append(("all_zero_query", rows, [0.0] * DIM, "cell long, vec array<double>"))
    out.append(("nan_component", rows[:3] + [(99, [float("nan")] * DIM)], q,
                "cell long, vec array<double>"))
    out.append(("float_vectors", list(enumerate(base + [base[0]])), q,
                "cell int, vec array<float>"))
    out.append(("null_cell", [(3, base[1]), (None, base[1]), (1, base[2])], q,
                "cell long, vec array<double>"))
    out.append(("string_cells", [(f"c{i:02d}", v) for i, v in enumerate(tied)][::-1], q,
                "cell string, vec array<double>"))
    # a left-to-right fold absorbs each vector's 1.0 into the 1e16 before
    # -1e16 cancels it, which leaves the score just under the q6 rounding
    # boundary 5e-7; an exact or a BLAS-ordered sum keeps the 1.0 and
    # rounds the score up to 1e-6
    cancel = [
        [1e16, 1.0, -1e16, 5773502691.897698, 5773502691.897698, 5773502691.897698],
        [5773502691.846547, 1e16, 1.0, -1e16, 5773502691.846547, 5773502691.846547],
        [5773502691.693097, 5773502691.693097, 1e16, 1.0, -1e16, 5773502691.693097],
    ]
    out.append(("catastrophic_cancellation", list(enumerate(cancel)), [1.0] * DIM,
                "cell int, vec array<double>"))
    return out


@pytest.mark.parametrize("name,rows,q,schema", _cases(), ids=[c[0] for c in _cases()])
def test_rank_cells_matches_cosine_topk(spark, name, rows, q, schema):
    """_rank_cells equals Spark's cosine_topk(centroids, k=|cells|):
    the same ids in the same order and bit-identical cos_sim, NULL
    scores (zero-norm rows, an all-zero query) last and in id order, a
    NULL cluster id first among its ties."""
    held, want = _spark_rank(spark, rows, q, schema)
    got = similarity._rank_cells(held, q)
    assert got == want
    if name == "ties_and_zero_norm":
        scores = [s for _, s in got]
        assert scores[-1] is None and len(set(scores)) < len(scores)
    if name == "all_zero_query":
        assert [s for _, s in got] == [None] * len(rows)
        assert [c for c, _ in got] == sorted(c for c, _ in rows)
    if name == "catastrophic_cancellation":
        assert [s for _, s in got] == [0.0] * len(rows)


def _job_count(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(frame):
    return [tuple(r) for r in frame.collect()]


def test_ivf_pruned_topk_runs_no_spark_job(spark, tmp_path):
    """A probe of a local save_ivf_index + append_ivf_vectors layout and
    the collect of its result run no Spark job, and it equals ivf_topk, with
    write debris in the tree that Spark skips: _SUCCESS markers, .crc
    files and an in-flight append's _temporary directory holding a
    partial part file."""
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(DIM)], i % 5) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, vec array<double>, cell int")
    cents = similarity.label_centroids(df, "cell", "vec", DIM)
    path = str(tmp_path / "ivf")
    similarity.save_ivf_index(
        df.filter(F.col("id") % 2 == 0), "id", "vec", "cell", cents, path
    )
    similarity.append_ivf_vectors(
        df.filter(F.col("id") % 2 == 1), "id", "vec", "cell", path
    )
    vectors = os.path.join(path, "vectors")
    open(os.path.join(vectors, "cell=0", "_SUCCESS"), "w").close()
    partial = os.path.join(vectors, "_temporary", "0", "cell=0")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 partial")

    q = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    got, jobs = _job_count(spark, "ivf-probe-jobs", lambda: [
        tuple(r) for r in similarity.ivf_pruned_topk(
            spark, path, "id", "vec", "cell", q, k=10, nprobe=2
        ).collect()
    ])
    assert jobs == 0
    want = similarity.ivf_topk(df, "id", "vec", "cell", cents, q, k=10, nprobe=2)
    assert got == [tuple(r) for r in want.collect()]


def _layout_cases():
    """Each _cases() table as IVF rows ``(id, vec, cluster)`` over three
    int cells, its cell ids becoming row ids, plus inputs only the local
    probe reads from files: a NULL vector and a NULL component, a vector
    longer than the query, string cells that Spark escapes in directory
    names and a NULL cell, and a probed cell with no vectors.  Returns
    (name, rows, query, schema, cells)."""
    out = [
        (name, [(cid, vec, i % 3) for i, (cid, vec) in enumerate(rows)], q,
         schema.replace("cell ", "id ", 1) + ", cluster int", [0, 1, 2])
        for name, rows, q, schema in _cases()
    ]
    rng = random.Random(9)
    vecs = _table(rng, 6, ints=False)
    q = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    schema = "id long, vec array<double>, cluster int"
    out.append(("null_vector_and_component",
                [(0, vecs[0], 0), (1, None, 1), (2, vecs[2][:2] + [None] + vecs[2][3:], 1),
                 (3, vecs[3], 2)], q, schema, [0, 1, 2]))
    out.append(("longer_vector",
                [(i, v + [9.0, -9.0] if i % 2 else v, i % 3) for i, v in enumerate(vecs)],
                q, schema, [0, 1, 2]))
    cells = ["a/b", "x=y", "50%", "%2F", None]
    out.append(("escaped_string_cells",
                [(i, v, cells[i % 5]) for i, v in enumerate(vecs)], q,
                "id long, vec array<double>, cluster string", cells))
    out.append(("cell_without_vectors",
                [(i, v, i % 2) for i, v in enumerate(vecs)], q, schema, [0, 1, 7]))
    return out


def _save_layout(spark, path, rows, schema, cells):
    df = spark.createDataFrame(rows, schema)
    rng = random.Random(3)
    cents = spark.createDataFrame(
        [(c, [rng.gauss(0.0, 1.0) for _ in range(DIM)]) for c in cells],
        f"cluster {schema.rsplit(' ', 1)[1]}, vec array<double>",
    )
    similarity.save_ivf_index(df, "id", "vec", "cluster", cents, path)
    return df, cents


@pytest.mark.parametrize(
    "name,rows,q,schema,cells", _layout_cases(), ids=[c[0] for c in _layout_cases()]
)
def test_local_probe_matches_cosine_topk(spark, tmp_path, name, rows, q, schema, cells):
    """ivf_pruned_topk at nprobe=|cells| on a local layout runs no Spark
    job and equals Spark's cosine_topk over the same rows: the same ids
    in the same order, bit-identical cos_sim, the same id type.  So does
    ivf_topk's Spark scan, whose NULL cell matches the NULL-cluster rows."""
    df, cents = _save_layout(spark, str(tmp_path / "ivf"), rows, schema, cells)

    def probe():
        out = similarity.ivf_pruned_topk(
            spark, str(tmp_path / "ivf"), "id", "vec", "cluster", q,
            k=len(rows), nprobe=len(cells),
        )
        return out.schema, _rows(out)

    (got_schema, got), jobs = _job_count(spark, f"local-probe-{name}", probe)
    want = similarity.cosine_topk(df, "id", "vec", q, k=len(rows))
    assert jobs == 0
    assert got_schema == want.schema
    assert got == _rows(want)
    assert _rows(similarity.ivf_topk(
        df, "id", "vec", "cluster", cents, q, k=len(rows), nprobe=len(cells)
    )) == got


def test_local_probe_short_vector_raises(spark, tmp_path):
    """A vector shorter than the query fails the probe, as Spark's
    cosine_topk fails with INVALID_ARRAY_INDEX."""
    rows = [(0, [1.0] * DIM, 0), (1, [1.0] * (DIM - 1), 1)]
    df, _ = _save_layout(spark, str(tmp_path / "ivf"), rows,
                         "id long, vec array<double>, cluster int", [0, 1])
    q = [1.0] * DIM
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        similarity.cosine_topk(df, "id", "vec", q).collect()
    with pytest.raises(IndexError, match="INVALID_ARRAY_INDEX"):
        similarity.ivf_pruned_topk(
            spark, str(tmp_path / "ivf"), "id", "vec", "cluster", q, nprobe=2
        )


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    """The layout of test_ivf_pruned_topk_runs_no_spark_job: 120 rows in
    5 cells, half saved and half appended, with write debris, plus a
    serving manifest publishing it.  Returns (df, centroids, path,
    manifest root, query)."""
    tmp = tmp_path_factory.mktemp("ivf_layout")
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(DIM)], i % 5) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, vec array<double>, cell int")
    cents = similarity.label_centroids(df, "cell", "vec", DIM)
    path = str(tmp / "ivf")
    similarity.save_ivf_index(
        df.filter(F.col("id") % 2 == 0), "id", "vec", "cell", cents, path
    )
    similarity.append_ivf_vectors(
        df.filter(F.col("id") % 2 == 1), "id", "vec", "cell", path
    )
    vectors = os.path.join(path, "vectors")
    open(os.path.join(vectors, "cell=0", "_SUCCESS"), "w").close()
    partial = os.path.join(vectors, "_temporary", "0", "cell=0")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 partial")
    root = str(tmp / "serving")
    similarity.publish_ivf_epoch(spark, root, path, 0)
    return df, cents, path, root, [rng.gauss(0.0, 1.0) for _ in range(DIM)]


def test_ivf_filtered_topk_runs_one_spark_job(spark, layout):
    """A filtered probe whose predicate does not escalate runs one Spark
    job, its scan: the merged rows come back as an Arrow-backed frame,
    so collecting the result runs none.  It equals the unfiltered probe."""
    _, _, path, _, q = layout
    got, jobs = _job_count(spark, "ivf-filtered-jobs", lambda: _rows(
        similarity.ivf_filtered_topk(
            spark, path, "id", "vec", "cell", q, F.col("id") >= 0, k=10, nprobe=2
        )
    ))
    assert jobs == 1
    assert got == _rows(similarity.ivf_pruned_topk(
        spark, path, "id", "vec", "cell", q, k=10, nprobe=2
    ))


@pytest.mark.parametrize("nprobe", [5, 9])
def test_full_probe_equals_brute_force(spark, layout, nprobe):
    """With nprobe >= |cells| every IVF variant scores the whole corpus,
    so each equals its brute-force scorer: a reference that does not go
    through _rank_cells."""
    df, cents, path, root, q = layout
    args = ("id", "vec", "cell")
    exact = _rows(similarity.cosine_topk(df, "id", "vec", q, k=25))
    assert len(exact) == 25
    assert _rows(similarity.ivf_topk(df, *args, cents, q, k=25, nprobe=nprobe)) == exact
    assert _rows(similarity.ivf_pruned_topk(
        spark, path, *args, q, k=25, nprobe=nprobe)) == exact
    assert _rows(similarity.ivf_manifest_topk(
        spark, root, *args, q, k=25, nprobe=nprobe)) == exact
    assert _rows(similarity.ivf_filtered_topk(
        spark, path, *args, q, F.lit(True), k=25, nprobe=nprobe)) == exact
    assert _rows(similarity.ivf_quantized_topk(
        df, *args, cents, q, k=25, nprobe=nprobe)) == _rows(
        similarity.quantized_cosine_topk(df, "id", "vec", q, k=25))


def test_negative_nprobe_raises(spark, layout):
    df, cents, path, _, q = layout
    args = ("id", "vec", "cell")
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_topk(df, *args, cents, q, nprobe=-1)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_quantized_topk(df, *args, cents, q, nprobe=-1)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_pruned_topk(spark, path, *args, q, nprobe=-1)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_filtered_topk(
            spark, path, *args, q, F.lit(True), nprobe=-1
        )
