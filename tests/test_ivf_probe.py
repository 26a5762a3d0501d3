"""The driver-side IVF probe: cell ranking in Python and the one-job scan.

Every IVF variant ranks the centroid rows on the driver
(``similarity._rank_cells``) instead of running ``cosine_topk`` over
them, and the path-based ones open the vectors frame with a footer
schema instead of a schema-inference job.  These tests pin the ranking
to Spark's ``cosine_topk`` bit for bit, count the probes' Spark jobs,
and check every variant against its brute-force scorer when it probes
every cell.
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


def _job_count(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ivf_pruned_topk_runs_one_spark_job(spark, tmp_path):
    """A probe of a local save_ivf_index + append_ivf_vectors layout runs
    exactly one Spark job (the candidate scan) and equals ivf_topk, with
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
    assert jobs == 1
    want = similarity.ivf_topk(df, "id", "vec", "cell", cents, q, k=10, nprobe=2)
    assert got == [tuple(r) for r in want.collect()]


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    """The layout of test_ivf_pruned_topk_runs_one_spark_job: 120 rows in
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


def _rows(frame):
    return [tuple(r) for r in frame.collect()]


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
