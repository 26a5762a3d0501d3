"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k: one scan, per-partition
  partial top-k, single merge (TakeOrdered) — the correctness baseline and
  surprisingly competitive when k is small and the scan is the bottleneck.
- :func:`lsh_bucket_sql` / :func:`ann_lsh_topk` — random-hyperplane LSH: H
  deterministic pseudo-hyperplanes → sign-bit bucket key.  Search touches
  only the query's bucket (plus optional 1-bit multiprobe neighbors), so
  the scan cost drops by ~2^H while recall stays high for near-duplicate
  regimes.  At 100 TB the bucket key is also the partition key: writing
  the corpus bucketed by it makes ANN a partition-pruned scan.
- :func:`ivf_topk` — inverted-file variant: coarse centroids (any
  deterministic assignment; a cluster/label column works), probe the
  ``nprobe`` nearest centroids.
- :func:`save_ivf_index` / :func:`ivf_pruned_topk` and its manifest,
  filtered and audit siblings — the same index persisted as one
  partition directory per cell, opened by :func:`_ivf_layout`
  (centroid rows read on the driver) and :func:`_vectors_frame` (the
  vectors frame built from a footer schema).
  On a local root :func:`ivf_pruned_topk` runs no Spark job: it reads
  the probed cells' files with pyarrow and ranks them on the driver
  (:func:`_local_topk`).  A non-local root keeps the Spark scan, where
  the cell filter prunes partitions (:func:`_ivf_scan_topk`).

Every IVF variant picks its cells the same way: the centroid rows are
ranked in Python with ``cosine_topk``'s exact arithmetic
(:func:`_rank_cells`) and the candidates are the rows whose cluster is
in the ``nprobe`` best (:func:`_probe_cells`, :func:`_cell_dirs`).

Corpus-side vector math is native Column expressions (unrolled
left-to-right sums — deterministic order, JVM codegen); the few
Python-side twins (:func:`_q6_cosines`, :func:`quantize_vec`) repeat
the same double ops, so driver and engine agree bit for bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def dot_expr_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled to ``dim`` explicit multiply-adds.

    The higher-order ``aggregate``/``zip_with`` fold is evaluated
    interpreted (one lambda dispatch per element per row); the unrolled
    expression whole-stage-codegens into straight-line arithmetic — ~10×
    faster in all-pairs scoring where it runs per *pair*.  Summation is the
    same left-to-right order as the fold, so results are bit-identical.
    """
    terms = [F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def norm_expr_unrolled(a: Column, dim: int) -> Column:
    terms = [F.element_at(a, i + 1) * F.element_at(a, i + 1) for i in range(dim)]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return F.sqrt(acc)


def _query_norm(q: list[float]) -> float:
    """The query norm :func:`cosine_topk` embeds as a literal: a
    left-to-right double sum of squares, then ``sqrt``."""
    qs = 0.0
    for x in q:
        qs += x * x
    return math.sqrt(qs)


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector.

    Ordering is (q6(cos) DESC, id ASC) — fully deterministic across
    engines/partitionings.  Plans as TakeOrderedAndProject: no global sort.
    """
    # Unrolled codegen'd dot/norm, built as ONE SQL string: the interpreted
    # fold costs a lambda dispatch per element per row (14.4 s for a
    # 200k×64 scan), and composing 64 terms Column-by-Column costs ~5 s of
    # driver py4j time per query build.  `xD` literals pin doubles; the
    # query norm is a Python-computed double literal (same IEEE ops, same
    # left-to-right order → bit-identical to the JVM fold).  Summation
    # order is unchanged, so values match the fold exactly.
    dim = len(query_vec)
    q = [float(x) for x in query_vec]
    qn = _query_norm(q)
    dot = " + ".join(f"(_v[{i}] * {q[i]!r}D)" for i in range(dim))
    vnorm = " + ".join(f"(_v[{i}] * _v[{i}])" for i in range(dim))
    # try_divide: zero-norm corpus rows get NULL (sorted last by desc),
    # instead of an ANSI DIVIDE_BY_ZERO failure killing the whole scan
    cos = F.expr(f"floor(try_divide(({dot}), sqrt({vnorm}) * {qn!r}D)*1e6 + 0.5)/1e6")
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .select("id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


def plane_component(seed: int, p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5(seed|plane|dim) → 32-bit int → scaled.  Engine-portable, and pure
    metadata — computed driver-side, never per row."""
    import hashlib

    raw = int(hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()[:8], 16)
    return raw / 2_147_483_648.0 - 1.0


def jl_sign(seed: str, j: int, d: int) -> int:
    """Deterministic ±1 from md5(seed|j|d) parity — the Achlioptas sign
    matrix for Johnson-Lindenstrauss projection (public construction;
    same determinism convention as the LSH plane matrix)."""
    import hashlib

    h = hashlib.md5(f"{seed}|{j}|{d}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def random_projection_sql(
    vec_sql: str, dim: int, out_dim: int, seed: str = "jl",
    one_based: bool = False,
) -> list[str]:
    """Per-output-dimension SQL chains for the ±1 JL projection: each is
    an explicit ``v[a] - v[b] + v[c] …`` sum whose left-to-right order is
    the sequential fold BOTH engines evaluate identically — projections
    are exact (no division, no rounding), so the oracle check is
    bit-exact on the raw doubles.  ``one_based`` selects DuckDB's array
    indexing; Spark SQL indexes from 0."""
    chains = []
    for j in range(out_dim):
        parts = []
        for d in range(dim):
            idx = d + 1 if one_based else d
            sign = jl_sign(seed, j, d)
            term = f"{vec_sql}[{idx}]"
            if not parts:
                parts.append(term if sign > 0 else f"(- {term})")
            else:
                parts.append(f"{'+' if sign > 0 else '-'} {term}")
        chains.append("(" + " ".join(parts) + ")")
    return chains


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int = 16,
    dim: int = 64,
    seed: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by a deterministic
    ±1 sign matrix: (id, p0..p{out_dim-1}) with each output component an
    exact signed sum of input components.

    The embedding-pipeline pre-step for ANN and clustering at scale:
    a 4× dimension cut is a 4× cut in shuffle bytes, index size, and
    per-pair score cost everywhere downstream (LSH, IVF, PQ, the blocked
    matmuls), while JL guarantees pairwise distances distort by at most
    ~ε with out_dim = O(log n / ε²) — and the ±1 construction needs no
    stored matrix at all, only the seed.  Map-only: the projection is
    ``out_dim`` codegen'd arithmetic chains per row; no shuffle, no UDF,
    no multiplications even (signs fold into add/subtract).
    """
    from go_streaming_spark.functions.util import spread

    v = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    chains = random_projection_sql("_v", dim, out_dim, seed, one_based=False)
    return v.select(
        "id", *[F.expr(c).alias(f"p{j}") for j, c in enumerate(chains)]
    )


def jl_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    candidates: int = 50,
    out_dim: int = 16,
    dim: int = 64,
    seed: str = "jl",
) -> DataFrame:
    """ANN through JL projection: candidate generation scores the
    ``out_dim``-dimensional projections (4× fewer multiply-adds per row
    at the default), then the ``candidates`` survivors rescore EXACTLY in
    the original space — the two-stage serving shape of
    ``ivf_quantized_topk``, with dimension reduction instead of cell
    pruning as the cheap stage.  Both stages order by (q6(cos) DESC, id)
    so the candidate cut and the final top-k are deterministic; stage 2
    joins the candidate ids back as a broadcast semi-join (``candidates``
    rows, bounded by construction).
    """
    proj = random_projection(df, id_col, vec_col, out_dim, dim, seed)
    pv = proj.select(
        "id", F.array(*[f"p{j}" for j in range(out_dim)]).alias("pvec")
    )
    # query projection: the same sequential signed sums, in Python floats
    # (identical IEEE ops/order → bit-identical to the SQL chains)
    qp = []
    for j in range(out_dim):
        s = 0.0
        first = True
        for d in range(dim):
            term = float(query_vec[d])
            if jl_sign(seed, j, d) < 0:
                term = -term
            s = term if first else s + term
            first = False
        qp.append(s)
    cand = cosine_topk(pv, "id", "pvec", qp, candidates).select(
        F.col("id").alias("_cid")
    )
    sub = df.join(
        F.broadcast(cand), F.col(id_col) == F.col("_cid")
    ).drop("_cid")
    return cosine_topk(sub, id_col, vec_col, query_vec, k)


def lsh_bucket_sql(
    vec_sql: str, dim: int, n_planes: int = 12, seed: int = 42
) -> str:
    """SQL expression string for the LSH bucket id over a double-array
    referenced by ``vec_sql`` (e.g. an aliased ``_v`` column).

    One string for the whole bucket: building n_planes×dim Column objects
    through py4j costs seconds of driver time per call; the parsed string
    produces the identical plan.  ``!r``-repr'd components with a ``D``
    suffix round-trip the exact double, and the left-to-right sum matches
    :func:`dot_expr_unrolled` bit-for-bit.
    """
    parts = []
    for p in range(n_planes):
        dot = " + ".join(
            f"({vec_sql}[{d}] * {plane_component(seed, p, d)!r}D)"
            for d in range(dim)
        )
        parts.append(f"(CASE WHEN ({dot}) >= 0D THEN {1 << p}L ELSE 0L END)")
    return " + ".join(parts)


def build_lsh_index(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """One-time LSH index: the corpus with its ``_bucket`` column, as a
    lazy frame.

    Bucket computation is the expensive half of an LSH query (n_planes
    dot products per row) — amortize it: build once, query many times.
    Caching is the caller's job (``.cache()`` it for a query loop, as
    ``dedup.MinHashIndex`` documents); at 100 TB, WRITE the result
    partitioned by ``_bucket`` (:func:`save_lsh_index`) instead, and every
    query becomes a partition-pruned scan.
    """
    return (
        df.withColumn("_v", F.col(vec_col).cast("array<double>"))
        .withColumn("_bucket", F.expr(lsh_bucket_sql("_v", dim, n_planes, seed)))
        .drop("_v")
    )


def save_lsh_index(index: DataFrame, path: str, n_planes: int, seed: int) -> None:
    """Persist a :func:`build_lsh_index` result as the production ANN
    artifact: parquet PARTITIONED BY ``_bucket``, so a query's candidate
    scan prunes to its probe buckets at the FILE level (partition pruning
    — no full-index read), plus a 1-row params table pinning
    (n_planes, seed) so a later load can't silently mix bucket spaces.

    At 100 TB this is the difference between "ANN query = read the
    corpus" and "ANN query = read ~2^-n_planes of it per probe"."""
    index.write.mode("overwrite").partitionBy("_bucket").parquet(f"{path}/index")
    index.sparkSession.createDataFrame(
        [(int(n_planes), int(seed))], "n_planes int, seed int"
    ).write.mode("overwrite").parquet(f"{path}/params")


def load_lsh_index(spark, path: str) -> tuple[DataFrame, int, int]:
    """Load an index written by :func:`save_lsh_index` →
    (index, n_planes, seed).  Filters on ``_bucket`` against the loaded
    frame reach the partition column and prune files."""
    p = spark.read.parquet(f"{path}/params").head()
    return (
        spark.read.parquet(f"{path}/index"),
        int(p.n_planes),
        int(p.seed),
    )


def query_probes(
    query_vec: list[float],
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: bool = True,
) -> list[int]:
    """Bucket ids an LSH query must touch: its own bucket + (with
    multiprobe) the 1-bit-flip neighbors.  Driver-side arithmetic."""
    dim = len(query_vec)
    qbucket = 0
    for p in range(n_planes):
        s = sum(query_vec[d] * plane_component(seed, p, d) for d in range(dim))
        qbucket |= (1 if s >= 0 else 0) << p
    return [qbucket] + (
        [qbucket ^ (1 << p) for p in range(n_planes)] if multiprobe else []
    )


def lsh_query(
    index: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Top-k against a prebuilt :func:`build_lsh_index` — scores only the
    probed buckets (~(1+H)/2^H of the corpus)."""
    probes = query_probes(query_vec, n_planes, seed, multiprobe)
    return cosine_topk(
        index.filter(F.col("_bucket").isin(probes)), id_col, vec_col, query_vec, k
    )


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only rows whose LSH bucket matches the
    query's bucket (or differs in one bit, with ``multiprobe``).

    Pick ``n_planes ≈ log2(corpus_size / target_candidates)``: candidates
    scale as n·(1+H)/2^H.  Recall depends on how concentrated true
    neighbors are — LSH shines in near-duplicate regimes; for diffuse
    similarity use more probes or the IVF variant.

    Scale path: precompute/bucket-partition the bucket at write time
    (:func:`build_lsh_index` + :func:`save_lsh_index`) and
    this becomes a partition-pruned scan of ~(1+H)/2^H of the corpus.
    """
    dim = len(query_vec)
    index = build_lsh_index(df, vec_col, dim, n_planes, seed)
    return lsh_query(
        index, id_col, vec_col, query_vec, k, n_planes, seed, multiprobe
    )


def label_centroids(
    df: DataFrame,
    cluster_col: str,
    vec_col: str,
    dim: int,
    round_to: int = 6,
) -> DataFrame:
    """Per-cluster mean vectors → (cluster_col, vec).

    Elementwise means as ``dim`` wide aggregate columns of one
    ``groupBy(cluster)`` — no posexplode (which would shuffle dim× the
    rows).  Components are floor-quantized so centroid-based probe
    selection is deterministic across engines (float summation order
    differs; ``round(double,k)`` diverges on representation ties).  The
    quantizer is built as ONE parsed SQL string per column — composing
    it Column-by-Column costs ~6 py4j round-trips × dim of driver time
    per query build (measured: +0.3 s at dim=64)."""
    scale = float(10 ** round_to)
    aggs = [
        F.expr(
            f"floor(avg(CAST(`{vec_col}`[{i}] AS DOUBLE)) * {scale!r}D + 0.5D)"
            f" / {scale!r}D"
        ).alias(f"_c{i}")
        for i in range(dim)
    ]
    return df.groupBy(cluster_col).agg(*aggs).select(
        F.col(cluster_col),
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("vec"),
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: probe the ``nprobe`` centroids nearest to the query,
    then exact top-k within their clusters only.

    ``centroids``: (cluster, vec) — e.g. per-label means computed offline.
    Its |clusters| rows are collected and ranked on the driver
    (:func:`_probe_cells`); the candidate filter is ``cluster IN (the
    nprobe cells)``.  At scale the corpus is written partitioned by
    cluster (:func:`save_ivf_index`) so the same filter prunes partitions.
    """
    return _ivf_scan_topk(
        df, id_col, vec_col, cluster_col, _cell_rows(centroids, cluster_col),
        query_vec, k, nprobe,
    )


def save_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    centroids: DataFrame,
    path: str,
) -> None:
    """Persist an IVF index: vectors written ``partitionBy(cluster)``
    (one directory per inverted list) + the small (cluster, vec)
    centroid table — the production layout that makes :func:`ivf_topk`'s
    "at scale the corpus is written partitioned by cluster" claim
    executable: a probe becomes a PARTITION-PRUNED scan of ``nprobe``
    inverted lists (``PartitionFilters`` in the plan), the untouched
    clusters' files are never listed, opened, or read.  Build once per
    corpus snapshot; append new vectors by writing additional files into
    their cluster partitions.

    The frame is repartitioned ON the cluster column before the write:
    without it every input partition spills a file into every cluster
    directory (tasks × clusters small files — at corpus scale the file
    count, not the bytes, becomes the scan/list bottleneck, and locally
    it made the snapshot write the dominant, high-variance cost of the
    audit/probe gates); clustered, each task owns whole clusters and
    writes one file per cluster it holds."""
    from go_streaming_spark.functions.util import run_concurrent

    # vectors and centroids share no dependency — overlap the two write
    # jobs (guide §2.6)
    run_concurrent(df.sparkSession, [
        lambda: df.select(
            F.col(id_col), F.col(vec_col), F.col(cluster_col)
        ).repartition(F.col(cluster_col)).write.mode("overwrite").partitionBy(
            cluster_col
        ).parquet(f"{path}/vectors"),
        lambda: centroids.write.mode("overwrite")
        .parquet(f"{path}/centroids"),
    ])


def append_ivf_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    path: str,
) -> None:
    """Append a batch of vectors to a :func:`save_ivf_index` layout —
    the ingest side of the production ANN loop: each new vector's file
    lands INSIDE its cluster partition directory (``mode("append")`` +
    ``partitionBy``), so queries keep pruning to their probed lists and
    the centroids stay untouched (IVF assigns new vectors to existing
    cells; re-train centroids per snapshot rebuild, not per batch).
    Batch cost ∝ batch size — the corpus is never rewritten.  Batches
    are clustered before the write for the same file-count reason as
    :func:`save_ivf_index` (tasks × clusters small files per append
    compound fastest of all)."""
    df.select(
        F.col(id_col), F.col(vec_col), F.col(cluster_col)
    ).repartition(F.col(cluster_col)).write.mode("append").partitionBy(
        cluster_col
    ).parquet(f"{path}/vectors")


def _data_files(root: str):
    """Every file Spark would read under a local table root, in sorted
    walk order.  Names starting with ``.`` or ``_`` are skipped as
    Spark skips them (``_SUCCESS``, ``_temporary`` from an in-flight
    write, ``.crc`` checksums); ``_``-names holding ``=`` are partition
    directories and stay."""
    import os

    def visible(name: str) -> bool:
        return not (
            name.startswith(".") or (name.startswith("_") and "=" not in name)
        )

    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if visible(x))
        for f in sorted(files):
            if visible(f):
                yield os.path.join(d, f)


def _spark_schema(meta):
    """The ``StructType`` Spark stored in a parquet footer
    (``pyarrow`` ``FileMetaData``); ``None`` for a file another writer
    made."""
    import json

    from pyspark.sql.types import StructType

    js = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(js)) if js else None


def _cell_rows(centroids: DataFrame, cluster_col: str) -> list:
    """The ``(cluster, vec)`` rows of a centroid frame, collected to the
    driver: |clusters| rows by construction."""
    return [tuple(r) for r in centroids.select(cluster_col, "vec").collect()]


def _ivf_layout(spark, path: str, cluster_col: str):
    """(centroid rows, cluster type) of a :func:`save_ivf_index`
    layout, read without a Spark job on a local root.

    One walk of ``centroids/`` reads each file's ``(cluster, vec)``
    rows with pyarrow, and the first Spark footer among them gives the
    cluster column's Spark type.  The type is ``None`` on a non-local
    root, whose centroids are read through Spark (:func:`_cell_rows`),
    and for files another writer made."""
    import pyarrow.parquet as pq

    from go_streaming_spark.functions.util import _local_fs_path

    local = _local_fs_path(path)
    files = [] if local is None else list(_data_files(f"{local}/centroids"))
    if not files:
        cents = spark.read.parquet(f"{path}/centroids")
        return _cell_rows(cents, cluster_col), None
    rows, cents = [], None
    for f in files:
        with pq.ParquetFile(f) as pf:
            t = pf.read(columns=[cluster_col, "vec"])
            if cents is None:
                cents = _spark_schema(pf.metadata)
        rows += zip(t[cluster_col].to_pylist(), t["vec"].to_pylist())
    return rows, None if cents is None else cents[cluster_col].dataType


def _vectors_schema(files, cluster_col: str, ctype):
    """The schema Spark stored in the footer of the first of ``files``
    (vectors data files) plus the partition column with type
    ``ctype``; ``None`` without such a footer."""
    import pyarrow.parquet as pq

    first = next(iter(files), None)
    schema = None if first is None else _spark_schema(pq.read_metadata(first))
    if schema is not None:
        schema.add(cluster_col, ctype)
    return schema


def _vectors_frame(spark, path: str, cluster_col: str, ctype) -> DataFrame:
    """The vectors of a :func:`save_ivf_index` layout as a Spark frame:
    ``spark.read.schema(S)`` with ``S`` from :func:`_vectors_schema`, so
    no schema-inference job runs.  Without a cluster type
    (:func:`_ivf_layout`) or a vectors footer, Spark infers the schema."""
    from go_streaming_spark.functions.util import _local_fs_path

    schema = None if ctype is None else _vectors_schema(
        _data_files(f"{_local_fs_path(path)}/vectors"), cluster_col, ctype
    )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{path}/vectors")


def _open_ivf(spark, path: str, cluster_col: str):
    """(centroid rows, vectors frame) of a :func:`save_ivf_index`
    layout; see :func:`_ivf_layout` and :func:`_vectors_frame`."""
    rows, ctype = _ivf_layout(spark, path, cluster_col)
    return rows, _vectors_frame(spark, path, cluster_col, ctype)


def _rank_key(cid, score):
    """:func:`cosine_topk`'s order as a sort key: score descending with
    NULLs last, then id ascending (NULL ids first, as Spark sorts)."""
    return (score is None, 0.0 if score is None else -score, cid is not None, cid)


def _q6_cosines(vecs, q: list[float]):
    """:func:`cosine_topk`'s ``cos_sim`` for every vector of an Arrow
    list array, as a float64 numpy array with NaN for a NULL score.

    The double ops are Spark's, vectorized across rows: ``dot`` and
    ``vnorm`` fold over the first ``len(q)`` components left to right,
    then ``sqrt(vnorm) * qn`` and ``floor(x*1e6 + 0.5)/1e6``, whose
    ``floor`` returns a long (Java's ``(long)`` cast turns NaN into 0
    and saturates at ±2^63).  The score is NULL for a NULL vector, a
    NULL component or a zero denominator, so a NaN quotient, which
    rounds to 0.0, never collides with the NULL marker.  A vector
    shorter than the query raises ``IndexError``, as Spark's
    ``INVALID_ARRAY_INDEX`` does."""
    import numpy as np

    dim = len(q)
    lens = vecs.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    rows = np.flatnonzero(vecs.is_valid().to_numpy(zero_copy_only=False))
    short = rows[lens[rows] < dim]
    if short.size:
        n = int(lens[short[0]])
        raise IndexError(
            f"[INVALID_ARRAY_INDEX] The index {n} is out of bounds. "
            f"The array has {n} elements."
        )
    flat = vecs.flatten()
    at = (np.cumsum(lens) - lens)[rows][:, None] + np.arange(dim)
    vals = flat.fill_null(0.0).to_numpy(zero_copy_only=False)
    x = vals.astype(np.float64, copy=False)[at].T
    dot, vnorm = x[0] * q[0], x[0] * x[0]
    for i in range(1, dim):
        dot = dot + x[i] * q[i]
        vnorm = vnorm + x[i] * x[i]
    with np.errstate(all="ignore"):
        den = np.sqrt(vnorm) * _query_norm(q)
        y = np.floor((dot / den) * 1e6 + 0.5)
    y = np.where(y != y, 0.0, np.clip(y, -(2.0**63), 2.0**63)) / 1e6
    null = flat.is_null().to_numpy(zero_copy_only=False)[at].any(axis=1)
    y[null | (den == 0.0)] = np.nan
    out = np.full(len(vecs), np.nan)
    out[rows] = y
    return out


def _ranked(pairs) -> list:
    """``(id, cos_sim)`` pairs in :func:`cosine_topk`'s order."""
    return sorted(pairs, key=lambda r: _rank_key(*r))


def _scored(ids: list, scores) -> list:
    """``(id, cos_sim)`` pairs from :func:`_q6_cosines` scores, with
    NaN as NULL."""
    return list(zip(ids, [None if s != s else s for s in scores.tolist()]))


def _rank_cells(rows, query_vec: list[float]) -> list:
    """:func:`cosine_topk` of the centroid rows with ``k=len(rows)``, on
    the driver: every ``(cluster, vec)`` row as ``(cluster, cos_sim)``, in
    :func:`cosine_topk`'s order with its exact arithmetic."""
    import pyarrow as pa

    vecs = pa.array([v for _, v in rows], pa.list_(pa.float64()))
    q = [float(x) for x in query_vec]
    return _ranked(_scored([c for c, _ in rows], _q6_cosines(vecs, q)))


def _check_nprobe(nprobe: int) -> None:
    if nprobe < 0:
        raise ValueError(f"nprobe must be >= 0, got {nprobe}")


def _in_cells(cluster_col: str, cells) -> Column:
    """``cluster IN (cells)``; a NULL cell also matches the NULL
    cluster's rows, which ``IN`` alone never does."""
    cond = F.col(cluster_col).isin([c for c in cells if c is not None])
    return cond | F.col(cluster_col).isNull() if None in cells else cond


def _probe_cells(df: DataFrame, cluster_col: str, rows, query_vec: list[float],
                 nprobe: int) -> DataFrame:
    """``df`` restricted to the ``nprobe`` cells nearest the query: the
    centroid ``rows`` are ranked with :func:`_rank_cells` and the filter
    is :func:`_in_cells`, which a ``partitionBy(cluster)`` layout turns
    into partition pruning."""
    _check_nprobe(nprobe)
    cells = [c for c, _ in _rank_cells(rows, query_vec)[:nprobe]]
    return df.filter(_in_cells(cluster_col, cells))


def _ivf_scan_topk(vecs: DataFrame, id_col: str, vec_col: str,
                   cluster_col: str, rows, query_vec: list[float], k: int,
                   nprobe: int) -> DataFrame:
    """The Spark probe: :func:`cosine_topk` over the rows of ``vecs`` in
    the ``nprobe`` cells nearest the query (:func:`_probe_cells`)."""
    cand = _probe_cells(vecs, cluster_col, rows, query_vec, nprobe)
    return cosine_topk(cand, id_col, vec_col, query_vec, k)


# how Spark reads a partition directory's value back into the cluster
# column's type (keyed by ``DataType.typeName()``); a local probe of a
# layout clustered on another type falls back to the Spark scan
_PARTITION_PARSERS = {
    "string": str, "byte": int, "short": int, "integer": int, "long": int,
    "double": float,
}


def _unescape_path_name(name: str) -> str:
    """Undo Spark's partition path escaping (``/`` → ``%2F``, ...)."""
    import re

    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), name)


def _cell_dirs(vectors: str, cluster_col: str, parse, cells) -> list[str]:
    """The partition directories under ``vectors`` that hold the given
    cells.  Each ``cluster=value`` name is read as Spark reads it:
    escapes decoded, ``__HIVE_DEFAULT_PARTITION__`` as NULL, the rest
    parsed into the cluster type.  A cell with no directory has no
    rows."""
    import os

    want = set(cells)
    out = []
    for name in sorted(os.listdir(vectors)):
        key, eq, raw = name.partition("=")
        if not eq or _unescape_path_name(key) != cluster_col:
            continue
        value = (
            None if raw == "__HIVE_DEFAULT_PARTITION__"
            else parse(_unescape_path_name(raw))
        )
        if value in want:
            out.append(os.path.join(vectors, name))
    return out


def _local_topk(files, id_col: str, vec_col: str, q: list[float],
                k: int) -> list:
    """:func:`cosine_topk` over parquet data files, on the driver: the
    files are read one record batch at a time with pyarrow, and only a
    running top-k of ``(id, cos_sim)`` pairs is kept between batches."""
    import numpy as np
    import pyarrow.parquet as pq

    best: list = []
    for f in files:
        with pq.ParquetFile(f) as pf:
            for batch in pf.iter_batches(columns=[id_col, vec_col]):
                s = _q6_cosines(batch.column(vec_col), q)
                keep = np.flatnonzero(s == s)
                if 0 < k <= keep.size:
                    # rows below the batch's k-th best score cannot
                    # enter; rows tied with it can, on the id
                    kth = np.partition(s[keep], keep.size - k)[keep.size - k]
                    keep = keep[s[keep] >= kth]
                else:
                    keep = np.arange(len(s))
                ids = batch.column(id_col).take(keep).to_pylist()
                best = _ranked(best + _scored(ids, s[keep]))[:k]
    return best


def _topk_frame(spark, best: list, id_type) -> DataFrame:
    """``(id, cos_sim)`` pairs as a frame with :func:`cosine_topk`'s
    columns, built from an Arrow table, so collecting it runs no Spark
    job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType([
        StructField("id", id_type), StructField("cos_sim", DoubleType()),
    ])
    table = pa.Table.from_pylist(
        [{"id": i, "cos_sim": s} for i, s in best], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


# Rebuild threshold for ivf_needs_rebuild: a cell holding >4× the mean
# means a probe that lands there scans ~4× its share of the corpus —
# pruning still works, but the tail-latency guarantee (per-query cost ∝
# nprobe/|clusters|) has degraded enough to re-train centroids at the
# next snapshot.  Tune per workload; 4 is the conventional "one cell
# owns a whole reducer's worth" skew bar (cf. operators.skew).
DEFAULT_IVF_REBUILD_RATIO = 4.0


def ivf_cell_stats(spark, path: str, cluster_col: str = "label") -> DataFrame:
    """Inverted-list health audit for a :func:`save_ivf_index` layout —
    the ``key_skew_stats`` pattern over the index's partition column:
    one row per cluster with its row count, corpus share, and ratio to
    the mean cell size.  :func:`append_ivf_vectors` NEVER re-clusters
    (new vectors land in existing cells), so a drifting ingest stream
    concentrates into few cells and probe cost quietly grows; run this
    per ingest cadence and rebuild (re-train centroids + rewrite) when
    :func:`ivf_needs_rebuild` flips.

    Cost: one map-side-combined count over the cluster column only —
    the scan projects zero vector bytes (the cluster value comes from
    the partition directory name; per-file row counts come from parquet
    footers), so the audit is metadata-cheap even at corpus scale.  The
    frame comes from :func:`_open_ivf`, so no schema-inference job
    runs first; ``cluster`` has the centroid table's cluster type.
    """
    from go_streaming_spark.operators.skew import key_skew_stats

    return key_skew_stats(
        _open_ivf(spark, path, cluster_col)[1], cluster_col,
        top=None, with_ratio=True,
    ).withColumnRenamed("key", "cluster")


def ivf_needs_rebuild(
    spark,
    path: str,
    cluster_col: str = "label",
    max_ratio: float = DEFAULT_IVF_REBUILD_RATIO,
) -> bool:
    """True when any inverted list holds more than ``max_ratio``× the
    mean cell size — the documented signal for the ingest loop to
    re-train centroids and rewrite the index at the next snapshot
    (until then queries stay correct, just less pruned)."""
    worst = (
        ivf_cell_stats(spark, path, cluster_col)
        .agg(F.max("ratio_to_mean").alias("r"))
        .head()
    )
    return worst is not None and worst["r"] is not None and worst["r"] > max_ratio


def rebuild_ivf_index(
    spark,
    path: str,
    out_path: str,
    id_col: str,
    vec_col: str,
    cluster_col: str = "label",
    k: int = 8,
    iters: int = 3,
    anchor_mod: int = 17,
    anchor_rem: int = 3,
) -> None:
    """The rebuild step :func:`ivf_needs_rebuild` signals: re-train
    centroids over the index's CURRENT contents (deterministic quantized
    Lloyd iterations, ``clustering.kmeans_fit``), re-assign every vector
    to its nearest new centroid, and write a fresh
    :func:`save_ivf_index` layout at ``out_path`` — restoring the
    balanced inverted lists that keep per-query cost ∝
    nprobe/|clusters| after append-only ingest has skewed the cells.

    Write-to-new-path by design: the live index keeps serving until the
    snapshot flips (and Spark cannot overwrite a path it is lazily
    reading).  Cost = the k-means passes + one full rewrite — the
    per-snapshot price, amortized over every query until the next
    rebuild.  The new centroid table stores the integer Lloyd centroids
    as doubles; per-vector quantization preserves direction, so the
    probe's cosine ranking is unaffected.
    """
    from go_streaming_spark.functions import clustering

    _, vecs = _open_ivf(spark, path, cluster_col)
    init = clustering.anchor_centroids_q(
        vecs, id_col, vec_col, k, anchor_mod, anchor_rem
    )
    cents = clustering.kmeans_fit(vecs, id_col, vec_col, init, iters)
    # map-only assignment carrying the vector through (payload_cols):
    # a join back on id would shuffle the corpus AND duplicate rows
    # quadratically if an id ever repeats in the layout (append takes
    # no uniqueness responsibility) — this path is row-count-preserving
    # by construction
    reassigned = clustering.kmeans_assign_q(
        vecs, id_col, vec_col, cents, payload_cols=(vec_col,)
    ).select(
        F.col("id").alias(id_col),
        F.col(vec_col),
        F.col("cluster").alias(cluster_col),
    )
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        f"{cluster_col} int, vec array<double>",
    )
    save_ivf_index(
        reassigned, id_col, vec_col, cluster_col, cents_df, out_path
    )


def publish_ivf_epoch(spark, root: str, index_path: str, epoch: int) -> None:
    """Publish an IVF index snapshot to the serving manifest — the
    missing piece between :func:`rebuild_ivf_index` (which writes to a
    NEW path by design) and a production serving loop: queries resolve
    the live index THROUGH ``{root}/manifest`` instead of a hard-coded
    path, and a rebuild cuts over by appending one (epoch, path) row
    AFTER its index write completes — write-manifest-last, so a reader
    sees either the old epoch set or old+new, never a half-written
    index.  This is the reference's drain-then-swap migration semantic
    (``pkg/pubsub/pub_sub.go:54-74`` — the old stream serves until the
    new one is ready, then the pointer flips) applied at the index
    level.

    The manifest is append-only history: :func:`current_ivf_epoch`
    resolves the MAX epoch, superseded rows stay for rollback (publish
    a higher epoch pointing at an older path) and audit.  Each publish
    is one tiny single-file append — atomic enough on any
    rename-on-commit filesystem; epochs must be monotonically assigned
    by the (single) rebuild coordinator.  On local roots the 1-row part
    file is written driver-side (:func:`util.append_manifest_row` — a
    pointer flip is control-plane metadata, not a Spark job)."""
    from go_streaming_spark.functions.util import append_manifest_row

    if epoch < 0:
        raise ValueError(f"publish_ivf_epoch: epoch must be >= 0, got {epoch}")
    append_manifest_row(
        spark, f"{root}/manifest", {"epoch": int(epoch), "path": index_path}
    )


def current_ivf_epoch(spark, root: str):
    """The live (epoch, path) row of a :func:`publish_ivf_epoch`
    manifest — the max-epoch row; raises when nothing was published
    (serving against an unpublished index is a deployment bug, not an
    empty result).  Local roots resolve driver-side
    (:func:`util.read_manifest_max` — the manifest is tiny by design)."""
    from go_streaming_spark.functions.util import read_manifest_max

    row = read_manifest_max(spark, f"{root}/manifest", "epoch")
    if row is None:
        raise ValueError(
            f"current_ivf_epoch: no published epochs under {root}/manifest"
        )
    return row


def ivf_manifest_topk(
    spark,
    root: str,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """:func:`ivf_pruned_topk` resolved THROUGH the serving manifest:
    reads ``{root}/manifest`` for the live epoch's index path, then
    probes that layout.  The query cost over the manifest itself is one
    tiny parquet read; everything else is the partition-pruned probe.
    A rebuild+publish between two calls flips which snapshot answers —
    no caller config change, no downtime window."""
    live = current_ivf_epoch(spark, root)
    return ivf_pruned_topk(
        spark, live["path"], id_col, vec_col, cluster_col, query_vec,
        k=k, nprobe=nprobe,
    )


def ivf_pruned_topk(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k against a :func:`save_ivf_index` layout — result ≡
    :func:`ivf_topk` on the same corpus/centroids; only the PHYSICAL
    path differs.  :func:`_ivf_layout` reads the centroid rows on the
    driver (|clusters| rows) and :func:`_rank_cells` picks the
    ``nprobe`` nearest cells as :func:`ivf_topk` does; only those
    cells' files are read.  Per query the work is ~``nprobe/|clusters|``
    of the corpus, independent of total corpus size.

    On a local root the probe runs no Spark job: the probed cells'
    partition directories (:func:`_cell_dirs`) are read with pyarrow
    one record batch at a time and ranked on the driver with
    :func:`cosine_topk`'s exact arithmetic and order
    (:func:`_local_topk`); the top-k comes back as an Arrow-backed
    frame, so collecting it runs none either.  A non-local root, or a
    layout whose footers or cluster type the driver cannot read, keeps
    the Spark scan (:func:`_ivf_scan_topk`), where the cell filter is
    partition pruning (``PartitionFilters``)."""
    from go_streaming_spark.functions.util import _local_fs_path

    _check_nprobe(nprobe)
    rows, ctype = _ivf_layout(spark, path, cluster_col)
    parse = None if ctype is None else _PARTITION_PARSERS.get(ctype.typeName())
    schema = None
    if parse is not None:
        vectors = f"{_local_fs_path(path)}/vectors"
        cells = [c for c, _ in _rank_cells(rows, query_vec)[:nprobe]]
        dirs = _cell_dirs(vectors, cluster_col, parse, cells)
        files = [f for d in dirs for f in _data_files(d)]
        # the id type comes from a probed file's footer, so the other
        # cells' files are never opened
        schema = _vectors_schema(files or _data_files(vectors), cluster_col, ctype)
    if schema is None:
        return _ivf_scan_topk(
            _vectors_frame(spark, path, cluster_col, ctype), id_col, vec_col,
            cluster_col, rows, query_vec, k, nprobe,
        )
    best = _local_topk(files, id_col, vec_col, [float(x) for x in query_vec], k)
    return _topk_frame(spark, best, schema[id_col].dataType)


def ivf_filtered_topk(
    spark,
    path: str,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    query_vec: list[float],
    predicate,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """FILTERED vector search against a :func:`save_ivf_index` layout —
    the production RAG/serving shape: a metadata predicate restricts
    the candidates (pushed into the pruned parquet scan) and the top-k
    ranks only surviving rows.

    The hard part of filtered ANN is that a selective predicate starves
    the probed cells: ``nprobe`` cells that would yield plenty of
    unfiltered candidates may hold fewer than ``k`` matching rows, and
    silently returning a short/worse list is the classic filtered-search
    footgun.  This implements OVER-PROBE ESCALATION (the documented
    practice in IVF systems — probe wider when the filter bites): probe
    the ``nprobe`` nearest cells, and while fewer than ``k`` filtered
    results exist, DOUBLE the probe width — each round scans only the
    NEWLY probed cells (never rescans) and the running top-k merges
    driver-side (bounded: ≤ k rows per round).  Terminates at ``k``
    results or all cells probed; with all cells probed the result is
    EXACT filtered brute force (the gate's regime).

    The cells are ranked once on the driver (:func:`_open_ivf` +
    :func:`_rank_cells`), so on a local root each round is one Spark
    job: a partition-pruned scan of the delta cells with
    ``PushedFilters`` carrying the predicate — corpus size never enters;
    the worst case (filter matches < k rows anywhere) degrades to one
    full sweep of the inverted lists, which is what answering that query
    requires.  The merged rows come back as a typed Arrow table, so
    collecting the result runs no further job.  A negative ``nprobe``
    raises ``ValueError``; ``nprobe=0`` still starts the walk at one cell,
    since the doubling needs a width to grow from.
    """
    _check_nprobe(nprobe)
    rows, vecs = _open_ivf(spark, path, cluster_col)
    ranked = [c for c, _ in _rank_cells(rows, query_vec)]
    best: list = []
    lo, hi = 0, min(max(1, nprobe), len(ranked))
    while True:
        delta = ranked[lo:hi]
        cand = vecs.filter(_in_cells(cluster_col, delta)).filter(predicate)
        out = cosine_topk(cand, id_col, vec_col, query_vec, k)
        best = _ranked(best + [tuple(r) for r in out.collect()])[:k]
        if len(best) >= k or hi >= len(ranked):
            return _topk_frame(spark, best, out.schema["id"].dataType)
        lo, hi = hi, min(hi * 2, len(ranked))


def ivf_quantized_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF cell pruning × int8-quantized scoring — the composed 100 TB
    serving shape: :func:`ivf_topk`'s cell pick (:func:`_probe_cells`)
    prunes the scan to ~nprobe/n_clusters of the corpus (partition
    pruning when the corpus is written partitioned by cluster), and
    every surviving row is scored with the exact-int64 quantized
    arithmetic that moves 4× fewer bytes (:func:`quantized_cosine_topk`)
    — the two savings multiply.

    Probe selection stays full-precision (the centroid table is tiny and
    picking cells with quantized centroids would change WHICH cells are
    probed); candidate scoring is quantized.  Result = quantized scores
    restricted to the probed cells, deterministic
    (q6(cos) DESC, id ASC).
    """
    cand = _probe_cells(
        df, cluster_col, _cell_rows(centroids, cluster_col), query_vec, nprobe
    )
    return quantized_cosine_topk(cand, id_col, vec_col, query_vec, k)


def quantize_vec(v: list[float]) -> list[int]:
    """Python twin of :func:`quantize_embeddings` for a literal query
    vector — identical IEEE arithmetic, so engine and driver agree."""
    import math

    amax = max(abs(float(x)) for x in v) if v else 0.0
    if amax == 0.0:
        return [0] * len(v)
    scale = amax / 127.0
    return [int(math.floor(float(x) / scale + 0.5)) for x in v]


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_col: str = "qvec",
    scale_col: str = "qscale",
    payload_cols: tuple = (),
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q_i = floor(v_i/scale + 1/2)`` ∈ [-127, 127] (the floor(+0.5) form
    rounds identically in Spark, DuckDB and Python — no banker's-rounding
    divergence).  Zero vectors quantize to all-zeros.

    THE storage/shuffle lever for embedding workloads at 100 TB: a 64-dim
    float32 vector is 256 B; its int8 twin is 64 B + one double — 4×
    smaller on disk, in shuffle, and in broadcast, while cosine ordering
    is preserved to ~0.5% (scales cancel in cosine, so scoring needs no
    dequantization at all; ``scale_col`` is kept for reconstructing
    dot products/values).

    Map-only — no shuffle; emits (id, qvec array<tinyint>, qscale).
    """
    clash = {"id", out_col, scale_col}.intersection(payload_cols)
    if clash:
        raise ValueError(
            "quantize_embeddings: payload_cols collide with output"
            f" names {sorted(clash)} — rename the payload columns or"
            f" pick different out_col/scale_col (outputs: id, {out_col},"
            f" {scale_col})"
        )
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, F.abs))
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.floor(x / (amax / 127.0) + 0.5).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.select(
        F.col(id_col).alias("id"),
        q.alias(out_col),
        (amax / 127.0).alias(scale_col),
        *[F.col(c) for c in payload_cols],
    )


def quantized_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the 4×-less-
    shuffle companion to :func:`cosine_topk`.  The dot product and squared
    norms are exact int64 arithmetic over the quantized components (scales
    cancel in cosine), so the score is deterministic bit-for-bit across
    engines; only the final sqrt/divide/round touch floating point.

    Ordering: (q6(cos) DESC, id ASC); plans as TakeOrderedAndProject
    (same unrolled codegen'd SQL-string pattern as :func:`cosine_topk` —
    see the driver-time note there).
    """
    import math

    dim = len(query_vec)
    qq = quantize_vec(query_vec)
    qn = math.sqrt(sum(x * x for x in qq))  # exact int sum → one sqrt
    dot = " + ".join(f"(CAST(_q[{i}] AS BIGINT) * {qq[i]}L)" for i in range(dim))
    vq2 = " + ".join(
        f"(CAST(_q[{i}] AS BIGINT) * CAST(_q[{i}] AS BIGINT))" for i in range(dim)
    )
    cos = F.expr(
        f"floor(try_divide(CAST(({dot}) AS DOUBLE),"
        f" sqrt(CAST(({vq2}) AS DOUBLE)) * {qn!r}D)*1e6 + 0.5)/1e6"
    )
    return (
        quantize_embeddings(df, id_col, vec_col, out_col="_q")
        .select("id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_codes: int = 16,
    n_subspaces: int = 8,
    anchor_mod: int = 13,
    anchor_rem: int = 7,
    exclude_id: int | None = None,
) -> list[list[list[int]]]:
    """Build PQ codebooks from deterministic data anchors.

    Product quantization (Jégou/Douze/Schmid, TPAMI 2011) splits each
    vector into ``n_subspaces`` subvectors and snaps each to the nearest
    of ``n_codes`` codewords — here the matching subvectors of the
    ``n_codes`` smallest ids with ``id % anchor_mod == anchor_rem``,
    int8-quantized.  The id-rule anchor selection is the
    oracle-reproducible stand-in for sampled k-means training; the
    serving machinery (bounded broadcast codebooks, map-only encode,
    ADC scan) is identical under either training rule.

    Returns ``codebooks[m][c]`` = list of ``dim // n_subspaces`` ints.
    Driver-side size is bounded by construction: n_codes × dim int8s
    (the broadcast-a-summary shape, like the CMS/Bloom literals).
    """
    anchors = df.filter((F.col(id_col) % anchor_mod) == anchor_rem)
    if exclude_id is not None:
        anchors = anchors.filter(F.col(id_col) != exclude_id)
    rows = (
        quantize_embeddings(anchors, id_col, vec_col, out_col="qv")
        .orderBy("id")
        .limit(n_codes)
        .select("qv")
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: no anchor vectors matched")
    dim = len(rows[0][0])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    return [
        [[int(x) for x in r[0][m * sub : (m + 1) * sub]] for r in rows]
        for m in range(n_subspaces)
    ]


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              codebooks: list[list[list[int]]]) -> DataFrame:
    """Encode vectors to PQ codes: (id, _c0.._c{M-1}) — map-only.

    Each vector is int8-quantized, then per subspace assigned the
    codeword minimising exact-int64 squared L2 distance (ties break to
    the lowest code, first-match argmin).  64 float32 components become
    M=8 small ints — 32× smaller stored/shuffled state; at 100 TB the
    codes column IS the ANN index.  Distances run Arrow-vectorized in
    numpy (the :func:`clustering._nearest_centroid_udf` pattern —
    exact int64, summation-order-free, bit-identical to the previous
    interpreted zip_with fold which paid M·codes·sub lambda dispatches
    per row).  Quantization stays a codegen'd projection; no shuffle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    base = quantize_embeddings(df, id_col, vec_col, out_col="_q")
    qb = base.select("id", F.expr("transform(_q, x -> CAST(x AS BIGINT))").alias("_qb"))

    CW = [np.asarray(codebooks[m], dtype=np.int64) for m in range(n_sub)]

    @pandas_udf("array<long>")
    def _codes(qs):  # no hints: __future__ annotations stringifies them
        vals = qs.to_numpy()
        live = [iv for iv, v in enumerate(vals) if v is not None]
        out = [None] * len(vals)
        if live:
            Q = np.asarray(
                [np.asarray(vals[iv], dtype=np.int64) for iv in live]
            )
            codes = np.empty((len(live), n_sub), dtype=np.int64)
            for m in range(n_sub):
                Qm = Q[:, m * sub:(m + 1) * sub]
                D = np.empty((len(live), CW[m].shape[0]), dtype=np.int64)
                for c in range(CW[m].shape[0]):
                    diff = Qm - CW[m][c]
                    D[:, c] = np.einsum("ij,ij->i", diff, diff)
                codes[:, m] = D.argmin(axis=1)
            for rix, iv in enumerate(live):
                out[iv] = codes[rix]
        return pd.Series(out)

    enc = qb.select("id", _codes(F.col("_qb")).alias("_codes"))
    return enc.select(
        "id",
        *[F.col("_codes")[m].alias(f"_c{m}") for m in range(n_sub)],
    )


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: list[float],
    codebooks: list[list[list[int]]],
    k: int = 10,
) -> DataFrame:
    """Approximate cosine top-k via PQ codes + ADC lookup tables.

    The query is int8-quantized driver-side and folded against every
    codeword into two tiny literal tables (dot products and codeword
    norms, n_subspaces × n_codes int64s each).  Scoring a row is then M
    array lookups + adds — no per-row vector math at all, the ADC trick
    that makes PQ the 100 TB ANN workhorse: the scan reads M small ints
    per row instead of dim floats (32× less IO) and does ~dim/8 the
    arithmetic.  All accumulation is exact int64 (scales cancel in
    cosine); only the final sqrt/divide/quantize touch floats, so the
    score is bit-deterministic across engines.

    Output: (id, cos_pq) — q6-quantized, ordered (cos_pq DESC, id ASC),
    planned as TakeOrderedAndProject.
    """
    import math

    n_sub = len(codebooks)
    sub = len(codebooks[0][0])
    qq = quantize_vec(query_vec)
    qn = math.sqrt(sum(x * x for x in qq))  # exact int sum → one sqrt
    lut = [
        [sum(qq[m * sub + i] * cw[i] for i in range(sub)) for cw in codebooks[m]]
        for m in range(n_sub)
    ]
    n2 = [[sum(c * c for c in cw) for cw in codebooks[m]] for m in range(n_sub)]

    def lit_arr(vals: list[int]) -> str:
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"

    codes = pq_encode(df, id_col, vec_col, codebooks)
    num = "+".join(
        f"element_at({lit_arr(lut[m])}, CAST(_c{m} AS INT) + 1)" for m in range(n_sub)
    )
    den = "+".join(
        f"element_at({lit_arr(n2[m])}, CAST(_c{m} AS INT) + 1)" for m in range(n_sub)
    )
    cos = F.expr(
        f"floor(try_divide(CAST(({num}) AS DOUBLE),"
        f" sqrt(CAST(({den}) AS DOUBLE)) * {qn!r}D)*1e6 + 0.5)/1e6"
    )
    return (
        codes.select("id", cos.alias("cos_pq"))
        .orderBy(F.col("cos_pq").desc(), F.col("id"))
        .limit(k)
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_blocks: int = 16,
) -> DataFrame:
    """Batched kNN join: the exact cosine top-k corpus neighbors for
    EVERY query row — the retrieval-training / serving-batch shape the
    single-query tiers (:func:`cosine_topk`, IVF, PQ) don't cover.

    Runs on the cosine-pair family's shared asymmetric block layout and
    BLAS kernel (``dedup._cross_block_scores``, as
    ``dedup.embedding_cosine_cross_pairs_blocked``): the corpus
    hash-partitions into ``n_blocks`` (no replication), queries replicate
    into every block, each block scores its |C_blk|×|Q| matrix with one
    numpy matmul and keeps, per query, only rows whose BLAS score reaches
    the block's k-th best minus a 2e-6 safety band — every survivor is
    rescored with the dimension-ordered fold and q6-quantized, so
    emitted scores are bit-identical to the Column expression path and
    the DuckDB oracle.  A global per-query window (cos desc, id asc) cuts
    the ≤ n_blocks·(k+ties) candidates to the final k.  Self-pairs (query
    id present in the corpus) are excluded; NULL and zero-norm vectors
    on either side never pair.

    Emits (query_id, neighbor_id, cos_sim, rank), rank 1..k.

    Scale: shuffle volume is n_corpus + n_blocks·n_queries rows (choose
    the probe batch as ``queries``); per-block memory is one
    |C_blk|×|Q| float64 matrix — size ``n_blocks`` to keep it in an
    executor's working set.  The final window touches only candidates.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql.window import Window

    from go_streaming_spark.functions.dedup import _cross_block_scores

    kk = int(k)

    def pick(S, ic, iq):
        import numpy as np

        S[ic[:, None] == iq[None, :]] = -np.inf  # self-pairs out
        out_c, out_q = [np.zeros(0, np.intp)], [np.zeros(0, np.intp)]
        for j in range(S.shape[1]):
            col = S[:, j]
            valid = np.isfinite(col)
            if not valid.any():
                continue
            vals = col[valid]
            kth = (
                np.partition(vals, len(vals) - kk)[len(vals) - kk]
                if len(vals) > kk
                else vals.min()
            )
            sel = np.nonzero(valid & (col >= kth - 2e-6))[0]
            out_c.append(sel)
            out_q.append(np.full(len(sel), j))
        return np.concatenate(out_c), np.concatenate(out_q)

    cand = _cross_block_scores(corpus, queries, id_col, vec_col, n_blocks, pick).select(
        F.col("id_b").alias("query_id"), F.col("id_a").alias("neighbor_id"), "cos_sim"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def embedding_dim_stats(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Per-dimension moment sums across the corpus — the embedding QC
    pass that catches collapsed/dead dimensions (a dimension whose
    variance ≈ 0 carries no information; a mean far off 0 suggests a
    normalization bug upstream).

    Components quantize to µ-ints first, so the sums are EXACT int64
    (double summation is order-dependent — the partition-stability trap)
    and the oracle is bit-exact.  Emits (d, n, sum_q, sumsq_q); derive
    mean = sum_q/(n·10⁶) and variance from the sums downstream — they
    are kept as raw integers because n·Σx² can exceed int64 while each
    sum alone cannot (µ² ≤ 10¹² per component, ×10⁹ rows ≈ 10²¹ needs
    the consumer's decimal, but Σ itself stays ≤ 2^63 for ≤ ~9M rows
    per unit-scale dim; larger corpora shard by id-hash and merge sums).

    One posexplode + one groupBy(d) with map-side combine.
    """
    from go_streaming_spark.functions.util import spread

    vec = F.col(vec_col).cast("array<double>")
    q = F.transform(
        vec, lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
    )
    ex = spread(df).select(F.posexplode(q).alias("d", "xq"))
    return ex.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sum_q"),
        F.sum(F.col("xq") * F.col("xq")).alias("sumsq_q"),
    )


def embedding_second_moments(
    df: DataFrame, vec_col: str, dim: int, scale: float = 1e6,
    impl: str = "auto", augmented: bool = False,
) -> DataFrame:
    """Exact upper-triangle second-moment matrix of the embedding corpus:
    (i, j, v) with i <= j and v = Σ_rows q_i·q_j over µ-int quantized
    components (q = floor(x·scale + 0.5) as int64) — the ONE-PASS
    sufficient statistic for covariance / PCA.  Like the gram/tie-group
    sketches, the statistic merges BY ADDITION across partitions,
    batches, or corpus shards, so covariance at 100 TB costs one
    map-side-combined aggregation and its state is the fixed
    dim·(dim+1)/2 cells.

    All-integer ⇒ exact and engine-portable (double summation is
    order-dependent; the partition-stability trap `embedding_dim_stats`
    documents).  Bound: |q| ≤ |x|·scale, so Σ q_i·q_j ≤ rows·(x_max·scale)²
    — unit-norm embeddings (|x| ≤ 1) hold int64 to ~9×10⁶ rows per shard
    at scale=1e6; larger corpora shard by id-hash and ADD the cells.

    Two implementations, identical exact-integer output (parity-tested):

    - ``impl="expr"`` — :func:`stats.gram_matrix_exploded` (one
      in-expression upper triangle + one map-side-combined groupBy,
      ``dense=True`` so never-co-occurring cells emit explicit zeros).
      JVM-native, but builds dim·(dim+1)/2 pair structs PER ROW through
      the aggregation — for DENSE vectors that is 2080 structs/row at
      dim 64, the dominant CPU at 10⁹ rows.
    - ``impl="pandas"`` — Arrow-batched ``mapInPandas``: per-batch
      XᵀX via float64 BLAS chunked under the 2^53 exactness bound
      (products are signed, so the chunk bound is on Σ|p|), accumulated
      int64 per PARTITION, then one tiny groupBy over
      partitions × 2080 cells.  ~dim× less aggregation pressure; the
      per-partition matmul is the classic "built-ins can't express it
      efficiently" escape hatch, and the emitted statistic is the same
      exact integers.

    ``impl="auto"`` picks pandas for dense widths (dim ≥ 16), expr below.

    ``augmented=True`` appends a constant component q_dim = scale (i.e.
    the value 1.0 before quantization), the classic augmented-gram
    trick: the (i, dim) cells then carry scale·Σ q_i (the per-dimension
    sums) and the (dim, dim) corner carries n·scale² — so ONE pass over
    the corpus yields second moments, means, AND the row count, and
    :func:`pca_from_moments` needs no separate ``embedding_dim_stats``
    scan.  The top-left dim×dim block is bit-identical to the
    unaugmented statistic.
    """
    from go_streaming_spark.functions.stats import gram_matrix_exploded

    m = dim + (1 if augmented else 0)
    if impl == "auto":
        impl = "pandas" if dim >= 16 else "expr"
    if impl == "expr":
        vec = F.col(vec_col).cast("array<double>")
        q = F.transform(
            vec, lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)).cast("long")
        )
        entries = F.filter(
            F.transform(
                q,
                lambda x, ix: F.struct(
                    ix.cast("long").alias("i"), x.alias("x")
                ),
            ),
            lambda e: e["x"] != 0,
        )
        if augmented:
            entries = F.concat(
                entries,
                F.array(F.struct(
                    F.lit(dim).cast("long").alias("i"),
                    F.lit(int(scale)).cast("long").alias("x"),
                )),
            )
        return gram_matrix_exploded(
            df.select(entries.alias("__ent")), "__ent", m, dense=True
        )
    if impl != "pandas":
        raise ValueError(f"embedding_second_moments: unknown impl {impl!r}")

    import numpy as np

    iu, ju = (x.astype("int64") for x in np.triu_indices(m))

    def _cells(batches):
        import pandas as pd

        S = np.zeros((m, m), dtype=np.int64)
        for pdf in batches:
            col = [v for v in pdf[vec_col] if v is not None]
            if not col:
                continue
            arr = np.stack([np.asarray(v, dtype=np.float64) for v in col])
            if arr.shape[1] != dim:
                raise ValueError(
                    f"embedding_second_moments: vector length {arr.shape[1]}"
                    f" != dim {dim}"
                )
            Q = np.floor(arr * scale + 0.5)  # integer-valued float64
            if augmented:
                Q = np.hstack([Q, np.full((Q.shape[0], 1), float(scale))])
            amax = float(np.abs(Q).max())
            # float64 BLAS is exact only while EVERY partial sum is an
            # integer below 2^53; products are signed here, so bound
            # Σ|p| per chunk: chunk_rows · max|q|² < 2^53
            chunk = max(1, int((2.0**53) // max(1.0, amax * amax)))
            for s in range(0, Q.shape[0], chunk):
                C = Q[s : s + chunk]
                S += (C.T @ C).astype(np.int64)
            if np.abs(S).max() >= 2**62:
                # numpy int64 overflow is SILENT — refuse before the
                # accumulator can wrap (≈3×10⁷ unit-norm rows/partition
                # at scale=1e6; shard by id-hash and ADD cells beyond)
                raise OverflowError(
                    "embedding_second_moments: partition accumulator"
                    " near int64 overflow — shard the corpus and merge"
                    " cells by addition"
                )
        yield pd.DataFrame({"i": iu, "j": ju, "v": S[iu, ju]})

    cells = df.select(vec_col).mapInPandas(_cells, "i long, j long, v long")
    return cells.groupBy("i", "j").agg(F.sum("v").alias("v"))


def pca_from_moments(moment_rows, dim_stat_rows, dim: int, k: int,
                     scale: float = 1e6):
    """Principal components from the collected distributed statistics —
    driver cost is O(dim³) on a dim×dim matrix, INDEPENDENT of corpus
    size (the ridge_fit_from_gram pattern: the data-sized work happened
    in the one distributed pass).

    ``moment_rows``: (i, j, v) cells from :func:`embedding_second_moments`
    (collected — dim·(dim+1)/2 rows).  ``dim_stat_rows``: (d, n, sum_q)
    rows from :func:`embedding_dim_stats`.  Components are computed over
    the QUANTIZED values q/scale (exactly what the moment cells measure),
    so engines that agree on the integer cells agree on the input matrix
    bit-for-bit.

    Returns ``(eigvals, components, mu, n)``: eigenvalues descending,
    components as a (k, dim) row-orthonormal ndarray with a deterministic
    sign convention (each component's largest-|coordinate| entry is
    positive — eigenvectors are sign-ambiguous otherwise), µ the
    per-dimension mean of q/scale.
    """
    import numpy as np

    S = np.zeros((dim, dim), dtype=np.float64)
    for r in moment_rows:
        i, j, v = int(r["i"]), int(r["j"]), float(r["v"])
        S[i, j] = S[j, i] = v / (scale * scale)
    n = 0
    mu = np.zeros(dim, dtype=np.float64)
    for r in dim_stat_rows:
        n = int(r["n"])
        mu[int(r["d"])] = float(r["sum_q"]) / scale
    if n <= 0:
        raise ValueError("pca_from_moments: zero rows — empty corpus")
    mu = mu / n
    cov = S / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for c in range(comps.shape[0]):
        if comps[c, np.argmax(np.abs(comps[c]))] < 0:
            comps[c] = -comps[c]
    return vals[order], comps, mu, n


def pca_from_augmented(moment_rows, dim: int, k: int, scale: float = 1e6):
    """:func:`pca_from_moments` from ONE augmented statistic (no
    separate dim-stats scan): ``moment_rows`` are the
    (dim+1)(dim+2)/2 cells of ``embedding_second_moments(...,
    augmented=True)`` — the (i, dim) column carries scale·Σ q_i and the
    corner carries n·scale².  All divisions recover exact integers
    below 2^53, so the derived covariance (and therefore the
    components) is BIT-IDENTICAL to the two-pass path.
    """
    import numpy as np

    m = dim + 1
    A = np.zeros((m, m), dtype=np.float64)
    for r in moment_rows:
        i, j = int(r["i"]), int(r["j"])
        A[i, j] = A[j, i] = float(r["v"])
    n = int(round(A[dim, dim] / (scale * scale)))
    if n <= 0:
        raise ValueError("pca_from_augmented: zero rows — empty corpus")
    S = A[:dim, :dim] / (scale * scale)
    mu = (A[:dim, dim] / scale / scale) / n
    cov = S / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for c in range(comps.shape[0]):
        if comps[c, np.argmax(np.abs(comps[c]))] < 0:
            comps[c] = -comps[c]
    return vals[order], comps, mu, n


def pca_project(
    df: DataFrame,
    vec_col: str,
    components,
    mu=None,
    scale: float = 1e6,
    out_col: str = "pc",
) -> DataFrame:
    """Distributed projection onto driver-computed components: appends
    ``out_col`` = array<double> of scores w_c·(q/scale − µ).  The
    components ship as straight-line literal arithmetic (the
    ``dot_expr_unrolled`` trick — whole-stage codegen, no Python, no
    shuffle: a map-only pass however large the corpus).  Centering folds
    into a per-component constant (w·(x−µ) = w·x − w·µ), so the row-side
    work is exactly one fused multiply-add chain per component.

    Projects the QUANTIZED values q/scale — the same definition
    :func:`pca_from_moments` trained on, keeping train and apply on one
    arithmetic so invariants (Parseval etc.) hold to float precision.

    Two physical forms, bit-identical results (same left-to-right
    summation order): up to ~2k weight terms the projection unrolls to
    straight-line literal arithmetic (whole-stage codegen — the hot
    top-k reduction path); beyond that (e.g. full-rank 64×64 whitening)
    unrolling janino-OOMs the generated class, so the matrix ships
    inside an Arrow-vectorized pandas UDF that accumulates the scores
    dimension-by-dimension in numpy — the SAME IEEE sequence as the
    fold (S starts at +0.0; step d performs acc + q_d·w_cd for every
    (row, component) at once; the offset subtracts LAST), so the two
    forms stay bit-identical (test_pca_project_hof_form_bit_identical_
    to_unrolled).  The numpy form does k·dim fused ARRAY ops per Arrow
    batch where the previous interpreted zip_with/aggregate fold paid
    k·dim lambda dispatches per ROW — measured 3.4 s → 0.3 s on the
    2000×64 full-rank whitening pass at sf0.1 (optimization guide §4.2:
    hand whole batches to vectorized native code).
    """
    import numpy as np

    comps = np.asarray(components, dtype=np.float64)
    if comps.ndim != 2 or comps.shape[0] == 0:
        raise ValueError(
            "pca_project: components must be a non-empty (k, dim) matrix"
        )
    offs = comps @ np.asarray(mu, dtype=np.float64) if mu is not None else (
        np.zeros(comps.shape[0])
    )
    vec = F.col(vec_col).cast("array<double>")
    qs = F.transform(
        vec,
        lambda x: F.floor(x * F.lit(scale) + F.lit(0.5)) / F.lit(scale),
    )
    bound = df.withColumn("__q", qs)
    if comps.size <= 2048:
        # accumulate from 0.0 and subtract the offset LAST — the exact
        # fold order of the HOF form below, so the two forms are
        # bit-identical (zero-weight terms skip: adding ±0.0 is an IEEE
        # no-op on any finite accumulator)
        scores = []
        for c in range(comps.shape[0]):
            acc = F.lit(0.0)
            for d in range(comps.shape[1]):
                w = float(comps[c, d])
                if w != 0.0:
                    acc = acc + F.element_at(F.col("__q"), d + 1) * F.lit(w)
            scores.append(acc - F.lit(float(offs[c])))
        return bound.withColumn(out_col, F.array(*scores)).drop("__q")
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    kc, nd = comps.shape
    W = comps.copy()
    offv = np.asarray(offs, dtype=np.float64).copy()
    sc = float(scale)

    @pandas_udf("array<double>")
    def _scores(vs):  # no hints: __future__ annotations stringifies them
        vals = vs.to_numpy()
        live = [iv for iv, v in enumerate(vals) if v is not None]
        out = [None] * len(vals)
        if live:
            Q = np.asarray(
                [np.asarray(vals[iv], dtype=np.float64) for iv in live]
            )
            if Q.ndim != 2 or Q.shape[1] != nd:
                raise ValueError(
                    f"pca_project: vector length {Q.shape[-1]} != components"
                    f" width {nd}"
                )
            Qq = np.floor(Q * sc + 0.5) / sc  # same quantizer as __q
            S = np.zeros((len(live), kc), dtype=np.float64)
            for d in range(nd):  # left-to-right fold order, per dimension
                S += Qq[:, d, None] * W[:, d]
            S -= offv  # offset last — the fold's final subtraction
            for rix, iv in enumerate(live):
                out[iv] = S[rix]
        # NULL vectors keep the expression form's semantics: an array of
        # k NULL scores (element_at(NULL) per component), not a NULL array
        nulls = [None] * kc
        return pd.Series([nulls if o is None else o for o in out])

    return df.withColumn(out_col, _scores(F.col(vec_col)))


def pca_embed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    scale: float = 1e6,
    out_col: str = "pc",
):
    """One-stop distributed PCA: ONE augmented-moment pass over the
    corpus (a single bounded collect — (dim+1)(dim+2)/2 cells, never
    data-sized — carrying second moments, per-dim sums AND the row
    count), driver eigendecomposition, then the map-only projection.
    Returns ``(projected_df, eigvals)``.

    The train→apply shape of the reference's continuous queries at
    embedding scale: the heavy pass is declarative and
    Catalyst-optimized; the driver holds only the fixed-size statistic.
    """
    moments = embedding_second_moments(
        df, vec_col, dim, scale, augmented=True
    ).collect()
    vals, comps, mu, _ = pca_from_augmented(moments, dim, k, scale)
    return pca_project(df, vec_col, comps, mu, scale, out_col), vals


def pca_whiten(
    df: DataFrame,
    vec_col: str,
    components,
    eigvals,
    mu,
    eps: float = 1e-12,
    scale: float = 1e6,
    out_col: str = "z",
) -> DataFrame:
    """PCA whitening: scores scaled to unit variance per component —
    z_c = w_c·(q/scale − µ)/√(λ_c + eps).  The standard conditioning
    step before embedding clustering / SemDeDup (distances stop being
    dominated by the top principal directions) and the Mahalanobis
    transform: |z|² IS the Mahalanobis distance² from the corpus mean,
    the statistically-calibrated embedding outlier score.

    Folds the 1/√λ into the component literals, so it stays the same
    map-only straight-line projection as :func:`pca_project` — whitening
    a 100 TB corpus is one shuffle-free pass.
    """
    import numpy as np

    comps = np.asarray(components, dtype=np.float64)
    lam = np.asarray(eigvals, dtype=np.float64)
    if lam.shape[0] != comps.shape[0]:
        raise ValueError(
            f"pca_whiten: {comps.shape[0]} components but {lam.shape[0]}"
            " eigenvalues"
        )
    if (lam < -1e-9).any():
        raise ValueError("pca_whiten: negative eigenvalue — not a covariance")
    scaled = comps / np.sqrt(np.clip(lam, 0.0, None) + eps)[:, None]
    return pca_project(df, vec_col, scaled, mu, scale, out_col)


def embedding_dim_stats_by(
    df: DataFrame, group_col: str, vec_col: str, dim: int
) -> DataFrame:
    """:func:`embedding_dim_stats` per group — the embedding DRIFT
    monitor: exact per-(group, dimension) µ-int moment sums, from which
    standardized mean differences between sources/labels/epochs derive
    driver-side.  Same one-posexplode one-groupBy shape with the group
    key carried; state is groups·dim rows, merges by addition.
    """
    from go_streaming_spark.functions.util import spread

    vec = F.col(vec_col).cast("array<double>")
    q = F.transform(
        vec, lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")
    )
    ex = spread(df).select(
        F.col(group_col).alias("grp"), F.posexplode(q).alias("d", "xq")
    )
    return ex.groupBy("grp", "d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sum_q"),
        F.sum(F.col("xq") * F.col("xq")).alias("sumsq_q"),
    )


def smd_from_dim_stats(stats: DataFrame, group_a, group_b) -> DataFrame:
    """Per-dimension standardized mean difference between two cohorts,
    derived from an :func:`embedding_dim_stats_by` frame — the drift
    NUMBER the monitor exists to produce: smd_d = (µ_a − µ_b) /
    sqrt((σ²_a + σ²_b) / 2) with population variances, computed in
    µ-int units (SMD is scale-invariant, so the quantization scale
    cancels).  Runs entirely on the groups·dim-row statistic — one
    conditional aggregation per dimension, never touching the corpus —
    which is the point: at 100 TB the expensive pass produced the
    moment cells once; every cohort comparison after that is a
    bounded-frame query.  ``smd_q6`` is NULL where the pooled variance
    is not positive (both cohorts constant on that dimension).
    Output: (d, n_a, n_b, smd_q6).

    The two NULL regimes are distinguishable BY the count columns —
    check them: a cohort value absent from ``stats`` (a typo'd label,
    an epoch that never arrived) yields NULL ``n_a``/``n_b`` on every
    row alongside the NULL ``smd_q6``, while the benign constant-
    dimension case carries real counts.  A monitor that alarms on
    drift should treat NULL counts as a configuration error, not as
    "no drift" (no corpus-sized validation pass is spent here — the
    signal is in the output by construction)."""
    from go_streaming_spark.functions.util import q6

    a = F.col("grp") == F.lit(group_a)
    b = F.col("grp") == F.lit(group_b)
    p = stats.groupBy("d").agg(
        F.sum(F.when(a, F.col("n"))).alias("n_a"),
        F.sum(F.when(a, F.col("sum_q"))).alias("s_a"),
        F.sum(F.when(a, F.col("sumsq_q"))).alias("ss_a"),
        F.sum(F.when(b, F.col("n"))).alias("n_b"),
        F.sum(F.when(b, F.col("sum_q"))).alias("s_b"),
        F.sum(F.when(b, F.col("sumsq_q"))).alias("ss_b"),
    )
    mu_a = F.col("s_a").cast("double") / F.col("n_a")
    mu_b = F.col("s_b").cast("double") / F.col("n_b")
    var_a = F.col("ss_a").cast("double") / F.col("n_a") - mu_a * mu_a
    var_b = F.col("ss_b").cast("double") / F.col("n_b") - mu_b * mu_b
    pooled = (var_a + var_b) / F.lit(2.0)
    return p.select(
        "d",
        "n_a",
        "n_b",
        F.when(pooled > F.lit(0.0), q6((mu_a - mu_b) / F.sqrt(pooled)))
        .alias("smd_q6"),
    )
