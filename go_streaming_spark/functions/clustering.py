"""Embedding clustering (k-means) and cluster-then-dedup (SemDeDup).

The 100 TB curation pattern: cluster the corpus embeddings once, then do
expensive pairwise work WITHIN clusters only (Abbas et al., "SemDeDup",
2023) — the learned-partition complement of the hash-bucket (LSH) and
cell-probe (IVF) blockers already in :mod:`similarity`.

All distance/score arithmetic runs in the int8-quantized space
(:func:`similarity.quantize_embeddings`): exact int64 sums are
summation-order-free, so assignments and pair scores are bit-deterministic
across engines and partitionings — the float-space k-means hazard (BLAS
pairwise summation, last-ulp tie flips) never arises.  Scale shape per op:

- assignment: map-only (centroids are literal arrays — k×dim ints,
  the broadcast-a-summary shape); no shuffle.
- Lloyd update: one map-side-combined groupBy(cluster), k×(dim+1)
  integers collected per iteration (bounded by construction).  Each
  iteration re-plans from the quantized base — centroids travel as
  literals, so lineage does NOT grow with iterations (no checkpoint
  cadence needed, unlike the ingest loop).
- within-cluster pairs: equi-join on the cluster id; quadratic only
  inside a cluster, so size k ~ sqrt(n) keeps per-cluster work flat
  (SemDeDup's own regime).  Hot clusters split via AQE skew-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_streaming_spark.functions.similarity import quantize_embeddings
from go_streaming_spark.functions.util import spread


def _nearest_centroid_udf(centroids: list[list[int]]):
    """Arrow-vectorized nearest-centroid assignment over int64 quantized
    vectors — exact int64 squared-L2 per centroid (summation-order-free,
    so bit-identical to the previous zip_with/aggregate fold), first-match
    argmin == ``array_position``'s lowest-cluster tie rule.  The
    interpreted HOF fold paid k·dim lambda dispatches per ROW (~0.5 s per
    assignment pass over 2000×64 at k=10); numpy does k fused array ops
    per Arrow batch (guide §4.2).  NULL vectors keep the expression
    form's NULL-cluster semantics."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.int64)

    @pandas_udf("long")
    def _nearest(qs):  # no hints: __future__ annotations stringifies them
        vals = qs.to_numpy()
        live = [iv for iv, v in enumerate(vals) if v is not None]
        out = [None] * len(vals)
        if live:
            Q = np.asarray(
                [np.asarray(vals[iv], dtype=np.int64) for iv in live]
            )
            D = np.empty((Q.shape[0], C.shape[0]), dtype=np.int64)
            for c in range(C.shape[0]):
                diff = Q - C[c]
                D[:, c] = np.einsum("ij,ij->i", diff, diff)
            for rix, iv in enumerate(live):
                out[iv] = int(D[rix].argmin())
        return pd.Series(out, dtype="object").astype("Int64")

    return _nearest


def anchor_centroids_q(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    anchor_mod: int = 17,
    anchor_rem: int = 3,
) -> list[list[int]]:
    """Initial centroids = the k smallest ids with
    ``id % anchor_mod == anchor_rem``, int8-quantized — the same
    oracle-reproducible anchor rule as :func:`similarity.pq_codebooks`
    (k-means++ sampling is the production initializer; everything
    downstream is identical either way)."""
    rows = (
        quantize_embeddings(
            df.filter((F.col(id_col) % anchor_mod) == anchor_rem),
            id_col,
            vec_col,
            out_col="qv",
        )
        .orderBy("id")
        .limit(k)
        .select("qv")
        .collect()
    )
    if not rows:
        raise ValueError("anchor_centroids_q: no anchor vectors matched")
    return [[int(x) for x in r[0]] for r in rows]


def kmeans_assign_q(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    keep_q: bool = False,
    payload_cols: tuple = (),
) -> DataFrame:
    """Nearest-centroid assignment in quantized space → (id, cluster
    [, _qb][, payload...]).  Squared-L2 distances are exact int64 sums
    (:func:`_nearest_centroid_udf` — Arrow-vectorized numpy, bit-identical
    to the previous interpreted zip_with fold and ~10× faster per pass);
    ties break to the lowest cluster index (first-match argmin).
    Map-only — quantization stays a codegen'd projection, assignment is
    one ArrowEvalPython over the quantized column only, no shuffle;
    ``payload_cols`` carry extra input columns through (so callers that
    need (vec, cluster) together — the IVF rewrite — never pay a join
    back on id, which would also duplicate rows quadratically if ids
    repeat in the input)."""
    reserved = {"id", "cluster", "_q", "_qb"}
    clash = reserved.intersection(payload_cols)
    if clash:
        raise ValueError(
            "kmeans_assign_q: payload_cols collide with reserved output"
            f" names {sorted(clash)} — rename the payload columns before"
            " assignment (reserved: id, cluster, _q, _qb)"
        )
    base = quantize_embeddings(
        spread(df), id_col, vec_col, out_col="_q", payload_cols=payload_cols
    )
    qb = base.select(
        "id",
        F.expr("transform(_q, x -> CAST(x AS BIGINT))").alias("_qb"),
        *[F.col(c) for c in payload_cols],
    )
    nearest = _nearest_centroid_udf(centroids)
    cols = ["id", nearest(F.col("_qb")).alias("cluster")]
    if keep_q:
        cols.append(F.col("_qb"))
    cols.extend(F.col(c) for c in payload_cols)
    return qb.select(*cols)


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    iters: int = 5,
) -> list[list[int]]:
    """Lloyd iterations over the quantized space; returns the final
    integer centroids (means re-quantized with floor(sum/count + 1/2),
    so every iteration stays exact-integer and bit-reproducible).

    Per iteration: ONE shuffle-free mapInPandas pass fuses the E-step
    (exact-int64 nearest-centroid, the :func:`_nearest_centroid_udf`
    arithmetic) with the per-PARTITION (cluster, n, Σ components)
    partial sums; the driver merges k×partitions bounded rows by
    integer addition, so the result is bit-identical to the previous
    assignment + groupBy(cluster) shape while dropping one shuffle and
    a 65-expression aggregate parse per iteration (guide §2.4: remove
    shuffles outright — the M-step's sums commute, no exchange needed).
    Empty clusters keep their previous centroid (no respawn heuristics
    — the deterministic choice)."""
    import numpy as np
    import pandas as pd

    dim = len(centroids[0])
    base = quantize_embeddings(df, id_col, vec_col, out_col="_q").select(
        F.expr("transform(_q, x -> CAST(x AS BIGINT))").alias("_qb")
    )
    for _ in range(iters):
        C = np.asarray(centroids, dtype=np.int64)

        def _partials(batches, C=C):
            n_acc = np.zeros(C.shape[0], dtype=np.int64)
            s_acc = np.zeros((C.shape[0], dim), dtype=np.int64)
            for pdf in batches:
                vals = pdf["_qb"].to_numpy()
                live = [v for v in vals if v is not None]
                if len(live) != len(vals):
                    raise ValueError(
                        "kmeans_fit: NULL quantized vector — drop NULL"
                        " embeddings before fitting"
                    )
                if not live:
                    continue
                Q = np.asarray([np.asarray(v, dtype=np.int64) for v in live])
                D = np.empty((Q.shape[0], C.shape[0]), dtype=np.int64)
                for c in range(C.shape[0]):
                    diff = Q - C[c]
                    D[:, c] = np.einsum("ij,ij->i", diff, diff)
                asg = D.argmin(axis=1)
                for c in np.unique(asg):
                    rows_c = Q[asg == c]
                    n_acc[c] += rows_c.shape[0]
                    s_acc[c] += rows_c.sum(axis=0)
            hit = np.nonzero(n_acc)[0]
            yield pd.DataFrame({
                "cluster": hit.astype("int64"),
                "n": n_acc[hit],
                "sums": [s_acc[c] for c in hit],
            })

        rows = base.mapInPandas(
            _partials, "cluster long, n long, sums array<long>"
        ).collect()
        n_tot = [0] * len(centroids)
        s_tot = [[0] * dim for _ in centroids]
        for r in rows:
            cl = int(r["cluster"])
            n_tot[cl] += int(r["n"])
            s = r["sums"]
            for i in range(dim):
                s_tot[cl][i] += int(s[i])
        new = [list(c) for c in centroids]
        for cl in range(len(centroids)):
            n = n_tot[cl]
            if n > 0:
                new[cl] = [
                    (s_tot[cl][i] * 2 + n) // (2 * n)  # floor(s/n + 1/2)
                    for i in range(dim)
                ]
        centroids = new
    return centroids


def semdedup_survivor_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    tau: float = 0.4,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Cluster-then-dedup (SemDeDup): assign every vector to its nearest
    centroid, score int8-cosine over pairs WITHIN a cluster only, and
    drop the higher id of every pair at or above ``tau`` (keep-first).
    → (cluster, n_members, n_survivors).

    Pair scoring is a per-cluster vectorized EXACT-int64 matmul
    (Arrow-batched applyInPandas, the within-cluster twin of
    dedup.embedding_cosine_pairs_blocked): integer dot/norm sums are
    summation-order-free, so unlike the float BLAS path there is no
    last-ulp band and no re-verify pass — the q6(cos) each engine
    computes is bit-identical by construction.  Measured v. the scalar
    expression join at sf0.1 (2k vectors, ~1M candidate evals): the
    per-pair SQL condition ran interpreted at ~20-30 µs/pair (both the
    unrolled 64-term form and the HOF fold), ~5 s/query; the matmul
    scores the same pairs in milliseconds.

    Scale shape: one shuffle on the cluster id; per-cluster compute is
    inherently m² (that is SemDeDup — k ~ √n keeps m bounded), and the
    scorer chunks the left operand (``chunk_rows`` × m intermediate) so
    task memory stays bounded even for a hot cluster.  Zero-norm vectors
    score as excluded (NULL-cosine semantics, same as the SQL oracle)."""
    import numpy as np
    import pandas as pd

    asg = kmeans_assign_q(df, id_col, vec_col, centroids, keep_q=True)
    thr = float(tau)

    def removed_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        Q = np.vstack(pdf["_qb"].to_numpy())[order].astype(np.int64)
        nrm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        out: set[int] = set()
        m = len(ids)
        for lo in range(0, m, chunk_rows):
            hi = min(lo + chunk_rows, m)
            G = Q[lo:hi] @ Q.T  # exact int64 — order-free
            with np.errstate(divide="ignore", invalid="ignore"):
                C = G / np.outer(nrm[lo:hi], nrm)  # same mul/div as the SQL
                C = np.floor(C * 1e6 + 0.5) / 1e6  # q6, identical op order
            C[~np.isfinite(C)] = -2.0  # zero-norm rows: NULL-cosine → excluded
            ii, jj = np.nonzero(C >= thr)
            keep = (ii + lo) < jj  # id_a < id_b (ids ascending)
            out.update(ids[jj[keep]].tolist())
        return pd.DataFrame({"ib": sorted(out)})

    removed = asg.groupBy("cluster").applyInPandas(
        lambda _k, pdf: removed_ids(pdf), "ib long"
    )
    return (
        asg.join(removed, asg["id"] == removed["ib"], "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count(F.when(F.col("ib").isNull(), 1)).alias("n_survivors"),
        )
    )
