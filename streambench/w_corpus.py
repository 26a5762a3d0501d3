"""corpus_epochs: closed-loop corpus ingest + ANN epochs (batch jobs).

Set-up builds ``CorpusState`` over a seeded corpus and persists an IVF
index (``save_ivf_index``), then runs one untimed warm round.  The timed
epoch ingests a crawl batch with planted exact and near duplicates
(``CorpusState.ingest`` + ``checkpoint``), appends the survivors' vectors
(``append_ivf_vectors``) and runs a closed-loop sequence of
``ivf_pruned_topk`` probes, so index writes sit beside index reads.  The
epoch is fixed-size work (about 17 s on a 4-vCPU VM), whatever ``--seconds``.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq

import common
import gen

CORPUS_DOCS = 500
BATCH_DOCS = 600
WARM_DOCS = 60
EXACT_SHARE = 0.10
NEAR_SHARE = 0.10
PROBES = 12
K = 10
NPROBE = 2
SCHEMA = "doc_id long, text string, emb array<double>, cell int"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def exact_topk(path: str, q, k: int) -> list:
    """Brute-force cosine top-k over every vector in the index files, in
    ``cosine_topk``'s order: score floor-quantized to 1e-6, descending,
    ties by ascending id."""
    t = pq.read_table(os.path.join(path, "vectors"), columns=["doc_id", "emb"])
    ids = t["doc_id"].to_numpy()
    v = np.asarray(t["emb"].to_pylist(), dtype=np.float64)
    q = np.asarray(q, dtype=np.float64)
    cos = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    score = np.floor(cos * 1e6 + 0.5) / 1e6
    order = np.lexsort((ids, -score))
    return ids[order[:k]].tolist()


class CorpusPhase:
    """The ``corpus_epochs`` workload."""

    LAYERS = (
        "functions.corpus_state.ingest_s", "functions.corpus_state.checkpoint_s",
        "functions.corpus_state.state_rows", "functions.dedup.survivor_ratio",
        "functions.dedup.exact_dropped", "functions.dedup.near_dropped",
        "functions.dedup.near_dup_recall", "functions.similarity.append_s",
        "functions.similarity.probe_s", "functions.similarity.index_files",
        "functions.similarity.probed_rows", "spark.corpus.jobs", "spark.corpus.tasks",
    )

    def __init__(self, work: str, seed: int, seconds: int, tracer, rss):
        self.work, self.seed, self.tracer, self.rss = work, seed, tracer, rss
        self.index = os.path.join(work, "ivf")

    def generate(self) -> None:
        g = gen.CorpusGen(self.seed)
        self.corpus = g.fresh(CORPUS_DOCS)
        self.warm_batch, _ = g.crawl_batch(self.corpus, WARM_DOCS, EXACT_SHARE, NEAR_SHARE)
        self.warm_query = g.queries(1)[0]
        self.batch, self.kinds = g.crawl_batch(self.corpus, BATCH_DOCS, EXACT_SHARE, NEAR_SHARE)
        self.queries = g.queries(PROBES)

    def warmup(self, spark) -> None:
        """The pipeline's set-up: ``CorpusState.build`` over the corpus and
        ``save_ivf_index``; then one untimed ingest/append/probe round so
        the timed epoch runs on warm code paths.  The warm round's
        survivors join the corpus."""
        from go_streaming_spark.functions.corpus_state import CorpusState
        from go_streaming_spark.functions.similarity import (
            append_ivf_vectors, ivf_pruned_topk, label_centroids, save_ivf_index,
        )

        df = _df(spark, self.corpus).cache()
        state = CorpusState.build(df, "doc_id", "text").checkpoint()
        save_ivf_index(df, "doc_id", "emb", "cell",
                       label_centroids(df, "cell", "emb", gen.DIM), self.index)
        df.unpersist()
        clean, state = state.ingest(_df(spark, self.warm_batch), "doc_id", "text")
        clean = clean.select("doc_id", "emb", "cell").localCheckpoint()
        self.state = state.checkpoint()
        append_ivf_vectors(clean, "doc_id", "emb", "cell", self.index)
        self.warm_survivors = {r["doc_id"] for r in clean.select("doc_id").collect()}
        ivf_pruned_topk(spark, self.index, "doc_id", "emb", "cell",
                        self.warm_query, K, NPROBE).collect()

    def measure(self, spark) -> dict:
        from go_streaming_spark.functions.similarity import append_ivf_vectors, ivf_pruned_topk

        tr = self.tracer
        state, path = self.state, self.index
        probe_lat, recalls, probed_rows = [], [], []
        jobs = tasks = ops = 0

        def count_jobs(group: str) -> None:
            nonlocal jobs, tasks, ops
            j, t = common.jobs_and_tasks(spark, group)
            jobs, tasks, ops = jobs + j, tasks + t, ops + 1

        batch = _df(spark, self.batch)
        t0 = time.perf_counter()
        with common.job_group(spark, "ingest"), tr.span("functions.corpus_state.ingest"):
            clean, state = state.ingest(batch, "doc_id", "text")
            clean = clean.select("doc_id", "emb", "cell").localCheckpoint()
        with common.job_group(spark, "ckpt"), tr.span("functions.corpus_state.checkpoint"):
            state = state.checkpoint()
        with common.job_group(spark, "append"), tr.span("functions.similarity.append"):
            append_ivf_vectors(clean, "doc_id", "emb", "cell", path)
        ingest_s = time.perf_counter() - t0
        for g in ("ingest", "ckpt", "append"):
            count_jobs(g)
        survivors = {r["doc_id"] for r in clean.select("doc_id").collect()}
        for qi, qv in enumerate(self.queries):
            t1 = time.perf_counter()
            with common.job_group(spark, f"probe{qi}"), tr.span("functions.similarity.probe"):
                ann = [r["id"] for r in ivf_pruned_topk(
                    spark, path, "doc_id", "emb", "cell", qv, K, NPROBE).collect()]
            probe_lat.append(time.perf_counter() - t1)
            count_jobs(f"probe{qi}")
            with self.rss.paused():
                recalls.append(len(set(ann) & set(exact_topk(path, qv, K))) / K)
            if tr.enabled:
                probed_rows.append(self._probed_rows(spark, path, qv))
        with self.rss.paused():
            checks, near_recall = self._check(survivors)
        n_docs = len(self.batch)
        out = {
            "attempted": n_docs + len(probe_lat),
            "checks": checks,
            "e2e": {
                "throughput_per_s": n_docs / ingest_s,
                "latency_p50_s": float(np.percentile(probe_lat, 50)),
                "latency_p90_s": float(np.percentile(probe_lat, 90)),
                "recall": float(np.mean(recalls)),  # ANN recall@10
            },
            "samples": {"throughput_per_s": n_docs, "latency_p50_s": len(probe_lat),
                        "latency_p90_s": len(probe_lat), "recall": len(recalls)},
            "notes": {"ingest_s": ingest_s, "near_dup_recall": near_recall},
        }
        if tr.enabled:
            out["layers"] = self._layers(state, path, survivors, probed_rows, jobs, tasks, ops)
        return out

    def _probed_rows(self, spark, path, qv) -> int:
        """Rows in the cells ivf_pruned_topk scans for ``qv`` (its probe
        choice replayed from the centroid table)."""
        from pyspark.sql import functions as F

        from go_streaming_spark.functions.similarity import cosine_topk

        cents = spark.read.parquet(f"{path}/centroids")
        cells = [r["id"] for r in cosine_topk(cents, "cell", "vec", qv, NPROBE).collect()]
        return spark.read.parquet(f"{path}/vectors").filter(F.col("cell").isin(cells)).count()

    def _check(self, survivors: set):
        """No exact duplicate remains in corpus + survivors; every planted
        exact duplicate is dropped; no planted-unique doc is dropped."""
        with self.tracer.span("check"):
            texts = {r[0]: r[1] for r in self.corpus}
            texts.update((r[0], r[1]) for r in self.warm_batch)
            texts.update((r[0], r[1]) for r in self.batch)
            kept = [r[0] for r in self.corpus] + sorted(self.warm_survivors | survivors)
            digests = [hashlib.md5(texts[i].encode()).hexdigest() for i in kept]
            exact_left = len(digests) - len(set(digests))
            exact_kept = sum(1 for i, k in self.kinds.items() if k == "exact" and i in survivors)
            fresh_dropped = sum(1 for i, k in self.kinds.items() if k == "fresh" and i not in survivors)
            near = [i for i, k in self.kinds.items() if k == "near"]
            near_dropped = sum(1 for i in near if i not in survivors)
        ok = exact_left == 0 and exact_kept == 0 and fresh_dropped == 0
        return ({"ok": ok, "exact_duplicates_left": exact_left,
                 "planted_exact_kept": exact_kept, "planted_fresh_dropped": fresh_dropped,
                 "planted_near": len(near), "planted_near_dropped": near_dropped},
                near_dropped / max(1, len(near)))

    def _layers(self, state, path, survivors, probed_rows, jobs, tasks, ops) -> dict:
        n_files = sum(1 for _, _, fs in os.walk(os.path.join(path, "vectors"))
                      for f in fs if f.endswith(".parquet"))
        state_rows = (state.digests.count() + state.minhash.bands.count()
                      + state.minhash.shingles.count() + state.grams.count())
        tr = self.tracer
        dropped = lambda kind: sum(1 for i, k in self.kinds.items() if k == kind and i not in survivors)
        return {
            "functions.corpus_state.ingest_s": common.median(
                tr.durations("functions.corpus_state.ingest")),
            "functions.corpus_state.checkpoint_s": common.median(
                tr.durations("functions.corpus_state.checkpoint")),
            "functions.corpus_state.state_rows": state_rows,
            "functions.dedup.survivor_ratio": len(survivors) / max(1, len(self.kinds)),
            "functions.dedup.exact_dropped": dropped("exact"),
            "functions.dedup.near_dropped": dropped("near"),
            # share of planted near duplicates the ingest removed
            "functions.dedup.near_dup_recall": dropped("near") / max(
                1, sum(1 for k in self.kinds.values() if k == "near")),
            "functions.similarity.append_s": common.median(
                tr.durations("functions.similarity.append")),
            "functions.similarity.probe_s": common.median(
                tr.durations("functions.similarity.probe")),
            "functions.similarity.index_files": n_files,
            "functions.similarity.probed_rows": common.median(probed_rows),
            "spark.corpus.jobs": jobs / max(1, ops),
            "spark.corpus.tasks": tasks / max(1, ops),
        }
