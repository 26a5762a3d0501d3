"""(Beyond reference) The drift-monitoring loop of a training-data
pipeline: fixed-size sufficient statistics answer every cohort
question without re-touching the corpus.

  grouped per-dimension moment cells (ONE posexplode + groupBy pass,
  groups·dim add-mergeable state) → standardized-mean-difference
  report between two cohorts (bounded-frame query over the statistic)
  → CUSUM changepoint alarms over the event stream (distributed
  prefix-sum closed form, no key-sized sort task) → the same moment
  grid accumulated STREAMING, one crawl file per trigger.

Run: python examples/drift_monitor.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from go_streaming_spark.functions import similarity
from go_streaming_spark.functions.stats import cusum_alarms
from go_streaming_spark.session import get_session
from go_streaming_spark.streaming import replay_batches

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
DIM = 64


def main() -> None:
    spark = get_session("drift-monitor")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # 1. the expensive pass, paid ONCE: exact per-(label, dimension)
    #    µ-int moment sums — groups·dim rows whatever the corpus size
    stats = similarity.embedding_dim_stats_by(
        emb, "label", "embedding", dim=DIM
    ).localCheckpoint()
    n_cells = stats.count()
    print(f"moment grid: {n_cells} cells "
          f"({n_cells // DIM} cohorts x {DIM} dims)")

    # 2. every cohort comparison after that is a bounded-frame query:
    #    standardized mean differences between labels 3 and 7
    smd = similarity.smd_from_dim_stats(stats, 3, 7)
    worst = smd.orderBy(F.desc(F.abs("smd_q6"))).limit(5).collect()
    print("top |SMD| dimensions between cohorts 3 and 7:")
    for r in worst:
        print(f"  dim {r['d']:2d}: smd={r['smd_q6']:+.4f} "
              f"(n={r['n_a']}/{r['n_b']})")
    flagged = smd.filter(F.abs("smd_q6") > 0.5).count()
    print(f"{flagged} dims over the |SMD|>0.5 drift bar")

    # 3. sequential drift on the event stream: CUSUM S_n =
    #    max(0, S_{n-1} + (x-k)) per key, run as prefix sums + running
    #    minima stitched across (key, day) buckets — exact µ-int64
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    alarms = cusum_alarms(
        ev, "event_type", "ts", "event_id", "value",
        k=60_000_000, h=200_000_000,
    )
    print("CUSUM alarms per event type (k=60, h=200 in value units):")
    alarms.orderBy(F.desc("n_alarms")).show(5)

    # 4. the same moment grid accumulated the streaming way: each
    #    crawl file folds into the carried state by ADDITION — the
    #    per-crawl-epoch drift check at 100 TB
    holder = {"cells": None}

    def ingest(batch_df, _bid):
        part = similarity.embedding_dim_stats_by(
            batch_df, "label", "embedding", dim=DIM
        )
        merged = part if holder["cells"] is None else (
            holder["cells"].unionByName(part).groupBy("grp", "d")
            .agg(F.sum("n").alias("n"),
                 F.sum("sum_q").alias("sum_q"),
                 F.sum("sumsq_q").alias("sumsq_q"))
        )
        holder["cells"] = merged.localCheckpoint()

    cohorts = emb.select("vec_id", "label", "embedding")
    triggers = replay_batches(cohorts, ingest)

    # the streamed state answers the SAME question, cell for cell
    merged_ok = (
        similarity.smd_from_dim_stats(holder["cells"], 3, 7)
        .exceptAll(smd).count() == 0
    )
    print(f"streamed {triggers} triggers -> "
          f"{holder['cells'].count()} cells; "
          f"SMD report identical to batch: {merged_ok}")

    spark.stop()


if __name__ == "__main__":
    main()
