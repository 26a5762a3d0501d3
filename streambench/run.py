"""Benchmark entry point for the go_streaming_spark engine.

    python3 streambench/run.py --workload stream_join_replay --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads: ``stream_join_replay`` (an
open-loop windowed join phase, then a closed-loop backlog replay phase)
and ``corpus_epochs`` (closed-loop corpus ingest + ANN probes); NOTES.md
says why each exists.  One run generates its seeded inputs, sets up a
local Spark session (session start + warm-up = setup_s), measures for
about ``--seconds``, checks the outputs against a reference, runs the
known-defect probes, and prints a table on stderr and the result as the
last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Both workloads report the same metrics.  ``--trace 0`` reports the
end-to-end metrics (``E2E``): each workload fills the shared latency,
throughput and recall metrics from its own timed operation.  ``--trace 1``
records spans around the harness's calls into each engine module plus
streaming progress, writes them to
``.streambench/trace-<workload>-<seed>.json``, reports every per-layer
metric (a layer the workload bypasses reads 0) and prints the tracing
overhead against the last untraced run of the same workload and seed.  A
failed output check exits 1; a checkout without the engine package
exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from w_corpus import CorpusPhase
from w_join import JoinPhase
from w_replay import ReplayPhase

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics, the same on every workload: name -> unit
E2E = {
    "setup_s": "s",
    "failed_ops_ratio": "ratio",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",       # join pair latency / ANN probe latency
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",  # replay events / ingested crawl docs per second
    "recall": "ratio",          # join pairs emitted / ANN top-10 overlap
}
WORKLOADS = {"stream_join_replay": (JoinPhase, ReplayPhase),
             "corpus_epochs": (CorpusPhase,)}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_share", "ratio"), ("_ratio", "ratio"), ("_recall", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _shutdown_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "go_streaming_spark", "__init__.py")):
        print(f"streambench: engine package go_streaming_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    import bench  # the repo's /proc load sampling (_sample_load / _load_row)
    import common

    phase_types = WORKLOADS[args.workload]
    # every workload reports every layer's metrics; those of the layers it
    # bypasses read 0
    all_layers = [n for types in WORKLOADS.values() for t in types for n in t.LAYERS]

    out_dir = os.path.join(ROOT, ".streambench")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    common.prepare_env(work)
    tracer = common.Tracer(bool(args.trace))
    rss = common.RssSampler()
    rss.start()
    spark = None
    try:
        phases = [t(work, args.seed, args.seconds, tracer, rss) for t in phase_types]
        with tracer.span("generate"):
            for ph in phases:
                ph.generate()
        spark, start_s, warmup_s = common.setup(work, phases, tracer)
        load0 = bench._sample_load()
        t0 = time.perf_counter()
        results = [ph.measure(spark) for ph in phases]
        measured_s = time.perf_counter() - t0
        load = bench._load_row(load0, bench._sample_load())
        peak_mb = rss.stop()
        with tracer.span("probes"):
            probes = common.run_probes(spark, work)
        _shutdown_jvm(spark)
        spark = None
    finally:
        if rss.is_alive():
            rss.stop()
        if spark is not None:
            _shutdown_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    res = {"attempted": 0, "e2e": {}, "samples": {}, "notes": {}, "layers": {}, "checks": {}}
    for ph, r in zip(phases, results):
        res["attempted"] += r["attempted"]
        for key in ("e2e", "samples", "notes", "layers"):
            res[key].update(r.get(key, {}))
        res["checks"][type(ph).__name__] = r["checks"]
    # a probe failing with another cause than its known defect is a fault
    # of the harness or a new one of the engine: it fails the run
    unexpected = [name for name, outcome, _ in probes if outcome == "unexpected"]
    res["checks"]["probes"] = {"ok": not unexpected, "unexpected": unexpected}
    res["checks"]["ok"] = all(r["checks"]["ok"] for r in results) and not unexpected
    failed = sum(1 for _, outcome, _ in probes if outcome != "passed")
    attempted = res["attempted"] + len(probes)
    e2e = {
        "setup_s": start_s + warmup_s,
        "failed_ops_ratio": failed / attempted,
        "peak_rss_mb": peak_mb,
        **res["e2e"],
    }
    assert set(e2e) == set(E2E), f"workload reports {sorted(e2e)}, not {sorted(E2E)}"
    correct = bool(res["checks"]["ok"]) and all(v is not None for v in e2e.values())
    samples = {"setup_s": 1, "failed_ops_ratio": attempted, "peak_rss_mb": 1,
               **res["samples"]}

    if args.trace:
        own = {n for t in phase_types for n in t.LAYERS}
        assert set(res["layers"]) == own, f"layers {sorted(set(res['layers']) ^ own)} undeclared"
        layers = {"session.start_s": start_s, "session.warmup_s": warmup_s,
                  **{n: 0 for n in all_layers}, **res["layers"]}
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E.items()
                   if e2e[k] is not None}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "measured_s": measured_s, "load": load,
              "checks": res["checks"], "samples": samples, "notes": res.get("notes", {}),
              "probes": probes, "e2e": e2e}
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if args.trace:
        try:
            with open(base + "-untraced.json") as fh:
                untraced = json.load(fh)["e2e"]
            record["tracing_overhead"] = {
                k: v - untraced[k] for k, v in record["e2e"].items()
                if v is not None and untraced.get(k) is not None}
        except (OSError, ValueError, KeyError):
            record["tracing_overhead"] = None
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), record)
    else:
        with open(base + "-untraced.json", "w") as fh:
            json.dump(record, fh, indent=1)

    _print_table(record, metrics, samples, correct, attempted, failed)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def _print_table(record, metrics, samples, correct, attempted, failed) -> None:
    err = sys.stderr
    print(f"== {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"measured {record['measured_s']:.1f}s", file=err)
    for k, m in metrics.items():
        n = samples.get(k, "-")
        print(f"  {k:<36} {m['value']:>14.6g} {m['unit']:<6} n={n}", file=err)
    print(f"  checks: {'PASS' if record['checks']['ok'] else 'FAIL'} "
          f"{json.dumps(record['checks'])}", file=err)
    for name, outcome, detail in record["probes"]:
        print(f"  probe {name}: {outcome} {detail}", file=err)
    print(f"  ops attempted={attempted} failed={failed} correct={correct}", file=err)
    print(f"  load: {json.dumps(record['load'])}", file=err)
    if record.get("notes"):
        print(f"  notes: {json.dumps(record['notes'])}", file=err)
    if record["trace"]:
        print(f"  tracing overhead (traced - untraced): "
              f"{json.dumps(record.get('tracing_overhead'))}", file=err)


if __name__ == "__main__":
    sys.exit(main())
