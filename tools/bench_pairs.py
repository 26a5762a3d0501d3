"""Run interleaved parent/change pairs of one streambench workload.

    python3 tools/bench_pairs.py --parent ../parent-checkout --change . \\
        --workload corpus_epochs --seeds 5,6,7 --pairs 10 [--trace 1]

Each pair runs ``python3 streambench/run.py --workload W --seed S
--seconds 10 --trace T`` once in each checkout, one after the other,
with the parent first in even pairs and the change first in odd ones;
the seeds cycle over the pairs.  Both sides of a pair use the same seed.
Every run prints one line with its metrics and the ``ext_cpu_cores`` it
recorded: the CPU that processes outside the run used while it
measured, which is how a busy host shows.  At the end, for every metric
of ``BENCHMARK.json`` the runs report (the end-to-end ones with
``--trace 0``, the default; the per-layer ones with ``--trace 1``),
the script prints each side's median and quartiles, how many pairs the
change won (strictly better, in the metric's direction), and the gap
between the medians against the parent's interquartile range.  It also
prints, per side, how many runs read ``ext_cpu_cores`` at or above
``BUSY_CORES`` and the highest reading: at that level runs measured
25-80% slower (``streambench/NOTES.md``).  Such runs are flagged
``busy`` where they are printed and stay in every statistic.  ``--out``
also writes every run as a JSON line.

Run nothing else on the host meanwhile: a concurrent Spark session
inflates both sides' timings and shows only in ``ext_cpu_cores``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


# ext_cpu_cores at which a run is flagged as measured on a busy host
BUSY_CORES = 0.3


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run in ``checkout``: the metric values it reports (end-to-end
    untraced, per-layer traced), or an ``error`` with the tail of its
    stderr."""
    proc = subprocess.run(
        ["python3", "streambench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"error": proc.stderr[-2000:]}
    # a traced run writes its record with its spans, and no untraced one
    name = f"trace-{workload}-{seed}.json" if trace else f"{workload}-seed{seed}-untraced.json"
    record = os.path.join(checkout, ".streambench", name)
    with open(record) as fh:
        load = json.load(fh)["load"]
    return {
        "correct": result["correct"],
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
        "ext_cpu_cores": load.get("ext_cpu_cores"),
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def busy(run: dict) -> bool:
    return (run.get("ext_cpu_cores") or 0) >= BUSY_CORES


def summarize(runs: list[dict], metrics: list[dict]) -> None:
    for side in ("parent", "change"):
        done = [r for r in runs if r["side"] == side and "metrics" in r]
        read = [r["ext_cpu_cores"] for r in done if r["ext_cpu_cores"] is not None]
        top = f"{max(read):.2f}" if read else "-"
        print(f"{side}: {sum(map(busy, done))}/{len(done)} runs with"
              f" ext_cpu_cores >= {BUSY_CORES} (max {top})")
    pairs = {}
    for r in runs:
        if "metrics" in r:
            pairs.setdefault(r["pair"], {})[r["side"]] = r["metrics"]
    both = [p for p in pairs.values() if len(p) == 2]
    width = max(len("metric"), *(len(m["name"]) for m in metrics))
    print(f"\n{len(both)} complete pairs")
    print(f"{'metric':<{width}} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30}"
          f" {'change wins':<12} gap/parent IQR")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s][name] for p in both if name in p[s]] for s in ("parent", "change")}
        if not vals["parent"] or len(vals["parent"]) != len(vals["change"]):
            continue
        wins = sum(
            (c < p) if lower else (c > p)
            for p, c in zip(vals["parent"], vals["change"])
        )
        (p1, p2, p3), (c1, c2, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        iqr = p3 - p1
        ratio = f"{abs(c2 - p2) / iqr:.1f}" if iqr > 0 else "-"
        print(f"{name:<{width}} {f'{p2:.4g} [{p1:.4g}, {p3:.4g}]':<30}"
              f" {f'{c2:.4g} [{c1:.4g}, {c3:.4g}]':<30}"
              f" {f'{wins}/{len(both)}':<12} {ratio}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated, cycled over the pairs")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0,
                    help="1: traced runs, summarized over the per-layer metrics")
    ap.add_argument("--out", help="append every run as a JSON line to this file")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    seeds = [int(s) for s in args.seeds.split(",")]
    sides = {"parent": args.parent, "change": args.change}
    runs = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = {"pair": i, "side": side, "seed": seed,
                 **run_once(sides[side], args.workload, seed, args.seconds, args.trace)}
            runs.append(r)
            if "error" in r:
                print(f"pair {i} seed {seed} {side:<6} FAILED\n{r['error']}", flush=True)
            else:
                vals = " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items())
                print(f"pair {i} seed {seed} {side:<6} correct={r['correct']} {vals}"
                      f" ext_cpu_cores={r['ext_cpu_cores']}{' busy' if busy(r) else ''}",
                      flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
    summarize(runs, metrics)
    return 0 if all("error" not in r for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
