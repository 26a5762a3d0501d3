"""/proc load sampler used by ``streambench/run.py`` (imported as ``bench``).

``_sample_load()`` snapshots loadavg, system busy jiffies and this process
tree's jiffies; ``_load_row(before, after)`` turns two snapshots into a
telemetry row with ``own_cpu_cores`` and ``ext_cpu_cores`` (CPU burned
outside this process tree, e.g. other tenants or hypervisor steal).
"""

from __future__ import annotations

import os
import time

# A row is flagged `contended` when more than EXT_CORES_CONTENDED cores of
# CPU ran outside this process tree during the sampled window: well above
# quiet-host noise (<0.3 cores), and our own JVM is excluded.
EXT_CORES_CONTENDED = 2.0


def _loadavg():
    try:
        with open("/proc/loadavg") as fh:
            parts = fh.read().split()
        return float(parts[0])
    except (OSError, ValueError, IndexError):
        return None


def _system_busy_jiffies():
    """Non-idle jiffies across all CPUs (user+nice+system+irq+softirq+
    steal — idle and iowait excluded)."""
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()[1:]
        v = [int(x) for x in f[:8]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        return sum(v) - idle
    except (OSError, ValueError, IndexError):
        return None


def _tree_cpu_jiffies():
    """utime+stime jiffies of this process and every live descendant
    (the JVM and its threads) — one /proc walk, a few ms.  cutime/cstime
    (CPU of REAPED children, rolled up to the parent at wait()) are
    included: pyspark UDF workers come and go between samples, and
    without the rollup a worker's jiffies VANISH from the walk when it
    exits — the tree delta goes negative and the external-load estimate
    explodes (a 198-core reading on a 32-core box, r14)."""
    try:
        me = os.getpid()
        stats = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            # comm may contain spaces/parens: split after the LAST ')'
            rest = raw[raw.rindex(")") + 2:].split()
            stats[int(pid)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12])
                + int(rest[13]) + int(rest[14]),
            )
        kids = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        total, stack = 0, [me]
        while stack:
            pid = stack.pop()
            if pid in stats:
                total += stats[pid][1]
                stack.extend(kids.get(pid, ()))
        return total
    except (OSError, ValueError, KeyError):
        return None


def _sample_load():
    return (_loadavg(), _system_busy_jiffies(), _tree_cpu_jiffies(),
            time.perf_counter())


def _load_row(before, after):
    """Per-query telemetry row from two _sample_load() samples."""
    load_b, busy_b, tree_b, t_b = before
    load_a, busy_a, tree_a, t_a = after
    row = {"load1_before": load_b, "load1_after": load_a}
    wall = t_a - t_b
    if None not in (busy_b, busy_a, tree_b, tree_a) and wall > 0:
        tick = os.sysconf("SC_CLK_TCK") or 100
        ncpu = os.cpu_count() or 32
        # own can still read slightly negative if an orphaned descendant
        # was re-parented off our tree between samples — clamp both, and
        # cap ext at the core count (nothing real can exceed it)
        own = max(0.0, (tree_a - tree_b) / tick / wall)
        ext = min(
            float(ncpu),
            max(0.0, (busy_a - busy_b) / tick / wall - own),
        )
        row["own_cpu_cores"] = round(own, 2)
        row["ext_cpu_cores"] = round(ext, 2)
        row["contended"] = ext > EXT_CORES_CONTENDED
    return row
