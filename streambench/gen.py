"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the engine under test only ever
sees the files these functions write.  The open-loop join generator runs
as its own process (``python3 gen.py --out DIR --rate R ...``) so that
its fixed schedule never waits for the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- shared -----------------------------------------------------------------

KEY_SPACE = 1 << 40          # stream_join: entry keys; unmatched exit keys sit above it


def write_atomic(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` as ``directory/name`` via a dot-prefixed temp file
    and a rename, so a file-stream listing never sees a half-written part
    (Spark's file index skips names starting with '.' or '_')."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return final


def event_schema() -> pa.Schema:
    """Both workloads' event files: id, key, integer amount, event time."""
    return pa.schema([
        ("id", pa.int64()),
        ("k", pa.int64()),
        ("amount", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])


def join_tick(rng: np.random.Generator, n: int, stamp_us: int, first_id: int,
              match_share: float):
    """One tick of the two keyed topics: ``n`` entry and ``n`` exit events,
    all stamped ``stamp_us``.  About ``match_share`` of the exit keys are
    drawn (without replacement) from this tick's entry keys; the rest come
    from a disjoint key range, so they never match."""
    entry_k = rng.integers(0, KEY_SPACE, n)
    n_match = int(round(n * match_share))
    exit_k = np.concatenate([
        rng.choice(entry_k, n_match, replace=False),
        rng.integers(KEY_SPACE, 2 * KEY_SPACE, n - n_match),
    ])
    rng.shuffle(exit_k)
    ts = pa.array(np.full(n, stamp_us, dtype=np.int64), pa.timestamp("us", tz="UTC"))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    tables = []
    for keys in (entry_k, exit_k):
        tables.append(pa.Table.from_arrays(
            [pa.array(ids), pa.array(keys.astype(np.int64)),
             pa.array(rng.integers(0, 100, n)), ts],
            schema=event_schema(),
        ))
    return tables


def run_join_generator(out_dir: str, rate: int, period: float, n_ticks: int, seed: int,
                       stats_file: str, match_share: float = 0.7) -> None:
    """Open-loop generator: tick ``k`` is due at ``t0 + k*period`` and
    writes ``rate*period`` events to each topic, whatever the engine is
    doing.  Each event is stamped with its tick's due time (the time it
    was scheduled to be created), so a stall in the generator shows up in
    the measured latency; how late each tick actually ran is recorded."""
    rng = np.random.default_rng(seed)
    n = int(round(rate * period))
    dirs = [os.path.join(out_dir, t + ".parquet") for t in ("entry", "exit")]
    for d in dirs:
        os.makedirs(d, exist_ok=True)
    # align ticks to the period grid so one tick never straddles a
    # 1-second join window
    t0 = (int(time.time() / period) + 1) * period
    lateness, ticks = [], []
    for k in range(n_ticks):
        due = t0 + k * period
        now = time.time()
        if now < due:
            time.sleep(due - now)
        lateness.append(max(0.0, time.time() - due))
        stamp_us = int(round(due * 1e6))
        for d, table in zip(dirs, join_tick(rng, n, stamp_us, k * n, match_share)):
            write_atomic(table, d, f"part-{k:06d}.parquet")
        ticks.append(stamp_us)
    with open(stats_file + ".tmp", "w") as fh:
        json.dump({"ticks": ticks, "lateness_s": lateness, "events_per_tick": n}, fh)
    os.rename(stats_file + ".tmp", stats_file)


# -- replay backlog ---------------------------------------------------------

def write_backlog(out_dir: str, seed: int, n_files: int, rows_per_file: int,
                  file_span_us: int, n_keys: int, zipf_a: float,
                  disorder_share: float, t0_us: int) -> dict:
    """Seeded backlog: file ``i`` holds events with times in
    ``[t0 + i*span, t0 + (i+1)*span)``, keys Zipf-skewed over ``n_keys``.
    Rows are in time order except ``disorder_share`` of them, which are
    moved to random positions inside their file: out of order on arrival,
    but never behind a file written earlier, so a zero-lateness watermark
    drops none of them.  File modification times increase with ``i`` so
    the file source reads them in order.  A final one-row sentinel file
    far past the backlog advances the watermark so every backlog window
    closes; its value passes the filter and its window never does."""
    rng = np.random.default_rng(seed)
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    mtime0 = time.time() - n_files - 10
    for i in range(n_files):
        ts = np.sort(rng.integers(0, file_span_us, rows_per_file)) + t0_us + i * file_span_us
        moved = rng.random(rows_per_file) < disorder_share
        idx = np.arange(rows_per_file)
        src = idx[moved]
        idx[moved] = rng.permutation(src)
        ts = ts[idx]
        keys = np.minimum(rng.zipf(zipf_a, rows_per_file), n_keys) - 1
        table = pa.Table.from_arrays(
            [pa.array(np.arange(i * rows_per_file, (i + 1) * rows_per_file, dtype=np.int64)),
             pa.array(keys.astype(np.int64)),
             pa.array(rng.integers(0, 1000, rows_per_file)),
             pa.array(ts, pa.timestamp("us", tz="UTC"))],
            schema=event_schema(),
        )
        path = write_atomic(table, d, f"part-{i:06d}.parquet")
        os.utime(path, (mtime0 + i, mtime0 + i))
    sentinel_ts = t0_us + (n_files + 3600) * file_span_us
    sentinel = pa.Table.from_arrays(
        [pa.array([-1], pa.int64()), pa.array([-1], pa.int64()),
         pa.array([999], pa.int64()),
         pa.array([sentinel_ts], pa.timestamp("us", tz="UTC"))],
        schema=event_schema(),
    )
    path = write_atomic(sentinel, d, f"part-{n_files:06d}.parquet")
    os.utime(path, (mtime0 + n_files, mtime0 + n_files))
    return {"dir": d, "events": n_files * rows_per_file}


# -- corpus_epochs ----------------------------------------------------------

DIM = 64
CELLS = 32
VOCAB = 20000
DOC_WORDS = (40, 80)
# embedding noise norm relative to the unit cell centres: at 1.5
# neighbouring cells overlap enough that a 2-of-32 cell probe misses some
# of the true top-10 (recall@10 about 0.9)
NOISE = 1.5


class CorpusGen:
    """Seeded documents (Zipf vocabulary) with 64-d embeddings near one of
    32 cell centres, plus crawl batches with planted exact and near
    duplicates of documents already in the corpus."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centres = self.rng.normal(size=(CELLS, DIM))
        self.centres /= np.linalg.norm(self.centres, axis=1, keepdims=True)
        self.next_id = 0

    def _text(self) -> str:
        n = int(self.rng.integers(*DOC_WORDS))
        w = np.minimum(self.rng.zipf(1.15, n), VOCAB)
        return " ".join(f"w{x}" for x in w)

    def _vec(self, cell: int) -> list:
        v = self.centres[cell] + self.rng.normal(scale=NOISE / np.sqrt(DIM), size=DIM)
        return [float(x) for x in np.round(v, 6)]

    def fresh(self, n: int) -> list:
        rows = []
        for _ in range(n):
            cell = int(self.rng.integers(CELLS))
            rows.append((self.next_id, self._text(), self._vec(cell), cell))
            self.next_id += 1
        return rows

    def near_copy(self, text: str) -> str:
        """Replace ~4% of the words (at least one): Jaccard of word
        3-shingles stays well above the 0.5 dedup threshold."""
        words = text.split()
        n_edit = max(1, len(words) // 25)
        for pos in self.rng.choice(len(words), n_edit, replace=False):
            words[pos] = f"z{int(self.rng.integers(1 << 30))}"
        return " ".join(words)

    def crawl_batch(self, pool: list, n: int, exact_share: float, near_share: float):
        """``n`` docs: ``exact_share`` byte copies and ``near_share`` edited
        copies of docs drawn from ``pool`` (docs already in the corpus),
        the rest fresh.  Returns (rows, kinds) with kinds[id] in
        {'exact', 'near', 'fresh'}."""
        n_exact = int(round(n * exact_share))
        n_near = int(round(n * near_share))
        picks = self.rng.choice(len(pool), n_exact + n_near, replace=False)
        rows, kinds = [], {}
        for j, p in enumerate(picks):
            _, text, vec, cell = pool[p]
            kind = "exact" if j < n_exact else "near"
            body = text if kind == "exact" else self.near_copy(text)
            rows.append((self.next_id, body, vec, cell))
            kinds[self.next_id] = kind
            self.next_id += 1
        for r in self.fresh(n - n_exact - n_near):
            rows.append(r)
            kinds[r[0]] = "fresh"
        order = self.rng.permutation(len(rows))
        return [rows[i] for i in order], kinds

    def queries(self, n: int) -> list:
        return [self._vec(int(self.rng.integers(CELLS))) for _ in range(n)]


def main() -> None:
    ap = argparse.ArgumentParser(description="stream_join load generator (one process)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=int, required=True, help="events/s per topic")
    ap.add_argument("--period", type=float, required=True, help="seconds between ticks")
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--stats", required=True, help="where to write schedule statistics")
    a = ap.parse_args()
    run_join_generator(a.out, a.rate, a.period, a.ticks, a.seed, a.stats)


if __name__ == "__main__":
    main()
