"""Count-min sketch: the mergeable frequency/heavy-hitter sketch (Cormode
& Muthukrishnan 2005) as a DataFrame operator.

Why a sketch at 100 TB: exact per-key counts over a high-cardinality
column (URLs, n-grams, user ids) shuffle one row per distinct key; the
sketch is a FIXED depth×width counter table regardless of data size, its
build is one map-side-combined groupBy, and two sketches merge by
bucket-wise addition — the shape that survives incremental ingestion and
cross-partition aggregation.  Estimates overcount only (never under), by
at most ~N/width with probability 1-2^-depth.

All hash math reuses the minhash universal-hash family over md5-derived
32-bit key digests — int64-exact and engine-portable, so the sketch (and
therefore every estimate) has a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_streaming_spark.functions.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    md5_int,
)
from go_streaming_spark.functions.util import spread


def cms_bucket(key: Column, j: int, width: int) -> Column:
    """Row-``j`` bucket of ``key``: ((A_j * h32(key) + B_j) mod P) mod width
    — A_j < 2^30 and h32 < 2^32 keep the product under 2^62 (no int64
    overflow), same argument as the minhash permutations."""
    h = md5_int(key.cast("string"))
    return ((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P) % width


def count_min_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build the sketch table (row, bucket, count) over ``key_col``.

    One explode (depth rows per input row) + one map-side-combined
    groupBy; the shuffle carries at most depth×width rows per partition.
    Merge two sketches (e.g. per-day builds) by unioning and summing
    counts on (row, bucket).

    NULL keys are dropped (they hash to no bucket); estimate/heavy-hitter
    consumers therefore see drop-NULL-keys semantics.
    """
    if not 1 <= depth <= len(MINHASH_A):
        raise ValueError(f"depth must be in [1, {len(MINHASH_A)}]")
    df = df.filter(F.col(key_col).isNotNull())
    key = F.col(key_col)
    buckets = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"), cms_bucket(key, j, width).alias("bucket")
            )
            for j in range(depth)
        ]
    )
    return (
        spread(df)
        .select(F.explode(buckets).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys_df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate the frequency of every key in ``keys_df``:
    ``est = min_j sketch[j, h_j(key)]`` (0 when a bucket is absent).

    The keys frame is typically small (candidate heavy hitters) — AQE
    broadcasts it; the estimate never undercounts, so
    ``est >= threshold`` is a SOUND heavy-hitter prefilter: verify the
    survivors exactly, touching only candidate keys.
    """
    key = F.col(key_col)
    probes = keys_df.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        cms_bucket(key, j, width).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("key", "rb.row", "rb.bucket")
    joined = probes.join(sketch, ["row", "bucket"], "left")
    return joined.groupBy("key").agg(
        F.min(F.coalesce(F.col("count"), F.lit(0))).cast("long").alias("est_count")
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_count: int,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Exact keys with frequency ≥ ``min_count``, found the sketch way:
    CMS estimates prefilter candidate ROWS map-side (sound — the sketch
    never undercounts, so no true heavy hitter is lost), then ONE exact
    count pass over the surviving rows verifies.  Output equals the exact
    ``GROUP BY ... HAVING count >= t`` — the sketch only changes the cost.

    Two passes, neither shuffling the key cardinality: pass 1 builds the
    sketch (map-side-combined, ≤ depth×width rows cross the wire) and
    pulls the FIXED-SIZE counter table to the driver — the classic
    broadcast-a-summary shape, bounded regardless of data size; pass 2
    embeds the table as array literals, evaluates
    ``est = min_j table[j][h_j(key)]`` as a JVM expression per row, and
    only rows with ``est >= min_count`` reach the exact groupBy — at
    100 TB the overwhelmingly-unique tail is dropped before it ever
    shuffles (the r6 advisory's distinct()-based candidate pass was a
    full-cardinality shuffle; this is the fix).

    Emits (key, n_occ), exact counts.
    """
    return heavy_hitters_from_sketch(
        df, count_min_build(df, key_col, depth, width), key_col, min_count,
        depth, width,
    )


def heavy_hitters_from_sketch(
    df: DataFrame,
    sketch: DataFrame,
    key_col: str,
    min_count: int,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """:func:`heavy_hitters` with a caller-supplied (row, bucket, count)
    sketch — the shape streaming ingestion needs: the sketch accumulates
    incrementally (additive merge per micro-batch), and the exact verify
    pass runs on demand against whatever rows are queryable.  Soundness
    requires the sketch to cover (at least) the rows in ``df``: extra
    mass only loosens the prefilter, missing mass can undercount and
    drop a true heavy hitter.
    """
    table = [[0] * width for _ in range(depth)]
    for r in sketch.collect():
        if r["row"] is None or r["bucket"] is None:  # defensive vs NULL keys
            continue
        # ACCUMULATE, don't assign: a caller may hand us unioned
        # per-batch sketches that haven't been groupBy-merged yet;
        # last-write-wins would undercount and break the soundness
        # contract (a true heavy hitter must never be prefiltered out)
        table[r["row"]][r["bucket"]] += r["count"]
    key = F.col(key_col)
    ests = [
        F.element_at(
            F.lit(table[j]), (cms_bucket(key, j, width) + 1).cast("int")
        )
        for j in range(depth)
    ]
    est = ests[0] if depth == 1 else F.least(*ests)
    return (
        df.filter(est >= F.lit(min_count))
        .groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= min_count)
    )


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970): the mergeable SET-MEMBERSHIP sketch
# ---------------------------------------------------------------------------
# State = (word, bits) rows over 60-bit words (60, not 64: both engines
# shift 1<<pos as signed int64, and pos <= 59 keeps every word positive —
# no signed-overflow divergence).  Two filters merge by bit_or on word.
# No false negatives ever, so "not in filter" is a SOUND fast path.

BLOOM_WORD = 60


def bloom_probe_bits(key: Column, j: int, m_bits: int) -> Column:
    """Bit index of hash ``j`` for ``key``: same universal-hash family as
    minhash/CMS — int64-exact and engine-portable."""
    h = md5_int(key.cast("string"))
    return ((F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % MINHASH_P) % m_bits


def bloom_build(
    df: DataFrame, key_col: str, k: int = 4, m_bits: int = 65_536
) -> DataFrame:
    """Build the filter table (word, bits) over ``key_col``.

    SHUFFLE-FREE (guide §2.4): probe bit positions stay a codegen'd JVM
    projection (identical integer arithmetic to :func:`bloom_probe_bits`
    membership probes), and each partition bit-ors its rows into one
    bounded ≤ ``ceil(m_bits/60)``-word table inside a vectorized
    ``mapInPandas`` (``np.bitwise_or.at`` — unbuffered in-place OR, exact
    under duplicate indices).  The output holds PER-PARTITION partial
    tables: possibly several rows per word, to be or-merged by any
    consumer (:func:`bloom_maybe_contains` or-merges them per word before
    its collect; merge two filters by unioning frames).  The previous
    explode(k)+groupBy paid a full exchange of k·rows probe rows to
    produce the same bounded table.

    NULL keys are dropped at build: they can never match an equi-join, and
    a NULL probe key evaluates to NULL membership (filtered out) anyway.
    """
    import numpy as np
    import pandas as pd

    if not 1 <= k <= len(MINHASH_A):
        raise ValueError(f"k must be in [1, {len(MINHASH_A)}]")
    df = df.filter(F.col(key_col).isNotNull())
    key = F.col(key_col)
    probes = F.array(*[bloom_probe_bits(key, j, m_bits) for j in range(k)])
    n_words = (m_bits + BLOOM_WORD - 1) // BLOOM_WORD

    def _partials(batches):
        table = np.zeros(n_words, dtype=np.int64)
        for pdf in batches:
            vals = pdf["_p"].to_numpy()
            if not len(vals):
                continue
            bits = np.concatenate(
                [np.asarray(v, dtype=np.int64) for v in vals]
            )
            words = bits // BLOOM_WORD
            masks = np.left_shift(
                np.int64(1), (bits % BLOOM_WORD).astype(np.int64)
            )
            np.bitwise_or.at(table, words, masks)
        hit = np.nonzero(table)[0]
        yield pd.DataFrame(
            {"word": hit.astype("int64"), "bits": table[hit]}
        )

    # no spread(): the per-row work (k hash expressions + a vectorized
    # bit-or) is cheap, so scan splits provide all the parallelism this
    # single-pass build needs — widening would reintroduce the very
    # exchange this build exists to avoid
    return (
        df.select(probes.alias("_p"))
        .mapInPandas(_partials, "word long, bits long")
    )


def bloom_maybe_contains(
    bloom: DataFrame, key: Column, k: int = 4, m_bits: int = 65_536
) -> Column:
    """Map-side membership test: collect the FIXED-SIZE word table to the
    driver (≤ ceil(m_bits/60) longs — the broadcast-a-summary shape,
    bounded regardless of data size), embed it as an array literal, and
    evaluate ``all k probe bits set`` as a JVM expression per row.

    ``bloom_build`` emits per-partition PARTIAL tables (several rows per
    word), and a caller may hand us unioned per-snapshot filters: they
    are or-merged per word BEFORE the collect, so at most one row per
    word reaches the driver whatever the input's partition count.

    Returns a boolean Column usable in any filter — ``false`` is definite
    (no false negatives), ``true`` needs exact verification downstream.
    """
    n_words = (m_bits + BLOOM_WORD - 1) // BLOOM_WORD
    table = [0] * n_words
    merged = bloom.groupBy("word").agg(F.bit_or("bits").alias("bits"))
    for r in merged.collect():
        if r["word"] is None:  # defensive vs filters built before the NULL guard
            continue
        table[r["word"]] = r["bits"]
    arr = F.lit(table)
    cond = None
    for j in range(k):
        bit = bloom_probe_bits(key, j, m_bits)
        word = F.element_at(arr, (bit / BLOOM_WORD).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (bit % BLOOM_WORD).cast("int")
        )
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else cond & hit
    return cond


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007): the mergeable CARDINALITY sketch
# ---------------------------------------------------------------------------
# State = (register, max_rank) rows, at most m = 2^p per group; two
# sketches merge by MAX on register — the shape that survives incremental
# ingestion (union + groupBy-max) and per-partition partial aggregation.
# All math is integer (60-bit md5 prefix, bit-length rank via comparison
# chain, register sum as exact int64), so estimates are bit-identical
# across engines; only the final single division is floating point.

HLL_BITS = 60  # md5 15-hex-digit prefix


def hll_rank_case_sql(w_sym: str, bits: int) -> str:
    """rank = (bits - bitlen(w)) + 1 — leading-zero count + 1 over the
    low ``bits`` of the hash, as a pure integer comparison chain (shared
    VERBATIM by the Spark expression and the DuckDB oracle: identical
    integer compares, no log2 float hazards)."""
    cases = " ".join(
        f"WHEN {w_sym} >= {1 << (b - 1)} THEN {bits - b + 1}"
        for b in range(bits, 0, -1)
    )
    return f"(CASE {cases} ELSE {bits + 1} END)"


def hll_build(df: DataFrame, key_col: str, p: int = 12) -> DataFrame:
    """Build the sketch table (reg, max_rank) over ``key_col``.

    One map-side-combined groupBy; the shuffle carries at most m = 2^p
    rows per partition regardless of data size.  Merge two sketches by
    unioning and taking max(max_rank) on reg.
    """
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    bits = HLL_BITS - p
    h = md5_int(F.col(key_col).cast("string"), hex_chars=15)
    hashed = spread(df).select(h.alias("_h"))
    rw = hashed.select(
        F.expr(f"_h div {1 << bits}").alias("reg"),
        F.expr(f"_h % {1 << bits}").alias("w"),
    )
    rank = F.expr(hll_rank_case_sql("w", bits))
    return rw.select("reg", rank.alias("rank")).groupBy("reg").agg(
        F.max("rank").alias("max_rank")
    )


def hll_scale_exp(p: int) -> int:
    """Register scale exponent: registers contribute ``2^(scale - rank)``
    with ``scale = 62 - p``, so the total ``s_int <= m * 2^(62-p) = 2^62``
    fits int64 for the FULL p in [4, 18] range (a fixed 2^50 scale
    overflowed at p >= 13).  The minimum exponent is
    ``62 - p - (bits + 1) = 1 >= 0``.  At the default p=12 this is exactly
    the historical 2^50, so existing oracles are bit-identical."""
    return 62 - p


def hll_alpha_mm_scaled(p: int) -> float:
    """alpha_m * m^2 * 2^(62-p) as ONE Python double, embedded as a
    literal in both engines' estimate expressions (identical value by
    construction)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << hll_scale_exp(p))


def hll_estimate(sketch: DataFrame, p: int) -> DataFrame:
    """Raw HLL estimate from a sketch table: one row
    (s_int, n_regs, est).

    ``s_int = Σ_j 2^(62-p - M_j)`` over all m registers (absent register →
    M=0 → 2^(62-p)) is EXACT int64 (max m·2^(62-p) = 2^62 for ALL
    p in [4,18]), so the only float op is the final
    ``alpha·m²·2^(62-p) / s_int`` division — correctly rounded,
    bit-identical across engines.  The small/large-range bias
    corrections of the paper are deliberately NOT applied here: they need
    ln(), whose last-ulp rounding differs between libms — callers wanting
    the corrected estimate apply it to the returned exact state.
    """
    m = 1 << p
    c = hll_alpha_mm_scaled(p)
    scale = hll_scale_exp(p)
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (scale - F.col("max_rank")).cast("int")
    )
    return (
        sketch.agg(
            F.sum(term).alias("_s_present"),
            F.count(F.lit(1)).alias("n_regs"),
        )
        .select(
            (
                F.col("_s_present")
                + (F.lit(m) - F.col("n_regs")) * F.lit(1 << scale)
            ).alias("s_int"),
            F.col("n_regs"),
        )
        .select(
            "s_int",
            "n_regs",
            F.expr(f"floor(({c!r}D / CAST(s_int AS DOUBLE))*1e6 + 0.5)/1e6").alias(
                "est"
            ),
        )
    )


def hll_grouped_build(
    df: DataFrame, group_col: str, key_col: str, p: int = 12
) -> DataFrame:
    """Per-group HLL sketch state: (grp, reg, max_rank) — at most
    ``n_groups × 2^p`` rows regardless of data size, one map-side-combined
    shuffle.  Two sketches merge by unioning and taking max(max_rank) on
    (grp, reg) — the streaming/incremental ingestion primitive."""
    bits = HLL_BITS - p
    h = md5_int(F.col(key_col).cast("string"), hex_chars=15)
    rw = spread(df).select(F.col(group_col).alias("grp"), h.alias("_h")).select(
        "grp",
        F.expr(f"_h div {1 << bits}").alias("reg"),
        F.expr(f"_h % {1 << bits}").alias("w"),
    )
    rank = F.expr(hll_rank_case_sql("w", bits))
    return rw.select("grp", "reg", rank.alias("rank")).groupBy("grp", "reg").agg(
        F.max("rank").alias("max_rank")
    )


def hll_grouped_estimate(
    sk: DataFrame, group_col: str, p: int = 12
) -> DataFrame:
    """Estimate from per-group sketch state (grp, reg, max_rank) →
    (group_col, s_int, n_regs, est).  Same exact-int64 register-sum
    arithmetic as :func:`hll_estimate`, one shuffle on grp."""
    m = 1 << p
    c = hll_alpha_mm_scaled(p)
    scale = hll_scale_exp(p)
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (scale - F.col("max_rank")).cast("int")
    )
    return (
        sk.groupBy("grp")
        .agg(F.sum(term).alias("_sp"), F.count(F.lit(1)).alias("n_regs"))
        .select(
            F.col("grp").alias(group_col),
            (F.col("_sp") + (F.lit(m) - F.col("n_regs")) * F.lit(1 << scale)).alias(
                "s_int"
            ),
            "n_regs",
        )
        .select(
            group_col,
            "s_int",
            "n_regs",
            F.expr(f"floor(({c!r}D / CAST(s_int AS DOUBLE))*1e6 + 0.5)/1e6").alias(
                "est"
            ),
        )
    )


def hll_grouped(
    df: DataFrame, group_col: str, key_col: str, p: int = 12
) -> DataFrame:
    """Per-group HLL cardinality estimate: (group, s_int, n_regs, est) —
    the grouped composition of :func:`hll_grouped_build` +
    :func:`hll_grouped_estimate` in two map-side-combined shuffles on
    (group, reg) then (group)."""
    return hll_grouped_estimate(
        hll_grouped_build(df, group_col, key_col, p), group_col, p
    )


def hll_overlap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    group_a,
    group_b,
    p: int = 12,
) -> DataFrame:
    """Set-operation cardinality estimates between two groups' key sets
    from ONE pass of mergeable HLL state: a single row
    (s_a, s_b, s_union, est_a, est_b, est_union, est_intersect).

    Union comes free from the sketch algebra (HLL registers max-merge);
    intersection is inclusion-exclusion over the three estimates —
    the standard sketch answer to "how many users do sources A and B
    share?" at 100 TB, where the exact alternative is a full
    distinct-key shuffle of both sides.  All register sums are exact
    int64 (the repo's s_int convention), so every emitted number is a
    deterministic function of the key sets: the only float ops are the
    final divisions, identical IEEE sequences in both engines.
    est_intersect can read slightly negative on near-disjoint sets
    (standard inclusion-exclusion noise) — it is an estimator, not a
    count; callers wanting a floor clamp at 0 themselves.

    Scale: one map-side-combined shuffle to ≤ 2·2^p sketch rows,
    localCheckpointed ONCE because three consumers read it (per-group
    sums, the max-merge union — the ReuseExchange miss pattern from
    SCALE.md would otherwise re-scan the source per consumer); the
    1-row × 1-row crossJoins are benign scalar BNLJs.  Returns empty if
    either group has no rows (no keys → no overlap question).
    """
    sk = hll_grouped_build(
        df.filter(F.col(group_col).isin([group_a, group_b])),
        group_col,
        key_col,
        p,
    )
    return hll_overlap_from_state(sk, group_a, group_b, p)


def hll_overlap_from_state(
    sk: DataFrame, group_a, group_b, p: int = 12
) -> DataFrame:
    """:func:`hll_overlap` from a caller-supplied (grp, reg, max_rank)
    sketch state — the streaming/incremental shape: accumulate state
    with max-merge per micro-batch (see ``stream_hll_user_cardinality``),
    then ask the overlap question on demand without touching raw data.
    Extra groups in the state are ignored."""
    m = 1 << p
    c = hll_alpha_mm_scaled(p)
    scale = hll_scale_exp(p)
    sk = sk.filter(F.col("grp").isin([group_a, group_b])).localCheckpoint()
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (scale - F.col("max_rank")).cast("int")
    )
    per = (
        sk.groupBy("grp")
        .agg(F.sum(term).alias("_sp"), F.count(F.lit(1)).alias("_n"))
        .select(
            "grp",
            (F.col("_sp") + (F.lit(m) - F.col("_n")) * F.lit(1 << scale)).alias("s"),
        )
    )
    uterm = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (scale - F.col("_mr")).cast("int")
    )
    s_union = (
        sk.groupBy("reg")
        .agg(F.max("max_rank").alias("_mr"))
        .agg(F.sum(uterm).alias("_sp"), F.count(F.lit(1)).alias("_n"))
        .select(
            (F.col("_sp") + (F.lit(m) - F.col("_n")) * F.lit(1 << scale)).alias(
                "s_union"
            )
        )
    )
    a = per.filter(F.col("grp") == F.lit(group_a)).select(F.col("s").alias("s_a"))
    b = per.filter(F.col("grp") == F.lit(group_b)).select(F.col("s").alias("s_b"))
    est = lambda s: f"floor(({c!r}D / CAST({s} AS DOUBLE))*1e6 + 0.5)/1e6"
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(s_union))
        .selectExpr(
            "s_a",
            "s_b",
            "s_union",
            f"{est('s_a')} AS est_a",
            f"{est('s_b')} AS est_b",
            f"{est('s_union')} AS est_union",
            f"floor((({c!r}D / CAST(s_a AS DOUBLE))"
            f" + ({c!r}D / CAST(s_b AS DOUBLE))"
            f" - ({c!r}D / CAST(s_union AS DOUBLE)))*1e6 + 0.5)/1e6"
            " AS est_intersect",
        )
    )


THETA_FULL = 1 << 60  # hash domain: md5_int(·, 15) is uniform in [0, 2^60)


def theta_kmv_overlap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    group_a,
    group_b,
    k: int = 64,
) -> DataFrame:
    """Theta/KMV sketch set algebra between two groups' key sets — the
    sketch that HLL cannot replace: inclusion-exclusion gives HLL a
    union and (noisily) an intersection, but set DIFFERENCE (users who
    clicked and never purchased) needs sample intersection semantics,
    which is exactly what a KMV retained set provides (Beyer et al.,
    SIGMOD'07 "distinct sampling"; the DataSketches theta design).

    Sketch = the k smallest distinct 60-bit key hashes per group;
    θ = the k-th smallest (the whole domain when a group has < k
    distinct keys — then its estimates are EXACT counts).  For set ops
    both sketches are cut to θ∩ = min(θ_a, θ_b): below θ∩ every key of
    either set is retained, so membership tests are exact and
    ``est = n_window · 2⁶⁰/θ∩`` unbiasedly scales the window counts;
    single-set estimates use the textbook ``(k-1)·2⁶⁰/θ``.  Every
    retained hash, count and θ is an exact integer — the only float ops
    are the final estimate divisions, written as identical IEEE
    sequences in the SQL oracle (the HLL-overlap precedent).

    Emits ONE row: (n_a_ret, n_b_ret, theta_ab, n_int, n_anotb,
    est_a, est_b, est_union, est_intersect, est_diff).

    Scale: one distinct shuffle on (group, hash), one per-group
    k-smallest (row_number window — the sort runs over DISTINCT hashes
    only), then every remaining frame is ≤ 2k rows (localCheckpointed:
    consumed by θ, union and both membership joins).  State is 2k
    64-bit hashes — mergeable by keep-k-smallest-of-union, the
    streaming shape.
    """
    topk = theta_kmv_build(
        df, group_col, key_col, [group_a, group_b], k
    ).localCheckpoint()  # ≤2k rows, 4 consumers
    return theta_kmv_overlap_from_state(topk, group_a, group_b, k)


def theta_kmv_build(
    df: DataFrame,
    group_col: str,
    key_col: str,
    groups: list,
    k: int = 64,
) -> DataFrame:
    """Theta/KMV sketch state: the k smallest distinct 60-bit key hashes
    per group as plain (grp, hv) rows — ≤ k·|groups| rows of mergeable
    state (:func:`theta_kmv_merge` keeps the k smallest of a union, so
    per-batch states accumulate idempotently, the streaming shape)."""
    from pyspark.sql import Window

    from go_streaming_spark.functions.dedup import md5_int

    h = md5_int(F.col(key_col).cast("string"), 15)
    d = (
        spread(df)
        .filter(F.col(group_col).isin(list(groups)))
        .select(F.col(group_col).alias("grp"), h.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("hv")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("grp", "hv")
    )


def theta_kmv_merge(state: DataFrame, k: int = 64) -> DataFrame:
    """Merge unioned (grp, hv) sketch states: keep the k smallest
    distinct hashes per group.  Exactly idempotent — the merge of any
    batching equals the single-pass build, so streaming accumulation
    gates against the batch oracle bit-for-bit."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("hv")
    return (
        state.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("grp", "hv")
    )


def theta_kmv_overlap_from_state(
    topk: DataFrame, group_a, group_b, k: int = 64
) -> DataFrame:
    """:func:`theta_kmv_overlap` from caller-supplied retained-hash state
    (the streaming/incremental shape; extra groups are ignored).  The
    state frame should be materialized — it feeds four consumers."""
    topk = topk.filter(F.col("grp").isin([group_a, group_b]))
    per = topk.groupBy("grp").agg(
        F.max("hv").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    theta = F.when(F.col("n") == k, F.col("mx")).otherwise(F.lit(THETA_FULL))
    ta = per.filter(F.col("grp") == F.lit(group_a)).select(
        theta.alias("theta_a"), F.col("n").alias("n_a_ret")
    )
    tb = per.filter(F.col("grp") == F.lit(group_b)).select(
        theta.alias("theta_b"), F.col("n").alias("n_b_ret")
    )
    # union θ without a global window: the union candidate set is ≤ 2k
    # retained hashes, so one sorted collect_list aggregate takes the
    # k-th smallest directly (no single-partition WindowExec, one less
    # shuffle)
    un = topk.select("hv").distinct()
    uk = un.agg(F.sort_array(F.collect_list("hv")).alias("hs")).select(
        F.when(
            F.size("hs") >= k, F.element_at("hs", k)
        )
        .otherwise(F.lit(THETA_FULL))
        .alias("theta_u"),
        F.least(F.size("hs"), F.lit(k)).cast("long").alias("n_u"),
    )
    th = ta.crossJoin(F.broadcast(tb)).withColumn(
        "theta_ab", F.least("theta_a", "theta_b")
    )
    a_set = topk.filter(F.col("grp") == F.lit(group_a)).select("hv")
    b_set = topk.filter(F.col("grp") == F.lit(group_b)).select("hv")
    n_int = (
        a_set.join(b_set, "hv")
        .crossJoin(F.broadcast(th.select("theta_ab")))
        .filter(F.col("hv") < F.col("theta_ab"))
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    n_anotb = (
        a_set.join(b_set, "hv", "left_anti")
        .crossJoin(F.broadcast(th.select("theta_ab")))
        .filter(F.col("hv") < F.col("theta_ab"))
        .agg(F.count(F.lit(1)).alias("n_anotb"))
    )
    full_d = f"CAST({THETA_FULL} AS DOUBLE)"
    kth = f"CAST({k - 1} AS DOUBLE)"

    def est_kmv(theta_col, n_col):
        return (
            f"CASE WHEN {theta_col} = {THETA_FULL} THEN CAST({n_col} AS DOUBLE)"
            f" ELSE floor(({kth} * ({full_d} / CAST({theta_col} AS DOUBLE)))"
            " * 1e6 + 0.5) / 1e6 END"
        )

    def est_window(n_col):
        return (
            f"CASE WHEN theta_ab = {THETA_FULL} THEN CAST({n_col} AS DOUBLE)"
            f" ELSE floor((CAST({n_col} AS DOUBLE)"
            f" * ({full_d} / CAST(theta_ab AS DOUBLE))) * 1e6 + 0.5) / 1e6 END"
        )

    return (
        th.crossJoin(F.broadcast(uk))
        .crossJoin(F.broadcast(n_int))
        .crossJoin(F.broadcast(n_anotb))
        .selectExpr(
            "n_a_ret",
            "n_b_ret",
            "theta_ab",
            "n_int",
            "n_anotb",
            est_kmv("theta_a", "n_a_ret") + " AS est_a",
            est_kmv("theta_b", "n_b_ret") + " AS est_b",
            est_kmv("theta_u", "n_u") + " AS est_union",
            est_window("n_int") + " AS est_intersect",
            est_window("n_anotb") + " AS est_diff",
        )
    )


def ams_f2(
    df: DataFrame, key_col: str, d: int = 63, seed: str = "ams"
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy,
    STOC'96): one row ``(f2_est,)`` estimating F₂ = Σ_k f_k² of
    ``key_col`` — the SELF-JOIN SIZE of the column, the repetition-mass
    statistic (how duplicated is this key, in one number) and the
    planner's join-size primitive.

    State = ``d`` signed counters: counter j adds sign_j(key) = ±1
    (md5-derived, deterministic) per row; E[c_j²] = F₂ exactly, and the
    estimate is the MEDIAN of the d squared counters.  This is the
    single-level median (no mean-grouping inner stage) — coarser
    variance than the textbook median-of-means, chosen because d odd
    makes the median an exact array element: every emitted number is an
    exact integer function of the data, oracle-reproducible bit-for-bit.

    Scale: one explode(×d) + one map-side-combined groupBy → d rows of
    state, mergeable by plain addition (signs are functions of the key,
    so per-batch counters just sum) — the streaming/partitioned shape.
    Overflow: |c_j| ≤ n rows and c² ≤ n² must fit int64, so the estimate
    is exact to n ≈ 3e9 rows per sketch; shard-and-sum beyond.  The
    median is taken as a TRUE order statistic on the long values
    (sort_array over the d squared counters + element_at at rank
    (d+1)/2), never through a double — percentile()/median() return
    DOUBLE, which silently rounds squared counters above 2^53
    (|c_j| > ~9.5e7) even though they fit int64.
    """
    if d % 2 == 0 or d <= 0:
        raise ValueError("d must be odd and positive (exact median)")
    from go_streaming_spark.functions.dedup import md5_int

    sign = (
        md5_int(
            F.concat_ws(
                "|",
                F.lit(seed),
                F.col("__j").cast("string"),
                F.col(key_col).cast("string"),
            ),
            8,
        )
        % 2
    ) * 2 - 1
    counters = (
        spread(df)
        .select(
            F.col(key_col),
            F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("__j"),
        )
        .select("__j", sign.cast("long").alias("__s"))
        .groupBy("__j")
        .agg(F.sum("__s").alias("c"))
    )
    # Empty input ⇒ empty collect_list; element_at(arr, rank) on a
    # too-short array raises under Spark 4's default ANSI mode, so guard
    # the rank lookup and degrade to NULL (the old percentile() behavior).
    rank = (d + 1) // 2
    return counters.agg(
        F.expr(
            "CASE WHEN size(sort_array(collect_list(c * c)))"
            f" >= {rank} THEN"
            f" element_at(sort_array(collect_list(c * c)), {rank}) END"
        ).alias("f2_est")
    )


def bloom_filtered_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    k: int = 4,
    m_bits: int = 65_536,
) -> DataFrame:
    """Join with a Bloom-prefiltered fact side — Spark's runtime row-level
    filter made explicit, deterministic, and tunable.

    The dim side's join keys reduce to a fixed-size filter; fact rows
    whose key CANNOT be in dim (no false negatives) are dropped map-side
    before the shuffle, so at 100 TB the exchange carries only
    possibly-matching rows (true matches + the ~fp sliver, re-checked by
    the exact join).  Result ≡ the plain join for inner/semi joins, where
    dropping non-matching fact rows is semantics-free.
    """
    if how in ("left", "left_outer", "full", "full_outer", "left_anti"):
        raise ValueError(f"bloom prefilter would drop {how}-join rows")
    bloom = bloom_build(dim.select(dim_key), dim_key, k, m_bits)
    pre = fact.filter(bloom_maybe_contains(bloom, F.col(fact_key), k, m_bits))
    return pre.join(dim, pre[fact_key] == dim[dim_key], how)


# ---------------------------------------------------------------------------
# Fixed-width histogram: the mergeable QUANTILE sketch
# ---------------------------------------------------------------------------
# State = (bin, count) rows, at most n_bins regardless of data size; two
# histograms merge by summing counts on bin.  Unlike percentile_approx
# (whose sketch internals are engine-specific), every op here — bin
# assignment, cumulative rank walk, in-bin interpolation — is identical
# double/integer arithmetic in Spark and DuckDB, so the estimates have a
# bit-exact oracle.  Error is bounded by one bin width (hi-lo)/n_bins.


def hist_build(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 4096,
    weight: Column | None = None,
) -> DataFrame:
    """Build the histogram table (bin, count) over ``value_col`` for the
    domain [lo, hi).

    One map-side-combined groupBy; the shuffle carries at most n_bins
    rows per partition regardless of data size.  Out-of-domain values
    CLAMP into the edge bins (documented bias: quantiles outside [lo,hi]
    report the domain edge); NULLs are dropped.  Merge per-partition or
    per-day builds by unioning and summing counts on bin.

    ``weight`` (an int64, NON-NEGATIVE Column — quantize doubles with
    the µ-floor idiom first) turns the sketch into a WEIGHTED histogram:
    ``count`` becomes the bin's weight mass, and
    :func:`hist_quantiles`' rank walk then yields weighted quantiles
    (e.g. the order value below which half the REVENUE sits) with the
    same bit-exact arithmetic — the rank/interpolation formulas never
    assume unit weights.
    """
    if not (hi > lo and n_bins >= 1):
        raise ValueError("need hi > lo and n_bins >= 1")
    v = F.col(value_col).cast("double")
    scale = float(n_bins) / (hi - lo)  # ONE Python double literal, both engines
    raw = F.floor((v - F.lit(float(lo))) * F.lit(scale)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    cols = [bin_.alias("bin")] + ([] if weight is None else [weight.alias("__w")])
    agg = F.count(F.lit(1)) if weight is None else F.sum(F.col("__w"))
    return (
        spread(df)
        .filter(v.isNotNull())
        .select(*cols)
        .groupBy("bin")
        .agg(agg.alias("count"))
    )


def hist_quantiles(
    hist: DataFrame, qs: list[float], lo: float, hi: float, n_bins: int = 4096
) -> DataFrame:
    """Quantile estimates from a histogram sketch → (q, est) rows.

    rank = floor(q·N) + 1 (1-based; q=1 clamps to N); the crossing bin is
    the first with cumulative count ≥ rank, and the estimate interpolates
    linearly inside it: ``lo + (bin + (rank - cum_before)/count) · w``.
    The cumulative walk runs over ≤ n_bins sketch rows — a single-row-ish
    window, not a data-sized sort.  Output is q6-quantized.
    """
    from pyspark.sql.window import Window

    w_bin = float(hi - lo) / n_bins
    spark = hist.sparkSession
    cum = hist.withColumn(
        "cum", F.sum("count").over(Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, 0))
    ).withColumn("cum_before", F.col("cum") - F.col("count"))
    total = hist.agg(F.sum("count").alias("n"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    ranked = qdf.crossJoin(F.broadcast(total)).select(
        "q",
        F.least(
            F.floor(F.col("q") * F.col("n")).cast("long") + 1, F.col("n")
        ).alias("rank"),
    )
    hit = ranked.join(
        F.broadcast(cum),
        (F.col("cum") >= F.col("rank")) & (F.col("cum_before") < F.col("rank")),
    )
    est = (
        F.lit(float(lo))
        + (
            F.col("bin")
            + (F.col("rank") - F.col("cum_before")) / F.col("count")
        )
        * F.lit(w_bin)
    )
    q6 = F.floor(est * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return hit.select("q", q6.alias("est"))


def hist_quantile_sql(
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    value_sql: str,
    from_sql: str,
    weight_sql: str | None = None,
) -> str:
    """DuckDB oracle for :func:`hist_build` + :func:`hist_quantiles` —
    the SAME bin/rank/interpolation arithmetic, generated from the same
    Python double literals so every float op matches bit-for-bit.
    ``weight_sql`` (int64, non-negative) generates the WEIGHTED variant
    (bin mass = sum of weights, matching ``hist_build(weight=...)``)."""
    scale = float(n_bins) / (hi - lo)
    w_bin = float(hi - lo) / n_bins
    qvals = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    w_proj = f", CAST({weight_sql} AS BIGINT) AS w" if weight_sql else ""
    w_pass = ", w" if weight_sql else ""
    mass = "CAST(sum(w) AS BIGINT)" if weight_sql else "count(*)"
    return f"""WITH v AS (SELECT CAST({value_sql} AS DOUBLE) AS v{w_proj} FROM {from_sql}
           WHERE {value_sql} IS NOT NULL),
b AS (SELECT least(greatest(CAST(floor((v - {float(lo)!r}) * {scale!r}) AS BIGINT),
                            0), {n_bins - 1}) AS bin{w_pass} FROM v),
h AS (SELECT bin, {mass} AS cnt FROM b GROUP BY 1),
c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum,
        sum(cnt) OVER (ORDER BY bin) - cnt AS cum_before FROM h),
n AS (SELECT sum(cnt) AS n FROM h),
r AS (SELECT q, least(CAST(floor(q * n) AS BIGINT) + 1, n) AS rank
      FROM (SELECT unnest([{qvals}]) AS q), n)
SELECT r.q AS q,
       floor(({float(lo)!r} + (c.bin + (r.rank - c.cum_before) * 1.0 / c.cnt)
              * {w_bin!r})*1e6 + 0.5)/1e6 AS est
FROM r JOIN c ON c.cum >= r.rank AND c.cum_before < r.rank"""


def hist_grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 4096,
    weight: Column | None = None,
) -> DataFrame:
    """Per-group histogram quantiles → (group, q, est) — the grouped
    composition of :func:`hist_build` + :func:`hist_quantiles`: one
    map-side-combined shuffle on (group, bin) (≤ n_bins rows per group),
    then the rank walk runs per group over sketch-sized state.  The
    exact-percentile alternative shuffles and sorts every VALUE per
    group; this shuffles a fixed-size summary.  ``weight`` (int64,
    non-negative) reads per-group MASS-weighted quantiles, as in
    :func:`hist_build`.
    """
    from pyspark.sql.window import Window

    if not (hi > lo and n_bins >= 1):
        raise ValueError("need hi > lo and n_bins >= 1")
    v = F.col(value_col).cast("double")
    scale = float(n_bins) / (hi - lo)
    w_bin = float(hi - lo) / n_bins
    raw = F.floor((v - F.lit(float(lo))) * F.lit(scale)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    cols = [F.col(group_col).alias("grp"), bin_.alias("bin")] + (
        [] if weight is None else [weight.alias("__w")]
    )
    mass = F.count(F.lit(1)) if weight is None else F.sum(F.col("__w"))
    hist = (
        spread(df)
        .filter(v.isNotNull())
        .select(*cols)
        .groupBy("grp", "bin")
        .agg(mass.alias("count"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("count").over(
            Window.partitionBy("grp").orderBy("bin").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    ).withColumn("cum_before", F.col("cum") - F.col("count"))
    totals = hist.groupBy("grp").agg(F.sum("count").alias("n"))
    spark = df.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    ranked = totals.crossJoin(F.broadcast(qdf)).select(
        "grp", "q",
        F.least(
            F.floor(F.col("q") * F.col("n")).cast("long") + 1, F.col("n")
        ).alias("rank"),
    )
    hit = ranked.join(
        cum,
        (ranked["grp"] == cum["grp"])
        & (F.col("cum") >= F.col("rank"))
        & (F.col("cum_before") < F.col("rank")),
    ).drop(cum["grp"])
    est = (
        F.lit(float(lo))
        + (
            F.col("bin")
            + (F.col("rank") - F.col("cum_before")) / F.col("count")
        )
        * F.lit(w_bin)
    )
    q6 = F.floor(est * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return hit.select(F.col("grp").alias(group_col), "q", q6.alias("est"))


def hist_grouped_quantile_sql(
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    group_sql: str,
    value_sql: str,
    from_sql: str,
    weight_sql: str | None = None,
) -> str:
    """DuckDB oracle for :func:`hist_grouped_quantiles` — identical
    arithmetic, shared literals.  ``weight_sql`` generates the weighted
    form (matching ``hist_grouped_quantiles(weight=...)``)."""
    scale = float(n_bins) / (hi - lo)
    w_bin = float(hi - lo) / n_bins
    qvals = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    w_proj = f", CAST({weight_sql} AS BIGINT) AS w" if weight_sql else ""
    w_pass = ", w" if weight_sql else ""
    mass = "CAST(sum(w) AS BIGINT)" if weight_sql else "count(*)"
    return f"""WITH v AS (SELECT {group_sql} AS grp, CAST({value_sql} AS DOUBLE) AS v{w_proj}
           FROM {from_sql} WHERE {value_sql} IS NOT NULL),
b AS (SELECT grp, least(greatest(CAST(floor((v - {float(lo)!r}) * {scale!r}) AS BIGINT),
                                 0), {n_bins - 1}) AS bin{w_pass} FROM v),
h AS (SELECT grp, bin, {mass} AS cnt FROM b GROUP BY 1, 2),
c AS (SELECT grp, bin, cnt,
        sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        sum(cnt) OVER (PARTITION BY grp ORDER BY bin) - cnt AS cum_before FROM h),
n AS (SELECT grp, sum(cnt) AS n FROM h GROUP BY 1),
r AS (SELECT grp, q, least(CAST(floor(q * n) AS BIGINT) + 1, n) AS rank
      FROM n, (SELECT unnest([{qvals}]) AS q))
SELECT r.grp AS {group_sql}, r.q AS q,
       floor(({float(lo)!r} + (c.bin + (r.rank - c.cum_before) * 1.0 / c.cnt)
              * {w_bin!r})*1e6 + 0.5)/1e6 AS est
FROM r JOIN c ON c.grp = r.grp AND c.cum >= r.rank AND c.cum_before < r.rank"""


def cms_join_size_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Join-cardinality estimate from two count-min sketches over the
    join key: ``est = min_j Σ_b cntA[j,b]·cntB[j,b]`` — the classic
    sketch inner product (Alon-Matias-Szegedy estimator in the
    Cormode-Muthukrishnan count-min form).  The planning primitive for
    "will this fact-fact join explode?" answered from two fixed-size
    summaries WITHOUT touching either table again: at 100 TB the
    sketches are ≤ depth×width rows each, mergeable across partitions/
    days, and the estimate NEVER undercounts (all counts non-negative,
    each row's inner product ≥ the true join size; min over depth rows
    tightens it).

    Returns one row (est_join_size).  Rows sharing no buckets contribute
    an inner product of 0 (the row spine keeps them — dropping empty
    rows would silently overestimate).
    """
    spark = sketch_a.sparkSession
    j = sketch_a.select(
        "row", "bucket", F.col("count").alias("ca")
    ).join(
        sketch_b.select("row", "bucket", F.col("count").alias("cb")),
        ["row", "bucket"],
    )
    per_row = j.groupBy("row").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("ip")
    )
    spine = spark.range(depth).select(F.col("id").cast("int").alias("row"))
    full = spine.join(per_row, "row", "left").select(
        F.coalesce(F.col("ip"), F.lit(0)).alias("ip")
    )
    return full.agg(F.min("ip").cast("long").alias("est_join_size"))


def hist_cdf_transform(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 4096,
    out_col: str = "cdf_q",
) -> DataFrame:
    """Rank-normalize a column WITHOUT a global sort: every row gains its
    approximate CDF position ``floor(cum_count(bin)·10⁶ / N)`` from the
    histogram sketch — the quantile/rank-gauss feature transform at
    100 TB scale, where the exact alternative (percent_rank) is a
    single-partition global window.

    Error ≤ one bin's mass; monotone in the value by construction.  The
    ≤ n_bins cumulative table joins back map-side (broadcast); the input
    is scanned twice (once to build, once to transform) — persist
    upstream if the source is a derived frame.  NULL values pass
    through with NULL cdf.
    """
    from pyspark.sql.window import Window

    hist = hist_build(df, value_col, lo, hi, n_bins)
    # sketch-side columns use reserved __cdf_* names so an input frame
    # that already has a 'bin' or 'cum' column is neither ambiguous in
    # the join condition nor silently dropped afterwards
    cum = hist.withColumn(
        "__cdf_cum",
        F.sum("count").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).select(F.col("bin").alias("__cdf_bin"), "__cdf_cum")
    n = hist.agg(F.sum("count").alias("__cdf_n"))
    v = F.col(value_col).cast("double")
    scale = float(n_bins) / (hi - lo)
    raw = F.floor((v - F.lit(float(lo))) * F.lit(scale)).cast("long")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.withColumn("__bin", F.when(v.isNotNull(), bin_))
        .join(F.broadcast(cum), F.col("__bin") == F.col("__cdf_bin"), "left")
        .crossJoin(F.broadcast(n))
        .withColumn(
            out_col,
            F.when(
                v.isNotNull(),
                F.expr("(__cdf_cum * 1000000) div __cdf_n"),
            ),
        )
        .drop("__bin", "__cdf_bin", "__cdf_cum", "__cdf_n")
    )
