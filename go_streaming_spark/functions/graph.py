"""Graph operators for dedup clustering.

Near-dup pair generation (MinHash/SimHash — functions/dedup.py) yields an
EDGE LIST; deduplication keeps one canonical document per *connected
component* of that graph.  ``connected_components`` computes the component
id (= min member id, deterministic) with min-label propagation over
DataFrame joins — the MapReduce-CC pattern (cf. Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14).

Scale notes:
- Each round is a neighbor-min step (one equi-join + one groupBy(min))
  followed by a pointer-jump step (``label ← label(label)``, one self-join)
  — all shuffling on the node id, AQE-managed.  The pointer jump is what
  bounds rounds at O(log diameter) instead of O(diameter): without it a
  2000-node path needs 2000 rounds; with it, ~15 (measured).  Near-dup
  cluster graphs (small, dense) converge in 3-4 rounds either way.
- ``localCheckpoint`` after every round truncates the lineage, keeping
  round N's plan O(1) instead of O(N) (an iterative-algorithm requirement
  in Spark, or analysis time grows quadratically).
- Convergence is detected by the (monotonically decreasing, integer) sum
  of labels going stable — one tiny aggregate action per round, no extra
  join against the previous labels.  Exhausting ``max_iter`` without
  convergence raises instead of silently returning partial components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    min node id of the connected component (deterministic — independent of
    partitioning, iteration order, and round count)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Materialize the edge list ONCE: every round joins against it, and an
    # unmaterialized edge frame re-executes its whole upstream pipeline
    # (e.g. LSH candidate generation + exact-Jaccard verification) per
    # round — measured 4× the total cost on incremental_minhash_dedup_full.
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = (
        sym.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prev = labels
        # neighbor-min: l(v) ← min(l(v), min over neighbors' labels)
        neighbor = sym.join(labels, sym["v"] == labels["node"]).select(
            sym["u"].alias("node"), F.col("label")
        )
        stepped = (
            labels.union(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer-jump: l(v) ← l(l(v)) — labels are node ids of the same
        # component, so chasing one hop halves remaining path length
        mapping = stepped.select(
            F.col("node").alias("_mn"), F.col("label").alias("_ml")
        )
        labels = (
            stepped.join(mapping, stepped["label"] == mapping["_mn"], "left")
            .select(
                stepped["node"],
                F.coalesce(F.col("_ml"), stepped["label"]).alias("label"),
            )
            .localCheckpoint()
        )
        # converged when no node's label changed: an exact set test on
        # the two materialized frames, for any orderable id type
        if labels.exceptAll(prev).isEmpty():
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
        " (raise max_iter)"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) via ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — Two-Phase) — the edge-CONTRACTING alternative to
    :func:`connected_components`' label propagation.  Same contract:
    component = min member id, deterministic under partitioning and
    round count.

    Why a second algorithm: label propagation keeps the FULL symmetric
    edge list alive and joins the label vector against it every round —
    at 100 TB pair graphs (billions of near-dup edges) that is a
    constant per-round shuffle of the whole graph.  Large-star/small-star
    rewrites the EDGE LIST itself toward star graphs, so the per-round
    shuffle SHRINKS as components contract, hot high-degree nodes lose
    their edges to component minima after one round (built-in skew
    decay), and convergence is O(log² n) rounds worst-case / 2-4 rounds
    on near-dup cluster graphs.  Prefer it when the edge list dwarfs the
    node list; prefer label propagation when edges ≈ nodes (it does one
    join per round instead of two aggregations).

    Per round: large-star = one groupBy(u).min + one equi-join emitting
    (v, m(u)) for neighbors v > u; small-star the same over the
    (hi → lo)-oriented remainder.  Edges stay canonically (hi, lo)
    oriented and deduped; ``localCheckpoint`` per round keeps plan depth
    O(1).  Convergence = EXACT edge-set equality between rounds (same
    count + empty ``exceptAll``, both frames already materialized) — an
    aggregate signature like (count, Σu, Σv) can collide across distinct
    edge sets (e.g. {(3,1),(4,2)} vs {(4,1),(3,2)}) and int64 sums can
    wrap at extreme scales, so equality of the sets themselves is the
    only sound fixed-point test, at which point the edge set IS the
    (node → root) star forest.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    cur = (
        e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    prev_df, prev_n = None, -1
    for _ in range(max_iter):
        # LARGE-STAR: over the symmetric adjacency, hook every
        # strictly-greater neighbor of u onto m(u) = min(Γ(u) ∪ {u})
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # SMALL-STAR: edges are now (hi → lo); hook every smaller
        # neighbor (and u itself) onto the local minimum
        mins2 = (
            large.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("m"))
        )
        small = (
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(
                mins2.filter(F.col("u") != F.col("m")).select(
                    "u", F.col("m").alias("v")
                )
            )
            .distinct()
        )
        cur = small.localCheckpoint()
        # exact set comparison — both frames are checkpointed, so the
        # count + exceptAll pair costs one small shuffle, cheap next to
        # a contraction round (sets, so equal counts + empty difference
        # ⇒ equal sets)
        n = cur.count()
        if (
            prev_df is not None
            and n == prev_n
            and cur.exceptAll(prev_df).isEmpty()
        ):
            break
        prev_df, prev_n = cur, n
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter}"
            " rounds (raise max_iter)"
        )
    # fixed point = star forest (node → root); roots label themselves.
    # groupBy-min instead of a bare select: belt-and-braces determinism
    # if a caller feeds a non-converged edge set via tiny max_iter.
    children = cur.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    roots = (
        cur.select(F.col("v").alias("node"))
        .distinct()
        .join(children.select(F.col("node").alias("_c")),
              F.col("node") == F.col("_c"), "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return children.union(roots)


def triangle_count(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Exact triangle count via DEGREE-ORDERED edge orientation (the
    MapReduce-classic of Suri & Vassilvitskii, WWW'11): one row
    (n_nodes, n_edges, n_triangles).

    Why orientation matters at 100 TB: the naive wedge join generates
    Σ deg(v)² candidates — a single celebrity node with 10M neighbors
    yields 10¹⁴ wedges.  Orienting every edge from its lower-(degree,
    id) endpoint to its higher one turns the graph into a DAG whose
    out-degrees are bounded by O(√m), so wedge generation is
    Σ outdeg(v)² ≤ O(m^1.5) TOTAL — independent of how skewed the
    original degrees are; each triangle is then counted exactly once at
    its minimum-rank vertex, closed by one equi-join back against the
    oriented edge set.

    Three shuffles (degree count, wedge join, closing join); the
    canonical edge set is localCheckpointed for its three consumers.
    Ids may be any orderable type (the (degree, id) rank tiebreak makes
    orientation total and deterministic).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("_da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("_db")), "b")
    ra = F.struct(F.col("_da").alias("d"), F.col("a").alias("n"))
    rb = F.struct(F.col("_db").alias("d"), F.col("b").alias("n"))
    oriented = ranked.select(
        F.when(ra < rb, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ra < rb, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ra < rb, rb).otherwise(ra).alias("rv"),
    ).localCheckpoint()
    o1 = oriented.select("u", F.col("v").alias("x"), F.col("rv").alias("rx"))
    o2 = oriented.select("u", F.col("v").alias("y"), F.col("rv").alias("ry"))
    wedges = (
        o1.join(o2, "u").filter(F.col("rx") < F.col("ry")).select("x", "y")
    )
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return nn.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(tri))


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str | None = None,
    iters: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
) -> DataFrame:
    """Weighted PageRank in exact integer arithmetic: (node, rk) after
    ``iters`` synchronous power-iteration rounds, with every rank held in
    int64 µ-units (``unit`` per node of starting mass).

    Engine-exact by construction — three places where float PageRank
    diverges across engines/partitionings are each replaced by an integer
    floor operation with the same value regardless of order:
    transition probabilities quantize once to ``p = (w·unit) div W_u``,
    each edge contribution is ``(rk·p) div unit``, and damping is
    ``base + (d·Σ) div 100`` with integer percent.  Sums of integers are
    order-insensitive, so the result is bit-stable under AQE, partition
    count, and a SQL oracle can reproduce it with unrolled CTEs.

    Contract: every node reachable as ``dst`` must also have ≥1 out-edge
    (true for symmetric graphs, e.g. co-occurrence); dangling-mass
    redistribution is deliberately out of scope.  Repeated (u,v) rows are
    treated as parallel edges (each quantizes its own p).

    Overflow bound: a node's rank is ≤ total mass ≈ N·unit, and the hot
    product ``rk·p ≤ N·unit²`` must stay under 2^63 — at the default
    µ-unit that holds to ~9×10⁶ nodes; beyond that drop ``unit`` to 10³
    (vocabulary graphs) or lift the product to DECIMAL(38,0).

    Scale shape: per round, one equi-join of the (narrow, checkpointed)
    transition table against the rank vector plus one groupBy(dst) —
    both shuffle on the node id; ``localCheckpoint`` after every round
    keeps round N's plan O(1).  In-degree skew (stopword-class hub
    nodes) concentrates the groupBy — prune hubs upstream (max_df-style
    cutoffs) or salt the sum; rank mass, unlike postings, is additive so
    a salted two-phase sum is semantics-free.
    """
    e = edges.select(
        F.col(src).alias("u"),
        F.col(dst).alias("v"),
        (F.col(weight) if weight else F.lit(1)).cast("long").alias("w"),
    )
    wu = e.groupBy("u").agg(F.sum("w").alias("wu"))
    trans = (
        e.join(wu, "u")
        .selectExpr("u", "v", f"(w * {unit}) div wu AS p")
        .localCheckpoint()
    )
    nodes = (
        trans.select("u")
        .union(trans.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
        .localCheckpoint()
    )
    base = ((100 - damping_pct) * unit) // 100
    ranks = nodes.select("node", F.lit(unit).cast("long").alias("rk"))
    for _ in range(iters):
        contrib = trans.join(ranks, trans["u"] == ranks["node"]).selectExpr(
            "v", f"(rk * p) div {unit} AS c"
        )
        s = contrib.groupBy("v").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(s, nodes["node"] == s["v"], "left")
            .selectExpr(
                "node",
                f"{base} + ({damping_pct} * coalesce(s, 0)) div 100 AS rk",
            )
            .localCheckpoint()
        )
    return ranks


def dedup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, cluster_id) for every document in a near-dup pair — the
    keep/drop decision is then "keep doc_id == cluster_id" (the canonical
    minimum) and drop the rest."""
    comps = connected_components(pairs, src=id_a, dst=id_b)
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
