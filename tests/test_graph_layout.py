"""Tests for the round-8 additions outside the oracle gate: integer-exact
PageRank/TextRank, inverted index, cross-table cosine pairs (leakage
audit), Z-order layout, and the prebuilt-sketch heavy-hitter path."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_streaming_spark.functions import dedup, graph, sketch, text
from go_streaming_spark.operators import layout

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# pagerank / textrank
# ---------------------------------------------------------------------------

def _pagerank_reference(edges, iters=3, unit=1_000_000, damping_pct=85):
    """Driver-side replica of the integer PageRank contract."""
    from collections import defaultdict

    wu = defaultdict(int)
    for u, v, w in edges:
        wu[u] += w
    trans = [(u, v, (w * unit) // wu[u]) for u, v, w in edges]
    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    rk = {n: unit for n in nodes}
    base = ((100 - damping_pct) * unit) // 100
    for _ in range(iters):
        s = defaultdict(int)
        for u, v, p in trans:
            s[v] += (rk[u] * p) // unit
        rk = {n: base + (damping_pct * s[n]) // 100 for n in nodes}
    return rk


def test_pagerank_matches_integer_reference(spark):
    edges = [(1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1), (3, 1, 2), (1, 3, 2)]
    df = spark.createDataFrame(edges, "u long, v long, w long")
    got = {r["node"]: r["rk"] for r in graph.pagerank(df, "u", "v", "w").collect()}
    assert got == _pagerank_reference(edges)


def test_pagerank_partition_stability(spark):
    edges = [(i, (i * 7 + 1) % 23, 1 + i % 3) for i in range(60)]
    edges += [(v, u, w) for u, v, w in edges]  # symmetric: no dangling
    df = spark.createDataFrame(edges, "u long, v long, w long")
    a = sorted(map(tuple, graph.pagerank(df, "u", "v", "w").collect()))
    b = sorted(map(tuple, graph.pagerank(df.repartition(13), "u", "v", "w").collect()))
    assert a == b == sorted(_pagerank_reference(edges).items())


def test_pagerank_no_inlink_node_gets_base_rank(spark):
    # 1→2 only: node 1 has no in-links, so after any round its rank is
    # exactly the damping base (150000 at µ-unit default)
    df = spark.createDataFrame([(1, 2, 1), (2, 2, 1)], "u long, v long, w long")
    got = {r["node"]: r["rk"] for r in graph.pagerank(df, "u", "v", "w").collect()}
    assert got[1] == 150_000


def test_textrank_hub_term_outranks_leaf(spark):
    # 'hub' is adjacent to every other token; TextRank must rank it first
    rows = [(i, f"hub w{i} hub w{i}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.textrank_terms(df, "doc_id", "text", top_n=3).collect()
    assert out[0]["term"] == "hub"
    assert out[0]["rk"] > out[1]["rk"]


# ---------------------------------------------------------------------------
# inverted index
# ---------------------------------------------------------------------------

def test_inverted_index_postings_and_df_bounds(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "b x")], "doc_id long, text string"
    )
    out = {
        r["term"]: r
        for r in text.inverted_index(df, "doc_id", "text", min_df=1).collect()
    }
    assert out["a"]["postings"] == "1:2" and out["a"]["total_tf"] == 2
    assert out["b"]["postings"] == "1:1,2:1,3:1" and out["b"]["df_docs"] == 3
    # min_df prunes the hapax tail, max_df the stopword-class hot terms
    bounded = {
        r["term"]
        for r in text.inverted_index(
            df, "doc_id", "text", min_df=2, max_df=2
        ).collect()
    }
    assert bounded == set()  # 'b' (df=3) over max_df; others under min_df


# ---------------------------------------------------------------------------
# cross-table cosine pairs (leakage audit)
# ---------------------------------------------------------------------------

def test_cross_pairs_basic_and_zero_norm_excluded(spark):
    left = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    right = spark.createDataFrame(
        [(10, [2.0, 0.0]), (11, [0.0, 3.0])], "vec_id long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dedup.embedding_cosine_cross_pairs(
            left, right, "vec_id", "embedding", 0.9, dim=2
        ).collect()
    }
    assert got == {(1, 10): 1.0}  # (1,11) orthogonal; zero-norm 2 excluded


def test_cross_pairs_match_self_join_restriction(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 5 != 0)
    right = emb.filter(F.col("vec_id") % 5 == 0)
    cross = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_cross_pairs(
            left, right, "vec_id", "embedding", 0.3, dim=64
        ).collect()
    }
    full = dedup.embedding_cosine_pairs(emb, "vec_id", "embedding", 0.3, dim=64)
    expected = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if (a % 5 != 0) and (b % 5 == 0):
            expected.add((a, b))
        elif (a % 5 == 0) and (b % 5 != 0):
            expected.add((b, a))
    assert cross == expected


# ---------------------------------------------------------------------------
# z-order layout
# ---------------------------------------------------------------------------

def _interleave(a: int, b: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_address_matches_bit_interleave(spark):
    rows = [(a, b) for a in (0, 1, 5, 200, 255) for b in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = df.select(
        "a", "b", layout.z_address("a", "b", 8).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _interleave(r["a"], r["b"], 8)


def test_zorder_bucket_envelopes_are_local(spark):
    # uniform grid: every Z-bucket must cover a strict sub-range of BOTH
    # columns (the whole point vs a single-column sort, where the second
    # column's envelope is global in every bucket)
    rows = [(a, b) for a in range(64) for b in range(64)]
    df = spark.createDataFrame(rows, "a long, b long")
    stats = layout.zorder_bucket_stats(df, "a", "b", bits=6, bucket_bits=4).collect()
    assert len(stats) == 16
    for r in stats:
        assert r["a_max"] - r["a_min"] < 63
        assert r["b_max"] - r["b_min"] < 63
    assert sum(r["n"] for r in stats) == len(rows)


def test_zorder_layout_preserves_rows_and_schema(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    o = orders.withColumn("_day", F.dayofyear("o_orderdate").cast("long"))
    out = layout.zorder_layout(o, "o_custkey", "_day", bits=8, num_files=4)
    assert out.columns == o.columns
    assert out.count() == o.count()


# ---------------------------------------------------------------------------
# heavy hitters from a prebuilt (streaming-accumulated) sketch
# ---------------------------------------------------------------------------

def test_heavy_hitters_from_merged_sketch_equals_direct(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    words = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        ).alias("word")
    )
    direct = sketch.heavy_hitters(words, "word", 50, depth=4, width=256)
    # accumulate the sketch in two halves, additive merge — the streaming
    # ingestion shape — then verify through the prebuilt-sketch API
    h1 = sketch.count_min_build(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            F.explode(
                F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
            ).alias("word")
        ),
        "word", depth=4, width=256,
    )
    h2 = sketch.count_min_build(
        docs.filter(F.col("doc_id") % 2 == 1).select(
            F.explode(
                F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
            ).alias("word")
        ),
        "word", depth=4, width=256,
    )
    merged = (
        h1.unionByName(h2).groupBy("row", "bucket").agg(F.sum("count").alias("count"))
    )
    via_sketch = sketch.heavy_hitters_from_sketch(
        words, merged, "word", 50, depth=4, width=256
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_sketch.collect())
    )


# ---------------------------------------------------------------------------
# batch BM25 retrieval
# ---------------------------------------------------------------------------

def test_bm25_topk_matches_single_query_scores(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    qdf = spark.createDataFrame(
        [(7, "hash"), (7, "merge"), (7, "vector")], "query_id long, term string"
    )
    multi = {
        r["id"]: r["bm25"]
        for r in text.bm25_topk(
            docs, "doc_id", "text", qdf, k=10**9
        ).collect()
    }
    single = {
        r["id"]: r["bm25"]
        for r in text.bm25_scores(
            docs, "doc_id", "text", ["hash", "merge", "vector"]
        ).collect()
    }
    assert multi == single


def test_bm25_topk_rank_and_k(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    qdf = spark.createDataFrame(
        [(1, "hash"), (2, "vector")], "query_id long, term string"
    )
    out = text.bm25_topk(docs, "doc_id", "text", qdf, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 3
        rows.sort(key=lambda r: r["rank"])
        scores = [r["bm25"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_cross_pairs_blocked_matches_expression_path(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    left = emb.filter(F.col("vec_id") % 4 != 0)
    right = emb.filter(F.col("vec_id") % 4 == 0)
    expr_path = sorted(
        map(
            tuple,
            dedup.embedding_cosine_cross_pairs(
                left, right, "vec_id", "embedding", 0.3, dim=64
            ).collect(),
        )
    )
    blas_path = sorted(
        map(
            tuple,
            dedup.embedding_cosine_cross_pairs_blocked(
                left, right, "vec_id", "embedding", 0.3, n_blocks=5
            ).collect(),
        )
    )
    assert expr_path == blas_path
    assert len(expr_path) > 0


def test_cross_pairs_blocked_zero_norm_and_empty_sides(spark):
    left = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    right = spark.createDataFrame(
        [(10, [2.0, 0.0]), (11, [0.0, 0.0]), (12, None)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dedup.embedding_cosine_cross_pairs_blocked(
            left, right, "vec_id", "embedding", -1.0, n_blocks=3
        ).collect()
    }
    # zero-norm and NULL vectors excluded on BOTH sides even at a
    # permissive threshold (the expression-path contract)
    assert got == {(1, 10): 1.0}


# ---------------------------------------------------------------------------
# containment pairs (asymmetric near-dup) + vocabulary OOV rates
# ---------------------------------------------------------------------------

def test_containment_catches_subset_doc_jaccard_misses(spark):
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    cont = {
        (r["id_src"], r["id_dst"]): r["containment"]
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.9
        ).collect()
    }
    # every shingle of the short doc appears in the long doc
    assert cont == {(1, 2): 1.0}
    # union-normalized jaccard scores the same pair far below threshold
    jac = dedup.jaccard_pairs(df, "doc_id", "text", 3, 0.5).collect()
    assert jac == []


def test_containment_both_directions_on_near_identical_docs(spark):
    t = "one two three four five six seven"
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    rows = dedup.containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    assert {(r["id_src"], r["id_dst"]) for r in rows} == {(1, 2), (2, 1)}
    assert all(r["containment"] == 1.0 for r in rows)


def test_vocab_oov_rates_hand_check(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a rare"), (3, "")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in text.vocab_oov_rates(df, "doc_id", "text", top_n=2).collect()}
    # vocab = top-2 by count then token: a(3), b(1) beats rare(1) on tiebreak
    assert set(out) == {1, 2}  # empty doc 3 has no row
    assert out[1]["n_oov"] == 0 and out[1]["oov_rate"] == 0.0
    assert out[2]["n_oov"] == 1 and out[2]["n_tokens"] == 2
    assert out[2]["oov_rate"] == 0.5


# ---------------------------------------------------------------------------
# BPE merge learning
# ---------------------------------------------------------------------------

def _bpe_reference(word_freqs, n_merges):
    """Exact pure-Python canonical BPE (greedy left-to-right with
    skip-after-merge; ties break count desc then 'a b' string asc)."""
    from collections import Counter

    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for k in range(1, n_merges + 1):
        counts = Counter()
        for w, f in word_freqs.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                counts[f"{syms[i]} {syms[i + 1]}"] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        a, b = best[0].split(" ")
        for w in vocab:
            arr, out, i = vocab[w], [], 0
            while i < len(arr):
                if i + 1 < len(arr) and arr[i] == a and arr[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(arr[i])
                    i += 1
            vocab[w] = out
        merges.append((k, best[0], best[1]))
    return merges


def test_bpe_matches_reference_on_classic_corpus(spark):
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    rows = [(i, " ".join([w] * f)) for i, (w, f) in enumerate(freqs.items())]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["rank"], r["pair"], r["n_occ"])
        for r in text.bpe_learn_merges(df, "doc_id", "text", n_merges=6)
        .orderBy("rank")
        .collect()
    ]
    assert got == _bpe_reference(freqs, 6)


def test_bpe_run_of_identical_symbols_merges_canonically(spark):
    # 'aaaa' must tokenize through ('a','a') -> [aa, aa], the
    # skip-after-merge semantics string replace cannot express
    df = spark.createDataFrame([(1, "aaaa aaaa ab")], "doc_id long, text string")
    got = [
        (r["rank"], r["pair"], r["n_occ"])
        for r in text.bpe_learn_merges(df, "doc_id", "text", n_merges=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == _bpe_reference({"aaaa": 2, "ab": 1}, 2)
    # round 1: 'a a' appears 3 times per 'aaaa' (overlap-counted) x2 + ...
    assert got[0][1] == "a a"
    # round 2 operates on [aa, aa]: winning pair must be 'aa aa'
    assert got[1][1] == "aa aa"


def test_bpe_reference_parity_random(spark):
    import random

    rng = random.Random(7)
    words = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
             for _ in range(12)]
    freqs = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + rng.randint(1, 4)
    doc = " ".join(" ".join([w] * f) for w, f in freqs.items())
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    got = [
        (r["rank"], r["pair"], r["n_occ"])
        for r in text.bpe_learn_merges(df, "doc_id", "text", n_merges=5)
        .orderBy("rank")
        .collect()
    ]
    assert got == _bpe_reference(freqs, 5)


def test_bpe_batched_matches_sequential(spark):
    """The exact-batching claim: max_batch=16 must reproduce the
    one-merge-at-a-time canonical table on corpora engineered to trip
    every unsafe case (shared symbols, created pairs that outrank,
    output strings that pool with existing symbols, tie counts)."""
    import random

    fixtures = [
        # created pair 'x ab' outranks the disjoint runner-up 'c d':
        # the ub guard must end the batch after 'a b'
        {"xab": 100, "cd": 50},
        # output 'ab' pools with the pre-existing symbol from word 'ab'
        {"ab": 3, "xaby": 4, "zab": 5},
        # tie counts with name tie-breaks
        {"ab": 2, "cd": 2, "ef": 2},
    ]
    rng = random.Random(42)
    for _ in range(4):
        freqs = {}
        for _ in range(14):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            freqs[w] = freqs.get(w, 0) + rng.randint(1, 5)
        fixtures.append(freqs)
    for freqs in fixtures:
        doc = " ".join(" ".join([w] * f) for w, f in freqs.items())
        df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
        ref = _bpe_reference(freqs, 6)
        sizes: list = []
        batched = [
            (r["rank"], r["pair"], r["n_occ"])
            for r in text.bpe_learn_merges(
                df, "doc_id", "text", n_merges=6, max_batch=16,
                pass_sizes=sizes,
            ).orderBy("rank").collect()
        ]
        assert batched == ref, freqs
        assert sum(sizes) == len(batched)


def test_bpe_batching_commits_multiple_merges_per_pass(spark):
    # natural-text-shaped corpus: disjoint high-count pairs exist, so the
    # batch must actually amortize passes (the 32k-vocab driver-loop fix)
    freqs = {"seen": 40, "mould": 38, "wrapt": 36, "fix": 34, "zigzag": 2}
    doc = " ".join(" ".join([w] * f) for w, f in freqs.items())
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    sizes: list = []
    got = [
        (r["rank"], r["pair"], r["n_occ"])
        for r in text.bpe_learn_merges(
            df, "doc_id", "text", n_merges=8, max_batch=16, pass_sizes=sizes,
        ).orderBy("rank").collect()
    ]
    assert got == _bpe_reference(freqs, 8)
    assert len(sizes) < len(got)          # fewer passes than merges
    assert max(sizes) > 1                 # at least one real batch


def test_pagerank_plan_depth_constant_in_rounds(spark):
    """The iterative-lineage trap, regression-guarded for pagerank: the
    rank vector after N rounds must be a constant-depth plan (each round
    localCheckpoints), not an N-layer join tower."""
    edges = [(i, (i + 1) % 20, 1) for i in range(20)]
    edges += [(v, u, w) for u, v, w in edges]
    df = spark.createDataFrame(edges, "u long, v long, w long")

    def depth(iters):
        out = graph.pagerank(df, "u", "v", "w", iters=iters)
        return out._jdf.queryExecution().optimizedPlan().toString().count("\n")

    assert depth(6) == depth(2)


# ---------------------------------------------------------------------------
# JL random projection + bigram-LM quality
# ---------------------------------------------------------------------------

def test_jl_projection_distortion_bounded_and_duplicates_collapse(spark):
    from go_streaming_spark.functions import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(40)
    proj = similarity.random_projection(emb, "vec_id", "embedding",
                                        out_dim=16, dim=64)
    pcols = [f"p{j}" for j in range(16)]
    orig = {r["vec_id"]: list(map(float, r["embedding"]))
            for r in emb.collect()}
    pvecs = {r["id"]: [r[c] for c in pcols] for r in proj.collect()}

    def cos(x, y):
        import math

        d = sum(a * b for a, b in zip(x, y))
        nx = math.sqrt(sum(a * a for a in x))
        ny = math.sqrt(sum(a * a for a in y))
        return d / (nx * ny)

    ids = sorted(orig)
    errs = []
    for i in range(0, len(ids) - 1):
        a, b = ids[i], ids[i + 1]
        errs.append(abs(cos(orig[a], orig[b]) - cos(pvecs[a], pvecs[b])))
    # E|cos distortion| at k=16 is ~sqrt(2/(pi*16)) ~ 0.2; the JL claim
    # is the AVERAGE stays bounded, not per-pair rank preservation
    assert sum(errs) / len(errs) < 0.3
    # exact duplicate vectors must project identically (determinism)
    dup = spark.createDataFrame(
        [(1, orig[ids[0]]), (2, orig[ids[0]])],
        "vec_id long, embedding array<double>",
    )
    pd_ = similarity.random_projection(dup, "vec_id", "embedding",
                                       out_dim=16, dim=64).collect()
    assert [pd_[0][c] for c in pcols] == [pd_[1][c] for c in pcols]


def test_lm_bigram_quality_hand_check(spark):
    # corpus: 'a b' x3 and 'a c' x1 -> P(b|a)=3/4 of a-occurrences? No:
    # c_x counts ALL 'a' tokens (8 total), c_ab=3, c_ac=1.
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a c"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in text.lm_bigram_quality(df, "doc_id", "text").collect()}
    # doc1 bigrams: (a,b)x3, (b,a)x2. c_a=4, c_b=3, c_ab=3, c_ba=2
    s_ab = (3 * 1_000_000) // 4
    s_ba = (2 * 1_000_000) // 3
    assert out[1]["n_bigrams"] == 5
    assert out[1]["avg_cond_q"] == (3 * s_ab + 2 * s_ba) // 5
    # doc2: single bigram (a,c): c_ac=1, c_a=4
    assert out[2]["n_bigrams"] == 1
    assert out[2]["avg_cond_q"] == (1 * 1_000_000) // 4
    # doc3 has no bigrams -> no row
    assert 3 not in out


def test_star_cc_matches_label_propagation_on_random_graphs(spark):
    """Large-star/small-star must agree with min-label propagation
    (component = min member id) on random graphs of varied shape."""
    import random

    from go_streaming_spark.functions.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(9)
    for trial in range(4):
        n = 60 + 30 * trial
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(int(n * (0.6 + 0.4 * trial)))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src long, dst long")
        ref = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        got = {
            r["node"]: r["component"]
            for r in connected_components_star(df).collect()
        }
        assert got == ref, f"trial {trial}: star CC diverges"


def test_star_cc_path_and_star_shapes(spark):
    """Worst case for contraction (a long path) and best case (a hub
    star) both converge to min-labeled components."""
    from go_streaming_spark.functions.graph import connected_components_star

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "src long, dst long"
    )
    out = {r["node"]: r["component"]
           for r in connected_components_star(path).collect()}
    assert set(out) == set(range(100, 161))
    assert set(out.values()) == {100}

    hub = spark.createDataFrame(
        [(500, i) for i in range(501, 540)] + [(400, 401), (401, 402)],
        "src long, dst long",
    )
    out = {r["node"]: r["component"]
           for r in connected_components_star(hub).collect()}
    assert all(v == 500 for k, v in out.items() if k >= 500)
    assert all(v == 400 for k, v in out.items() if k < 500)


def test_star_cc_empty_and_single_edge(spark):
    from go_streaming_spark.functions.graph import connected_components_star

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components_star(empty).count() == 0
    one = spark.createDataFrame([(7, 3)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components_star(one).collect()}
    assert got == {7: 3, 3: 3}


def test_triangle_count_known_graphs(spark):
    from go_streaming_spark.functions.graph import triangle_count

    def count(edges):
        df = spark.createDataFrame(edges, "u long, v long")
        r = triangle_count(df, "u", "v").collect()[0]
        return r["n_nodes"], r["n_edges"], r["n_triangles"]

    # K3: one triangle
    assert count([(1, 2), (2, 3), (1, 3)]) == (3, 3, 1)
    # K4: 4 triangles (duplicates/reversed/self-loop edges must not count)
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    k4 += [(1, 1), (2, 2)]
    assert count(k4) == (4, 6, 4)
    # path and star: zero triangles
    assert count([(i, i + 1) for i in range(10)]) == (11, 10, 0)
    assert count([(0, i) for i in range(1, 9)]) == (9, 8, 0)
    # hub + one closed pair: exactly one triangle, skewed degrees
    hub = [(0, i) for i in range(1, 40)] + [(1, 2)]
    assert count(hub) == (40, 40, 1)


def test_triangle_count_matches_bruteforce_random(spark):
    import itertools
    import random

    from go_streaming_spark.functions.graph import triangle_count

    rng = random.Random(17)
    for n, m in [(12, 30), (20, 60)]:
        edges = list({
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            )
            if a != b
        })
        eset = set(edges)
        ref = sum(
            1
            for x, y, z in itertools.combinations(range(n), 3)
            if (x, y) in eset and (x, z) in eset and (y, z) in eset
        )
        df = spark.createDataFrame(edges, "u long, v long")
        got = triangle_count(df, "u", "v").collect()[0]["n_triangles"]
        assert got == ref
