"""LLM-data-pipeline queries (dedup / similarity / text / multimodal) with
DuckDB oracles.  Registered into the same QUERIES/ORACLES dicts as the core
operator queries (see queries.py for the determinism rules).

The hash-heavy oracles (MinHash, SimHash) mirror the engine's md5-prefix →
int64 arithmetic exactly — both engines compute identical signatures, so the
checks are bit-exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_streaming_spark.engine import Engine
from go_streaming_spark.functions import dedup, multimodal, similarity, text, util
from go_streaming_spark.queries import ORACLES, query


def _quantize_array(col: str, name: str | None = None):
    """array<double> → deterministic string ("µ-unit" ints joined by ",").

    The driver's canonicalizer can't sort array-typed cells (unhashable
    ndarray), so gate queries emitting feature vectors serialize them.
    round(x*1e6) is tie-free for the md5-byte/255 stub values, so Spark's
    HALF_UP and DuckDB's half-away rounding agree exactly.
    """
    q = F.transform(
        F.col(col), lambda x: F.round(x * 1_000_000).cast("long").cast("string")
    )
    return F.concat_ws(",", q).alias(name or f"{col}_q")

# Shared oracle CTEs: word 3-gram shingles + exact jaccard over documents.
_SH = """ws AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w FROM documents),
sh AS (SELECT DISTINCT doc_id AS id, unnest(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2],' '))) AS shingle FROM ws WHERE len(w) >= 3),
sizes AS (SELECT id, count(*) n FROM sh GROUP BY id),
inter AS (SELECT a.id id_a, b.id id_b, count(*) n_common FROM sh a JOIN sh b USING(shingle) WHERE a.id < b.id GROUP BY 1, 2),
jac AS (SELECT id_a, id_b, n_common, n_common/(sa.n+sb.n-n_common) AS jaccard
        FROM inter JOIN sizes sa ON id_a=sa.id JOIN sizes sb ON id_b=sb.id)"""

# Capped variant: mirrors the engine's default hot-shingle cap
# (dedup.DEFAULT_MAX_SHINGLE_FREQ) — shingles shared by >1000 docs leave
# the universe entirely (sizes too) before the inverted-index join, on
# BOTH engines.  MinHash keeps the uncapped _SH (a frequency filter
# would change signatures, and the banding already bounds its buckets).
_SH_CAPPED = """ws AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w FROM documents),
sh0 AS (SELECT DISTINCT doc_id AS id, unnest(list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2],' '))) AS shingle FROM ws WHERE len(w) >= 3),
sh AS (SELECT id, shingle FROM sh0 WHERE shingle NOT IN
       (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 1000)),
sizes AS (SELECT id, count(*) n FROM sh GROUP BY id),
inter AS (SELECT a.id id_a, b.id id_b, count(*) n_common FROM sh a JOIN sh b USING(shingle) WHERE a.id < b.id GROUP BY 1, 2),
jac AS (SELECT id_a, id_b, n_common, n_common/(sa.n+sb.n-n_common) AS jaccard
        FROM inter JOIN sizes sa ON id_a=sa.id JOIN sizes sb ON id_b=sb.id)"""

_COS = (
    lambda x, y: f"list_sum(list_transform(range(1,65), i -> {x}[i]*{y}[i]))"
    f"/(sqrt(list_sum(list_transform(range(1,65), i -> {x}[i]*{x}[i])))"
    f"*sqrt(list_sum(list_transform(range(1,65), i -> {y}[i]*{y}[i]))))"
)

_STOP = (
    "['the','a','an','and','or','is','are','of','to','in','for','on','with',"
    "'at','by','from']"
)
_NW = "len(list_filter(regexp_split_to_array(text,'\\s+'),x->x<>''))"
_NSTOP = (
    "len(list_filter(regexp_split_to_array(text,'\\s+'),"
    f" x -> x <> '' AND list_contains({_STOP}, lower(x))))"
)


def _docs(spark, sf_dir):
    return Engine(spark, sf_dir=sf_dir).stream("documents")


def _emb(spark, sf_dir):
    return Engine(spark, sf_dir=sf_dir).stream("embeddings")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,"
    " count(*) AS n_copies FROM documents GROUP BY 1",
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir), "doc_id", ["text"])


@query(
    "dedup_normalized_exact",
    # exact dedup over the CANONICAL text form (lower, strip punctuation,
    # collapse whitespace) — catches casing/punctuation/spacing variants
    # raw-byte dedup misses; same digest-only shuffle as dedup_exact.
    # Whitespace class is explicit (not \s): Java's \s includes \x0B,
    # RE2's does not — the explicit class keeps both engines identical.
    r"""WITH n AS (SELECT doc_id,
   trim(regexp_replace(regexp_replace(lower(text),
        '[^a-z0-9 \t\n\r\f\x0B]+', '', 'g'),
        '[ \t\n\r\f\x0B]+', ' ', 'g')) AS norm
  FROM documents)
SELECT md5(norm) AS content_hash, min(doc_id) AS keep_id,
 count(*) AS n_copies FROM n GROUP BY 1""",
)
def dedup_normalized_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir).withColumn(
        "_norm", text.normalize_for_dedup(F.col("text"))
    )
    return dedup.exact_dedup(docs, "doc_id", ["_norm"])


@query(
    "dedup_incremental_exact",
    # recurring-crawl ingestion: docs with doc_id%10==0 play the accumulated
    # corpus; the rest are the new batch.  Survivors = batch digests unseen
    # in the corpus, lowest id per in-batch duplicate group
    "WITH corpus AS (SELECT md5(text) AS content_hash FROM documents"
    "  WHERE doc_id % 10 = 0),"
    " batch AS (SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,"
    "   count(*) AS n_copies FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1)"
    " SELECT b.content_hash, b.keep_id, b.n_copies FROM batch b"
    " WHERE NOT EXISTS (SELECT 1 FROM corpus c"
    "  WHERE c.content_hash = b.content_hash)",
)
def dedup_incremental_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    new_batch = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.incremental_exact_dedup(new_batch, corpus, "doc_id", ["text"])


@query(
    "pack_sequences",
    # token-offset packing into 512-token training sequences, bucketed so
    # the cumsum window never needs a global sort (functions/text.py)
    r"""WITH t AS (SELECT doc_id AS id, doc_id % 64 AS bucket,
   CAST(COALESCE(len(list_filter(regexp_split_to_array(text,'\s+'),
        x -> x <> '')), 0) AS BIGINT) AS n_tokens
  FROM documents),
o AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
      FROM t)
SELECT id, CAST(bucket AS BIGINT) AS bucket, n_tokens,
 CAST(start_off AS BIGINT) AS start_off,
 CAST(start_off // 512 AS BIGINT) AS seq_id
FROM o""",
)
def pack_sequences(spark, sf_dir):
    return text.pack_sequences(
        _docs(spark, sf_dir), "doc_id", "text", budget=512, n_buckets=64
    )


@query(
    "dedup_ngram_jaccard",
    f"WITH {_SH_CAPPED} SELECT id_a, id_b, n_common, jaccard FROM jac WHERE jaccard >= 0.2",
)
def dedup_ngram_jaccard(spark, sf_dir):
    # default hot-shingle cap ON (DEFAULT_MAX_SHINGLE_FREQ) — the oracle's
    # _SH_CAPPED mirrors the same >1000-doc frequency filter
    return dedup.jaccard_pairs(_docs(spark, sf_dir), "doc_id", "text", 3, 0.2)


# MinHash LSH pipeline CTEs, shared by the pair query and the cluster query
# shingles → 32-bit hashes → k=16 permutation minima → 4-row band keys
# (shared by the symmetric pair query, the cluster query, and the
# incremental batch-vs-corpus query)
_MINHASH_BANDS = f"""{_SH},
h32 AS (SELECT id, CAST(('0x'||substr(md5(shingle),1,8)) AS BIGINT) h FROM sh),
sig AS (SELECT id, j, min(({dedup.MINHASH_A}[CAST(j AS INT)+1]*h
                         + {dedup.MINHASH_B}[CAST(j AS INT)+1]) % 2147483647) minhash
        FROM h32, (SELECT unnest(range(16)) j) jj GROUP BY 1,2),
bands AS (SELECT id, j//4 band, string_agg(minhash, '_' ORDER BY j) band_key FROM sig GROUP BY 1,2)"""

_MINHASH_CTES = f"""{_MINHASH_BANDS},
cand AS (SELECT DISTINCT a.id id_a, b.id id_b FROM bands a JOIN bands b USING(band, band_key) WHERE a.id < b.id)"""


@query(
    "dedup_minhash_lsh",
    f"""WITH {_MINHASH_CTES}
SELECT c.id_a, c.id_b, j.jaccard FROM cand c JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2""",
)
def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, k=16, rows_per_band=4, threshold=0.2
    )


@query(
    "dedup_incremental_minhash",
    # recurring-crawl NEAR-dup ingestion: batch docs (doc_id%10<>0) survive
    # unless LSH-banded against a corpus doc (doc_id%10=0) AND the exact
    # Jaccard of that candidate pair clears 0.2 — the oracle mirrors the
    # full minhash pipeline (same constants), restricted to batch×corpus
    f"""WITH {_MINHASH_BANDS},
ci AS (SELECT DISTINCT a.id AS bid, least(a.id, b.id) AS id_a,
        greatest(a.id, b.id) AS id_b
       FROM bands a JOIN bands b USING(band, band_key)
       WHERE a.id % 10 <> 0 AND b.id % 10 = 0),
flagged AS (SELECT DISTINCT ci.bid FROM ci
            JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2)
SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
 AND doc_id NOT IN (SELECT bid FROM flagged)""",
)
def dedup_incremental_minhash(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    out = dedup.incremental_minhash_dedup(
        batch, corpus, "doc_id", "text", n=3, k=16, rows_per_band=4,
        threshold=0.2,
    )
    return out.select("doc_id")


@query(
    "dedup_incremental_indexed",
    # same semantics as dedup_incremental_minhash, exercised through the
    # PRODUCTION API shape: corpus band index built once
    # (build_minhash_index), batch joined against it (dedup_against_index).
    # Same oracle — index-based result must be identical to the recompute.
    f"""WITH {_MINHASH_BANDS},
ci AS (SELECT DISTINCT a.id AS bid, least(a.id, b.id) AS id_a,
        greatest(a.id, b.id) AS id_b
       FROM bands a JOIN bands b USING(band, band_key)
       WHERE a.id % 10 <> 0 AND b.id % 10 = 0),
flagged AS (SELECT DISTINCT ci.bid FROM ci
            JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2)
SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
 AND doc_id NOT IN (SELECT bid FROM flagged)""",
)
def dedup_incremental_indexed(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    idx = dedup.build_minhash_index(
        corpus, "doc_id", "text", n=3, k=16, rows_per_band=4
    )
    out = dedup.dedup_against_index(batch, idx, "doc_id", "text", threshold=0.2)
    return out.select("doc_id")


@query(
    "dedup_incremental_full",
    # FULL ingestion: drop batch docs near-duplicating the corpus (stage 1,
    # as dedup_incremental_minhash), then resolve near-dups WITHIN the
    # surviving batch — symmetric banded pairs restricted to survivors,
    # transitive closure, keep the minimum id per component
    f"""WITH RECURSIVE {_MINHASH_BANDS},
ci AS (SELECT DISTINCT a.id AS bid, least(a.id, b.id) AS id_a,
        greatest(a.id, b.id) AS id_b
       FROM bands a JOIN bands b USING(band, band_key)
       WHERE a.id % 10 <> 0 AND b.id % 10 = 0),
flagged AS (SELECT DISTINCT ci.bid FROM ci
            JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
surv AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0
         AND doc_id NOT IN (SELECT bid FROM flagged)),
scand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b USING(band, band_key)
          WHERE a.id < b.id
            AND a.id IN (SELECT doc_id FROM surv)
            AND b.id IN (SELECT doc_id FROM surv)),
spairs AS (SELECT s.id_a, s.id_b FROM scand s
           JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
edges AS (SELECT id_a AS u, id_b AS v FROM spairs
          UNION SELECT id_b, id_a FROM spairs),
reach AS (SELECT u AS node, v AS r FROM edges
          UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
comp AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id FROM surv
 WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)""",
)
def dedup_incremental_full(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    out = dedup.incremental_minhash_dedup_full(
        batch, corpus, "doc_id", "text", n=3, k=16, rows_per_band=4,
        threshold=0.2,
    )
    return out.select("doc_id")


@query(
    "dedup_substring_spans",
    # substring-granularity exact dedup (Lee et al. 2022): every token
    # position starting an 8-gram that occurs ≥2× corpus-wide is flagged;
    # overlapping/adjacent flagged windows merge into maximal spans.
    # Engine shuffles md5(gram) digests (never gram text), finds duplicated
    # grams with groupBy+semi-join (AQE-splittable/broadcastable), merges
    # islands with one per-doc window — see dedup.duplicated_spans.
    """WITH ws AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w
            FROM documents),
g0 AS (SELECT doc_id AS id, unnest(list_transform(range(0, len(w)-8+1),
          i -> {'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))})) AS u
       FROM ws WHERE len(w) >= 8),
g AS (SELECT id, u.pos::bigint AS pos, u.gh AS gh FROM g0),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
f AS (SELECT id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
m AS (SELECT id, pos,
        CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
      FROM f),
s AS (SELECT id, pos, sum(new_span) OVER (PARTITION BY id ORDER BY pos) AS span_id FROM m)
SELECT id, min(pos) AS span_start, max(pos) + 8 - 1 AS span_end,
       max(pos) + 8 - min(pos) AS span_tokens
FROM s GROUP BY id, span_id""",
)
def dedup_substring_spans(spark, sf_dir):
    return dedup.duplicated_spans(_docs(spark, sf_dir), "doc_id", "text", k=8)


@query(
    "dedup_clusters",
    # transitive closure of the verified near-dup pair graph; component id =
    # min member id — both engines deterministic (DuckDB: recursive CTE;
    # Spark: min-label propagation, functions/graph.py)
    f"""WITH RECURSIVE {_MINHASH_CTES},
pairs AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT u AS node, v AS r FROM edges
          UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u)
SELECT node AS doc_id, least(node, min(r)) AS cluster_id FROM reach GROUP BY node""",
)
def dedup_clusters(spark, sf_dir):
    # the keep/drop step of near-dup dedup: pairs → connected components →
    # canonical member per cluster (keep doc_id == cluster_id, drop rest)
    from go_streaming_spark.functions.graph import dedup_components

    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, k=16, rows_per_band=4, threshold=0.2
    )
    return dedup_components(pairs)


@query(
    "dedup_components_star",
    # SAME transitive closure as dedup_clusters, computed by the
    # edge-contracting alternating large-star/small-star algorithm
    # (Kiveris et al. SoCC'14) instead of label propagation — the
    # 100 TB path when the pair graph's edges dwarf its nodes (per-round
    # shuffle shrinks as components contract; hub skew decays after one
    # round).  Component id = min member id on both engines, so the
    # recursive-CTE oracle is shared verbatim with dedup_clusters.
    f"""WITH RECURSIVE {_MINHASH_CTES},
pairs AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT u AS node, v AS r FROM edges
          UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u)
SELECT node AS doc_id, least(node, min(r)) AS cluster_id FROM reach GROUP BY node""",
)
def dedup_components_star(spark, sf_dir):
    from go_streaming_spark.functions.graph import connected_components_star

    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, k=16, rows_per_band=4, threshold=0.2
    )
    comps = connected_components_star(pairs, src="id_a", dst="id_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


_SIMHASH_SQL = """toks AS (SELECT doc_id id, t token, count(*) cnt FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text,'\\s+'), x->x<>'')) t FROM documents) GROUP BY 1,2),
bits AS (SELECT id, j, sum(cnt * (((CAST(('0x'||substr(md5(token),1,15)) AS BIGINT) >> CAST(j AS INT)) & 1)*2 - 1)) s
         FROM toks, (SELECT unnest(range(60)) j) jj GROUP BY 1,2),
sig AS (SELECT id, CAST(sum(CASE WHEN s>0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) sh FROM bits GROUP BY 1)"""


@query(
    "dedup_simhash",
    f"WITH {_SIMHASH_SQL} SELECT a.id id_a, b.id id_b,"
    " CAST(bit_count(xor(a.sh,b.sh)) AS INT) hamming"
    " FROM sig a, sig b WHERE a.id<b.id AND bit_count(xor(a.sh,b.sh)) <= 3",
)
def dedup_simhash(spark, sf_dir):
    return dedup.simhash_pairs(_docs(spark, sf_dir), "doc_id", "text", max_hamming=3)


@query(
    "dedup_embedding_cosine",
    f"""WITH v AS (SELECT vec_id id, embedding::DOUBLE[] e FROM embeddings)
SELECT a.id id_a, b.id id_b, floor(({_COS('a.e','b.e')})*1e6 + 0.5)/1e6 cos_sim
FROM v a JOIN v b ON a.id < b.id WHERE floor(({_COS('a.e','b.e')})*1e6 + 0.5)/1e6 >= 0.4""",
)
def dedup_embedding_cosine(spark, sf_dir):
    return dedup.embedding_cosine_pairs(
        _emb(spark, sf_dir), "vec_id", "embedding", 0.4, dim=64
    )


_T_SPLIT90 = int(0.9 * (1 << 32))


@query(
    "leakage_cross_split_pairs",
    # embedding-space train/test leakage audit: near-dup pairs that
    # straddle a deterministic 90/10 id-hash split (the same md5 bucket
    # arithmetic as hash_split_counts, seed 'split') — an id-hash split
    # is leak-free only at the exact-duplicate level, so eval integrity
    # requires this cross-side sweep
    f"""WITH b AS (SELECT vec_id id, embedding::DOUBLE[] e,
  CAST(('0x'||substr(md5('split|'||CAST(vec_id AS VARCHAR)),1,8)) AS BIGINT) h
  FROM embeddings),
tr AS (SELECT id, e FROM b WHERE h < {_T_SPLIT90}),
te AS (SELECT id, e FROM b WHERE h >= {_T_SPLIT90})
SELECT tr.id AS id_a, te.id AS id_b,
  floor(({_COS('tr.e','te.e')})*1e6 + 0.5)/1e6 AS cos_sim
FROM tr, te
WHERE floor(({_COS('tr.e','te.e')})*1e6 + 0.5)/1e6 >= 0.35""",
)
def leakage_cross_split_pairs(spark, sf_dir):
    from go_streaming_spark.functions.sampling import hash_split

    emb = hash_split(
        _emb(spark, sf_dir), "vec_id", {"train": 0.9, "test": 0.1}, seed="split"
    )
    return dedup.embedding_cosine_cross_pairs_blocked(
        emb.filter(F.col("split") == "train"),
        emb.filter(F.col("split") == "test"),
        "vec_id",
        "embedding",
        0.35,
    )


def _jl_oracle() -> str:
    chains = similarity.random_projection_sql("e", 64, 8, "jl", one_based=True)
    cols = ", ".join(f"{c} AS p{j}" for j, c in enumerate(chains))
    return (
        "SELECT vec_id AS id, "
        + cols
        + " FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"
    )


@query(
    # JL ±1 sign projection 64→8: every output component is an exact
    # signed sum with the same left-to-right order in both engines —
    # bit-exact on raw doubles, no quantization needed
    "jl_projection_vectors",
    _jl_oracle(),
)
def jl_projection_vectors(spark, sf_dir):
    return similarity.random_projection(
        _emb(spark, sf_dir), "vec_id", "embedding", out_dim=8, dim=64
    )


def _jl_topk_oracle(out_dim: int = 16, cand: int = 50, k: int = 10) -> str:
    # stage 1 in projected space (chains over e and qv — the engine's
    # Python query projection is the same sequential signed sum), stage 2
    # exact rescore in the original space; both cuts tie-break by id
    e_ch = similarity.random_projection_sql("e", 64, out_dim, "jl",
                                            one_based=True)
    q_ch = similarity.random_projection_sql("q.qv", 64, out_dim, "jl",
                                            one_based=True)
    pcols = ", ".join(f"{c} AS p{j}" for j, c in enumerate(e_ch))
    qcols = ", ".join(f"{c} AS q{j}" for j, c in enumerate(q_ch))
    dot = " + ".join(f"(p{j} * q{j})" for j in range(out_dim))
    vn = " + ".join(f"(p{j} * p{j})" for j in range(out_dim))
    qn = " + ".join(f"(q{j} * q{j})" for j in range(out_dim))
    return f"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
qp AS (SELECT {qcols} FROM q),
v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id <> 0),
p AS (SELECT id, e, {pcols} FROM v),
c AS (SELECT id, e,
        floor((({dot}) / (sqrt({vn}) * sqrt({qn})))*1e6 + 0.5)/1e6 AS cos_p
      FROM p, qp ORDER BY cos_p DESC, id LIMIT {cand})
SELECT id, floor(({_COS('c.e', 'q.qv')})*1e6 + 0.5)/1e6 AS cos_sim
FROM c, q ORDER BY cos_sim DESC, id LIMIT {k}"""


@query("ann_jl_topk", _jl_topk_oracle())
def ann_jl_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.jl_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qv,
        k=10, candidates=50, out_dim=16, dim=64,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "ann_cosine_topk",
    f"""WITH q AS (SELECT embedding::DOUBLE[] qv FROM embeddings WHERE vec_id=0),
v AS (SELECT vec_id id, embedding::DOUBLE[] e FROM embeddings WHERE vec_id <> 0)
SELECT id, floor(({_COS('e','q.qv')})*1e6 + 0.5)/1e6 cos_sim FROM v, q
ORDER BY cos_sim DESC, id LIMIT 10""",
)
def ann_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.cosine_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qv, 10
    )


@query(
    "dedup_embedding_cosine_blocked",
    # same oracle as the expression variant: the blocked path accumulates
    # in the same sequential dim order (no BLAS pairwise summation), so its
    # cosines are bit-identical
    f"""WITH v AS (SELECT vec_id id, embedding::DOUBLE[] e FROM embeddings)
SELECT a.id id_a, b.id id_b, floor(({_COS('a.e','b.e')})*1e6 + 0.5)/1e6 cos_sim
FROM v a JOIN v b ON a.id < b.id WHERE floor(({_COS('a.e','b.e')})*1e6 + 0.5)/1e6 >= 0.4""",
)
def dedup_embedding_cosine_blocked(spark, sf_dir):
    return dedup.embedding_cosine_pairs_blocked(
        _emb(spark, sf_dir), "vec_id", "embedding", 0.4, n_blocks=16
    )


@query(
    "ann_ivf_topk",
    f"""WITH q AS (SELECT embedding::DOUBLE[] qv FROM embeddings WHERE vec_id=0),
v AS (SELECT vec_id id, label, embedding::DOUBLE[] e FROM embeddings WHERE vec_id <> 0),
cent AS (SELECT label, j, floor(avg(e[CAST(j AS INT)])*1e6 + 0.5)/1e6 cv
         FROM v, (SELECT unnest(range(1,65)) j) jj GROUP BY 1,2),
centv AS (SELECT label, list(cv ORDER BY j) cvec FROM cent GROUP BY 1),
probe AS (SELECT label FROM centv, q
          ORDER BY floor(({_COS('cvec','q.qv')})*1e6 + 0.5)/1e6 DESC, label LIMIT 2)
SELECT id, floor(({_COS('e','q.qv')})*1e6 + 0.5)/1e6 cos_sim
FROM v JOIN probe USING(label), q
ORDER BY cos_sim DESC, id LIMIT 10""",
)
def ann_ivf_topk(spark, sf_dir):
    # IVF ANN: label-mean centroids, probe the 2 nearest clusters, exact
    # top-k within them (similarity.ivf_topk: the centroid rows are ranked
    # on the driver, candidate filter = cluster IN (the 2 cells))
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    return similarity.ivf_topk(
        corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=2
    )


@query("ann_ivf_pruned_topk", ORACLES["ann_ivf_topk"])
def ann_ivf_pruned_topk(spark, sf_dir):
    # the PERSISTED-index twin of ann_ivf_topk (same oracle — identical
    # semantics, different physical path): vectors written
    # partitionBy(cluster) once per snapshot (similarity.save_ivf_index),
    # each query probes the tiny centroid table driver-side and reads
    # ONLY the nprobe matching partitions — on this local root with
    # pyarrow, scored on the driver with no Spark job; a non-local root
    # runs a Spark scan whose PartitionFilters prune the rest before any
    # file is opened — per-query cost ∝ nprobe inverted lists,
    # independent of corpus size
    import shutil
    import tempfile

    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    tmp = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        similarity.save_ivf_index(
            corpus, "vec_id", "embedding", "label", cent, tmp
        )
        out = similarity.ivf_pruned_topk(
            spark, tmp, "vec_id", "embedding", "label", qv, k=10, nprobe=2
        )
        # materialize before the scratch index disappears
        rows = out.collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def _lsh_oracle(n_planes: int = 6, seed: int = 42, dim: int = 64) -> str:
    """DuckDB oracle for the LSH ANN path: the plane matrix is deterministic
    metadata (seed → md5 → double), so it embeds as SQL literals with
    full-precision repr (binary64 round-trip); bucket bits and the probe set
    (query bucket + 1-bit neighbors) are then pure SQL arithmetic with the
    same summation order as the engine."""
    from go_streaming_spark.functions.similarity import plane_component

    planes = ", ".join(
        "[" + ", ".join(repr(plane_component(seed, p, d)) for d in range(dim)) + "]"
        for p in range(n_planes)
    )
    r = f"range(1,{dim + 1})"
    return f"""WITH pl AS (SELECT [{planes}]::DOUBLE[][] AS m),
q AS (SELECT embedding::DOUBLE[] qv FROM embeddings WHERE vec_id=0),
v AS (SELECT vec_id id, embedding::DOUBLE[] e FROM embeddings WHERE vec_id <> 0),
qb AS (SELECT sum(CASE WHEN list_sum(list_transform({r}, i -> qv[i]*m[CAST(p AS INT)+1][i])) >= 0
                 THEN 1 << CAST(p AS INT) ELSE 0 END)::BIGINT AS b
       FROM q, pl, (SELECT unnest(range({n_planes})) p) pp),
vb AS (SELECT id, sum(CASE WHEN s >= 0 THEN 1 << CAST(p AS INT) ELSE 0 END)::BIGINT AS b FROM (
         SELECT id, p, list_sum(list_transform({r}, i -> e[i]*m[CAST(p AS INT)+1][i])) s
         FROM v, pl, (SELECT unnest(range({n_planes})) p) pp) GROUP BY id),
probes AS (SELECT b FROM qb UNION ALL
           SELECT xor(qb.b, 1 << CAST(p AS INT)) FROM qb, (SELECT unnest(range({n_planes})) p) pp),
cand AS (SELECT v.id, v.e FROM v JOIN vb USING(id) WHERE vb.b IN (SELECT b FROM probes))
SELECT id, floor(({_COS('e', 'q.qv')})*1e6 + 0.5)/1e6 cos_sim FROM cand, q
ORDER BY cos_sim DESC, id LIMIT 10"""


@query("ann_lsh_topk", _lsh_oracle())
def ann_lsh_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.ann_lsh_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qv, k=10, n_planes=6
    )


_TOK_BUDGET = 60_000


@query(
    "token_budget_sample_counts",
    # sample-to-token-budget: hash-shuffled docs, keep the maximal strict
    # prefix whose cumulative n_chars stays <= budget.  The engine runs a
    # 256-bucket DISTRIBUTED prefix sum (no single-partition window); the
    # oracle verifies with the plain global window — identical exact
    # integer arithmetic, so the kept SET matches bit-for-bit.
    f"""WITH h AS (SELECT doc_id, source, n_chars,
        md5('budget|' || CAST(doc_id AS VARCHAR)) AS hh
       FROM documents),
c AS (SELECT source, n_chars,
        sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY hh, doc_id) AS cum
      FROM h)
SELECT source, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS tok_kept
FROM c WHERE cum <= {_TOK_BUDGET} GROUP BY source""",
)
def token_budget_sample_counts(spark, sf_dir):
    from go_streaming_spark.functions import sampling

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    kept = sampling.sample_to_token_budget(
        docs, "doc_id", "n_chars", budget=_TOK_BUDGET, seed="budget"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("tok_kept"),
    )


@query(
    "stratified_token_budget_counts",
    # per-stratum token budgets (multilingual-mix assembly: "<= 3000
    # chars per source"): the same hash-prefix rule applied WITHIN each
    # source.  Engine = per-stratum 256-bucket prefix sums; oracle = the
    # plain stratum-partitioned window.
    """WITH h AS (SELECT doc_id, source, n_chars,
        md5('budget|' || CAST(doc_id AS VARCHAR)) AS hh
       FROM documents),
c AS (SELECT source, n_chars,
        sum(CAST(n_chars AS BIGINT))
          OVER (PARTITION BY source ORDER BY hh, doc_id) AS cum
      FROM h)
SELECT source, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS tok_kept
FROM c WHERE cum <= 3000 GROUP BY source""",
)
def stratified_token_budget_counts(spark, sf_dir):
    from go_streaming_spark.functions import sampling

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    kept = sampling.sample_to_token_budget_per_stratum(
        docs, "doc_id", "n_chars", budget=3000, stratum_col="source",
        seed="budget",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("tok_kept"),
    )


_T_TRAIN = int(0.8 * (1 << 32))
_T_VAL = int(0.9 * (1 << 32))


@query(
    "hash_split_counts",
    f"""WITH b AS (SELECT source,
  CAST(('0x'||substr(md5('split|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) h
  FROM documents)
SELECT CASE WHEN h < {_T_TRAIN} THEN 'train' WHEN h < {_T_VAL} THEN 'val'
       ELSE 'test' END AS split, source, count(*) AS n
FROM b GROUP BY 1, 2""",
)
def hash_split_counts(spark, sf_dir):
    # deterministic train/val/test split by id hash (reproducible across
    # engines/partitionings — functions/sampling.py), counted per source
    from go_streaming_spark.functions.sampling import hash_split

    docs = _docs(spark, sf_dir)
    split = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return split.groupBy("split", "source").agg(F.count(F.lit(1)).alias("n"))


@query(
    "corpus_shuffle_order",
    # deterministic pseudorandom training order: md5(seed|id) shuffle key,
    # bucketed rank (no global sort) — epoch 2 = new seed
    """WITH k AS (SELECT doc_id AS id,
  CAST(('0x'||substr(md5('shuffle|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) h
  FROM documents)
SELECT id, CAST(h % 16 AS BIGINT) AS bucket,
 CAST(ROW_NUMBER() OVER (PARTITION BY h % 16 ORDER BY h, id) - 1 AS BIGINT)
   AS pos
FROM k""",
)
def corpus_shuffle_order(spark, sf_dir):
    from go_streaming_spark.functions.sampling import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir), "doc_id", n_buckets=16)


_T_MIX_HALF = int(0.5 * (1 << 32))


@query(
    "mixture_sample_counts",
    # epoch-weighted data mixing: src0 ×2.5, src1 ×0.5, default ×1 —
    # copies = floor(w) + (id hash under frac(w)); counted per source
    f"""WITH b AS (SELECT source, doc_id,
  CAST(('0x'||substr(md5('mix|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) h
  FROM documents),
c AS (SELECT source, doc_id,
  CASE WHEN source = 'src0' THEN 2 + CASE WHEN h < {_T_MIX_HALF} THEN 1 ELSE 0 END
       WHEN source = 'src1' THEN 0 + CASE WHEN h < {_T_MIX_HALF} THEN 1 ELSE 0 END
       ELSE 1 END AS n FROM b)
SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
 CAST(count(CASE WHEN n >= 1 THEN 1 END) AS BIGINT) AS n_docs
FROM c GROUP BY 1""",
)
def mixture_sample_counts(spark, sf_dir):
    # aggregate from the PRE-explode copy-count frame so a stratum whose
    # rows all get 0 copies still emits its (source, 0, 0) group row —
    # mixture_sample itself would drop it entirely at the explode and
    # silently disagree with the oracle on fully-dropped strata
    from go_streaming_spark.functions.sampling import mixture_copy_counts

    counted = mixture_copy_counts(
        _docs(spark, sf_dir), "doc_id", "source", {"src0": 2.5, "src1": 0.5}
    )
    return counted.groupBy("source").agg(
        F.sum("n_copies").cast("long").alias("n_rows"),
        F.count(F.when(F.col("n_copies") >= 1, 1)).alias("n_docs"),
    )


def _ts_oracle(w: int = 16) -> str:
    from go_streaming_spark.functions.timeseries import znormalize

    q = ", ".join(repr(x) for x in znormalize([float(i) for i in range(w)]))
    sq = "(win[CAST(i AS INT)]-mu)/sd - q[CAST(i AS INT)]"
    return f"""WITH w AS (SELECT user_id, event_id,
  list(value) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS win
  FROM events),
f AS (SELECT * FROM w WHERE len(win) = {w}),
s AS (SELECT user_id, event_id, win, list_sum(win)/{w} AS mu,
  greatest(sqrt(list_sum(list_transform(win, x -> x*x))/{w}
                - (list_sum(win)/{w})*(list_sum(win)/{w})), 1e-12) AS sd FROM f)
SELECT user_id AS key, event_id AS pos,
 floor(sqrt(list_sum(list_transform(range(1,{w + 1}),
   i -> ({sq})*({sq}))))*1e6 + 0.5)/1e6 AS zdist
FROM s, (SELECT [{q}]::DOUBLE[] q) qq"""


@query("timeseries_znorm_search", _ts_oracle())
def timeseries_znorm_search(spark, sf_dir):
    # sliding-window z-normalized similarity to a ramp pattern per user —
    # streaming subsequence search (functions/timeseries.py)
    from go_streaming_spark.functions import timeseries

    ev = Engine(spark, sf_dir=sf_dir).stream("events")
    out = timeseries.znorm_sliding_distance(
        ev, "user_id", "event_id", "value", [float(i) for i in range(16)]
    )
    return out.select(F.col("key"), F.col("pos"), "zdist")


@query(
    "pandas_udf_normalize",
    "SELECT doc_id, lower(text) AS norm_text, len(text)::BIGINT AS n_chars"
    " FROM documents",
)
def pandas_udf_normalize(spark, sf_dir):
    # Arrow-vectorized scalar pandas UDF, value-checked against the SQL
    # oracle — proves the Arrow batch path end-to-end (operators/maps.py
    # map_pandas is the same shape).  Native F.lower would be the
    # production choice; the UDF here IS the point.
    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature inference rejects; hint-less defaults to
    # the scalar (Series -> Series) eval type
    @F.pandas_udf("string")
    def norm(s):
        return s.str.lower()

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        norm(F.col("text")).alias("norm_text"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "pipeline_clean_corpus",
    f"""WITH kept AS (SELECT doc_id, source, text FROM documents
  WHERE {_NW} >= 5
    AND len(text) > 0
    AND floor((len(regexp_replace(text, '[^A-Za-z]', '', 'g')) / len(text))*1e6 + 0.5)/1e6 > 0.5)
SELECT source, count(DISTINCT md5(text)) AS n_unique, count(*) AS n_docs
FROM kept GROUP BY source""",
)
def pipeline_clean_corpus(spark, sf_dir):
    # composed pipeline: quality gate -> exact-dedup counting -> per-source
    # stats.  One scan + one shuffle: the gate is a pushed filter, the
    # distinct-digest count is a partial-aggregated groupBy
    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs, "doc_id", "text")
    keep = q.filter((F.col("n_words") >= 5) & (F.col("alpha_ratio") > 0.5))
    kept = docs.join(
        keep.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    return kept.groupBy("source").agg(
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_LANG_SCORES = ", ".join(
    f"len(list_intersect(list_filter(regexp_split_to_array(lower(text),'\\s+'),x->x<>''),"
    f" {markers})) s_{lang}"
    for lang, markers in sorted(text.LANG_MARKERS.items())
)
_G = "greatest(s_de, s_en, s_es, s_fr)"


@query(
    "text_lang_id",
    f"""WITH s AS (SELECT doc_id, {_LANG_SCORES} FROM documents)
SELECT doc_id, CASE WHEN {_G} <= 0 THEN 'und' WHEN s_de = {_G} THEN 'de'
 WHEN s_en = {_G} THEN 'en' WHEN s_es = {_G} THEN 'es' WHEN s_fr = {_G} THEN 'fr'
 END AS lang_pred FROM s""",
)
def text_lang_id(spark, sf_dir):
    from go_streaming_spark.functions.util import spread

    docs = spread(_docs(spark, sf_dir))
    return docs.select("doc_id", text.lang_id(F.col("text")).alias("lang_pred"))


@query(
    "text_quality",
    f"""SELECT doc_id,
 {_NW}::BIGINT n_words,
 {_NSTOP}::BIGINT n_stopwords,
 len(regexp_replace(text, '[^.,;:!?]', '', 'g'))::BIGINT n_punct,
 floor((CASE WHEN {_NW} > 0 THEN (len(text) - ({_NW}-1))/{_NW} ELSE 0.0 END)*1e6 + 0.5)/1e6 mean_word_len,
 floor((CASE WHEN {_NW} > 0 THEN {_NSTOP}/{_NW} ELSE 0.0 END)*1e6 + 0.5)/1e6 stopword_ratio,
 floor((CASE WHEN len(text) > 0 THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g'))/len(text) ELSE 0.0 END)*1e6 + 0.5)/1e6 alpha_ratio
FROM documents""",
)
def text_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return text.quality_score(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


@query(
    "text_token_counts",
    r"""SELECT doc_id, len(list_filter(regexp_split_to_array(text,'\s+'),x->x<>''))::BIGINT n_words,
 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT n_bpe_pieces,
 len(text)::BIGINT n_chars FROM documents""",
)
def text_token_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return text.token_counts(docs, "doc_id", "text").withColumnRenamed("id", "doc_id")


@query(
    "text_fingerprint",
    "SELECT doc_id, list_min(list_transform(range(1, greatest(len(text)-4,1)+1),"
    " i -> md5(text[i:i+4]))) fingerprint FROM documents",
)
def text_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return text.char_shingle_fingerprint(docs, "doc_id", "text", 5).withColumnRenamed(
        "id", "doc_id"
    )


_WINNOW_K, _WINNOW_W = 8, 6
_WINNOW_SEL = (
    # per-doc winnowing selection (Schleimer et al. SIGMOD'03), identical
    # arithmetic to text.winnowing_fingerprints: rolling k-gram int
    # hashes, per-window-of-w minima, distinct
    f"""fp AS (SELECT doc_id AS id, unnest(list_distinct(sel)) AS fp FROM (
  SELECT doc_id, list_transform(
      range(1, greatest(len(h) - {_WINNOW_W} + 1, 1) + 1),
      j -> list_min(h[j:j + {_WINNOW_W} - 1])) AS sel
  FROM (SELECT doc_id, list_transform(
          range(1, greatest(len(text) - {_WINNOW_K} + 1, 1) + 1),
          i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT),"""
    f""" {_WINNOW_K})), 1, 8)) AS BIGINT)) AS h
        FROM documents)))"""
)


@query(
    "winnow_match_pairs",
    # document pairs sharing >= 3 winnowing-selected fingerprints — the
    # MOSS plagiarism-detection shape: any shared substring of length
    # >= w+k-1 guarantees a shared selected fingerprint, so locally
    # overlapping docs surface even when globally dissimilar.  Hot
    # fingerprints (df > 10 — template boilerplate) are capped out
    # before the self-join, the same inverted-index discipline as the
    # jaccard/containment paths.
    f"""WITH {_WINNOW_SEL},
capped AS (SELECT fp FROM fp GROUP BY fp
           HAVING count(DISTINCT id) <= 10),
f AS (SELECT id, fp FROM fp WHERE fp IN (SELECT fp FROM capped))
SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2 HAVING count(*) >= 3""",
)
def winnow_match_pairs(spark, sf_dir):
    """Winnowing fingerprint matching at corpus scale: fingerprint sets
    are map-generated (no UDF), the document-frequency cap (10) bounds
    the inverted-index join's hottest posting lists (a boilerplate gram
    can never fan out more than cap² pairs), and the pair aggregation
    shuffles only (id_a, id_b) — candidates, not the corpus."""
    docs = _docs(spark, sf_dir)
    fps = text.winnowing_fingerprints(
        docs, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    )
    capped = (
        fps.groupBy("fp")
        .agg(F.countDistinct("id").alias("_df"))
        .filter(F.col("_df") <= 10)
        .select("fp")
    )
    f = fps.join(capped, "fp")
    a = f.select(F.col("id").alias("id_a"), "fp")
    b = f.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

@query(
    "multimodal_binary_meta",
    "SELECT doc_id, octet_length(encode(text))::BIGINT n_bytes, sha256(text) sha"
    " FROM documents",
)
def multimodal_binary_meta(spark, sf_dir):
    # real plumbing: text → BINARY payload + typed metadata struct
    media = multimodal.attach_media(_docs(spark, sf_dir), "text", "text_blob", "utf8")
    return media.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("media"), 256).alias("sha"),
    )


@query(
    "multimodal_frame_plan",
    # duration synthesized deterministically from the id (metadata is NULL
    # until a real decode); the sampling plan itself is pure arithmetic
    "WITH m AS (SELECT doc_id, 500 + (doc_id % 10) * 700 AS duration_ms"
    " FROM documents)"
    " SELECT doc_id AS id, unnest(list_transform("
    "  range(0, greatest(duration_ms // 1000, 1)), i -> i * 1000))"
    "  AS frame_ts_ms FROM m",
)
def multimodal_frame_plan(spark, sf_dir):
    # frame-sampling plan: explode (video, frame_ts) BEFORE the decode so
    # per-frame work fans out across executors (multimodal.frame_sample_plan)
    media = multimodal.attach_media(_docs(spark, sf_dir), "text", "video", "bin")
    with_duration = media.withColumn(
        "media_meta",
        F.col("media_meta").withField(
            "duration_ms", (F.lit(500) + (F.col("doc_id") % 10) * 700).cast("long")
        ),
    )
    return multimodal.frame_sample_plan(with_duration, "doc_id", every_ms=1000)


@query(
    "multimodal_transform_chain",
    # attach → stub-resize (binary→binary mapInPandas) → stub feature
    # extraction: the chained Arrow plumbing is value-checked end-to-end
    # because both stubs are deterministic byte arithmetic
    # feature is emitted as a quantized string (µ-units joined by ",") —
    # array<double> output breaks the driver's canonicalizer (unhashable
    # ndarray); round(x*1e6) has no exact .5 ties for md5-byte/255 values,
    # so both engines quantize identically
    "WITH r AS (SELECT doc_id,"
    " 'resized:' || text[1:greatest(len(text)//2, 1)] AS resized FROM documents)"
    " SELECT doc_id AS id, (8 + greatest(len(text)//2, 1))::BIGINT AS n_bytes,"
    " array_to_string(list_transform(range(1,9), i ->"
    "  CAST(round(CAST(('0x'||substr(md5(resized), 2*CAST(i AS INT)-1, 2)) AS INT)"
    "   /255.0 * 1000000) AS BIGINT)), ',') AS feature_q"
    " FROM r JOIN documents USING (doc_id)",
)
def multimodal_transform_chain(spark, sf_dir):
    media = multimodal.attach_media(_docs(spark, sf_dir), "text", "text_blob", "utf8")
    resized = multimodal.transform_media(media, "doc_id", "media")
    feats = multimodal.extract_features(resized, "id", "media")
    return feats.select("id", "n_bytes", _quantize_array("feature"))


@query(
    "multimodal_features",
    # REAL byte-level container decode: each doc's text bytes are wrapped
    # in a structurally-valid PNG / JPEG / WAV header (JVM-side hex synth,
    # multimodal.synthesize_payloads) whose dimension / sample-rate fields
    # derive from doc_id; parse_media_header then reads the BYTES (IHDR
    # big-endian u32s, JPEG SOF marker walk, RIFF chunk walk) and must
    # reproduce the formulas the oracle computes directly.  A parser bug —
    # wrong offset, wrong endianness, wrong marker skip — breaks the hash.
    "WITH p AS (SELECT doc_id, octet_length(encode(text)) AS body,"
    "  doc_id % 3 AS m FROM documents)"
    " SELECT doc_id AS id,"
    " CASE WHEN m <= 1 THEN 'image' ELSE 'audio' END AS media_type,"
    " CASE m WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,"
    " CAST(CASE WHEN m <= 1 THEN 16 + doc_id % 317 END AS INTEGER) AS width,"
    " CAST(CASE WHEN m <= 1 THEN 16 + doc_id % 211 END AS INTEGER) AS height,"
    " CAST(CASE WHEN m <= 1 THEN 8 ELSE 16 END AS INTEGER) AS bit_depth,"
    " CAST(CASE WHEN m = 2 THEN body * 1000 //"
    "  ((8000 + (doc_id % 5) * 2000) * (1 + doc_id % 2) * 2)"
    "  END AS BIGINT) AS duration_ms,"
    " CAST(CASE m WHEN 0 THEN 33 WHEN 1 THEN 39 ELSE 44 END + body"
    "  AS BIGINT) AS n_bytes"
    " FROM p",
)
def multimodal_features(spark, sf_dir):
    media = multimodal.synthesize_payloads(_docs(spark, sf_dir), "doc_id", "text")
    return multimodal.decode_media_meta(media, "doc_id", "media")


@query(
    "multimodal_content_stats",
    # REAL content decode (pixel/PCM tier, not just headers): each doc's
    # bytes become an uncompressed 24-bit BMP (pixel array = body bytes
    # cycled to height*24) or a WAV whose data chunk is raw 16-bit LE PCM
    # (multimodal.synthesize_payloads_raw); content_stats then reads the
    # BYTES back through the container geometry (BMP pixel-array offset +
    # stride, RIFF data-chunk walk) and must reproduce the stats the
    # oracle computes directly from the synthesis formulas.  Integer sums
    # divided once → both engines bit-equal on mean/rms.
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents),
bph AS (SELECT id, (2 + id % 7) * 24 AS needed,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS ph FROM src WHERE id % 2 = 0),
bpix AS (SELECT id, needed,
         substr(repeat(ph, CAST((needed*2 + length(ph) - 1) // length(ph) AS INT)),
                1, CAST(needed*2 AS INT)) AS phex FROM bph),
bval AS (SELECT id, CAST(('0x' || substr(phex, CAST(2*j+1 AS INT), 2)) AS BIGINT) AS v
         FROM (SELECT id, phex, unnest(range(needed)) AS j FROM bpix)),
wraw AS (SELECT id, CAST(('0x' || substr(hx, CAST(4*k+1 AS INT), 2)) AS BIGINT)
              + 256 * CAST(('0x' || substr(hx, CAST(4*k+3 AS INT), 2)) AS BIGINT) AS raw
         FROM (SELECT id, hx, unnest(range(blen // 2)) AS k FROM src WHERE id % 2 = 1)),
wval AS (SELECT id, CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v FROM wraw),
stats AS (SELECT id, count(*) AS n_units,
          CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
          sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
          min(v) AS min_val, max(v) AS max_val
          FROM (SELECT * FROM bval UNION ALL SELECT * FROM wval) GROUP BY id)
SELECT s.id, CASE WHEN s.id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
       COALESCE(t.n_units, 0) AS n_units, t.mean_val, t.rms, t.min_val, t.max_val
FROM src s LEFT JOIN stats t ON s.id = t.id""",
)
def multimodal_content_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_raw(docs, "doc_id", "text")
    return multimodal.content_stats(media, "doc_id", "media")


@query(
    "chunk_documents",
    # fixed-context training chunks: starts at 0, stride 12, window 16 —
    # generate_series/sequence agree on the inclusive upper bound, and both
    # engines' list slicing clips at the array end
    r"""WITH t AS (SELECT doc_id,
   list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id, CAST(gs // 12 AS BIGINT) AS chunk_id,
 len(toks[gs+1 : gs+16])::BIGINT AS n_tokens,
 array_to_string(toks[gs+1 : gs+16], ' ') AS chunk
FROM t, unnest(generate_series(0, greatest(len(toks)-1, 0), 12)) AS u(gs)""",
)
def chunk_documents(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return text.chunk_tokens(
        docs, "doc_id", "text", chunk_size=16, stride=12
    ).withColumnRenamed("id", "doc_id")


@query(
    "doc_repetition_scores",
    # Gopher-style duplicate-bigram fraction; the ratio is one integer
    # division (distinct/total) so engines agree bitwise, rounded anyway
    r"""WITH t AS (SELECT doc_id,
   list_transform(range(1, greatest(len(toks)-1, 0) + 1),
                  i -> toks[i] || ' ' || toks[i+1]) AS grams
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        FROM documents))
SELECT doc_id,
 CASE WHEN len(grams) > 0
      THEN floor((1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE))*1e6 + 0.5)/1e6
      ELSE 0.0 END AS rep_ratio
FROM t""",
)
def doc_repetition_scores(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        util.q6(text.repetition_ratio(F.col("text"), 2)).alias("rep_ratio"),
    )


@query(
    "vocab_top_bigrams",
    # corpus-wide bigram frequency table (tokenizer-prep / boilerplate
    # mining), top-100 by occurrences with the gram as tiebreak —
    # map-side-combined groupBy + TakeOrdered in the engine
    r"""WITH t AS (SELECT doc_id,
   list_transform(range(1, greatest(len(toks)-1, 0) + 1),
                  i -> toks[i] || ' ' || toks[i+1]) AS grams
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        FROM documents)),
g AS (SELECT doc_id, unnest(grams) AS gram FROM t)
SELECT gram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
FROM g GROUP BY gram ORDER BY n_occ DESC, gram LIMIT 100""",
)
def vocab_top_bigrams(spark, sf_dir):
    out = text.ngram_counts(_docs(spark, sf_dir), "doc_id", "text", n=2)
    return out.orderBy(F.col("n_occ").desc(), "gram").limit(100)


@query(
    "weighted_sample_ids",
    # deterministic weighted sampling without replacement (Efraimidis-
    # Spirakis exponential keys, u from the id hash): longer documents
    # (weight = n_chars) are proportionally more likely.  The key math is
    # identical IEEE double ops in both engines; the k-th/k+1-th key gap
    # is ~1/n, far above any ulp divergence in ln()
    """SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
    -ln((CAST(('0x'||substr(md5('wsample|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) + 1)
        / 4294967296.0) / CAST(n_chars AS DOUBLE) AS key
  FROM documents WHERE n_chars > 0
  ORDER BY key, doc_id LIMIT 50)""",
)
def weighted_sample_ids(spark, sf_dir):
    from go_streaming_spark.functions.sampling import weighted_sample_topk

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return weighted_sample_topk(docs, "doc_id", "n_chars", k=50)


@query(
    "ann_quantized_topk",
    # int8-quantized cosine top-k: scale = max|v|/127, q = floor(v/scale
    # + 1/2); scales cancel in cosine so the score is exact int64 dot /
    # int-norm products — bit-deterministic, 4× less shuffle than float32
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
qz AS (SELECT vec_id,
         CASE WHEN amax > 0
              THEN list_transform(e, x -> CAST(floor(x/(amax/127.0) + 0.5) AS BIGINT))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv
       FROM (SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS amax FROM base)),
q AS (SELECT qv AS qq FROM qz WHERE vec_id = 0),
v AS (SELECT vec_id AS id, qv FROM qz WHERE vec_id <> 0)
SELECT id,
  floor((CAST(list_sum(list_transform(range(1,65), i -> qv[i]*q.qq[i])) AS DOUBLE) /
        (sqrt(CAST(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i])) AS DOUBLE)) *
         sqrt(CAST(list_sum(list_transform(range(1,65), i -> q.qq[i]*q.qq[i])) AS DOUBLE))))*1e6 + 0.5)/1e6 AS cos_sim
FROM v, q ORDER BY cos_sim DESC, id LIMIT 10""",
)
def ann_quantized_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.quantized_cosine_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qv, 10
    )


@query(
    "temperature_mixture_counts",
    # temperature-flattened mixture (q_s ∝ p_s^0.5, multilingual-LM
    # exponential smoothing): per-source weight and the resulting
    # deterministic copy counts.  sqrt is IEEE-correctly-rounded in both
    # engines and the p^α sum is quantized to exact integers first, so the
    # weights — and therefore every hash-thresholded copy count — match
    # bit-for-bit
    """WITH c AS (SELECT source AS stratum, count(*) AS n_rows FROM documents GROUP BY 1),
p AS (SELECT stratum, n_rows,
        CAST(round(sqrt(CAST(n_rows AS DOUBLE)/CAST(sum(n_rows) OVER () AS DOUBLE))
                   * 1000000000000.0) AS BIGINT) AS pq,
        sum(n_rows) OVER () AS total FROM c),
wt AS (SELECT stratum, n_rows,
        (CAST(total AS DOUBLE) * CAST(pq AS DOUBLE))
        / (CAST(sum(pq) OVER () AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS weight
       FROM p),
cc AS (SELECT d.doc_id, d.source, wt.weight,
        CAST(floor(weight) AS BIGINT)
        + CASE WHEN CAST(('0x'||substr(md5('mix|'||CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT)
               < CAST(floor((weight - floor(weight)) * 4294967296.0) AS BIGINT)
          THEN 1 ELSE 0 END AS n_copies
       FROM documents d JOIN wt ON d.source = wt.stratum)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_copies) AS BIGINT) AS n_copies_total,
       CAST(floor(max(weight)*1e6 + 0.5) AS BIGINT) AS weight_u
FROM cc GROUP BY source""",
)
def temperature_mixture_counts(spark, sf_dir):
    from go_streaming_spark.functions import sampling

    docs = _docs(spark, sf_dir)
    wts = sampling.temperature_weights(docs, "source", alpha=0.5)
    counted = sampling.mixture_copy_counts_df(docs, "doc_id", "source", wts)
    agg = counted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_copies").cast("long").alias("n_copies_total"),
    )
    # emit the weight as exact integer micro-units so no double ever
    # reaches the driver's value hasher: the r7 red row was a
    # round(double,6) tie, the r8 red row was the oracle's uncast
    # HUGEINT sum — integers on both sides close both surfaces
    wr = wts.select(
        F.col("stratum").alias("source"),
        F.floor(F.col("weight") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("weight_u"),
    )
    return agg.join(wr, "source")


@query(
    "contamination_rates",
    # per-test-doc n-gram overlap with the training corpus (the GPT-3/PaLM
    # contamination report): docs doc_id%10==0 play the training corpus,
    # the rest are the eval set; 8-gram digests, train side distinct —
    # the measuring twin of decontaminate_counts
    """WITH ws AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w
            FROM documents),
g0 AS (SELECT doc_id AS id, unnest(list_transform(range(0, len(w)-8+1),
          i -> md5(array_to_string(w[i+1:i+8], ' ')))) AS gh
       FROM ws WHERE len(w) >= 8),
train AS (SELECT DISTINCT gh FROM g0 WHERE id % 10 = 0),
test AS (SELECT id, gh FROM g0 WHERE id % 10 <> 0),
h AS (SELECT id, count(*) AS n_hit FROM test WHERE gh IN (SELECT gh FROM train) GROUP BY id),
t AS (SELECT id, count(*) AS n_grams FROM test GROUP BY id)
SELECT t.id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
       floor((coalesce(h.n_hit, 0) / CAST(t.n_grams AS DOUBLE))*1e6 + 0.5)/1e6 AS hit_rate
FROM t LEFT JOIN h ON t.id = h.id""",
)
def contamination_rates(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 10 == 0)
    test_set = docs.filter(F.col("doc_id") % 10 != 0)
    return text.contamination_stats(test_set, train, "doc_id", "text", k=8)


@query(
    "dedup_spans_incremental",
    # incremental substring-span dedup: batch (doc_id%10<>0) spans flagged
    # against a prebuilt corpus gram-count index (doc_id%10=0) PLUS
    # in-batch occurrences — identical to running duplicated_spans over
    # corpus∪batch and keeping batch rows, without re-scanning corpus text
    """WITH ws AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w
            FROM documents),
g0 AS (SELECT doc_id AS id, unnest(list_transform(range(0, len(w)-8+1),
          i -> {'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))})) AS u
       FROM ws WHERE len(w) >= 8),
g AS (SELECT id, u.pos::bigint AS pos, u.gh AS gh FROM g0),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
f AS (SELECT id, pos FROM g WHERE id % 10 <> 0 AND gh IN (SELECT gh FROM dup)),
m AS (SELECT id, pos,
        CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
      FROM f),
s AS (SELECT id, pos, sum(new_span) OVER (PARTITION BY id ORDER BY pos) AS span_id FROM m)
SELECT id, min(pos) AS span_start, max(pos) + 8 - 1 AS span_end,
       max(pos) + 8 - min(pos) AS span_tokens
FROM s GROUP BY id, span_id""",
)
def dedup_spans_incremental(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    idx = dedup.build_gram_index(corpus, "doc_id", "text", k=8)
    return dedup.duplicated_spans_against_index(batch, idx, "doc_id", "text", k=8)


@query(
    "gopher_quality_flags",
    # rule-based quality gate (Gopher §A1.1): per-rule violation flags +
    # composite keep, so pipelines can audit WHY docs dropped.  All
    # thresholds compare the QUANTIZED feature values (floor(x*1e6+0.5)/1e6
    # — identical double ops in both engines)
    f"""WITH b AS (SELECT doc_id,
        list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') AS toks,
        length(text) AS n_chars FROM documents),
f AS (SELECT doc_id, len(toks) AS n_words,
        len(list_filter(toks, x -> list_contains({_STOP}, lower(x)))) AS n_stop,
        list_transform(range(1, greatest(len(toks)-1,0)+1),
                       i -> toks[i] || ' ' || toks[i+1]) AS grams,
        n_chars FROM b),
m AS (SELECT doc_id, n_words,
        floor((CASE WHEN n_words > 0
              THEN (n_chars - (n_words - 1)) / CAST(n_words AS DOUBLE)
              ELSE 0.0 END)*1e6 + 0.5)/1e6 AS mwl,
        floor((CASE WHEN n_words > 0 THEN n_stop / CAST(n_words AS DOUBLE)
              ELSE 0.0 END)*1e6 + 0.5)/1e6 AS sr,
        floor((CASE WHEN len(grams) > 0
              THEN 1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE)
              ELSE 0.0 END)*1e6 + 0.5)/1e6 AS rep
      FROM f),
x AS (SELECT doc_id, n_words,
        CASE WHEN n_words < 50 THEN 1 ELSE 0 END AS flag_too_short,
        CASE WHEN n_words > 100000 THEN 1 ELSE 0 END AS flag_too_long,
        CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 1 ELSE 0 END AS flag_bad_word_len,
        CASE WHEN sr < 0.06 THEN 1 ELSE 0 END AS flag_low_stopword,
        CASE WHEN rep > 0.2 THEN 1 ELSE 0 END AS flag_repetitive
      FROM m)
SELECT doc_id AS id, n_words, flag_too_short, flag_too_long,
       flag_bad_word_len, flag_low_stopword, flag_repetitive,
       CASE WHEN flag_too_short + flag_too_long + flag_bad_word_len
                 + flag_low_stopword + flag_repetitive = 0
            THEN 1 ELSE 0 END AS keep
FROM x""",
)
def gopher_quality_flags(spark, sf_dir):
    return text.gopher_quality_flags(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "dedup_spans_keep_first",
    # removable-span variant: the globally-first occurrence (min (id,pos))
    # of each duplicated 8-gram is exempt, so removing the emitted spans
    # leaves exactly one copy of every duplicated run corpus-wide
    """WITH ws AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w
            FROM documents),
g0 AS (SELECT doc_id AS id, unnest(list_transform(range(0, len(w)-8+1),
          i -> {'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))})) AS u
       FROM ws WHERE len(w) >= 8),
g AS (SELECT id, u.pos::bigint AS pos, u.gh AS gh FROM g0),
r AS (SELECT id, pos, gh,
        count(*) OVER (PARTITION BY gh) AS n,
        row_number() OVER (PARTITION BY gh ORDER BY id, pos) AS rn
      FROM g),
f AS (SELECT id, pos FROM r WHERE n >= 2 AND rn > 1),
m AS (SELECT id, pos,
        CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
      FROM f),
s AS (SELECT id, pos, sum(new_span) OVER (PARTITION BY id ORDER BY pos) AS span_id FROM m)
SELECT id, min(pos) AS span_start, max(pos) + 8 - 1 AS span_end,
       max(pos) + 8 - min(pos) AS span_tokens
FROM s GROUP BY id, span_id""",
)
def dedup_spans_keep_first(spark, sf_dir):
    return dedup.duplicated_spans(
        _docs(spark, sf_dir), "doc_id", "text", k=8, keep_first=True
    )


@query(
    "cms_word_counts",
    # count-min sketch (depth 4 × width 256, minhash hash family over
    # md5-32-bit word digests) built over every word occurrence, then
    # point estimates for all distinct words: est = min_j sketch[j,h_j].
    # Deterministic integer arithmetic end-to-end → bit-exact oracle
    f"""WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '')) AS word
            FROM documents),
h AS (SELECT word, CAST(('0x'||substr(md5(word),1,8)) AS BIGINT) AS h32 FROM w),
e AS (SELECT j, (({dedup.MINHASH_A}[CAST(j AS INT)+1]*h32
                + {dedup.MINHASH_B}[CAST(j AS INT)+1]) % 2147483647) % 256 AS bucket
      FROM h, (SELECT unnest(range(4)) AS j) jj),
sk AS (SELECT j AS row, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
keys AS (SELECT DISTINCT word, CAST(('0x'||substr(md5(word),1,8)) AS BIGINT) AS h32 FROM w),
kp AS (SELECT word, j, (({dedup.MINHASH_A}[CAST(j AS INT)+1]*h32
                       + {dedup.MINHASH_B}[CAST(j AS INT)+1]) % 2147483647) % 256 AS bucket
       FROM keys, (SELECT unnest(range(4)) AS j) jj)
SELECT word AS key, min(coalesce(cnt, 0)) AS est_count
FROM kp LEFT JOIN sk ON kp.j = sk.row AND kp.bucket = sk.bucket
GROUP BY 1""",
)
def cms_word_counts(spark, sf_dir):
    from go_streaming_spark.functions import sketch

    words = _docs(spark, sf_dir).select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        ).alias("word")
    )
    sk = sketch.count_min_build(words, "word", depth=4, width=256)
    keys = words.distinct()
    return sketch.count_min_estimate(sk, keys, "word", depth=4, width=256)


@query("stream_cms_word_counts")
def stream_cms_word_counts(spark, sf_dir):
    """The CMS accumulated the STREAMING way: the documents table replays
    as 4 real micro-batches (maxFilesPerTrigger=1 over a 4-file copy),
    foreachBatch builds each batch's sketch and merges it into the
    running state by (row,bucket) count addition — the mergeable-sketch
    ingestion contract under actual Structured Streaming replay, not a
    unit-test union.  The merged state must equal the batch-built sketch
    BIT-FOR-BIT, so the estimates gate against the SAME oracle as
    cms_word_counts (registered below).  State is localCheckpointed per
    batch — fixed-size, no lineage growth (the foreachBatch twin of
    CorpusState.checkpoint's cadence)."""
    import tempfile

    from go_streaming_spark.functions import sketch

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_cms_")
    docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/docs")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/docs")
    )
    holder = {"cms": None, "batches": 0}

    def ingest(batch_df, _bid):
        words = batch_df.select(
            F.explode(
                F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
            ).alias("word")
        )
        part = sketch.count_min_build(words, "word", depth=4, width=256)
        merged = part if holder["cms"] is None else (
            holder["cms"].unionByName(part)
            .groupBy("row", "bucket")
            .agg(F.sum("count").alias("count"))
        )
        holder["cms"] = merged.localCheckpoint()
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] >= 2, "replay must produce real micro-batches"
    keys = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        ).alias("word")
    ).distinct()
    return sketch.count_min_estimate(holder["cms"], keys, "word", 4, 256)


ORACLES["stream_cms_word_counts"] = ORACLES["cms_word_counts"]



@query(
    "heavy_hitter_words",
    # sketch-prefiltered EXACT heavy hitters: CMS candidates (sound — the
    # sketch never undercounts) verified by one exact count pass; output
    # therefore equals the plain GROUP BY ... HAVING — which IS the oracle
    """WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '')) AS word
            FROM documents)
SELECT word AS key, count(*) AS n_occ FROM w GROUP BY 1 HAVING count(*) >= 500""",
)
def heavy_hitter_words(spark, sf_dir):
    from go_streaming_spark.functions import sketch

    words = _docs(spark, sf_dir).select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        ).alias("word")
    )
    return sketch.heavy_hitters(words, "word", min_count=500, depth=4, width=256)


@query("stream_heavy_hitter_words")
def stream_heavy_hitter_words(spark, sf_dir):
    """Heavy hitters the STREAMING way: the CMS accumulates across a real
    4-micro-batch replay (additive merge per foreachBatch, state
    localCheckpointed — the stream_cms_word_counts cadence), then the
    sketch-prefiltered EXACT verify pass runs against the corpus with the
    streamed state via heavy_hitters_from_sketch.  The accumulated sketch
    is bit-identical to the batch build, so the result must equal the
    plain GROUP BY ... HAVING — gated against the heavy_hitter_words
    oracle (registered below)."""
    import tempfile

    from go_streaming_spark.functions import sketch

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    words_of = lambda df: df.select(  # noqa: E731
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
        ).alias("word")
    )
    tmp = tempfile.mkdtemp(prefix="stream_hh_")
    docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/docs")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/docs")
    )
    holder = {"cms": None, "batches": 0}

    def ingest(batch_df, _bid):
        part = sketch.count_min_build(words_of(batch_df), "word", depth=4,
                                      width=256)
        merged = part if holder["cms"] is None else (
            holder["cms"].unionByName(part)
            .groupBy("row", "bucket")
            .agg(F.sum("count").alias("count"))
        )
        holder["cms"] = merged.localCheckpoint()
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] >= 2, "expected a real multi-batch replay"
    return sketch.heavy_hitters_from_sketch(
        words_of(docs), holder["cms"], "word", min_count=500, depth=4,
        width=256,
    )


ORACLES["stream_heavy_hitter_words"] = ORACLES["heavy_hitter_words"]


@query(
    "stratified_fixed_counts",
    # EXACTLY 20 docs per source, picked by id-hash rank within the
    # stratum — deterministic fixed-size per-group sampling
    """SELECT doc_id, source FROM (
  SELECT doc_id, source, row_number() OVER (PARTITION BY source
     ORDER BY CAST(('0x'||substr(md5('fsample|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT), doc_id) AS rn
  FROM documents) t WHERE rn <= 20""",
)
def stratified_fixed_counts(spark, sf_dir):
    from go_streaming_spark.functions.sampling import stratified_fixed_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return stratified_fixed_sample(docs, "doc_id", "source", m=20)


@query(
    "join_key_skew_stats",
    # pre-join skew diagnostic: hottest join keys and their share of rows
    # — the decision input for salted_join / AQE skew handling
    """WITH c AS (SELECT event_type AS key, count(*) AS n_rows FROM events GROUP BY 1),
t AS (SELECT sum(n_rows) AS tt FROM c)
SELECT key, n_rows, floor((n_rows / CAST(tt AS DOUBLE))*1e6 + 0.5)/1e6 AS share
FROM c, t ORDER BY n_rows DESC, key LIMIT 10""",
)
def join_key_skew_stats(spark, sf_dir):
    from go_streaming_spark.operators.skew import key_skew_stats

    events = Engine(spark, sf_dir=sf_dir).stream("events")
    return key_skew_stats(events, "event_type", top=10)


@query(
    "multimodal_png_content_stats",
    # REAL PNG content decode: each doc's bytes are deflate-compressed
    # into a real PNG (8×(2+id%7) RGB, a different scanline filter per
    # row, real CRCs — multimodal.synthesize_payloads_png); content_stats
    # must inflate + DEfilter back to the original cycled-body pixel
    # bytes, so the oracle recomputes the stats straight from the
    # synthesis formula without touching a codec
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents),
ph AS (SELECT id, (2 + id % 7) * 24 AS needed,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS phx FROM src),
pix AS (SELECT id, needed,
        substr(repeat(phx, CAST((needed*2 + length(phx) - 1) // length(phx) AS INT)),
               1, CAST(needed*2 AS INT)) AS phex FROM ph),
val AS (SELECT id, CAST(('0x' || substr(phex, CAST(2*j+1 AS INT), 2)) AS BIGINT) AS v
        FROM (SELECT id, phex, unnest(range(needed)) AS j FROM pix))
SELECT id, 'png' AS format, count(*) AS n_units,
       CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
       sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
       min(v) AS min_val, max(v) AS max_val
FROM val GROUP BY id""",
)
def multimodal_png_content_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_png(docs, "doc_id", "text")
    return multimodal.content_stats(media, "id", "media")


@query(
    "multimodal_gif_content_stats",
    # REAL GIF content decode: each doc's bytes become pixel indices of a
    # real LZW-compressed GIF (8×(2+id%7), grayscale palette —
    # multimodal.synthesize_payloads_gif); content_stats must LZW-decode
    # back to the cycled-body index bytes, so the oracle recomputes the
    # stats from the cycle formula with no decompression
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents),
ph AS (SELECT id, (2 + id % 7) * 8 AS needed,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS phx FROM src),
pix AS (SELECT id, needed,
        substr(repeat(phx, CAST((needed*2 + length(phx) - 1) // length(phx) AS INT)),
               1, CAST(needed*2 AS INT)) AS phex FROM ph),
val AS (SELECT id, CAST(('0x' || substr(phex, CAST(2*j+1 AS INT), 2)) AS BIGINT) AS v
        FROM (SELECT id, phex, unnest(range(needed)) AS j FROM pix))
SELECT id, 'gif' AS format, count(*) AS n_units,
       CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
       sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
       min(v) AS min_val, max(v) AS max_val
FROM val GROUP BY id""",
)
def multimodal_gif_content_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_gif(docs, "doc_id", "text")
    return multimodal.content_stats(media, "id", "media")


@query(
    "multimodal_jpeg_content_stats",
    # REAL baseline JPEG decode: each doc's bytes become flat 8×8 blocks
    # of a real Huffman+DCT JPEG (multimodal.synthesize_payloads_jpeg);
    # flat blocks concentrate the signal in the DC coefficient, which
    # both codec halves compute with exact arithmetic — so the genuinely
    # lossy pipeline reconstructs a closed-form value the oracle
    # recomputes per byte: decoded(L) = clamp(2*floor((L-128)/2 + 1/2)+128)
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents),
ph AS (SELECT id, (2 + id % 7) AS nblocks,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS phx FROM src),
pix AS (SELECT id, nblocks,
        substr(repeat(phx, CAST((nblocks*2 + length(phx) - 1) // length(phx) AS INT)),
               1, CAST(nblocks*2 AS INT)) AS phex FROM ph),
lv AS (SELECT id, nblocks,
        CAST(('0x' || substr(phex, CAST(2*j+1 AS INT), 2)) AS BIGINT) AS l
       FROM (SELECT id, nblocks, phex, unnest(range(nblocks)) AS j FROM pix)),
dv AS (SELECT id, nblocks,
        least(255, greatest(0,
          CAST(2*floor((l-128)/2.0 + 0.5) AS BIGINT) + 128)) AS v FROM lv)
SELECT id, 'jpeg' AS format, 64*count(*) AS n_units,
       CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
       sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
       min(v) AS min_val, max(v) AS max_val
FROM dv GROUP BY id, nblocks""",
)
def multimodal_jpeg_content_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_jpeg(docs, "doc_id", "text")
    return multimodal.content_stats(media, "id", "media")


# END-TO-END CorpusState.ingest (functions/corpus_state.py): ONE crawl
# batch (doc_id%10<>0) through the unified production pipeline against
# a corpus snapshot (doc_id%10=0) — (1) exact: byte-unseen vs corpus
# digests, lowest id per in-batch duplicate group; (2) near-dup: LSH
# bands vs the corpus MinHash index verified at exact-Jaccard >= 0.2,
# then in-batch pairs -> connected components -> keep min id;
# (3) span report: dup_span_tokens = tokens inside maximal spans of
# 8-grams already in the corpus gram index (plus in-survivor repeats).
# The oracle composes the dedup_incremental_full and
# dedup_spans_incremental CTEs over the SAME staged survivor sets;
# _INGEST_CTES is the shared chain, consumed by both the survivors
# (flag) and clean-tokens (cut) gate queries.
_INGEST_CTES = f"""WITH RECURSIVE {_MINHASH_BANDS},
ex AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 0),
corpus_h AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 = 0),
uniq AS (SELECT min(doc_id) AS id FROM ex
         WHERE h NOT IN (SELECT h FROM corpus_h) GROUP BY h),
ci AS (SELECT DISTINCT a.id AS bid, least(a.id, b.id) AS id_a,
        greatest(a.id, b.id) AS id_b
       FROM bands a JOIN bands b USING(band, band_key)
       WHERE a.id IN (SELECT id FROM uniq) AND b.id % 10 = 0),
flagged AS (SELECT DISTINCT ci.bid FROM ci
            JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
surv1 AS (SELECT id FROM uniq WHERE id NOT IN (SELECT bid FROM flagged)),
scand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b USING(band, band_key)
          WHERE a.id < b.id
            AND a.id IN (SELECT id FROM surv1)
            AND b.id IN (SELECT id FROM surv1)),
spairs AS (SELECT s.id_a, s.id_b FROM scand s
           JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
edges AS (SELECT id_a AS u, id_b AS v FROM spairs
          UNION SELECT id_b, id_a FROM spairs),
reach AS (SELECT u AS node, v AS r FROM edges
          UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
comp AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
surv AS (SELECT id FROM surv1
         WHERE id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)),
g0 AS (SELECT doc_id AS id, unnest(list_transform(range(0, len(w)-8+1),
          i -> {{'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))}})) AS u
       FROM ws WHERE len(w) >= 8),
g AS (SELECT id, u.pos::bigint AS pos, u.gh AS gh FROM g0
      WHERE id % 10 = 0 OR id IN (SELECT id FROM surv)),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
fpos AS (SELECT id, pos FROM g WHERE id IN (SELECT id FROM surv)
         AND gh IN (SELECT gh FROM dup)),
mk AS (SELECT id, pos,
        CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
      FROM fpos),
sp AS (SELECT id, pos, sum(new_span) OVER (PARTITION BY id ORDER BY pos) AS span_id FROM mk),
spans AS (SELECT id, max(pos) + 8 - min(pos) AS span_tokens
          FROM sp GROUP BY id, span_id),
st AS (SELECT id, sum(span_tokens) AS tok FROM spans GROUP BY id)"""


@query(
    "corpus_ingest_survivors",
    _INGEST_CTES + """
SELECT s.id AS doc_id, CAST(coalesce(st.tok, 0) AS BIGINT) AS dup_span_tokens
FROM surv s LEFT JOIN st ON s.id = st.id""",
)
def corpus_ingest_survivors(spark, sf_dir):
    from go_streaming_spark.functions.corpus_state import CorpusState

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    state = CorpusState.build(
        corpus, "doc_id", "text", n=3, k=16, rows_per_band=4, gram_k=8
    )
    clean, _ = state.ingest(batch, "doc_id", "text", threshold=0.2)
    return clean.select("doc_id", "dup_span_tokens")


@query(
    "corpus_ingest_clean_tokens",
    # the ingest pipeline's REMOVAL half end-to-end: CorpusState.
    # ingest_clean CUTS every flagged span out of the survivor text
    # (dedup.remove_spans over the same span set corpus_ingest_survivors
    # counts), so n_tokens_after = n_tokens_before - dup_span_tokens by
    # construction — verified here from the cleaned TEXT itself, not the
    # counter: the oracle recomputes both token counts from the CTE span
    # arithmetic while the engine re-tokenizes the post-cut strings.
    _INGEST_CTES + """
SELECT s.id AS doc_id,
       CAST(len(ws.w) AS BIGINT) AS n_tokens_before,
       CAST(len(ws.w) - coalesce(st.tok, 0) AS BIGINT) AS n_tokens_after
FROM surv s JOIN ws ON ws.doc_id = s.id LEFT JOIN st ON s.id = st.id""",
)
def corpus_ingest_clean_tokens(spark, sf_dir):
    from go_streaming_spark.functions.corpus_state import CorpusState

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    batch = docs.filter(F.col("doc_id") % 10 != 0)
    state = CorpusState.build(
        corpus, "doc_id", "text", n=3, k=16, rows_per_band=4, gram_k=8
    )
    cleaned, _ = state.ingest_clean(batch, "doc_id", "text", threshold=0.2)
    ntok = lambda c: F.size(
        F.filter(F.split(F.col(c), r"\s+"), lambda w: w != "")
    ).cast("long")
    return cleaned.select(
        "doc_id",
        (ntok("text") + F.col("dup_span_tokens")).alias("n_tokens_before"),
        ntok("text").alias("n_tokens_after"),
    )


@query(
    "multimodal_avi_content_stats",
    # REAL AVI frame content decode (video tier graduates from headers):
    # each doc becomes an uncompressed RIFF-AVI with 1+id%3 RGB24 '00db'
    # frames of 8 x (2+id%7) pixels whose pixel stream is the body's UTF-8
    # bytes cycled contiguously across frames
    # (multimodal.synthesize_payloads_avi); content_stats walks the movi
    # list back out (multimodal.avi_frame_bytes) and must reproduce the
    # stats the oracle computes from the synthesis formula alone.  Integer
    # sums divided once -> both engines bit-equal on mean/rms.
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents),
ph AS (SELECT id, (1 + id % 3) * (2 + id % 7) * 24 AS needed,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS phx FROM src),
pix AS (SELECT id, needed,
        substr(repeat(phx, CAST((needed*2 + length(phx) - 1) // length(phx) AS INT)),
               1, CAST(needed*2 AS INT)) AS phex FROM ph),
v AS (SELECT id, needed,
       CAST(('0x' || substr(phex, CAST(2*j+1 AS INT), 2)) AS BIGINT) AS v
      FROM (SELECT id, needed, phex, unnest(range(needed)) AS j FROM pix))
SELECT id, 'avi' AS format, count(*) AS n_units,
       CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
       sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
       min(v) AS min_val, max(v) AS max_val
FROM v GROUP BY id""",
)
def multimodal_avi_content_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_avi(docs, "doc_id", "text")
    return multimodal.content_stats(media, "doc_id", "media")


@query(
    "multimodal_mp4_content_stats",
    # REAL MP4 sample decode (the video tier's ISO-BMFF half): each doc
    # becomes an uncompressed ISO base-media file with 1+id%4 RGB24
    # samples of 8 x (2+id%6) pixels located by REAL stsz/stsc/stco
    # sample tables (multimodal.synthesize_payloads_mp4); content_stats
    # walks moov/trak/mdia/minf/stbl back to the sample bytes
    # (multimodal.mp4_sample_bytes) and must reproduce the stats the
    # oracle computes from the synthesis formula alone.  Integer sums
    # divided once -> both engines bit-equal on mean/rms.
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents),
ph AS (SELECT id, (1 + id % 4) * (2 + id % 6) * 24 AS needed,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS phx FROM src),
pix AS (SELECT id, needed,
        substr(repeat(phx, CAST((needed*2 + length(phx) - 1) // length(phx) AS INT)),
               1, CAST(needed*2 AS INT)) AS phex FROM ph),
v AS (SELECT id, needed,
       CAST(('0x' || substr(phex, CAST(2*j+1 AS INT), 2)) AS BIGINT) AS v
      FROM (SELECT id, needed, phex, unnest(range(needed)) AS j FROM pix))
SELECT id, 'mp4' AS format, count(*) AS n_units,
       CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
       sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
       min(v) AS min_val, max(v) AS max_val
FROM v GROUP BY id""",
)
def multimodal_mp4_content_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_mp4(docs, "doc_id", "text")
    return multimodal.content_stats(media, "doc_id", "media")


@query(
    "ann_ivf_quantized_topk",
    # IVF x int8 composition (the 100 TB serving shape): full-precision
    # label-mean centroids pick the 2 probe cells (same CTEs as
    # ann_ivf_topk), then only rows in those cells are scored with the
    # exact-int64 quantized cosine (same arithmetic as ann_quantized_topk)
    # -- cell pruning and the 4x byte reduction multiply
    f"""WITH q AS (SELECT embedding::DOUBLE[] qv FROM embeddings WHERE vec_id=0),
v AS (SELECT vec_id id, label, embedding::DOUBLE[] e FROM embeddings WHERE vec_id <> 0),
cent AS (SELECT label, j, floor(avg(e[CAST(j AS INT)])*1e6 + 0.5)/1e6 cv
         FROM v, (SELECT unnest(range(1,65)) j) jj GROUP BY 1,2),
centv AS (SELECT label, list(cv ORDER BY j) cvec FROM cent GROUP BY 1),
probe AS (SELECT label FROM centv, q
          ORDER BY floor(({_COS('cvec','q.qv')})*1e6 + 0.5)/1e6 DESC, label LIMIT 2),
qq AS (SELECT CASE WHEN amax > 0
              THEN list_transform(qv, x -> CAST(floor(x/(amax/127.0) + 0.5) AS BIGINT))
              ELSE list_transform(qv, x -> CAST(0 AS BIGINT)) END AS qq
       FROM (SELECT qv, list_max(list_transform(qv, x -> abs(x))) AS amax FROM q)),
cq AS (SELECT id,
         CASE WHEN amax > 0
              THEN list_transform(e, x -> CAST(floor(x/(amax/127.0) + 0.5) AS BIGINT))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv
       FROM (SELECT v.id, v.e,
               list_max(list_transform(v.e, x -> abs(x))) AS amax
             FROM v JOIN probe USING(label)))
SELECT id,
  floor((CAST(list_sum(list_transform(range(1,65), i -> qv[i]*qq.qq[i])) AS DOUBLE) /
        (sqrt(CAST(list_sum(list_transform(range(1,65), i -> qv[i]*qv[i])) AS DOUBLE)) *
         sqrt(CAST(list_sum(list_transform(range(1,65), i -> qq.qq[i]*qq.qq[i])) AS DOUBLE))))*1e6 + 0.5)/1e6 AS cos_sim
FROM cq, qq ORDER BY cos_sim DESC, id LIMIT 10""",
)
def ann_ivf_quantized_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    corpus = emb.filter(F.col("vec_id") != 0)
    cent = similarity.label_centroids(corpus, "label", "embedding", dim=64)
    return similarity.ivf_quantized_topk(
        corpus, "vec_id", "embedding", "label", cent, qv, k=10, nprobe=2
    )


@query(
    "dedup_incremental_bloom",
    # Bloom-prefiltered incremental exact dedup: IDENTICAL semantics (and
    # oracle) to dedup_incremental_exact -- the corpus reduces to a
    # fixed-size bit table, batch digests test membership map-side, and
    # only maybe-seen digests (true dups + ~fp sliver) reach the exact
    # anti-join; a Bloom filter has no false negatives, so the skipped
    # mass is provably new (functions/sketch.py bloom_*)
    "WITH corpus AS (SELECT md5(text) AS content_hash FROM documents"
    "  WHERE doc_id % 10 = 0),"
    " batch AS (SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,"
    "   count(*) AS n_copies FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1)"
    " SELECT b.content_hash, b.keep_id, b.n_copies FROM batch b"
    " WHERE NOT EXISTS (SELECT 1 FROM corpus c"
    "  WHERE c.content_hash = b.content_hash)",
)
def dedup_incremental_bloom(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    new_batch = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.incremental_exact_dedup_bloom(
        new_batch, corpus, "doc_id", ["text"]
    )


@query(
    "dedup_prefix_jaccard",
    # exact TOKEN-SET Jaccard pairs >= 0.9 via prefix filtering (PPJoin
    # family): candidate pairs must share a token in the rarest
    # s - floor(t*s) + 1 tokens of each doc (global df order) -- provably
    # no missed pairs, so the oracle is the plain all-pairs recompute
    """WITH tok AS (SELECT DISTINCT doc_id id, unnest(list_filter(regexp_split_to_array(text,'\\s+'), x->x<>'')) token
             FROM documents),
sizes AS (SELECT id, count(*) n FROM tok GROUP BY id),
inter AS (SELECT a.id id_a, b.id id_b, count(*) n_common
          FROM tok a JOIN tok b USING(token) WHERE a.id < b.id GROUP BY 1, 2),
jac AS (SELECT id_a, id_b, n_common,
          n_common/(sa.n + sb.n - n_common) AS jaccard
        FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id)
SELECT id_a, id_b, n_common, jaccard FROM jac WHERE jaccard >= 0.9""",
)
def dedup_prefix_jaccard(spark, sf_dir):
    return dedup.jaccard_pairs_prefix(_docs(spark, sf_dir), "doc_id", "text", 0.9)


# HLL oracle shares the engine's generated integer-comparison rank chain
# verbatim and its Python-computed alpha*m^2*2^50 literal — the only float
# op on either side is the final division (correctly rounded), so the
# estimate is bit-identical.
from go_streaming_spark.functions import sketch as _sk  # noqa: E402

_HLL_P = 12
_HLL_RANK48 = _sk.hll_rank_case_sql("w", 60 - _HLL_P)
_HLL_C = _sk.hll_alpha_mm_scaled(_HLL_P)


@query(
    "hll_user_cardinality",
    # per-event-type distinct-user cardinality the SKETCH way: fixed
    # 2^12-register state per group, mergeable by max — the incremental /
    # cross-partition shape exact distinct can't give at 100 TB.  s_int is
    # the exact integer register sum, so correctness is bit-checked, not
    # tolerance-checked.
    f"""WITH h AS (SELECT event_type,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       FROM events),
rw AS (SELECT event_type, hv // {1 << (60 - _HLL_P)} AS reg,
        hv % {1 << (60 - _HLL_P)} AS w FROM h),
sk AS (SELECT event_type, reg, max({_HLL_RANK48}) AS max_rank
       FROM rw GROUP BY 1, 2),
agg AS (SELECT event_type,
         CAST(sum(1::BIGINT << CAST(50 - max_rank AS INT)) AS BIGINT) AS sp,
         count(*) AS n_regs
        FROM sk GROUP BY 1)
SELECT event_type,
       sp + ({1 << _HLL_P} - n_regs) * {1 << 50} AS s_int,
       n_regs,
       floor(({_HLL_C!r} / CAST(sp + ({1 << _HLL_P} - n_regs) * {1 << 50} AS DOUBLE))*1e6 + 0.5)/1e6 AS est
FROM agg""",
)
def hll_user_cardinality(spark, sf_dir):
    ev = Engine(spark, sf_dir=sf_dir).stream("events")
    return _sk.hll_grouped(ev, "event_type", "user_id", p=_HLL_P)


@query(
    "ams_f2_user_freq",
    # AMS F2 sketch vs truth: the user_id column's second frequency
    # moment (= its self-join size) estimated from 63 signed counters,
    # alongside the exact value — the planner's join-size primitive as a
    # fixed-size mergeable sketch.  Every number is an exact integer
    # function of the data (odd d → the median is an array element), so
    # the oracle reproduces both columns bit-for-bit.
    """WITH rw AS (SELECT j,
        CAST(('0x' || substr(md5('ams|' || CAST(j AS VARCHAR)
          || '|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
       FROM events, (SELECT unnest(range(63)) AS j) jj),
s AS (SELECT j, CAST(sum((hv % 2) * 2 - 1) AS BIGINT) AS c
      FROM rw GROUP BY j),
e AS (SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact
      FROM (SELECT count(*) AS n FROM events GROUP BY user_id))
SELECT (list_sort(list(c * c)))[32] AS f2_est, e.f2_exact
FROM s CROSS JOIN e GROUP BY e.f2_exact""",
)
def ams_f2_user_freq(spark, sf_dir):
    ev = Engine(spark, sf_dir=sf_dir).stream("events")
    est = _sk.ams_f2(ev, "user_id", d=63, seed="ams")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("f2_exact"))
    )
    return est.crossJoin(F.broadcast(exact))


@query(
    "hll_user_overlap",
    # union + intersection cardinality between two groups' user sets
    # from ONE pass of mergeable HLL state: union = register max-merge,
    # intersection = inclusion-exclusion over the three estimates — the
    # sketch answer to "how many users do click and purchase share?" at
    # 100 TB.  Register sums are exact int64 so the final divisions
    # (identical IEEE sequences on both engines) are the only float ops.
    f"""WITH h AS (SELECT event_type AS grp,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       FROM events WHERE event_type IN ('click', 'purchase')),
rw AS (SELECT grp, hv // {1 << (60 - _HLL_P)} AS reg,
        hv % {1 << (60 - _HLL_P)} AS w FROM h),
sk AS (SELECT grp, reg, max({_HLL_RANK48}) AS max_rank
       FROM rw GROUP BY 1, 2),
per AS (SELECT grp,
         CAST(sum(1::BIGINT << CAST(50 - max_rank AS INT)) AS BIGINT)
         + ({1 << _HLL_P} - count(*)) * {1 << 50} AS s
        FROM sk GROUP BY 1),
u AS (SELECT reg, max(max_rank) AS mr FROM sk GROUP BY 1),
su AS (SELECT CAST(sum(1::BIGINT << CAST(50 - mr AS INT)) AS BIGINT)
        + ({1 << _HLL_P} - count(*)) * {1 << 50} AS s_union FROM u)
SELECT a.s AS s_a, b.s AS s_b, su.s_union AS s_union,
  floor(({_HLL_C!r} / CAST(a.s AS DOUBLE))*1e6 + 0.5)/1e6 AS est_a,
  floor(({_HLL_C!r} / CAST(b.s AS DOUBLE))*1e6 + 0.5)/1e6 AS est_b,
  floor(({_HLL_C!r} / CAST(su.s_union AS DOUBLE))*1e6 + 0.5)/1e6 AS est_union,
  floor((({_HLL_C!r} / CAST(a.s AS DOUBLE))
       + ({_HLL_C!r} / CAST(b.s AS DOUBLE))
       - ({_HLL_C!r} / CAST(su.s_union AS DOUBLE)))*1e6 + 0.5)/1e6 AS est_intersect
FROM (SELECT s FROM per WHERE grp = 'click') a,
     (SELECT s FROM per WHERE grp = 'purchase') b, su""",
)
def hll_user_overlap(spark, sf_dir):
    ev = Engine(spark, sf_dir=sf_dir).stream("events")
    return _sk.hll_overlap(
        ev, "event_type", "user_id", "click", "purchase", p=_HLL_P
    )


_THETA_FULL = 1 << 60
_THETA_EST_KMV = (
    "CASE WHEN {t} = %d THEN CAST({n} AS DOUBLE)"
    " ELSE floor((CAST(63 AS DOUBLE) * (CAST(%d AS DOUBLE)"
    " / CAST({t} AS DOUBLE))) * 1e6 + 0.5) / 1e6 END"
) % (_THETA_FULL, _THETA_FULL)
_THETA_EST_WIN = (
    "CASE WHEN theta_ab = %d THEN CAST({n} AS DOUBLE)"
    " ELSE floor((CAST({n} AS DOUBLE) * (CAST(%d AS DOUBLE)"
    " / CAST(theta_ab AS DOUBLE))) * 1e6 + 0.5) / 1e6 END"
) % (_THETA_FULL, _THETA_FULL)


@query(
    "theta_users_diff",
    # Theta/KMV set algebra between click and purchase user sets — the
    # sketch HLL can't replace: retained-sample semantics give an
    # unbiased set DIFFERENCE (clicked-never-purchased) alongside
    # union/intersection.  Retained hashes, thetas and window counts are
    # exact int64; the estimate divisions are the identical IEEE
    # sequences on both engines (the hll_user_overlap precedent).
    f"""WITH h AS (SELECT DISTINCT event_type AS grp,
    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
  FROM events WHERE event_type IN ('click', 'purchase')),
tk AS (SELECT grp, hv FROM (
    SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
    FROM h) WHERE rn <= 64),
per AS (SELECT grp,
        CASE WHEN count(*) = 64 THEN max(hv) ELSE {_THETA_FULL} END AS theta,
        count(*) AS n FROM tk GROUP BY grp),
ta AS (SELECT theta AS theta_a, n AS n_a_ret FROM per WHERE grp = 'click'),
tb AS (SELECT theta AS theta_b, n AS n_b_ret FROM per WHERE grp = 'purchase'),
uk AS (SELECT CASE WHEN count(*) = 64 THEN max(hv) ELSE {_THETA_FULL} END AS theta_u,
        count(*) AS n_u FROM (
          SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
                          FROM (SELECT DISTINCT hv FROM tk)) WHERE rn <= 64)),
th AS (SELECT ta.*, tb.*, least(theta_a, theta_b) AS theta_ab FROM ta, tb),
ni AS (SELECT count(*) AS n_int
       FROM (SELECT hv FROM tk WHERE grp = 'click') a
       JOIN (SELECT hv FROM tk WHERE grp = 'purchase') b USING (hv), th
       WHERE hv < th.theta_ab),
na AS (SELECT count(*) AS n_anotb
       FROM (SELECT hv FROM tk WHERE grp = 'click') a, th
       WHERE hv < th.theta_ab
         AND hv NOT IN (SELECT hv FROM tk WHERE grp = 'purchase'))
SELECT n_a_ret, n_b_ret, theta_ab, n_int, n_anotb,
  {_THETA_EST_KMV.format(t='theta_a', n='n_a_ret')} AS est_a,
  {_THETA_EST_KMV.format(t='theta_b', n='n_b_ret')} AS est_b,
  {_THETA_EST_KMV.format(t='theta_u', n='n_u')} AS est_union,
  {_THETA_EST_WIN.format(n='n_int')} AS est_intersect,
  {_THETA_EST_WIN.format(n='n_anotb')} AS est_diff
FROM th, uk, ni, na""",
)
def theta_users_diff(spark, sf_dir):
    ev = Engine(spark, sf_dir=sf_dir).stream("events")
    return _sk.theta_kmv_overlap(
        ev, "event_type", "user_id", "click", "purchase", k=64
    )


@query("stream_theta_users_diff")
def stream_theta_users_diff(spark, sf_dir):
    """Theta/KMV set algebra over STREAMING-accumulated state: each
    micro-batch builds its own (grp, hv) retained set and merges into
    the held state by keep-k-smallest-of-union — exactly idempotent, so
    the answer equals the batch theta_users_diff bit-for-bit and gates
    against the same oracle (the stream_hll_user_overlap shape)."""
    import tempfile

    ev = (
        Engine(spark, sf_dir=sf_dir)
        .stream("events")
        .filter(F.col("event_type").isin(["click", "purchase"]))
        .select("event_type", "user_id")
    )
    tmp = tempfile.mkdtemp(prefix="stream_theta_")
    ev.repartition(4).write.mode("overwrite").parquet(f"{tmp}/ev")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/ev")
    )
    holder = {"sk": None, "batches": 0}

    def ingest(batch_df, _bid):
        part = _sk.theta_kmv_build(
            batch_df, "event_type", "user_id", ["click", "purchase"], k=64
        )
        merged = part if holder["sk"] is None else _sk.theta_kmv_merge(
            holder["sk"].unionByName(part), k=64
        )
        holder["sk"] = merged.localCheckpoint()
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] >= 2, "replay must produce real micro-batches"
    return _sk.theta_kmv_overlap_from_state(
        holder["sk"], "click", "purchase", k=64
    )


ORACLES["stream_theta_users_diff"] = ORACLES["theta_users_diff"]


@query(
    "bloom_join_urgent_revenue",
    # Bloom-prefiltered fact-dim join: urgent orders' keys reduce to a
    # fixed-size bit table and lineitem rows that CANNOT match are dropped
    # map-side before the shuffle (sketch.bloom_filtered_join) -- the
    # explicit form of a runtime row-level join filter; result == plain
    # join, so the oracle is the plain SQL
    "SELECT l_returnflag,"
    " CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,"
    " count(*) AS n_items"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE o_orderpriority = '1-URGENT' GROUP BY l_returnflag",
)
def bloom_join_urgent_revenue(spark, sf_dir):
    from go_streaming_spark.functions import sketch as sk

    eng = Engine(spark, sf_dir=sf_dir)
    li = eng.stream("lineitem")
    urgent = eng.stream("orders").filter(F.col("o_orderpriority") == "1-URGENT")
    j = sk.bloom_filtered_join(li, urgent, "l_orderkey", "o_orderkey")
    return j.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "multimodal_bmp_thumbnail_stats",
    # REAL image resize in the transform chain: 8 x h BMPs downscale 2x by
    # nearest neighbor (multimodal.bmp_thumbnail: decode pixel array, keep
    # every 2nd stored row / 2nd pixel, re-encode a real 4 x ceil(h/2)
    # BMP), then content_stats decodes the thumbnail back out.  The oracle
    # recomputes each kept byte from the synthesis formula: thumbnail unit
    # j -> (y2, x2, c) -> original cycled-body index 48*y2 + 6*x2 + c.
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents
        WHERE doc_id % 2 = 0),
ph AS (SELECT id, (2 + id % 7) AS h, (2 + id % 7) * 24 AS needed,
        CASE WHEN blen > 0 THEN hx ELSE '00' END AS phx FROM src),
pix AS (SELECT id, h, ((h + 1) // 2) * 12 AS out_units,
        substr(repeat(phx, CAST((needed*2 + length(phx) - 1) // length(phx) AS INT)),
               1, CAST(needed*2 AS INT)) AS phex FROM ph),
v AS (SELECT id,
       CAST(('0x' || substr(phex,
         CAST(2*(48*(j//12) + 6*((j%12)//3) + (j%3)) + 1 AS INT), 2)) AS BIGINT) AS v
      FROM (SELECT id, phex, unnest(range(out_units)) AS j FROM pix))
SELECT id, 'bmp' AS format, count(*) AS n_units,
       CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
       sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
       min(v) AS min_val, max(v) AS max_val
FROM v GROUP BY id""",
)
def multimodal_bmp_thumbnail_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_raw(docs, "doc_id", "text")
    thumbs = multimodal.transform_media(
        media, "doc_id", "media", transform=multimodal.bmp_thumbnail,
        out_format="bmp",
    )
    return multimodal.content_stats(thumbs, "id", "media")


@query(
    "dedup_spans_removed_counts",
    # the REMOVAL half of substring dedup applied end-to-end (Lee et al.
    # keep-first policy): cut every non-canonical duplicated-8-gram span
    # out of the text (dedup.remove_spans -- pure column ops over the
    # token array), then count surviving tokens.  Oracle: token count
    # minus the merged keep-first span widths (islands never overlap).
    """WITH ws AS (SELECT doc_id AS id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') w
            FROM documents),
g0 AS (SELECT id, unnest(list_transform(range(0, len(w)-8+1),
          i -> {'pos': i, 'gh': md5(array_to_string(w[i+1:i+8], ' '))})) AS u
       FROM ws WHERE len(w) >= 8),
g AS (SELECT id, u.pos::bigint AS pos, u.gh AS gh FROM g0),
r AS (SELECT id, pos, gh,
        count(*) OVER (PARTITION BY gh) AS n,
        row_number() OVER (PARTITION BY gh ORDER BY id, pos) AS rn
      FROM g),
f AS (SELECT id, pos FROM r WHERE n >= 2 AND rn > 1),
m AS (SELECT id, pos,
        CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS new_span
      FROM f),
s AS (SELECT id, pos, sum(new_span) OVER (PARTITION BY id ORDER BY pos) AS span_id FROM m),
spans AS (SELECT id, max(pos) + 8 - min(pos) AS span_tokens FROM s GROUP BY id, span_id),
cut AS (SELECT id, sum(span_tokens) AS removed FROM spans GROUP BY id)
SELECT ws.id AS doc_id,
       CAST(len(ws.w) AS BIGINT) AS n_tokens_before,
       CAST(len(ws.w) - coalesce(cut.removed, 0) AS BIGINT) AS n_tokens_after
FROM ws LEFT JOIN cut ON ws.id = cut.id""",
)
def dedup_spans_removed_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    spans = dedup.duplicated_spans(docs, "doc_id", "text", k=8, keep_first=True)
    cleaned = dedup.remove_spans(docs, spans, "doc_id", "text")
    ntok = lambda c: F.size(
        F.filter(F.split(F.col(c), r"\s+"), lambda w: w != "")
    ).cast("long")
    before = docs.select("doc_id", ntok("text").alias("n_tokens_before"))
    after = cleaned.select("doc_id", ntok("text").alias("n_tokens_after"))
    return before.join(after, "doc_id")


@query(
    "multimodal_wav_downsample_stats",
    # REAL audio resample in the transform chain: PCM WAVs decimate 2x
    # PER FRAME (multimodal.wav_downsample keeps every 2nd channel group
    # of 16-bit samples — these synthesized ids are all stereo, channels
    # = 1 + id%2 — and re-encodes a real RIFF container at half the
    # rate), then content_stats decodes the downsampled PCM back out.
    # Oracle recomputes kept sample k from its original byte offset
    # 8*(k//2) + 2*(k%2): kept frame g = original frame 2g, a complete
    # trailing half-frame is dropped (blen // 4 whole frames).
    """WITH src AS (SELECT doc_id AS id, hex(encode(coalesce(text,''))) AS hx,
         octet_length(encode(coalesce(text,''))) AS blen FROM documents
        WHERE doc_id % 2 = 1),
wraw AS (SELECT id,
           CAST(('0x' || substr(hx, CAST(16*(k//2) + 4*(k%2) + 1 AS INT), 2)) AS BIGINT)
         + 256 * CAST(('0x' || substr(hx, CAST(16*(k//2) + 4*(k%2) + 3 AS INT), 2)) AS BIGINT) AS raw
         FROM (SELECT id, hx, unnest(range(2 * ((blen // 4 + 1) // 2))) AS k FROM src)),
wval AS (SELECT id, CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v FROM wraw),
stats AS (SELECT id, count(*) AS n_units,
          CAST(sum(v) AS BIGINT) * 1.0 / count(*) AS mean_val,
          sqrt(CAST(sum(v*v) AS BIGINT) * 1.0 / count(*)) AS rms,
          min(v) AS min_val, max(v) AS max_val
          FROM wval GROUP BY id)
SELECT s.id, 'wav' AS format,
       COALESCE(t.n_units, 0) AS n_units, t.mean_val, t.rms, t.min_val, t.max_val
FROM src s LEFT JOIN stats t ON s.id = t.id""",
)
def multimodal_wav_downsample_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    media = multimodal.synthesize_payloads_raw(docs, "doc_id", "text")
    down = multimodal.transform_media(
        media, "doc_id", "media", transform=multimodal.wav_downsample,
        out_format="wav",
    )
    return multimodal.content_stats(down, "id", "media")


@query(
    "ann_pq_adc_topk",
    # product quantization + ADC: vectors int8-quantize, split into 8
    # subspaces, snap each subvector to the nearest of 16 codewords
    # (exact-int64 squared L2, ties to the lowest code); scoring is 8
    # lookup-table adds per row (dot and norm tables folded from the
    # query driver-side).  Codewords = the 16 smallest vec_id%13==7
    # anchors' quantized subvectors (the oracle-reproducible stand-in
    # for sampled k-means training).  All accumulation exact int64 →
    # bit-deterministic; only the final sqrt/divide/q6 touch floats.
    """WITH base AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
qz AS (SELECT vec_id,
         CASE WHEN amax > 0
              THEN list_transform(e, x -> CAST(floor(x/(amax/127.0) + 0.5) AS BIGINT))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv
       FROM (SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS amax FROM base)),
anch AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv
         FROM qz WHERE vec_id % 13 = 7 AND vec_id <> 0
         ORDER BY vec_id LIMIT 16),
cw AS (SELECT c, m, list_transform(range(1, 9), i -> qv[m*8 + i]) AS sub
       FROM anch, range(0, 8) t(m)),
qsub AS (SELECT m, list_transform(range(1, 9), i -> qv[m*8 + i]) AS sub
         FROM (SELECT qv FROM qz WHERE vec_id = 0) q0, range(0, 8) t(m)),
vsub AS (SELECT vec_id, m, list_transform(range(1, 9), i -> qv[m*8 + i]) AS sub
         FROM qz, range(0, 8) t(m) WHERE vec_id <> 0),
dist AS (SELECT vec_id, v.m AS m, c,
           list_sum(list_transform(range(1, 9),
             i -> (v.sub[i]-w.sub[i])*(v.sub[i]-w.sub[i]))) AS d
         FROM vsub v JOIN cw w ON v.m = w.m),
codes AS (SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c,
              row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
            FROM dist) WHERE rn = 1),
lut AS (SELECT w.m AS m, w.c AS c,
          list_sum(list_transform(range(1, 9), i -> w.sub[i]*q.sub[i])) AS dt,
          list_sum(list_transform(range(1, 9), i -> w.sub[i]*w.sub[i])) AS n2
        FROM cw w JOIN qsub q ON w.m = q.m),
qn AS (SELECT sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE)) AS qnorm
       FROM qz WHERE vec_id = 0),
sc AS (SELECT vec_id, sum(l.dt) AS num, sum(l.n2) AS den
       FROM codes cd JOIN lut l ON cd.m = l.m AND cd.c = l.c GROUP BY vec_id)
SELECT vec_id AS id,
  floor((CAST(num AS DOUBLE) / (sqrt(CAST(den AS DOUBLE)) * qnorm))*1e6 + 0.5)/1e6 AS cos_pq
FROM sc, qn ORDER BY cos_pq DESC, id LIMIT 10""",
)
def ann_pq_adc_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    books = similarity.pq_codebooks(
        emb, "vec_id", "embedding", n_codes=16, n_subspaces=8,
        anchor_mod=13, anchor_rem=7, exclude_id=0,
    )
    return similarity.pq_adc_topk(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding", qv, books, 10
    )


@query("stream_hll_user_cardinality")
def stream_hll_user_cardinality(spark, sf_dir):
    """Grouped HLL accumulated the STREAMING way: events replay as 4 real
    micro-batches, foreachBatch builds each batch's (grp, reg, max_rank)
    sketch and max-merges it into the running state — the second
    mergeable-sketch ingestion proof after stream_cms_word_counts, this
    time with MAX-merge (idempotent, reorder/replay-tolerant) instead of
    ADD-merge.  The merged state must equal the batch-built sketch
    bit-for-bit, so it gates against the SAME oracle as
    hll_user_cardinality.  State is localCheckpointed per batch —
    ≤ n_groups × 2^p rows, no lineage growth."""
    import tempfile

    from go_streaming_spark.functions import sketch

    ev = Engine(spark, sf_dir=sf_dir).stream("events").select("event_type", "user_id")
    tmp = tempfile.mkdtemp(prefix="stream_hll_")
    ev.repartition(4).write.mode("overwrite").parquet(f"{tmp}/ev")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/ev")
    )
    holder = {"sk": None, "batches": 0}

    def ingest(batch_df, _bid):
        part = sketch.hll_grouped_build(batch_df, "event_type", "user_id", p=_HLL_P)
        merged = part if holder["sk"] is None else (
            holder["sk"].unionByName(part)
            .groupBy("grp", "reg")
            .agg(F.max("max_rank").alias("max_rank"))
        )
        holder["sk"] = merged.localCheckpoint()
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] >= 2, "replay must produce real micro-batches"
    return sketch.hll_grouped_estimate(holder["sk"], "event_type", p=_HLL_P)


ORACLES["stream_hll_user_cardinality"] = ORACLES["hll_user_cardinality"]


@query("stream_hll_user_overlap")
def stream_hll_user_overlap(spark, sf_dir):
    """The set-operation question asked of STREAMING-accumulated state:
    the same foreachBatch max-merge ingestion as
    stream_hll_user_cardinality, then hll_overlap_from_state computes
    union/intersection estimates from the merged registers WITHOUT
    touching raw data — the live-dashboard shape ("how many users do
    click and purchase share, right now?").  Max-merge makes the state
    idempotent under replay, so the answer equals the batch
    hll_user_overlap bit-for-bit and gates against the same oracle."""
    import tempfile

    from go_streaming_spark.functions import sketch

    ev = (
        Engine(spark, sf_dir=sf_dir)
        .stream("events")
        .filter(F.col("event_type").isin(["click", "purchase"]))
        .select("event_type", "user_id")
    )
    tmp = tempfile.mkdtemp(prefix="stream_hll_ov_")
    ev.repartition(4).write.mode("overwrite").parquet(f"{tmp}/ev")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/ev")
    )
    holder = {"sk": None, "batches": 0}

    def ingest(batch_df, _bid):
        part = sketch.hll_grouped_build(batch_df, "event_type", "user_id", p=_HLL_P)
        merged = part if holder["sk"] is None else (
            holder["sk"].unionByName(part)
            .groupBy("grp", "reg")
            .agg(F.max("max_rank").alias("max_rank"))
        )
        holder["sk"] = merged.localCheckpoint()
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] >= 2, "replay must produce real micro-batches"
    return sketch.hll_overlap_from_state(
        holder["sk"], "click", "purchase", p=_HLL_P
    )


ORACLES["stream_hll_user_overlap"] = ORACLES["hll_user_overlap"]

@query(
    "stream_dedup_exact_native",
    # exact dedup as a NATIVE streaming operator: Spark's streaming
    # dropDuplicates keeps one state row per digest across micro-batches
    # and emits each digest once.  Which copy wins inside a batch is
    # engine-internal, so every emitted column is digest-functional
    # (derived from the text itself) — deterministic either way.
    r"""SELECT DISTINCT md5(text) AS content_hash,
  length(text) AS n_chars_txt,
  len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tokens
FROM documents""",
)
def stream_dedup_exact_native(spark, sf_dir):
    """Zero-custom-code streaming dedup: documents replay as 4 real
    micro-batches and the per-key state survives between them (the
    complement of CorpusState.ingest's anti-join path).  State is one
    narrow row per distinct digest; with an event-time column the same
    plan runs bounded-state via dropDuplicatesWithinWatermark."""
    import tempfile

    from go_streaming_spark.streaming.runner import replay_to_memory

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_dedup_")
    docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/docs")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/docs")
    )
    proj = stream.select(
        F.md5(F.col("text")).alias("content_hash"),
        F.length("text").cast("long").alias("n_chars_txt"),
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != ""))
        .cast("long")
        .alias("n_tokens"),
    ).dropDuplicates(["content_hash"])
    return replay_to_memory(proj, spark, output_mode="append")

@query(
    "pmi_top_bigrams",
    # top-50 collocations by PMI, ranked by the raw independence ratio
    # n_xy·N_tok²/(N_big·c_x·c_y) — order-equivalent to log-PMI with no
    # ln() (libm last-ulp hazard); every factor is an exact integer
    # count, one fixed-order double chain, q6-quantized
    r"""WITH t AS (SELECT list_filter(regexp_split_to_array(text, '\s+'),
                    x -> x <> '') AS w FROM documents),
uni AS (SELECT unnest(w) AS tok FROM t),
uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
nt AS (SELECT count(*) AS n FROM uni),
bi AS (SELECT w[i] AS w1, w[i+1] AS w2
       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)),
bc AS (SELECT w1, w2, count(*) AS n_xy FROM bi GROUP BY 1, 2),
nb AS (SELECT count(*) AS n FROM bi)
SELECT w1 || ' ' || w2 AS gram, n_xy,
  floor((CAST(n_xy AS DOUBLE) * CAST(nt.n AS DOUBLE) * CAST(nt.n AS DOUBLE))
        / (CAST(nb.n AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
        * 1e6 + 0.5)/1e6 AS pmi_r
FROM bc JOIN uc u1 ON bc.w1 = u1.tok JOIN uc u2 ON bc.w2 = u2.tok, nt, nb
WHERE n_xy >= 5
ORDER BY pmi_r DESC, gram LIMIT 50""",
)
def pmi_top_bigrams(spark, sf_dir):
    return text.pmi_bigrams(_docs(spark, sf_dir), "text", min_count=5, k=50)

# shared oracle CTEs: int8 quantization of every embedding + the 8 anchor
# centroids (vec_id%17==3, smallest-first) + exact-int64 nearest-centroid
# assignment with ties to the lowest cluster
_KMEANS_CTE = """base AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
qz AS (SELECT vec_id,
         CASE WHEN amax > 0
              THEN list_transform(e, x -> CAST(floor(x/(amax/127.0) + 0.5) AS BIGINT))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS qv
       FROM (SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS amax FROM base)),
anch AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv
         FROM qz WHERE vec_id % 17 = 3 ORDER BY vec_id LIMIT 8),
dist AS (SELECT q.vec_id, a.c,
           list_sum(list_transform(range(1, 65),
             i -> (q.qv[i]-a.qv[i])*(q.qv[i]-a.qv[i]))) AS d
         FROM qz q, anch a),
asg AS (SELECT vec_id, c AS cluster FROM (
          SELECT vec_id, c,
            row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
          FROM dist) WHERE rn = 1)"""


@query(
    "kmeans_cluster_stats",
    # nearest-anchor-centroid assignment in int8-quantized space (the
    # k-means E-step, exact int64 → bit-deterministic), with an exact
    # integer component-sum fingerprint per cluster
    f"""WITH {_KMEANS_CTE}
SELECT cluster, count(*) AS n_members, min(vec_id) AS min_id,
       CAST(sum(list_sum(qv)) AS BIGINT) AS comp_sum
FROM asg JOIN qz USING (vec_id) GROUP BY cluster""",
)
def kmeans_cluster_stats(spark, sf_dir):
    from go_streaming_spark.functions import clustering

    emb = _emb(spark, sf_dir)
    cents = clustering.anchor_centroids_q(emb, "vec_id", "embedding", k=8)
    asg = clustering.kmeans_assign_q(emb, "vec_id", "embedding", cents, keep_q=True)
    return asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("min_id"),
        F.sum(F.expr("aggregate(_qb, 0L, (acc, v) -> acc + v)")).alias("comp_sum"),
    )


@query(
    "semdedup_survivors",
    # SemDeDup (cluster-then-dedup): within-cluster int8-cosine pairs at
    # q6(cos) >= 0.4 drop the higher id; per-cluster member/survivor
    # counts.  Quadratic work confined to within-cluster blocks — the
    # learned-partition complement of LSH buckets and IVF cells.
    f"""WITH {_KMEANS_CTE},
qv2 AS (SELECT q.vec_id, q.qv, a.cluster FROM qz q JOIN asg a USING (vec_id)),
pairs AS (SELECT a.cluster, b.vec_id AS ib
          FROM qv2 a JOIN qv2 b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE floor((CAST(list_sum(list_transform(range(1, 65),
                    i -> a.qv[i]*b.qv[i])) AS DOUBLE)
              / (sqrt(CAST(list_sum(list_transform(range(1, 65),
                    i -> a.qv[i]*a.qv[i])) AS DOUBLE))
               * sqrt(CAST(list_sum(list_transform(range(1, 65),
                    i -> b.qv[i]*b.qv[i])) AS DOUBLE))))*1e6 + 0.5)/1e6 >= 0.4),
removed AS (SELECT DISTINCT ib FROM pairs)
SELECT g.cluster, count(*) AS n_members,
       count(*) FILTER (r.ib IS NULL) AS n_survivors
FROM qv2 g LEFT JOIN removed r ON g.vec_id = r.ib
GROUP BY g.cluster""",
)
def semdedup_survivors(spark, sf_dir):
    from go_streaming_spark.functions import clustering

    emb = _emb(spark, sf_dir)
    cents = clustering.anchor_centroids_q(emb, "vec_id", "embedding", k=8)
    return clustering.semdedup_survivor_stats(
        emb, "vec_id", "embedding", cents, tau=0.4
    )


@query(
    "kmeans_lloyd_centroids",
    # the k-means M-step: per-cluster integer-requantized mean centroid,
    # floor(s/n + 1/2) computed as an EXACT integer floor-division — the
    # numerator is first reduced by its non-negative remainder, so
    # Spark's truncating `div`, DuckDB's `//`, and Python's `//` (used by
    # clustering.kmeans_fit) all produce the identical quotient
    # regardless of their negative-operand conventions
    f"""WITH {_KMEANS_CTE},
pv AS (SELECT a.cluster, t.i, q.qv[t.i] AS v
       FROM asg a JOIN qz q USING (vec_id), range(1, 65) t(i)),
ms AS (SELECT cluster, i, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
       FROM pv GROUP BY 1, 2),
md AS (SELECT cluster, i, n,
         (2*s + n - ((((2*s + n) % (2*n)) + 2*n) % (2*n))) // (2*n) AS mv
       FROM ms)
SELECT cluster, min(n) AS n_members,
  string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS centroid_s
FROM md GROUP BY cluster""",
)
def kmeans_lloyd_centroids(spark, sf_dir):
    from go_streaming_spark.functions import clustering

    emb = _emb(spark, sf_dir)
    cents = clustering.anchor_centroids_q(emb, "vec_id", "embedding", k=8)
    asg = clustering.kmeans_assign_q(emb, "vec_id", "embedding", cents, keep_q=True)
    aggs = [F.expr(f"sum(_qb[{i}]) AS s{i}") for i in range(64)] + [
        F.expr("count(*) AS n")
    ]
    g = asg.groupBy("cluster").agg(aggs[0], *aggs[1:])
    mcols = [
        F.expr(
            f"CAST((2*s{i} + n - ((((2*s{i} + n) % (2*n)) + 2*n) % (2*n)))"
            f" div (2*n) AS STRING)"
        )
        for i in range(64)
    ]
    return g.select(
        "cluster",
        F.col("n").alias("n_members"),
        F.concat_ws(",", *mcols).alias("centroid_s"),
    )


# --------------------------------------------------------------------------
# Sparse retrieval ranking + character-level near-dup (round 8)

_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("hash", "merge", "vector")


@query(
    "bm25_doc_scores",
    # Okapi BM25 (log-free odds-ratio idf — ln() is the one cross-engine-
    # divergent ingredient and dropping it keeps per-term monotonicity);
    # every per-term score quantizes to int64 BEFORE the per-doc sum, so
    # the total is an order-insensitive exact integer sum.  Double
    # literals are CAST(repr AS DOUBLE): DuckDB parses bare decimals as
    # DECIMAL, which would change every rounding step.
    f"""WITH toks AS (SELECT doc_id AS id,
    unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
tok2 AS (SELECT id, token FROM toks WHERE token <> ''),
dl AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY 1),
tf AS (SELECT id, token, count(*) AS tf FROM tok2
  WHERE token IN {_BM25_TERMS!r} GROUP BY 1, 2),
dfr AS (SELECT token, count(*) AS dfr FROM tf GROUP BY 1),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
scored AS (SELECT tf.id,
  CAST(floor( ((n_docs - dfr + CAST({0.5!r} AS DOUBLE))/(dfr + CAST({0.5!r} AS DOUBLE)))
      * ((tf * CAST({_BM25_K1 + 1.0!r} AS DOUBLE))
         / (tf + CAST({_BM25_K1!r} AS DOUBLE)*(CAST({1.0 - _BM25_B!r} AS DOUBLE)
            + CAST({_BM25_B!r} AS DOUBLE)*(CAST(dl*n_docs AS DOUBLE)/total_tokens))))
      * 1e6 + CAST({0.5!r} AS DOUBLE)) AS BIGINT) AS sq
  FROM tf JOIN dl USING (id) CROSS JOIN corpus JOIN dfr USING (token))
SELECT id, CAST(SUM(sq) AS DOUBLE)/1e6 AS bm25 FROM scored GROUP BY id""",
)
def bm25_doc_scores(spark, sf_dir):
    return text.bm25_scores(
        _docs(spark, sf_dir), "doc_id", "text", list(_BM25_TERMS),
        k1=_BM25_K1, b=_BM25_B,
    )


def _textrank_oracle(iters: int = 3, top_n: int = 50) -> str:
    # integer-exact PageRank over the word co-occurrence graph, unrolled:
    # transition p = (w*1e6) // W_u once, per-edge contribution
    # (rk*p) // 1e6, damping 15% + 85% — every step an integer floor, so
    # the SQL replay is bit-identical to the engine's iterative joins
    cte = [
        r"""WITH t AS (SELECT list_filter(regexp_split_to_array(text, '\s+'),
                    x -> x <> '') AS w FROM documents),
bi AS (SELECT w[i] AS u, w[i+1] AS v
       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)),
e0 AS (SELECT u, v FROM bi WHERE u <> v),
sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
ew AS (SELECT u, v, count(*) AS w FROM sym GROUP BY 1, 2),
wu AS (SELECT u, CAST(sum(w) AS BIGINT) AS wu FROM ew GROUP BY 1),
tr AS (SELECT e.u, e.v, (e.w * 1000000) // wu.wu AS p
       FROM ew e JOIN wu ON e.u = wu.u),
nodes AS (SELECT DISTINCT u AS node FROM sym),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rk FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        cte.append(
            f"""s{k} AS (SELECT tr.v AS node, sum((r.rk * tr.p) // 1000000) AS s
  FROM tr JOIN r{k - 1} r ON tr.u = r.node GROUP BY 1),
r{k} AS (SELECT n.node, CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rk
  FROM nodes n LEFT JOIN s{k} s ON n.node = s.node)"""
        )
    return (
        ",\n".join(cte)
        + f"\nSELECT node AS term, rk FROM r{iters} ORDER BY rk DESC, term LIMIT {top_n}"
    )


@query("textrank_top_terms", _textrank_oracle())
def textrank_top_terms(spark, sf_dir):
    return text.textrank_terms(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "word_graph_triangles",
    # exact triangle census of the word co-occurrence graph (the
    # clustering-coefficient numerator — a corpus-structure signal:
    # template-heavy corpora close far more word triangles than natural
    # text).  The engine orients edges by (degree, id) so wedge work is
    # bounded O(m^1.5) regardless of hub skew; the oracle is the plain
    # canonical triple join, feasible at gate scale.
    r"""WITH t AS (SELECT list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS w FROM documents),
bi AS (SELECT w[i] AS u, w[i+1] AS v
       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM t WHERE len(w) >= 2)),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      FROM bi WHERE u <> v),
nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e),
tri AS (SELECT count(*) AS n FROM e e1
        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles""",
)
def word_graph_triangles(spark, sf_dir):
    from go_streaming_spark.functions.graph import triangle_count
    from go_streaming_spark.functions.text import words_expr
    from go_streaming_spark.functions.util import spread

    # adjacent-word edges over the BOUND word array (the r9 HOF rule)
    wdf = spread(_docs(spark, sf_dir)).select(
        words_expr(F.col("text")).alias("__w")
    )
    w = F.col("__w")
    pairs = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.struct(
                F.element_at(w, i + 1).alias("u"),
                F.element_at(w, i + 2).alias("v"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    edges = (
        wdf.select(F.explode(pairs).alias("p"))
        .select("p.u", "p.v")
        .filter(F.col("u") != F.col("v"))
    )
    return triangle_count(edges, "u", "v")


_BM25_QUERIES = [
    (1, "hash"), (1, "join"), (2, "vector"), (2, "stream"),
    (3, "window"), (3, "merge"), (3, "sort"),
]


@query(
    "lm_bigram_quality",
    # corpus-LM fluency: per-doc average of µ-quantized P(w2|w1) — every
    # step an integer floor ((c_xy*1e6)//c_x per occurrence, sum//count
    # per doc), so the check is bit-exact; the log-free KenLM-filter
    # analogue (pmi_top_bigrams precedent)
    r"""WITH t AS (SELECT doc_id AS id,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
  FROM documents),
occ AS (SELECT id, w[i] AS w1, w[i+1] AS w2
        FROM (SELECT id, w, unnest(range(1, len(w))) AS i FROM t
              WHERE len(w) >= 2)),
db AS (SELECT id, w1, w2, count(*) AS n FROM occ GROUP BY 1, 2, 3),
bc AS (SELECT w1, w2, count(*) AS c_xy FROM occ GROUP BY 1, 2),
uni AS (SELECT unnest(w) AS w1 FROM t),
uc AS (SELECT w1, count(*) AS c_x FROM uni GROUP BY 1),
s AS (SELECT id, n, (c_xy * 1000000) // c_x AS s
      FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1))
SELECT id, CAST(sum(n) AS BIGINT) AS n_bigrams,
  CAST(sum(n * s) // sum(n) AS BIGINT) AS avg_cond_q
FROM s GROUP BY id""",
)
def lm_bigram_quality(spark, sf_dir):
    return text.lm_bigram_quality(_docs(spark, sf_dir), "doc_id", "text")


def _lang_case_sql(texpr: str, tag: str) -> str:
    """The lang_id marker-argmax as DuckDB SQL over an arbitrary text
    expression — the text_lang_id oracle generalized (same CASE order)."""
    scores = ", ".join(
        f"len(list_intersect(list_filter(regexp_split_to_array(lower({texpr}),"
        f"'\\s+'),x->x<>''), {markers})) s_{tag}_{lang}"
        for lang, markers in sorted(text.LANG_MARKERS.items())
    )
    g = f"greatest(s_{tag}_de, s_{tag}_en, s_{tag}_es, s_{tag}_fr)"
    case = (
        f"CASE WHEN {g} <= 0 THEN 'und'"
        + "".join(
            f" WHEN s_{tag}_{lang} = {g} THEN '{lang}'"
            for lang in sorted(text.LANG_MARKERS)
        )
        + " END"
    )
    return scores, case


_MIX_S1, _MIX_C1 = _lang_case_sql("t1", "a")
_MIX_S2, _MIX_C2 = _lang_case_sql("t2", "b")


@query(
    "mixed_language_flags",
    # language disagreement between the word-midpoint halves — the same
    # marker-argmax CASE as text_lang_id applied to each half; docs with
    # < 2 words can't split and don't appear
    rf"""WITH w AS (SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS wd
  FROM documents),
h AS (SELECT doc_id,
    array_to_string(wd[1:greatest(len(wd)//2, 1)], ' ') AS t1,
    array_to_string(wd[greatest(len(wd)//2, 1)+1:len(wd)], ' ') AS t2
  FROM w WHERE len(wd) >= 2),
s AS (SELECT doc_id, {_MIX_S1}, {_MIX_S2} FROM h),
l AS (SELECT doc_id, {_MIX_C1} AS lang_head, {_MIX_C2} AS lang_tail FROM s)
SELECT doc_id AS id, lang_head, lang_tail,
  CAST(lang_head <> lang_tail AS INT) AS mixed FROM l""",
)
def mixed_language_flags(spark, sf_dir):
    return text.mixed_language_flags(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "token_drift_by_source",
    # per-source total-variation drift vs the corpus token distribution —
    # exact integer arithmetic end-to-end (absent tokens handled
    # algebraically: (N - Σ_present c_t)·N_g); sources with zero tokens
    # don't appear (no distribution to compare)
    r"""WITH toks AS (SELECT source AS grp,
    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
  FROM documents),
gt AS (SELECT grp, tok, count(*) AS c_gt FROM toks GROUP BY 1, 2),
ct AS (SELECT tok, CAST(sum(c_gt) AS BIGINT) AS c_t FROM gt GROUP BY 1),
tot AS (SELECT grp, CAST(sum(c_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
na AS (SELECT CAST(sum(c_gt) AS BIGINT) AS n_all FROM gt),
agg AS (SELECT grp, any_value(n_g) AS n_g, any_value(n_all) AS n_all,
    CAST(sum(abs(c_gt * n_all - c_t * n_g)) AS BIGINT) AS s_abs,
    CAST(sum(c_t) AS BIGINT) AS ct_present
  FROM gt JOIN ct USING (tok) CROSS JOIN na JOIN tot USING (grp)
  GROUP BY grp)
SELECT grp AS source, n_g AS n_tokens,
  (s_abs + (n_all - ct_present) * n_g) * 1000000
    // (2 * n_g * n_all) AS tv_q6
FROM agg""",
)
def token_drift_by_source(spark, sf_dir):
    return text.token_tv_drift(_docs(spark, sf_dir), "doc_id", "text", "source")


@query(
    "knn_join_topk",
    # batched kNN join: exact cosine top-5 corpus neighbors for EVERY
    # query row (vec_id % 17 = 3 probe batch); self-pairs and zero-norm
    # vectors excluded on both engines; q6 ties break by neighbor id
    f"""WITH v AS (SELECT vec_id id, embedding::DOUBLE[] e FROM embeddings
  WHERE list_sum(list_transform(range(1,65), i -> embedding[i]*embedding[i])) > 0),
q AS (SELECT id, e FROM v WHERE id % 17 = 3),
p AS (SELECT q.id AS query_id, c.id AS neighbor_id,
        floor(({_COS('c.e', 'q.e')})*1e6 + 0.5)/1e6 AS cos_sim
      FROM q JOIN v c ON c.id <> q.id),
r AS (SELECT query_id, neighbor_id, cos_sim,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM p)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",
)
def knn_join_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 17 == 3)
    return similarity.knn_join(probes, emb, "vec_id", "embedding", k=5)


@query(
    "negative_sample_pairs",
    # deterministic in-bucket negative sampling (contrastive training):
    # hash-bucketed rows, per-bucket hash order, cyclic shifts 1..k —
    # every pairing a pure function of (seed, ids) on both engines
    """WITH pos AS (SELECT doc_id AS id,
    CAST(('0x'||substr(md5('neg|b|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
      % 16 AS bucket,
    CAST(('0x'||substr(md5('neg|p|'||CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT)
      AS pos
  FROM documents),
rn AS (SELECT id, bucket,
    row_number() OVER (PARTITION BY bucket ORDER BY pos, id) AS rn,
    count(*) OVER (PARTITION BY bucket) AS m FROM pos),
probes AS (SELECT id, bucket, rn, m, unnest(range(1, 5)) AS slot FROM rn),
sel AS (SELECT id, CAST(slot AS BIGINT) AS slot, bucket,
        ((rn - 1 + slot) % m) + 1 AS target
        FROM probes WHERE slot < m)
SELECT s.id, s.slot, r.id AS neg_id
FROM sel s JOIN rn r ON r.bucket = s.bucket AND r.rn = s.target""",
)
def negative_sample_pairs(spark, sf_dir):
    from go_streaming_spark.functions.sampling import bucketed_negative_samples

    out = bucketed_negative_samples(
        _docs(spark, sf_dir), "doc_id", k=4, n_buckets=16
    )
    return out.select("id", F.col("slot").cast("long").alias("slot"), "neg_id")


@query(
    "leakage_safe_split_counts",
    # near-dup-aware split: hash the component representative (min member
    # id from the same MinHash-LSH component oracle dedup_clusters uses;
    # singletons hash their own id) so a near-dup pair can never straddle
    # train/test.  Thresholds identical to hash_split_counts.
    f"""WITH RECURSIVE {_MINHASH_CTES},
pairs AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (SELECT u AS node, v AS r FROM edges
          UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
comp AS (SELECT node AS doc_id, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
k AS (SELECT d.source, COALESCE(c.cluster_id, d.doc_id) AS rep
      FROM documents d LEFT JOIN comp c USING (doc_id)),
b AS (SELECT source,
  CAST(('0x'||substr(md5('split|'||CAST(rep AS VARCHAR)),1,8)) AS BIGINT) h
  FROM k)
SELECT CASE WHEN h < {_T_TRAIN} THEN 'train' WHEN h < {_T_VAL} THEN 'val'
       ELSE 'test' END AS split, source, count(*) AS n
FROM b GROUP BY 1, 2""",
)
def leakage_safe_split_counts(spark, sf_dir):
    from go_streaming_spark.functions.sampling import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=16, rows_per_band=4, threshold=0.2
    )
    out = leakage_safe_split(
        docs, "doc_id", pairs.select("id_a", "id_b"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    return out.groupBy("split", "source").agg(F.count(F.lit(1)).alias("n"))


@query(
    "dedup_keep_best_survivors",
    # keep-BEST near-dup dedup: within each MinHash component the
    # survivor maximizes the hashed-linear quality margin (min id on
    # ties); unpaired docs survive unconditionally.  Oracle = recursive
    # components + the margin CTE + per-component row_number.
    f"""WITH RECURSIVE {_MINHASH_CTES},
prs AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j USING(id_a, id_b) WHERE j.jaccard >= 0.2),
edges AS (SELECT id_a AS u, id_b AS v FROM prs UNION SELECT id_b, id_a FROM prs),
reach AS (SELECT u AS node, v AS r FROM edges
          UNION SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
comp AS (SELECT node AS doc_id, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
t AS (SELECT doc_id AS id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents),
tok AS (SELECT id, unnest(w) AS tok FROM t),
wt AS (SELECT id,
    (CAST('0x' || substr(md5('w|qmodel|' ||
        CAST(CAST('0x' || substr(md5('qmodel|' || tok), 1, 8) AS BIGINT)
             % 4096 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS wv
  FROM tok),
mg AS (SELECT t.id, CAST(COALESCE(sum(wv), 0) AS BIGINT) AS margin
       FROM t LEFT JOIN wt ON t.id = wt.id GROUP BY t.id),
fl AS (SELECT mg.id, c.cluster_id AS comp, mg.margin
       FROM mg LEFT JOIN comp c ON mg.id = c.doc_id),
rk AS (SELECT id, margin,
    row_number() OVER (PARTITION BY comp ORDER BY margin DESC, id) AS rn
  FROM fl WHERE comp IS NOT NULL)
SELECT id, margin FROM rk WHERE rn = 1
UNION ALL
SELECT id, margin FROM fl WHERE comp IS NULL""",
)
def dedup_keep_best_survivors(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=16, rows_per_band=4, threshold=0.2
    )
    scored = docs.join(
        text.hashed_linear_score(docs, "doc_id", "text").select("id", "margin"),
        docs.doc_id == F.col("id"),
    ).select("doc_id", "margin")
    kept = dedup.keep_best_per_component(
        scored, "doc_id", pairs.select("id_a", "id_b"), "margin"
    )
    return kept.select(F.col("doc_id").alias("id"), "margin")


@query(
    "quality_linear_scores",
    # frozen hashed-feature linear model (fastText/CCNet classifier
    # shape): per-occurrence bucket weights from the md5 idiom, exact
    # int64 margin, floor-division via the subtract-nonneg-remainder
    # idiom (BOTH engines truncate toward zero — the idiom exists to
    # give consistent floor semantics for negative margins, not to
    # bridge an engine difference).  Zero-token docs: margin 0, NULL
    # score.
    r"""WITH t AS (SELECT doc_id AS id,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents),
tok AS (SELECT id, unnest(w) AS tok FROM t),
wt AS (SELECT id,
    (CAST('0x' || substr(md5('w|qmodel|' ||
        CAST(CAST('0x' || substr(md5('qmodel|' || tok), 1, 8) AS BIGINT)
             % 4096 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS wv
  FROM tok),
agg AS (SELECT id, count(*) AS n, CAST(sum(wv) AS BIGINT) AS margin
        FROM wt GROUP BY id)
SELECT t.id, CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(agg.margin, 0) AS BIGINT) AS margin,
  CASE WHEN COALESCE(agg.n, 0) > 0 THEN
    (agg.margin * 1000000
     - (((agg.margin * 1000000) % agg.n) + agg.n) % agg.n) // agg.n
  ELSE NULL END AS score_q
FROM t LEFT JOIN agg ON t.id = agg.id""",
)
def quality_linear_scores(spark, sf_dir):
    return text.hashed_linear_score(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "quality_score_auc",
    # EXACT Mann-Whitney ROC-AUC of the frozen quality margin predicting
    # lang='en' — the classifier-eval one-number at corpus scale.
    # All-integer: tie groups get average-rank via the 2·rank-sum
    # identity, auc_q6 is one int64 floor division; the oracle's plain
    # global window verifies the engine's 256-bucket distributed prefix
    # sum (the token-budget pattern)
    r"""WITH t AS (SELECT doc_id AS id, lang,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents),
tok AS (SELECT id, unnest(w) AS tok FROM t),
wt AS (SELECT id,
    (CAST('0x' || substr(md5('w|qmodel|' ||
        CAST(CAST('0x' || substr(md5('qmodel|' || tok), 1, 8) AS BIGINT)
             % 4096 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS wv
  FROM tok),
agg AS (SELECT id, CAST(sum(wv) AS BIGINT) AS margin FROM wt GROUP BY id),
sc AS (SELECT t.id, CAST(COALESCE(agg.margin, 0) AS BIGINT) AS s,
        CASE WHEN t.lang = 'en' THEN 1 ELSE 0 END AS y
     FROM t LEFT JOIN agg ON t.id = agg.id),
g AS (SELECT s, count(*) AS c, CAST(sum(y) AS BIGINT) AS p FROM sc GROUP BY s),
o AS (SELECT c, p, CAST(sum(c) OVER (ORDER BY s) AS BIGINT) AS cum FROM g),
a AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
       CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS s2 FROM o)
SELECT n, n_pos, n - n_pos AS n_neg,
  CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
    CAST((s2 - n_pos * (n_pos + 1)) * 1000000
         // (2 * n_pos * (n - n_pos)) AS BIGINT)
  ELSE NULL END AS auc_q6
FROM a""",
)
def quality_score_auc(spark, sf_dir):
    from go_streaming_spark.functions.stats import classifier_auc

    docs = _docs(spark, sf_dir)
    scored = text.hashed_linear_score(docs, "doc_id", "text")
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return classifier_auc(scored.join(lab, "id"), "margin", "y")


@query(
    "quality_auc_by_source",
    # the per-SOURCE scorer-health report: same exact rank statistic,
    # every window group-partitioned (strata fully parallel); the oracle
    # is the plain per-group window
    r"""WITH t AS (SELECT doc_id AS id, lang, source,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents),
tok AS (SELECT id, unnest(w) AS tok FROM t),
wt AS (SELECT id,
    (CAST('0x' || substr(md5('w|qmodel|' ||
        CAST(CAST('0x' || substr(md5('qmodel|' || tok), 1, 8) AS BIGINT)
             % 4096 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS wv
  FROM tok),
agg AS (SELECT id, CAST(sum(wv) AS BIGINT) AS margin FROM wt GROUP BY id),
sc AS (SELECT t.source, CAST(COALESCE(agg.margin, 0) AS BIGINT) AS s,
        CASE WHEN t.lang = 'en' THEN 1 ELSE 0 END AS y
     FROM t LEFT JOIN agg ON t.id = agg.id),
g AS (SELECT source, s, count(*) AS c, CAST(sum(y) AS BIGINT) AS p
      FROM sc GROUP BY source, s),
o AS (SELECT source, c, p,
       CAST(sum(c) OVER (PARTITION BY source ORDER BY s) AS BIGINT) AS cum
      FROM g),
a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
       CAST(sum(p) AS BIGINT) AS n_pos,
       CAST(sum(p * (2 * cum - c + 1)) AS BIGINT) AS s2
      FROM o GROUP BY source)
SELECT source, n, n_pos, n - n_pos AS n_neg,
  CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
    CAST((s2 - n_pos * (n_pos + 1)) * 1000000
         // (2 * n_pos * (n - n_pos)) AS BIGINT)
  ELSE NULL END AS auc_q6
FROM a""",
)
def quality_auc_by_source(spark, sf_dir):
    from go_streaming_spark.functions.stats import classifier_auc

    docs = _docs(spark, sf_dir)
    scored = text.hashed_linear_score(docs, "doc_id", "text")
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.col("source"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return classifier_auc(
        scored.join(lab, "id"), "margin", "y", group_col="source"
    )


@query(
    "quality_calibration_bins",
    # AUC's companion: reliability counts per fixed-width margin bin
    # (rank-free, so no tie semantics to bridge) — does a score band
    # mean what it claims?  rate_q6 is one exact int division per bin
    r"""WITH t AS (SELECT doc_id AS id, lang,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents),
tok AS (SELECT id, unnest(w) AS tok FROM t),
wt AS (SELECT id,
    (CAST('0x' || substr(md5('w|qmodel|' ||
        CAST(CAST('0x' || substr(md5('qmodel|' || tok), 1, 8) AS BIGINT)
             % 4096 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS wv
  FROM tok),
agg AS (SELECT id, CAST(sum(wv) AS BIGINT) AS margin FROM wt GROUP BY id),
sc AS (SELECT CAST(COALESCE(agg.margin, 0) AS BIGINT) AS s,
        CASE WHEN t.lang = 'en' THEN 1 ELSE 0 END AS y
     FROM t LEFT JOIN agg ON t.id = agg.id),
mm AS (SELECT min(s) AS lo, max(s) AS hi FROM sc),
b AS (SELECT ((s - lo) * 10) // (hi - lo + 1) AS bin, s, y FROM sc, mm)
SELECT CAST(bin AS BIGINT) AS bin, min(s) AS lo_s,
  count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
  CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS rate_q6
FROM b GROUP BY bin""",
)
def quality_calibration_bins(spark, sf_dir):
    from go_streaming_spark.functions.stats import score_calibration_bins

    docs = _docs(spark, sf_dir)
    scored = text.hashed_linear_score(docs, "doc_id", "text")
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    return score_calibration_bins(
        scored.join(lab, "id"), "margin", "y", n_bins=10
    )


@query("stream_quality_score_auc")
def stream_quality_score_auc(spark, sf_dir):
    """The scorer-health AUC from STREAMING-accumulated state: each
    micro-batch reduces to (score, count, positives) tie groups, which
    merge across batches BY ADDITION — exact, not a sketch — and the
    final rank statistic asks the question of the held state.  Equals
    the batch quality_score_auc bit-for-bit, so it gates against the
    same oracle (the stream_theta/stream_hll shape)."""
    import tempfile

    from go_streaming_spark.functions.stats import (
        classifier_auc_from_tie_groups,
    )

    docs = _docs(spark, sf_dir)
    scored = text.hashed_linear_score(docs, "doc_id", "text")
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    sy = scored.join(lab, "id").select(
        F.col("margin").cast("long").alias("__s"), F.col("y").alias("__y")
    )
    tmp = tempfile.mkdtemp(prefix="stream_auc_")
    sy.repartition(4).write.mode("overwrite").parquet(f"{tmp}/sy")
    stream = (
        spark.readStream.schema(sy.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/sy")
    )
    holder = {"g": None, "batches": 0}

    def ingest(batch_df, _bid):
        part = (
            batch_df.withColumn("__g", F.lit(""))
            .groupBy("__g", "__s")
            .agg(F.count(F.lit(1)).alias("__c"), F.sum("__y").alias("__p"))
        )
        merged = part if holder["g"] is None else (
            holder["g"].unionByName(part)
            .groupBy("__g", "__s")
            .agg(F.sum("__c").alias("__c"), F.sum("__p").alias("__p"))
        )
        holder["g"] = merged.localCheckpoint()
        holder["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp}/ckpt")
        .start()
    )
    q.awaitTermination()
    assert holder["batches"] >= 2, "replay must produce real micro-batches"
    return classifier_auc_from_tie_groups(holder["g"])


ORACLES["stream_quality_score_auc"] = ORACLES["quality_score_auc"]


# --- BPE oracles -----------------------------------------------------------
# Greedy left-to-right merge-with-skip IS SQL-expressible after all: encode
# the symbol list as a string with DOUBLE-space separators and single-space
# ends (' a  b  c '), and a merge of pair (a,b) is one literal
# replace(s, ' a  b ', ' ab ') — SQL replace consumes non-overlapping
# occurrences left-to-right, which is exactly the skip-after-merge scan, and
# the doubled separators stop adjacent occurrences from sharing a boundary
# space (' a  a  a  a ' → ' aa  aa ', the case single separators get wrong).
# Each chained CTE is MATERIALIZED: s{k} has two consumers (p{k+1} and
# s{k+1}), so un-materialized inlining is 2^k plan blow-up.

_BPE_WORDS = (
    "SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),"
    " x -> x <> '')) AS word FROM documents"
)
_BPE_SYMS = "' ' || array_to_string(string_split(word, ''), '  ') || ' '"


def _bpe_learn_oracle(n_merges: int) -> str:
    parts = [
        f"""v0 AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM ({_BPE_WORDS}) GROUP BY word),
s0 AS MATERIALIZED (SELECT freq, {_BPE_SYMS} AS s FROM v0)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"""p{k} AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> syms[i] || ' ' || syms[i+1])) AS pair
    FROM (SELECT freq, string_split(trim(s), '  ') AS syms FROM s{k-1})
    WHERE len(syms) >= 2) GROUP BY pair),
t{k} AS MATERIALIZED (SELECT CAST({k} AS BIGINT) AS rank, pair, n
    FROM p{k} ORDER BY n DESC, pair LIMIT 1),
s{k} AS MATERIALIZED (SELECT freq, replace(s,
    ' ' || split_part((SELECT pair FROM t{k}), ' ', 1) || '  '
        || split_part((SELECT pair FROM t{k}), ' ', 2) || ' ',
    ' ' || replace((SELECT pair FROM t{k}), ' ', '') || ' ') AS s
    FROM s{k-1})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM t{k}" for k in range(1, n_merges + 1))
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT rank, pair, n AS n_occ FROM ({union})"
    )


def _bpe_encode_oracle(merges: list[tuple[str, str]]) -> str:
    rep = _BPE_SYMS
    for a, b in merges:
        rep = f"replace({rep}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""WITH wc AS MATERIALIZED (
  SELECT id, word, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT doc_id AS id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
        x -> x <> '')) AS word FROM documents)
  GROUP BY id, word),
enc AS (SELECT word, CAST(len(string_split(trim({rep}), '  ')) AS INT) AS pieces
        FROM (SELECT DISTINCT word FROM wc))
SELECT id, CAST(sum(n) AS BIGINT) AS n_words,
       CAST(sum(n * pieces) AS BIGINT) AS n_pieces
FROM wc JOIN enc USING (word) GROUP BY id"""


_BPE_FIXED_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d")]


@query("bpe_encode_counts", _bpe_encode_oracle(_BPE_FIXED_MERGES))
def bpe_encode_counts(spark, sf_dir):
    """Per-doc token statistics after applying a fixed BPE merge list —
    the ENCODE half of the tokenizer story (bpe_top_merges is the
    trainer).  Oracle: the rank-ordered greedy fold unrolls as one
    nested literal replace per rule over the double-space symbol
    encoding (see _bpe_learn_oracle's comment); exactness is ALSO
    pinned by the pure-Python reference parity test
    (test_bpe_encode_matches_python_reference)."""
    return text.bpe_encode(
        _docs(spark, sf_dir), "doc_id", "text", _BPE_FIXED_MERGES
    )


@query("bpe_top_merges", _bpe_learn_oracle(8))
def bpe_top_merges(spark, sf_dir):
    """First 8 BPE merge rules learned from the documents corpus — the
    canonical greedy tokenizer-training step (Sennrich et al. 2016) in
    its word-count formulation (corpus touched once; iterations run over
    the weighted vocabulary).  Oracle: 8 unrolled merge rounds as
    chained MATERIALIZED CTEs — pair counts by list_transform over the
    symbol list, winner by (n DESC, pair) LIMIT 1, application by the
    double-separator replace trick; ties and counts are exact integers
    so the chain is deterministic on both engines.  Exactness is ALSO
    pinned by the pure-Python reference parity tests, the pagerank
    pattern."""
    return text.bpe_learn_merges(_docs(spark, sf_dir), "doc_id", "text",
                                 n_merges=8)


@query(
    "dedup_containment_pairs",
    # DIRECTED containment |sh(src) ∩ sh(dst)|/|sh(src)| — the asymmetric
    # near-dup measure: a short doc quoted inside a long one scores ~1
    # here but ~0 on union-normalized Jaccard.  Single exact-int division,
    # no quantization needed (the jaccard oracle precedent).  _SH_CAPPED:
    # the engine's default hot-shingle cap, mirrored
    f"""WITH {_SH_CAPPED},
j AS (SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b
      FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id)
SELECT id_src, id_dst, n_common, containment FROM (
  SELECT id_a AS id_src, id_b AS id_dst, n_common,
         n_common/n_a AS containment FROM j
  UNION ALL
  SELECT id_b AS id_src, id_a AS id_dst, n_common,
         n_common/n_b AS containment FROM j) u
WHERE containment >= 0.5""",
)
def dedup_containment_pairs(spark, sf_dir):
    return dedup.containment_pairs(
        _docs(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
    )


@query(
    "vocab_oov_rates",
    # per-doc coverage of the corpus's own top-24 vocabulary (count desc,
    # token tie-break): n_oov shuffles OOV occurrences only; n_tokens is
    # a map-side size(); oov_rate one exact-int division
    """WITH toks AS (SELECT doc_id AS id,
    unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
tok2 AS (SELECT id, token FROM toks WHERE token <> ''),
vc AS (SELECT token FROM (SELECT token, count(*) AS c FROM tok2
       GROUP BY 1 ORDER BY c DESC, token LIMIT 24)),
dl AS (SELECT id, count(*) AS n_tokens FROM tok2 GROUP BY 1),
oov AS (SELECT id, count(*) AS n_oov FROM tok2
        WHERE token NOT IN (SELECT token FROM vc) GROUP BY 1)
SELECT dl.id, dl.n_tokens, COALESCE(oov.n_oov, 0) AS n_oov,
  CAST(COALESCE(oov.n_oov, 0) AS DOUBLE)/n_tokens AS oov_rate
FROM dl LEFT JOIN oov USING (id)""",
)
def vocab_oov_rates(spark, sf_dir):
    return text.vocab_oov_rates(_docs(spark, sf_dir), "doc_id", "text", top_n=24)


@query(
    "bm25_topk_per_query",
    # batch retrieval: top-5 docs per query over a 3-query table — the
    # same engine-exact BM25 arithmetic as bm25_doc_scores (per-term
    # int64 quantization before the sum), the per-(doc,term) score
    # computed once and fanned out per query, ranked by a per-query
    # window with id tiebreak
    f"""WITH qt(query_id, token) AS (VALUES {", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)}),
toks AS (SELECT doc_id AS id,
    unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
tok2 AS (SELECT id, token FROM toks WHERE token <> ''),
dl AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY 1),
tf AS (SELECT id, token, count(*) AS tf FROM tok2
  WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
dfr AS (SELECT token, count(*) AS dfr FROM tf GROUP BY 1),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
scored AS (SELECT tf.id, tf.token,
  CAST(floor( ((n_docs - dfr + CAST({0.5!r} AS DOUBLE))/(dfr + CAST({0.5!r} AS DOUBLE)))
      * ((tf * CAST({_BM25_K1 + 1.0!r} AS DOUBLE))
         / (tf + CAST({_BM25_K1!r} AS DOUBLE)*(CAST({1.0 - _BM25_B!r} AS DOUBLE)
            + CAST({_BM25_B!r} AS DOUBLE)*(CAST(dl*n_docs AS DOUBLE)/total_tokens))))
      * 1e6 + CAST({0.5!r} AS DOUBLE)) AS BIGINT) AS sq
  FROM tf JOIN dl USING (id) CROSS JOIN corpus JOIN dfr USING (token)),
persum AS (SELECT qt.query_id, s.id, CAST(SUM(s.sq) AS DOUBLE)/1e6 AS bm25
  FROM scored s JOIN qt ON s.token = qt.token GROUP BY 1, 2)
SELECT query_id, id, bm25, rank FROM (
  SELECT query_id, id, bm25,
    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rank
  FROM persum) WHERE rank <= 5""",
)
def bm25_topk_per_query(spark, sf_dir):
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id long, term string")
    return text.bm25_topk(
        _docs(spark, sf_dir), "doc_id", "text", qdf, k=5,
        k1=_BM25_K1, b=_BM25_B,
    )


@query(
    "inverted_index_postings",
    # term → serialized postings list; df bounds prune the hapax tail
    # (min_df) and the stopword-class hot keys (max_df) — the same cutoffs
    # a production index applies, and the skew valve for the Zipf-heavy
    # groupBy(token).  Postings serialize "id:tf" ascending by id, so the
    # compare is a plain string multiset.
    """WITH toks AS (SELECT doc_id AS id,
    unnest(string_split_regex(text, '\\s+')) AS token FROM documents),
tok2 AS (SELECT id, token FROM toks WHERE token <> ''),
tf AS (SELECT id, token, count(*) AS tf FROM tok2 GROUP BY 1, 2)
SELECT token AS term, count(*) AS df_docs,
  CAST(sum(tf) AS BIGINT) AS total_tf,
  string_agg(id || ':' || tf, ',' ORDER BY id) AS postings
FROM tf GROUP BY token
HAVING count(*) >= 2 AND count(*) <= 400""",
)
def inverted_index_postings(spark, sf_dir):
    return text.inverted_index(
        _docs(spark, sf_dir), "doc_id", "text", min_df=2, max_df=400
    )


@query(
    "dedup_edit_distance",
    # bounded-Levenshtein near-dup pairs over the 80-char prefix: the
    # oracle is the quadratic ground truth (length prefilter only); the
    # engine must find exactly the same pairs from its length-bucket
    # blocking — a missed pair is a blocking soundness bug, not noise.
    # Non-ASCII projects to '?' on BOTH sides first: DuckDB's levenshtein
    # is byte-level while Spark's is character-level, so 'café' costs 5
    # edits there and 4 here — the projection (documented in
    # edit_distance_pairs) makes byte == character and the DP identical
    r"""WITH k AS (SELECT doc_id AS id,
    substr(regexp_replace(text, '[^\x00-\x7F]', '?', 'g'), 1, 80) AS k
  FROM documents)
SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.k, b.k) AS dist
FROM k a JOIN k b ON a.id < b.id AND abs(length(a.k) - length(b.k)) <= 8
WHERE levenshtein(a.k, b.k) <= 8""",
)
def dedup_edit_distance(spark, sf_dir):
    return dedup.edit_distance_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_dist=8, prefix_len=80
    )


@query(
    "review_queue_sample",
    # human-review queue: k=3 deterministic example docs per language,
    # chosen by id hash (stable across reruns — reviewers see the same
    # queue), ordered within group by the hash with id tie-break
    f"""WITH s AS (SELECT doc_id, lang,
    CAST(('0x'||substr(md5('review|'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
      AS h FROM documents),
r AS (SELECT doc_id, lang, h,
    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM s)
SELECT lang, doc_id, CAST(rn AS BIGINT) AS pick
FROM r WHERE rn <= 3""",
)
def review_queue_sample(spark, sf_dir):
    # per-group deterministic top-k by hash: the sampling shape for QC
    # review queues (same docs every rerun, unlike LIMIT's plan-dependent
    # pick).  One window per group — partitioned by the group key, so the
    # sort is per-group and parallel; at 100 TB pre-filter with
    # deterministic_sample to keep the window input bounded.
    from pyspark.sql.window import Window

    from go_streaming_spark.functions.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    h = hash_bucket(F.col("doc_id"), "review")
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 3)
        .select("lang", "doc_id", F.col("pick").cast("long").alias("pick"))
    )


@query(
    "tokenizer_fertility_by_lang",
    # tokenizer-eval staple: BPE-ish pieces per whitespace word, by
    # language — µ-quantized exact integer division; zero-word docs
    # contribute nothing (no words to tokenize)
    rf"""WITH t AS (SELECT lang,
    len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
      AS n_words,
    len(regexp_extract_all(text, '{text.BPE_TOKEN_RE}')) AS n_pieces
  FROM documents)
SELECT lang, CAST(sum(n_words) AS BIGINT) AS n_words,
  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
  CAST((sum(n_pieces) * 1000000) // sum(n_words) AS BIGINT) AS fertility_q
FROM t WHERE n_words > 0 GROUP BY lang""",
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    # fertility = pieces per word: the per-language tokenizer quality
    # metric (high fertility = the tokenizer fragments that language).
    # Map-only feature extraction + one groupBy(lang).
    docs = _docs(spark, sf_dir)
    counted = text.token_counts(docs, "doc_id", "text", carry=["lang"])
    agg = (
        counted.filter(F.col("n_words") > 0)
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_pieces").alias("n_pieces"),
        )
    )
    return agg.selectExpr(
        "lang", "n_words", "n_pieces",
        "(n_pieces * 1000000) div n_words AS fertility_q",
    )


@query(
    "compression_ratio_stats",
    # zlib itself isn't SQL-expressible (DuckDB has no zlib), so the gate
    # checks the derived invariant: the oracle emits the literal expected
    # bounds flag (1 per non-empty doc) and the Spark side computes it FROM
    # the real zlib output — any mis-wiring that lands c_bytes outside
    # zlib's published [max(9, n/1100), n + n/1000 + 64] guarantees reds
    # the row.  Exact c_bytes stays pinned by the direct-zlib parity test.
    """SELECT doc_id AS id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CASE WHEN octet_length(encode(text)) > 0 THEN 1 ELSE NULL END AS bounds_ok
FROM documents""",
)
def compression_ratio_stats(spark, sf_dir):
    """zlib compression-bounds audit over the documents corpus — the
    gate-checkable face of the templated-text compression screen (the
    full per-doc ratio stays available as text.compression_ratio; see
    compression_bounds_audit's docstring for the invariant-oracle
    pattern)."""
    return text.compression_bounds_audit(_docs(spark, sf_dir), "doc_id", "text")


@query(
    "source_health_report",
    # per-source corpus health scorecard: volume, exact-dup rate, PII
    # exposure, and the frozen-model quality margin — the four signals a
    # release review reads, composed over ONE scan + one groupBy
    # (duplicate detection via count distinct digest; margin stays an
    # exact integer sum / count floor)
    r"""WITH t AS (SELECT source, doc_id, text, md5(text) AS dg,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w,
    len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS pii
  FROM documents),
wt AS (SELECT source, doc_id,
    (CAST('0x' || substr(md5('w|qmodel|' ||
        CAST(CAST('0x' || substr(md5('qmodel|' || tok), 1, 8) AS BIGINT)
             % 4096 AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000 AS wv
  FROM (SELECT source, doc_id, unnest(w) AS tok FROM t)),
mg AS (SELECT source, doc_id, CAST(COALESCE(sum(wv), 0) AS BIGINT) AS margin
       FROM t LEFT JOIN wt USING (source, doc_id) GROUP BY 1, 2)
SELECT t.source, count(*) AS n_docs,
  count(DISTINCT t.dg) AS n_unique,
  CAST(sum(CASE WHEN t.pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_with_email,
  CAST(sum(mg.margin) AS BIGINT) AS margin_sum
FROM t JOIN mg ON t.source = mg.source AND t.doc_id = mg.doc_id
GROUP BY 1""",
)
def source_health_report(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scored = text.hashed_linear_score(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "margin"
    )
    base = docs.select(
        "source", "doc_id",
        F.md5("text").alias("dg"),
        (
            F.regexp_count(
                F.col("text"),
                F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
            )
            > 0
        ).cast("int").alias("has_email"),
    ).join(scored, "doc_id")
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("dg").alias("n_unique"),
        F.sum("has_email").cast("long").alias("docs_with_email"),
        F.sum("margin").alias("margin_sum"),
    )


@query(
    "dedup_source_matrix",
    # provenance insight: near-dup pair counts BETWEEN sources (which
    # feeds copy from which — mirror sites, syndication, scraper echo).
    # Unordered source pair (lexicographic) so the matrix is triangular.
    f"""WITH {_MINHASH_CTES},
prs AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j USING(id_a, id_b)
        WHERE j.jaccard >= 0.2),
lab AS (SELECT p.id_a, p.id_b, da.source AS sa, db.source AS sb
        FROM prs p JOIN documents da ON p.id_a = da.doc_id
                   JOIN documents db ON p.id_b = db.doc_id)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       count(*) AS n_pairs
FROM lab GROUP BY 1, 2""",
)
def dedup_source_matrix(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=16, rows_per_band=4, threshold=0.2
    ).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
    )
    return (
        lab.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "embedding_dim_stats",
    # embedding QC: per-dimension exact µ-int moment sums (collapsed-dim
    # and normalization-bug detection); integer-exact both engines
    """SELECT d - 1 AS d, count(*) AS n,
  CAST(sum(xq) AS BIGINT) AS sum_q,
  CAST(sum(xq * xq) AS BIGINT) AS sumsq_q
FROM (SELECT unnest(range(1, 65)) AS d, e FROM
        (SELECT embedding::DOUBLE[] AS e FROM embeddings)),
LATERAL (SELECT CAST(floor(e[CAST(d AS INT)] * 1e6 + 0.5) AS BIGINT) AS xq) x
GROUP BY 1""",
)
def embedding_dim_stats(spark, sf_dir):
    return similarity.embedding_dim_stats(
        _emb(spark, sf_dir), "vec_id", "embedding", dim=64
    )


def _probe_gram_oracle(k: int = 8, seed: str = "probe") -> str:
    """Oracle for the one-pass linear-probe training statistic: per-doc
    hashed bucket counts (same md5 idiom as the engine), then every
    (i<=j) cell of the AUGMENTED gram matrix [X|y]'[X|y] as exact int64
    sums — one UNION ALL arm per cell, all over one tiny feature CTE."""
    feats = ", ".join(
        f"coalesce(sum(CASE WHEN bk={i} THEN 1 END), 0) AS f{i}"
        for i in range(k)
    )
    cols = [f"f{i}" for i in range(k)] + ["y"]
    arms = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j,"
        f" CAST(sum({cols[i]}*{cols[j]}) AS BIGINT) AS v FROM f"
        for i in range(k + 1)
        for j in range(i, k + 1)
    )
    return rf"""WITH t AS (SELECT doc_id AS id, lang,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents),
tok AS (SELECT id, unnest(w) AS tok FROM t),
b AS (SELECT id, CAST('0x' || substr(md5('{seed}|' || tok), 1, 8) AS BIGINT)
        % {k} AS bk FROM tok),
f AS (SELECT t.id, {feats},
        CASE WHEN t.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM t LEFT JOIN b ON t.id = b.id GROUP BY t.id, t.lang)
{arms}"""


@query("quality_probe_gram", _probe_gram_oracle())
def quality_probe_gram(spark, sf_dir):
    # the TRAINING side of the quality-probe story (hashed_linear_score
    # is the serving side): one map-side-combined pass accumulates the
    # augmented gram matrix [X|y]'[X|y] over hashed bag-of-words
    # features — the sufficient statistic of ridge regression.  State is
    # the fixed (k+1)(k+2)/2 int64 cells at ANY corpus size, merges by
    # addition across partitions/batches/corpora, and
    # stats.ridge_fit_from_gram solves the k x k system on the driver.
    # All-integer: exact and engine-portable (oracle = the same 45 sums).
    from go_streaming_spark.functions.stats import gram_matrix_long

    docs = _docs(spark, sf_dir)
    feats = text.hashed_bucket_features(docs, "doc_id", "text", k=8, seed="probe")
    lab = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("y"),
    )
    return gram_matrix_long(feats.join(lab, "id"), [f"f{i}" for i in range(8)], "y")
