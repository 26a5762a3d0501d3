"""CorpusState lifecycle: build → ingest → update → persist → resume."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_streaming_spark.functions.corpus_state import CorpusState


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BOILER = " ".join(f"b{i}" for i in range(10))
CORPUS = [
    (1, f"alpha beta gamma delta epsilon zeta eta theta {BOILER}"),
    (2, "one two three four five six seven eight nine ten"),
]


def test_ingest_drops_dups_and_reports_spans(spark):
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text", gram_k=8)
    batch = _df(spark, [
        (10, CORPUS[0][1]),                         # exact dup of corpus
        (11, "one two three four five six seven eight nine eleven"),  # near-dup of doc 2
        (12, "novel words entirely fresh content here today folks"),
        (13, "novel words entirely fresh content here today folks"),  # in-batch dup of 12
        (14, f"prefix tokens {BOILER} suffix tokens"),  # shares the corpus 8-gram run
    ])
    clean, st2 = st.ingest(batch, "doc_id", "text", threshold=0.5)
    got = {r.doc_id: r.dup_span_tokens for r in clean.collect()}
    # 10 exact-dropped, 11 near-dup-dropped (J=7/9 vs corpus doc 2),
    # 13 in-batch-dropped (duplicate of 12)
    assert set(got) == {12, 14}, got
    assert got[12] == 0
    assert got[14] == 10, "the shared 10-token boilerplate run must be flagged"

    # successive ingest: copies of batch-1 survivors are now corpus dups
    batch2 = _df(spark, [
        (20, "novel words entirely fresh content here today folks"),  # = doc 12
        (21, "completely different new material for the second crawl"),
    ])
    clean2, _ = st2.ingest(batch2, "doc_id", "text", threshold=0.5)
    assert [r.doc_id for r in clean2.collect()] == [21]


def _state_frames(st):
    """Each state frame as a multiset of rows (sorted reprs)."""
    return {
        name: sorted(repr(sorted(r.asDict().items())) for r in df.collect())
        for name, df in (
            ("digests", st.digests), ("bands", st.minhash.bands),
            ("shingles", st.minhash.shingles), ("grams", st.grams),
            ("cms", st.cms),
        )
    }


def test_ingest_state_equals_rebuild_over_corpus_and_survivors(spark):
    """Reference for the state update, independent of how it is computed:
    after an ingest, every state frame equals a fresh
    ``CorpusState.build`` over corpus ∪ survivors, as multisets.
    ``ingest_clean`` returns the same state, since the state indexes the
    as-crawled text, not the cut one."""
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text", gram_k=8)
    batch = _df(spark, [
        (10, CORPUS[0][1]),                         # exact dup of corpus
        (11, "one two three four five six seven eight nine eleven"),  # near-dup of doc 2
        (12, "novel words entirely fresh content here today folks"),
        (13, "novel words entirely fresh content here today folks"),  # in-batch exact dup
        (15, "novel words entirely fresh content here today people"),  # in-batch near dup
        (14, f"prefix tokens {BOILER} suffix tokens"),  # corpus span overlap
        (16, "tiny doc"),                           # fewer words than n
    ])
    clean, got = st.ingest(batch, "doc_id", "text", threshold=0.5)
    survivors = clean.select("doc_id", "text")
    assert sorted(r.doc_id for r in survivors.collect()) == [12, 14, 16]
    want = CorpusState.build(
        _df(spark, CORPUS).unionByName(survivors), "doc_id", "text", gram_k=8
    )
    got_frames = _state_frames(got)
    assert got_frames == _state_frames(want)
    cut, via_clean = st.ingest_clean(batch, "doc_id", "text", threshold=0.5)
    assert {r.doc_id: r.text for r in cut.collect()}[14] == (
        "prefix tokens suffix tokens"
    )
    assert _state_frames(via_clean) == got_frames


def test_state_save_load_roundtrip(spark, tmp_path):
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text", gram_k=8)
    path = str(tmp_path / "corpus_state")
    st.save(path)
    st2 = CorpusState.load(spark, path)
    assert (st2.n, st2.k, st2.rows_per_band, st2.gram_k) == (3, 16, 4, 8)
    batch = _df(spark, [
        (10, CORPUS[1][1]),                         # exact dup
        (11, "genuinely new text that matches nothing else at all"),
    ])
    mem, _ = st.ingest(batch, "doc_id", "text")
    disk, _ = st2.ingest(batch, "doc_id", "text")
    assert sorted(map(str, mem.collect())) == sorted(map(str, disk.collect()))
    assert [r.doc_id for r in disk.collect()] == [11]


def test_cms_state_accumulates(spark):
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text")
    batch = _df(spark, [(10, "alpha alpha alpha fresh fresh thing")])
    _, st2 = st.ingest(batch, "doc_id", "text")
    from go_streaming_spark.functions import sketch

    keys = spark.createDataFrame([("alpha",)], ["word"])
    before = sketch.count_min_estimate(st.cms, keys, "word", st.cms_depth, st.cms_width).head().est_count
    after = sketch.count_min_estimate(st2.cms, keys, "word", st.cms_depth, st.cms_width).head().est_count
    assert after == before + 3, (before, after)


def test_corpus_state_streaming_ingestion(spark, tmp_path):
    """CorpusState in a foreachBatch loop: micro-batches update the state
    object in turn, so a duplicate arriving in a LATER micro-batch is
    dropped against the survivors of an earlier one."""
    import json as _json

    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text")
    src = tmp_path / "crawl"
    src.mkdir()
    batches = [
        [(10, "fresh crawl text appearing for the first time now")],
        [(20, "fresh crawl text appearing for the first time now"),  # dup of 10
         (21, "and one more genuinely new body of text entirely")],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for did, txt in rows:
                f.write(_json.dumps({"doc_id": did, "text": txt}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    survivors: list[int] = []
    holder = {"st": st}

    def ingest(batch_df, _bid):
        clean, holder["st"] = holder["st"].ingest(batch_df, "doc_id", "text")
        survivors.extend(r.doc_id for r in clean.collect())

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(ingest)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # micro-batch ORDER is not part of the file-source contract, so assert
    # the order-free invariant: exactly ONE of the two identical docs
    # survives (whichever batch ran first), and the novel doc survives
    assert len(survivors) == 2 and 21 in survivors
    assert len({10, 20} & set(survivors)) == 1, survivors


def test_checkpoint_preserves_state_semantics(spark):
    """checkpoint() truncates lineage without changing behavior: ingest
    results are identical before and after."""
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text")
    batch = _df(spark, [(10, CORPUS[0][1]), (11, "all new words in this one")])
    mem, _ = st.ingest(batch, "doc_id", "text")
    chk, _ = st.checkpoint().ingest(batch, "doc_id", "text")
    assert sorted(map(str, mem.collect())) == sorted(map(str, chk.collect()))


def _plan_depth(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("\n")


def test_ingest_loop_plan_depth_bounded(spark):
    """The iterative-lineage trap, regression-guarded: each ingest layers a
    union+dedup over the previous state, so an unbounded loop grows plan
    depth linearly — checkpoint() every 2 batches must reset every state
    frame to a constant-depth scan, round after round."""
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text").checkpoint()
    base = max(
        _plan_depth(f)
        for f in (st.digests, st.minhash.bands, st.minhash.shingles,
                  st.grams, st.cms)
    )
    depths = []
    uncheckpointed = None
    for b in range(6):
        batch = _df(spark, [
            (1000 + 10 * b + j,
             f"round {b} document {j} with its own fresh vocabulary "
             f"w{b}a{j} w{b}b{j} w{b}c{j} w{b}d{j} w{b}e{j} w{b}f{j}")
            for j in range(2)
        ])
        clean, st = st.ingest(batch, "doc_id", "text")
        clean.count()  # drive each batch like a real foreachBatch loop
        if b == 1:
            # sanity: the metric detects growth — two un-checkpointed
            # ingests must have deepened the digest plan
            uncheckpointed = _plan_depth(st.digests)
        if b % 2 == 1:
            st = st.checkpoint()
            depths.append(max(
                _plan_depth(f)
                for f in (st.digests, st.minhash.bands, st.minhash.shingles,
                          st.grams, st.cms)
            ))
    assert uncheckpointed > base, (uncheckpointed, base)
    # every post-checkpoint depth identical and scan-shaped: lineage does
    # not accumulate across checkpoint rounds
    assert depths == [depths[0]] * len(depths), depths
    assert depths[0] <= base, (depths, base)


def test_ingest_clean_cuts_flagged_spans(spark):
    """ingest_clean = ingest + remove_spans: the survivor that shares the
    corpus boilerplate run loses EXACTLY those tokens from its text, the
    novel survivor passes through untouched, and the updated state still
    indexes the AS-CRAWLED text (a re-crawl of the original bytes is an
    exact dup)."""
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text", gram_k=8)
    batch = _df(spark, [
        (12, "novel words entirely fresh content here today folks"),
        (14, f"prefix tokens {BOILER} suffix tokens"),
    ])
    cleaned, st2 = st.ingest_clean(batch, "doc_id", "text", threshold=0.5)
    got = {r.doc_id: (r.text, r.dup_span_tokens) for r in cleaned.collect()}
    assert got[12] == ("novel words entirely fresh content here today folks", 0)
    assert got[14] == ("prefix tokens suffix tokens", 10)
    # state indexes the as-crawled text: re-crawling doc 14's ORIGINAL
    # bytes is an exact dup and must be dropped by the next ingest
    recrawl = _df(spark, [(30, f"prefix tokens {BOILER} suffix tokens")])
    again, _ = st2.ingest_clean(recrawl, "doc_id", "text", threshold=0.5)
    assert again.count() == 0


def test_bucketed_snapshot_roundtrip_and_ingest_plan(spark):
    """save_bucketed/load_bucketed: identical ingest results to the plain
    snapshot, and the per-batch corpus-side joins read the bucketed
    tables IN PLACE — the digest anti-join and the gram lookup plan
    without re-shuffling corpus-scale state (only batch-sized data
    moves per crawl batch at 100 TB)."""
    import shutil

    import pyspark.sql.functions as F

    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text", gram_k=8)
    batch = _df(spark, [
        (10, CORPUS[1][1]),                         # exact dup
        (11, "genuinely new text that matches nothing else at all"),
        (14, f"prefix tokens {BOILER} suffix tokens"),  # span overlap
    ])
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        st.save_bucketed("cs_t", n_buckets=8)
        st2 = CorpusState.load_bucketed(spark, "cs_t")
        assert (st2.n, st2.k, st2.rows_per_band, st2.gram_k) == (3, 16, 4, 8)
        mem, _ = st.ingest(batch, "doc_id", "text")
        disk, new_state = st2.ingest(batch, "doc_id", "text")
        assert sorted(map(str, mem.collect())) == sorted(map(str, disk.collect()))

        # digest anti-join: bucketed corpus side sheds its exchange
        def anti(state):
            return (
                batch.withColumn("__h", F.md5(F.col("text")))
                .join(
                    state.digests.select(F.col("content_hash").alias("__h")),
                    "__h", "left_anti",
                )
            )

        plan_b = anti(st2)._jdf.queryExecution().executedPlan().toString()
        plan_p = anti(st)._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan_b
        assert (
            plan_b.count("Exchange hashpartitioning")
            < plan_p.count("Exchange hashpartitioning")
        ), plan_b

        # gram lookup: bucketed grams side sheds its exchange too
        probe = spark.createDataFrame([("x",)], "gh string")
        g_b = probe.join(st2.grams, "gh", "left")
        assert "Bucketed: true" in (
            g_b._jdf.queryExecution().executedPlan().toString()
        )

        # successive ingest off the bucketed-loaded state still dedups
        batch2 = _df(spark, [(20, "genuinely new text that matches nothing else at all")])
        clean2, _ = new_state.ingest(batch2, "doc_id", "text")
        assert clean2.count() == 0  # dup of survivor 11
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        for t in ("digests", "grams", "cms", "params",
                  "minhash_bands", "minhash_shingles", "minhash_params"):
            spark.sql(f"DROP TABLE IF EXISTS cs_t_{t}")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_corpus_epoch_manifest_flip(spark, tmp_path):
    """The crawl loop's snapshot flip: load_published resolves the
    max-epoch prefix; publishing a new epoch after save_bucketed flips
    which snapshot readers see; an unpublished manifest raises."""
    import pytest

    from go_streaming_spark.functions.corpus_state import (
        current_corpus_epoch,
        publish_corpus_epoch,
    )

    root = str(tmp_path / "crawl")
    with pytest.raises(ValueError, match="no published epochs"):
        current_corpus_epoch(spark, root)
    with pytest.raises(ValueError, match="epoch"):
        publish_corpus_epoch(spark, root, "x", epoch=-2)

    docs0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    docs1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "completely different words here now")],
        "doc_id long, text string",
    )
    try:
        CorpusState.build(docs0, "doc_id", "text").save_bucketed(
            "manifest_t_e0", path=str(tmp_path / "e0")
        )
        publish_corpus_epoch(spark, root, "manifest_t_e0", epoch=0)
        assert CorpusState.load_published(spark, root).digests.count() == 1

        CorpusState.build(docs1, "doc_id", "text").save_bucketed(
            "manifest_t_e1", path=str(tmp_path / "e1")
        )
        publish_corpus_epoch(spark, root, "manifest_t_e1", epoch=1)
        live = current_corpus_epoch(spark, root)
        assert (live["epoch"], live["prefix"]) == (1, "manifest_t_e1")
        assert CorpusState.load_published(spark, root).digests.count() == 2
        # history intact for rollback/audit
        assert spark.read.parquet(f"{root}/manifest").count() == 2
    finally:
        for p in ("manifest_t_e0", "manifest_t_e1"):
            for t in ("digests", "minhash_bands", "minhash_shingles",
                      "minhash_params", "grams", "cms", "params"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_concurrent_jobs_keep_callers_group_and_tags(spark, tmp_path):
    """save() and checkpoint() run their frames' jobs from a thread pool;
    every pool thread carries the caller's job group and job tags, so the
    jobs stay attributable to the caller."""
    from go_streaming_spark.functions.util import run_concurrent

    sc = spark.sparkContext
    group = "corpus-concurrent"
    st = CorpusState.build(_df(spark, CORPUS), "doc_id", "text")
    sc.setJobGroup(group, group)
    sc.addJobTag(f"{group}-tag")
    try:
        st.save(str(tmp_path / "snap"))
        saved = len(sc.statusTracker().getJobIdsForGroup(group))
        assert saved >= 5, "one job per snapshot writer, in the caller's group"
        st.checkpoint()
        checkpointed = len(sc.statusTracker().getJobIdsForGroup(group)) - saved
        assert checkpointed >= 5, "one job per checkpointed frame"
        seen = run_concurrent(spark, [
            lambda: (sc.getLocalProperty("spark.jobGroup.id"), set(sc.getJobTags()))
        ] * 3)
        assert seen == [(group, {f"{group}-tag"})] * 3, seen
    finally:
        sc.removeJobTag(f"{group}-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
