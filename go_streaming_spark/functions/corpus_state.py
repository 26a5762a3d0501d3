"""CorpusState: the persistable corpus-side state of a recurring-crawl
curation pipeline, unified.

Every incremental operator in this library reduces the accumulated corpus
to a narrow per-doc artifact — content digests (exact dedup), the MinHash
band/shingle index (near-dup), the k-gram count index (substring spans +
contamination), a count-min sketch (heavy hitters).  In production those
artifacts are built once per corpus snapshot, stored columnar, and every
ingest batch joins them; this module packages that shape as ONE object
with a save/load/ingest lifecycle, so the pipeline's state management is
an API instead of a convention scattered across call sites.

Scale: state size is O(corpus docs) in narrow rows (digests, bands,
grams) plus O(1) for the sketch — never corpus text; ``ingest`` touches
batch-sized data plus index joins, and updating the state is a union of
the survivors' contributions (all frames are append-able).  Persist after
each ingest and the pipeline restarts from parquet.

Reference parity: the reference accumulates stream state in per-topic
in-memory buffers (/root/reference/pkg/events/buffer.go); a 100 TB corpus
pipeline's equivalent durable state is exactly these indexes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_streaming_spark.functions import dedup as dd
from go_streaming_spark.functions import sketch as sk


@dataclass
class CorpusState:
    """Corpus-side artifacts + the parameters they were built with."""

    digests: DataFrame          # (content_hash)
    minhash: dd.MinHashIndex    # bands + shingle arrays
    grams: DataFrame            # (gh, n_occ) k-gram digest counts
    cms: DataFrame              # (row, bucket, count) word-frequency sketch
    n: int                      # shingle width (minhash)
    k: int                      # minhash permutations
    rows_per_band: int
    gram_k: int                 # substring-gram width
    cms_depth: int
    cms_width: int

    # -- construction -----------------------------------------------------
    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        id_col: str,
        text_col: str,
        n: int = 3,
        k: int = 16,
        rows_per_band: int = 4,
        gram_k: int = 8,
        cms_depth: int = 4,
        cms_width: int = 1024,
    ) -> "CorpusState":
        digests = corpus.select(
            F.md5(F.col(text_col)).alias("content_hash")
        ).distinct()
        minhash = dd.build_minhash_index(corpus, id_col, text_col, n, k, rows_per_band)
        grams = dd.build_gram_index(corpus, id_col, text_col, gram_k)
        words = corpus.select(
            F.explode(
                F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
            ).alias("word")
        )
        cms = sk.count_min_build(words, "word", cms_depth, cms_width)
        return cls(
            digests, minhash, grams, cms,
            n, k, rows_per_band, gram_k, cms_depth, cms_width,
        )

    def checkpoint(self) -> "CorpusState":
        """Truncate the state's lineage (localCheckpoint every frame).

        Each :meth:`ingest` layers a union+dedup over the previous state,
        so an UNBOUNDED ingest loop grows plan depth linearly — the same
        iterative-lineage trap as connected_components.  Call this every
        few batches in a long ``foreachBatch`` loop (or :meth:`save` and
        :meth:`load` per snapshot, which truncates through parquet).
        The five frames share no dependency, so their checkpoint jobs run
        concurrently (:func:`util.run_concurrent`, as in :meth:`save`)."""
        from go_streaming_spark.functions.util import run_concurrent

        digests, bands, shingles, grams, cms = run_concurrent(
            self.digests.sparkSession,
            [f.localCheckpoint for f in (
                self.digests, self.minhash.bands, self.minhash.shingles,
                self.grams, self.cms,
            )],
        )
        return CorpusState(
            digests,
            dd.MinHashIndex(bands, shingles, self.n, self.k, self.rows_per_band),
            grams, cms,
            self.n, self.k, self.rows_per_band, self.gram_k,
            self.cms_depth, self.cms_width,
        )

    # -- persistence ------------------------------------------------------
    def save(self, path: str) -> None:
        """Write every artifact as parquet under ``path`` (the corpus
        snapshot layout: digests/ bands/ shingles/ grams/ cms/ params/).
        The artifact writes are independent and run concurrently
        (guide §2.6 — same overlap as :meth:`save_bucketed`)."""
        from go_streaming_spark.functions.util import run_concurrent

        run_concurrent(self.digests.sparkSession, [
            lambda: self.digests.write.mode("overwrite")
            .parquet(f"{path}/digests"),
            lambda: self.minhash.save(f"{path}/minhash"),
            lambda: self.grams.write.mode("overwrite")
            .parquet(f"{path}/grams"),
            lambda: self.cms.write.mode("overwrite").parquet(f"{path}/cms"),
            lambda: self._params_frame().write.mode("overwrite")
            .parquet(f"{path}/params"),
        ])

    def _params_frame(self) -> DataFrame:
        return self.digests.sparkSession.createDataFrame(
            [(self.n, self.k, self.rows_per_band, self.gram_k,
              self.cms_depth, self.cms_width)],
            "n int, k int, rows_per_band int, gram_k int,"
            " cms_depth int, cms_width int",
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "CorpusState":
        p = spark.read.parquet(f"{path}/params").head()
        return CorpusState(
            spark.read.parquet(f"{path}/digests"),
            dd.MinHashIndex.load(spark, f"{path}/minhash"),
            spark.read.parquet(f"{path}/grams"),
            spark.read.parquet(f"{path}/cms"),
            p.n, p.k, p.rows_per_band, p.gram_k, p.cms_depth, p.cms_width,
        )

    def save_bucketed(
        self,
        table_prefix: str,
        n_buckets: int | None = None,
        path: str | None = None,
    ) -> None:
        """Persist the snapshot as BUCKETED catalog tables, each laid out
        on ITS ingest join key — digests on ``content_hash`` (the exact-
        dedup anti-join), bands on ``(band, band_key)`` / shingles on
        ``id`` (the near-dup candidate + verification joins, via
        :meth:`MinHashIndex.save_bucketed`), grams on ``gh`` (the span
        lookup) — so EVERY corpus-side join of :meth:`ingest` plans with
        no corpus exchange: per batch, only batch-sized data shuffles.
        The CMS is fixed-size (depth×width rows) and stays plain.

        This is the 100 TB steady-state shape: the anti-join and the
        gram lookup otherwise re-shuffle corpus-scale frames on every
        crawl batch; bucketing pays that shuffle once at snapshot-write
        time.  Load with :meth:`load_bucketed` (catalog reads keep the
        bucket spec; a path read would silently reintroduce the
        exchanges).  Mid-loop, :meth:`checkpoint` remains the
        lineage-truncation tool; this is the durable snapshot between
        pipeline runs.
        """
        from go_streaming_spark.sources.formats import write_bucketed

        from go_streaming_spark.functions.util import (
            default_buckets,
            run_concurrent,
        )

        spark = self.digests.sparkSession
        nb = n_buckets or default_buckets(spark)

        def _plain(name, df):
            w = df.write.mode("overwrite")
            if path:
                w = w.option("path", f"{path}/{name}")
            w.saveAsTable(f"{table_prefix}_{name}")

        # the seven snapshot tables share no dependency — overlap their
        # write jobs (guide §2.6: the snapshot write is per-crawl-epoch,
        # and running them sequentially paid seven scheduling tails;
        # measured ~16.4 → ~12 s on the bucketed ingest gate at sf0.1)
        run_concurrent(spark, [
            lambda: write_bucketed(
                self.digests, f"{table_prefix}_digests",
                ["content_hash"], nb,
                sort_cols=["content_hash"],
                path=f"{path}/digests" if path else None,
            ),
            lambda: self.minhash.save_bucketed(
                f"{table_prefix}_minhash", nb,
                path=f"{path}/minhash" if path else None,
            ),
            lambda: write_bucketed(
                self.grams, f"{table_prefix}_grams", ["gh"], nb,
                sort_cols=["gh"],
                path=f"{path}/grams" if path else None,
            ),
            lambda: _plain("cms", self.cms),
            lambda: _plain("params", self._params_frame()),
        ])

    @staticmethod
    def load_bucketed(spark: SparkSession, table_prefix: str) -> "CorpusState":
        """Load a snapshot written by :meth:`save_bucketed`."""
        p = spark.table(f"{table_prefix}_params").head()
        return CorpusState(
            spark.table(f"{table_prefix}_digests"),
            dd.MinHashIndex.load_bucketed(spark, f"{table_prefix}_minhash"),
            spark.table(f"{table_prefix}_grams"),
            spark.table(f"{table_prefix}_cms"),
            p.n, p.k, p.rows_per_band, p.gram_k, p.cms_depth, p.cms_width,
        )

    @staticmethod
    def load_published(spark: SparkSession, root: str) -> "CorpusState":
        """Load the LIVE corpus snapshot through a
        :func:`publish_corpus_epoch` manifest — the crawl loop's side of
        the epoch-flip pattern (:func:`similarity.publish_ivf_epoch` is
        the index side): each crawl run resolves the current epoch,
        ingests against it, writes the evolved state as a NEW bucketed
        prefix, and publishes the next epoch write-manifest-LAST — the
        old snapshot keeps serving every reader until the flip, and a
        half-written snapshot is never resolvable."""
        live = current_corpus_epoch(spark, root)
        return CorpusState.load_bucketed(spark, live["prefix"])

    # -- ingestion --------------------------------------------------------
    def ingest(
        self,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.5,
    ) -> tuple[DataFrame, "CorpusState"]:
        """One crawl batch in → (clean survivors, updated state).

        Survivors are batch rows that are (1) byte-unseen against the
        corpus digests AND unique in-batch (lowest id wins), then (2) not
        a near-dup of the corpus at exact-Jaccard ≥ ``threshold`` via the
        MinHash index, with in-batch near-dups resolved too
        (:func:`dedup.incremental_minhash_dedup_full`).  The survivors
        carry a ``dup_span_tokens`` column — tokens inside spans whose
        ``gram_k``-grams the corpus already contains
        (:func:`dedup.duplicated_spans_against_index`) — flagged, not
        cut: span removal policy belongs to the caller.

        The returned state appends the SURVIVORS' digests, bands,
        shingles and gram counts, and bucket-merges their word sketch —
        so successive ingests see earlier batches as corpus (bands and
        shingles come from the near-dup stage's batch build, not a rebuild).
        """
        clean, new_state, _ = self._ingest_core(
            batch, id_col, text_col, threshold, materialize_spans=False
        )
        return clean, new_state

    def _ingest_core(
        self,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float,
        materialize_spans: bool,
    ) -> tuple[DataFrame, "CorpusState", DataFrame]:
        """Shared body of :meth:`ingest` / :meth:`ingest_clean`, also
        returning the span frame so the flag-then-cut path computes the
        gram digests and the corpus-gram-index join ONCE (pre-r9,
        ingest_clean re-derived the identical spans a second time for
        the cut — one full extra pass over the survivors at scale).
        ``materialize_spans`` localCheckpoints the (small, ∝ duplicated
        spans) frame when a second consumer will read it — the SCALE.md
        multi-consumer ReuseExchange pattern; the count-only path keeps
        it lazy (single consumer, no materialization cost).  The near-dup
        stage also returns the batch's MinHash index, whose survivor rows
        the state update appends.  Its survivors are a narrow filter over
        the already-materialized stage-1 frame, so the state update and
        span report read them without a checkpoint of their own."""
        from pyspark.sql.window import Window

        # (1) exact: unseen digests, unique in batch (lowest id wins).
        # localCheckpoint: the near-dup stage consumes this frame twice
        # (the batch shingle build and stage 1's final anti-join), and
        # each lazy re-execution re-pays the in-batch row_number window
        # AND the corpus-digest distinct + anti-join — measured ~1.5
        # s/query of pure recompute at sf0.1 (guide §5: materialize a
        # reused intermediate when recomputing beats the memory cost;
        # batch-sized, same bound as the stage-1 checkpoint in
        # dedup._minhash_dedup_full)
        uniq = (
            batch.withColumn("__h", F.md5(F.col(text_col)))
            .withColumn(
                "__rn",
                F.row_number().over(Window.partitionBy("__h").orderBy(id_col)),
            )
            .filter(F.col("__rn") == 1)
            .join(
                self.digests.select(F.col("content_hash").alias("__h")),
                "__h", "left_anti",
            )
            .drop("__h", "__rn")
            .localCheckpoint()
        )
        # (2) near-dup vs corpus index + in-batch resolution
        survivors, batch_idx = dd._minhash_dedup_full(
            uniq, self.minhash, id_col, text_col, threshold, None
        )
        # (3) span report vs the corpus gram index
        spans = dd.duplicated_spans_against_index(
            survivors, self.grams, id_col, text_col, self.gram_k
        )
        if materialize_spans:
            spans = spans.localCheckpoint()
        span_tokens = spans.groupBy(F.col("id").alias("__sid")).agg(
            F.sum("span_tokens").alias("dup_span_tokens")
        )
        clean = (
            survivors.join(span_tokens, survivors[id_col] == F.col("__sid"), "left")
            .withColumn(
                "dup_span_tokens",
                F.coalesce("dup_span_tokens", F.lit(0)).cast("long"),
            )
            .drop("__sid")
        )
        # -- state update: append the survivors' contributions ------------
        # plain union, NO distinct: survivors' digests passed the corpus
        # anti-join (disjoint from self.digests) and the in-batch
        # row_number()==1 filter (unique among themselves) — the set is
        # duplicate-free by construction, and a distinct here would
        # re-shuffle the ENTIRE corpus digest set on every ingest
        new_digests = self.digests.unionByName(
            survivors.select(F.md5(F.col(text_col)).alias("content_hash"))
        )
        ids = F.broadcast(survivors.select(F.col(id_col).alias("id")))

        def add(old, new):  # the survivors' batch-index rows ≡ indexing them
            return old.unionByName(new.join(ids, "id", "left_semi"))

        new_minhash = dd.MinHashIndex(
            add(self.minhash.bands, batch_idx.bands),
            add(self.minhash.shingles, batch_idx.shingles),
            self.n, self.k, self.rows_per_band,
        )
        new_grams = (
            self.grams.unionByName(
                dd.build_gram_index(survivors, id_col, text_col, self.gram_k)
            )
            .groupBy("gh")
            .agg(F.sum("n_occ").alias("n_occ"))
        )
        words = survivors.select(
            F.explode(
                F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
            ).alias("word")
        )
        new_cms = (
            self.cms.unionByName(
                sk.count_min_build(words, "word", self.cms_depth, self.cms_width)
            )
            .groupBy("row", "bucket")
            .agg(F.sum("count").alias("count"))
        )
        new_state = CorpusState(
            new_digests, new_minhash, new_grams, new_cms,
            self.n, self.k, self.rows_per_band, self.gram_k,
            self.cms_depth, self.cms_width,
        )
        return clean, new_state, spans

    def ingest_clean(
        self,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.5,
    ) -> tuple[DataFrame, "CorpusState"]:
        """:meth:`ingest` composed with span REMOVAL — the flag-then-cut
        pipeline end-to-end: survivors' duplicated spans (every batch
        occurrence of a ``gram_k``-gram the corpus-plus-batch stream has
        seen ≥ 2×) are CUT from ``text_col`` via
        :func:`dedup.remove_spans`, not just counted.

        Returns (cleaned survivors, updated state).  The survivors keep
        their ``dup_span_tokens`` column (now equal to the token count
        removed), and the updated state indexes the AS-CRAWLED survivor
        text — digests/bands/grams describe what was crawled, so a future
        re-crawl of the same bytes still dedupes exactly; the cleaned
        text is the emitted training artifact, not the corpus record.
        """
        # one span computation feeds BOTH the dup_span_tokens count and
        # the cut (pre-r9 this re-derived the identical span set, paying
        # the gram hashing + corpus-gram-index join twice); the span
        # frame is localCheckpointed for its two consumers
        clean, new_state, spans = self._ingest_core(
            batch, id_col, text_col, threshold, materialize_spans=True
        )
        cleaned = dd.remove_spans(clean, spans, id_col, text_col)
        return cleaned, new_state


# -- epoch manifest: the crawl loop's snapshot flip -------------------------
def publish_corpus_epoch(
    spark: SparkSession, root: str, table_prefix: str, epoch: int
) -> None:
    """Publish a :meth:`CorpusState.save_bucketed` snapshot to the crawl
    loop's serving manifest — readers (:meth:`CorpusState.load_published`)
    resolve the live snapshot THROUGH ``{root}/manifest`` instead of a
    hard-coded table prefix, and a crawl run cuts over by appending one
    (epoch, prefix) row AFTER its snapshot tables are fully written —
    write-manifest-LAST, the reference's drain-then-swap migration
    semantic (``pkg/pubsub/pub_sub.go:54-74``) at the corpus-state level,
    mirroring :func:`similarity.publish_ivf_epoch` on the index side.

    Append-only history: the max epoch is live, superseded prefixes stay
    for rollback/audit (drop their tables only after retention); epochs
    must be monotonically assigned by the (single) crawl coordinator.
    On local roots the 1-row part file is written driver-side
    (:func:`util.append_manifest_row` — a pointer flip is control-plane
    metadata, not a Spark job)."""
    from go_streaming_spark.functions.util import append_manifest_row

    if epoch < 0:
        raise ValueError(
            f"publish_corpus_epoch: epoch must be >= 0, got {epoch}"
        )
    append_manifest_row(
        spark, f"{root}/manifest",
        {"epoch": int(epoch), "prefix": table_prefix},
    )


def current_corpus_epoch(spark: SparkSession, root: str):
    """The live (epoch, prefix) row of a :func:`publish_corpus_epoch`
    manifest — the max-epoch row; raises when nothing was published
    (ingesting against an unpublished corpus is a deployment bug, not an
    empty corpus).  Local roots resolve driver-side
    (:func:`util.read_manifest_max`)."""
    from go_streaming_spark.functions.util import read_manifest_max

    row = read_manifest_max(spark, f"{root}/manifest", "epoch")
    if row is None:
        raise ValueError(
            f"current_corpus_epoch: no published epochs under {root}/manifest"
        )
    return row
