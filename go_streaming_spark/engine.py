"""Engine = SparkSession + stream registry + query repository.

Reference: ``StreamRepository`` isolates topic namespaces with a default
singleton (`pkg/pubsub/pub_sub.go:19-37`); streams are identified by
``StreamID{Topic, TopicType}`` and subscribing with the wrong type is
``ErrStreamTypeMismatch`` (`pkg/pubsub/pub_sub.go:386-397`).  Spark-first:
a registry maps topic → DataFrame; the "type" is the DataFrame schema, and a
schema mismatch on re-registration raises.  Engine instances isolate
namespaces the way ``WithRepository`` does in the reference tests
(`pkg/processing/queries_test.go:75-125`).
"""

from __future__ import annotations

import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# One lock per SparkSession namespace: Engine.sql() registers temp views
# then analyzes, and two engines sharing a SparkSession must not interleave
# those two steps (the registry itself is per-engine; only the SQL view
# namespace is session-global).  Keyed per session — temp views are
# session-scoped, so engines on DISTINCT SparkSessions cannot conflict and
# must not serialize behind each other's (possibly slow) analysis.
_SQL_LOCKS: "weakref.WeakKeyDictionary[SparkSession, threading.Lock]" = (
    weakref.WeakKeyDictionary()
)
_SQL_LOCKS_GUARD = threading.Lock()


def _sql_lock(spark: SparkSession) -> threading.Lock:
    with _SQL_LOCKS_GUARD:
        lock = _SQL_LOCKS.get(spark)
        if lock is None:
            lock = _SQL_LOCKS[spark] = threading.Lock()
        return lock

from go_streaming_spark.session import configure_session
from go_streaming_spark.sources.catalog import TABLES, load_stream, load_table


class StreamTypeMismatchError(TypeError):
    """Registering/fetching a topic with a conflicting schema
    (≈ ``ErrStreamTypeMismatch``, `pkg/pubsub/pub_sub.go:386-397`)."""


@dataclass
class Engine:
    spark: SparkSession
    sf_dir: str | None = None
    _streams: dict[str, DataFrame] = field(default_factory=dict)
    _queries: dict[str, "object"] = field(default_factory=dict)

    def __post_init__(self) -> None:
        configure_session(self.spark)

    # -- stream registry (≈ pub_sub.go stream lifecycle) --------------------

    def register_stream(self, topic: str, df: DataFrame, replace: bool = False) -> None:
        """≈ ``AddOrReplaceStream`` / auto-create (`pub_sub.go:54-74,370-384`)."""
        existing = self._streams.get(topic)
        if existing is not None and not replace:
            if existing.schema != df.schema:
                raise StreamTypeMismatchError(
                    f"topic {topic!r} already registered with schema "
                    f"{existing.schema.simpleString()}, got {df.schema.simpleString()}"
                )
        self._streams[topic] = df

    def stream(self, topic: str, streaming: bool = False) -> DataFrame:
        """Resolve a topic.  Driver tables auto-register on first reference
        (the reference auto-creates streams on subscribe/publish,
        `pub_sub.go:370-384`)."""
        if topic not in self._streams:
            if self.sf_dir and topic in TABLES:
                loader = load_stream if streaming else load_table
                self._streams[topic] = loader(self.spark, self.sf_dir, topic)
            else:
                raise KeyError(f"unknown topic {topic!r}")
        return self._streams[topic]

    def remove_stream(self, topic: str) -> None:
        self._streams.pop(topic, None)

    def topics(self) -> list[str]:
        return sorted(self._streams)

    # -- config serialization (≈ StreamID/StreamConfig JSON round-trip,
    # `pkg/pubsub/config.go:165-188`, `pkg/pubsub/stream_id.go:59-96`) ------

    def to_config(self) -> dict:
        """Serialize the registry to a plain-JSON dict: topic → schema DDL.
        The reference round-trips ``StreamID{Topic, TopicType}`` through a
        type-name registry; Spark's portable type name IS the DDL string."""
        return {
            "topics": {
                topic: df.schema.simpleString()
                for topic, df in sorted(self._streams.items())
            },
            "sf_dir": self.sf_dir,
        }

    @classmethod
    def from_config(cls, spark: SparkSession, cfg: dict) -> "Engine":
        """Rebuild an engine whose topics are empty streams with the
        recorded schemas (sources re-attach via ``register_stream`` /
        ``stream``; a type mismatch then raises, like the reference's
        ``ErrStreamTypeMismatch`` on re-subscribe)."""
        eng = cls(spark, sf_dir=cfg.get("sf_dir"))
        for topic, ddl in cfg.get("topics", {}).items():
            eng._streams[topic] = spark.createDataFrame([], ddl)
        return eng

    def sql(self, query: str) -> DataFrame:
        """SQL entry point over the engine's registered topics (the
        reference has no query language — `README.md:15-17`; Spark's is
        free).  Registers every known topic as a temp view first, so the
        same names work in SQL and in the builder; driver tables under
        ``sf_dir`` get views too, without joining the topic registry.

        Isolation semantics (Spark temp views are *session*-global, so two
        Engine instances sharing one SparkSession share the SQL view
        namespace):

        * each call re-registers THIS engine's topics immediately before
          parsing, and ``spark.sql`` analyzes eagerly, so the returned
          DataFrame's view bindings are pinned at call time — a later
          ``sql()`` on another engine cannot rebind them;
        * the register+analyze critical section is serialized under a
          per-SparkSession lock, so concurrent ``sql()`` calls from engines
          with conflicting topic schemas can't interleave — while engines
          on distinct sessions (disjoint view namespaces) don't contend.

        The registry itself (``stream``/``builder``) is per-engine-isolated
        either way."""
        with _sql_lock(self.spark):
            for topic in list(self._streams):
                self._streams[topic].createOrReplaceTempView(topic)
            if self.sf_dir:
                # not self.stream(name): a batch frame cached as a topic
                # would shadow a later stream(name, streaming=True)
                for name in TABLES:
                    if name not in self._streams:
                        table = load_table(self.spark, self.sf_dir, name)
                        table.createOrReplaceTempView(name)
            df = self.spark.sql(query)
            df.schema  # force analysis inside the lock — pins view bindings
            return df

    # -- query repository (≈ pkg/processing/query_repository.go:35-103) -----

    def builder(self):
        from go_streaming_spark.plans.builder import QueryBuilder

        return QueryBuilder(self)

    def register_query(self, name: str, query) -> None:
        self._queries[name] = query

    def queries(self) -> dict:
        return dict(self._queries)

    def close(self) -> None:
        """Stop registered streaming queries and clear the registry
        (≈ query Close semantics, `continuous_query.go:142-161`)."""
        for q in self._queries.values():
            q.stop()
        self._queries.clear()
        self._streams.clear()
