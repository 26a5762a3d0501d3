"""SparkSession construction and per-session configuration.

The driver harness owns the SparkSession in verify runs, so everything the
engine *needs* must be settable dynamically (``spark.conf.set``) — no
builder-only configs.  ``configure_session`` is therefore called from every
source loader and is idempotent.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Configs required for correctness. All are dynamically settable.
_REQUIRED_CONFS = {
    # The driver-generated parquet stores TIMESTAMP(NANOS) which Spark's
    # vectorized reader rejects; read as int64 nanos and convert in the
    # catalog (sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB timestamps are UTC-naive; pin the session zone for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # Join/meta merge uses map_concat with right-precedence ("right wins",
    # reference: pkg/processing/default_operators.go:144-147).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}

# Configs that are performance-relevant defaults (safe on local[*] and on a
# real cluster; the cluster deployment overrides via spark-defaults).
_TUNING_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required + tuning configs to an existing session (idempotent)."""
    for key, value in {**_REQUIRED_CONFS, **_TUNING_CONFS}.items():
        try:
            spark.conf.set(key, value)
        except AnalysisException as exc:
            # A conf may be static in some deployments; correctness-required
            # ones above are all dynamic in Spark 3.4+/4.x.  Anything else
            # (a bad value, a dead session) is a real error.
            if exc.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                raise
    return spark


def get_session(
    app_name: str = "go_streaming_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a local session with engine defaults.

    Used by tests and bench; the driver harness supplies its own session for
    verify runs (then only ``configure_session`` applies).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
