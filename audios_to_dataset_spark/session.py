"""SparkSession factory + runtime tuning.

Two concerns, separated because the driver may hand us an already-built
session:

- :func:`get_session` builds a session for tests/bench (local[N] on this
  rig, but every knob chosen to survive a 1000-executor cluster: AQE with
  skew-join handling, broadcast threshold, Arrow transfers).
- :func:`tune` applies the *runtime-settable* subset to any session, so
  query plans behave identically under the driver's session (UTC timestamps,
  AQE, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable conf applied to any session before running our plans.
_RUNTIME_CONF = {
    # A plain (driver-built) session defaults to 200 shuffle partitions —
    # wasteful 200-task stages for this rig's data volumes, and streaming
    # state partitioning is pinned at first checkpoint. Match the local
    # core count; AQE coalescing makes this safe either way. On a real
    # cluster this would be ~2-3x total cores via spark-defaults, which
    # tune() leaves in place (see _SIZING_KEYS).
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_CPUS", "32"
    ),
    # Broadcast joins up to 64 MB (Spark's default is 10 MB), so a
    # session built elsewhere picks the same join strategies as
    # get_session. The pipeline's path -> shard mapping is estimated at
    # about a quarter of the listed bytes, so it stays a broadcast up to
    # ~250 MB of audio (~40 MB at the default).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Timestamps in the testdata parquet are naive; pin the session zone to
    # UTC so Spark's TIMESTAMP_LTZ values collect to the same wall-clock as
    # DuckDB's naive TIMESTAMP (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing and skew-join
    # splitting. Essential at 100 TB; harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas hops.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark rejects natively;
    # read as long nanos and convert in the catalog loader (DuckDB parity:
    # it truncates ns→us on read, and so do we).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Some testdata generations write events.ts as naive TIMESTAMP(MICROS)
    # instead; Spark 4 would infer TIMESTAMP_NTZ, which time functions like
    # unix_micros reject. Read naive micros as LTZ — with the session zone
    # pinned to UTC above, the wall-clock values match DuckDB's naive
    # TIMESTAMP exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# Keys tune() sets only when unset; every other key is always applied.
_SIZING_KEYS = frozenset(
    {"spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold"}
)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning/parity conf to an existing session."""
    for k, v in _RUNTIME_CONF.items():
        try:
            # sizing keys are not parity: a value the user or cluster
            # already set wins
            if k in _SIZING_KEYS and spark.conf.get(k, None) is not None:
                continue
            spark.conf.set(k, v)
        except Exception:
            # Some conf keys can be locked down; every entry here is
            # best-effort and has a safe default.
            pass
    return spark


def get_session(app_name: str = "audios-to-dataset-spark") -> SparkSession:
    """Build (or reuse) a SparkSession for tests and bench runs.

    local[$SPARK_GRAFT_CPUS] single-JVM here; the static conf mirrors what
    we would set cluster-wide via spark-defaults at real scale.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per core on this rig. On a cluster this
        # would be ~2-3x total cores; AQE coalesces small partitions anyway.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        # Keep partition sizes bounded when scanning big files (100 TB
        # design point: ~128MB splits feed ~1 task each).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    return tune(spark)
