"""SparkSession factory + runtime tuning.

Two concerns, separated because the driver may hand us an already-built
session:

- :func:`get_session` builds a session for tests/bench: launch settings
  only (local[N] on this rig, driver memory), then :func:`tune`.
- :func:`tune` applies every planner knob to any session, so query plans
  behave identically under the driver's session (UTC timestamps, AQE with
  skew-join handling, broadcast threshold, Arrow), each chosen to survive
  a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    """Local core count, read when a session is built or tuned (tests
    and perfbench set ``SPARK_GRAFT_CPUS`` after importing this module)."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


# Runtime-settable conf applied to any session before running our plans
# (tune() adds the shuffle partition count).
_RUNTIME_CONF = {
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
    # A plain (driver-built) session defaults to 200 shuffle partitions —
    # wasteful 200-task stages for this rig's data volumes, and streaming
    # state partitioning is pinned at first checkpoint. Match the local
    # core count; AQE coalescing makes this safe either way. On a real
    # cluster this would be ~2-3x total cores via spark-defaults, which
    # stay in place (see _SIZING_KEYS).
    conf = {"spark.sql.shuffle.partitions": _cpus(), **_RUNTIME_CONF}
    for k, v in conf.items():
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

    local[$SPARK_GRAFT_CPUS] single-JVM here. The builder sets launch
    settings only; every planner knob comes from :func:`tune`, so this
    session plans like a driver-built one.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{_cpus()}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    return tune(builder.getOrCreate())
