"""Skew-mitigation primitives for hot-key joins and aggregations.

AQE's skew-join splitting handles sort-merge skew automatically, but two
patterns still need explicit treatment at 100 TB:

- **Salted join**: when one side has a handful of hot keys (a viral
  user_id, an empty-string path), replicate the small side R ways and
  scatter the big side's hot rows across R sub-keys, so one key's rows
  land on R tasks instead of one.
- **Two-phase aggregation**: aggregate on (key, salt) first (map-side
  spread), then re-aggregate on key — turns one giant reduce task into
  R + 1 small ones.

Both are pure DataFrame→DataFrame, deterministic outputs (the salt only
affects placement, never values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 8  # R: sub-keys one hot key is spread over


def salted_join(
    big: DataFrame, small: DataFrame, key: str, how: str = "inner"
) -> DataFrame:
    """Equi-join resilient to hot keys in ``big``.

    ``big`` rows get a deterministic salt in [0, R) (hash of the full row
    would be nondeterministic under retries — use a stable hash of a
    unique column when exact task placement matters; placement never
    affects results). ``small`` is exploded R× — acceptable because the
    small side is broadcast-sized by assumption.
    """
    salt = (F.spark_partition_id() + F.monotonically_increasing_id()) % \
        SALT_BUCKETS
    big_salted = big.withColumn("_salt", salt.cast("int"))
    small_exploded = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))),
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = big_salted.join(small_exploded, [key, "_salt"], how)
    return out.drop("_salt")


def two_phase_agg(
    df: DataFrame, key: str, aggs: dict[str, tuple[str, str]]
) -> DataFrame:
    """Skew-proof aggregation: ``aggs`` maps output column → (input
    column, fn) for fn ∈ {sum, count, min, max} (the re-aggregable
    functions; avg = sum/count composed by the caller).

    Phase 1 groups on (key, salt); phase 2 merges partials on key.
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for _, (_, fn) in aggs.items():
        if fn not in first_fn:
            raise ValueError(f"non-re-aggregable fn {fn!r}")
    salt = (
        F.abs(F.hash(F.col(key), F.spark_partition_id())) % SALT_BUCKETS
    )
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            *[
                first_fn[fn](col).alias(out)
                for out, (col, fn) in aggs.items()
            ]
        )
    )
    return phase1.groupBy(key).agg(
        *[
            merge_fn[fn](out).alias(out)
            for out, (_, fn) in aggs.items()
        ]
    )
