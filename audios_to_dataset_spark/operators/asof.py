"""As-of join: match each left row to the latest right row at-or-before
its timestamp — the time-series join Spark lacks natively (SURVEY brief:
"as-of join, range join" as custom-operator candidates).

Implementation is the scalable union trick, NOT a per-row subquery:
tag both sides, union, and run one window pass per key ordered by
(time, side, value) taking the running ``last`` right-payload with
ignorenulls. Cost: a single shuffle on the join key + one sort within
partitions — the same complexity as a sort-merge join, no broadcast or
range explosion needed. Skewed keys fall under AQE like any other
window-on-key.

Determinism contract: among right rows sharing the same timestamp and
key, the one with the greatest payload struct (field order =
``right_value_cols``) wins — ties are resolved by value, not arrival.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PREFIX = "asof_"  # prefix of the matched right columns


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    right_value_cols: list[str],
) -> DataFrame:
    """Left as-of join: every left row, plus ``PREFIX``-named columns from
    the latest right row with ``right_time <= left_time`` on the same key
    (NULLs when no right row precedes)."""
    rv = F.struct(
        F.col(right_time).alias("_t"),
        *[F.col(c) for c in right_value_cols],
    )
    r = right.select(
        F.col(right_key).alias("_key"),
        F.col(right_time).alias("_time"),
        F.lit(1).alias("_is_right"),
        rv.alias("_rv"),
    )
    l_cols = [F.col(c) for c in left.columns]
    l = left.select(
        *l_cols,
        F.col(left_key).alias("_key"),
        F.col(left_time).alias("_time"),
        F.lit(0).alias("_is_right"),
        F.lit(None).cast(r.schema["_rv"].dataType).alias("_rv"),
    )
    u = r.unionByName(l, allowMissingColumns=True)

    # Right rows sort before left rows at equal time (<= semantics); among
    # same-time right rows the greatest payload sorts last and wins.
    w = (
        Window.partitionBy("_key")
        .orderBy(F.col("_time"), F.col("_is_right").desc(), F.col("_rv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("_match", F.last("_rv", ignorenulls=True).over(w))
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"_match.{c}").alias(f"{PREFIX}{c}") for c in right_value_cols
    ]
    return filled.filter(F.col("_is_right") == 0).select(*out_cols)
