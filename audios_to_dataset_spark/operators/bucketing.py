"""Bucketed tables: co-located joins with no exchange.

At 100 TB the dominant shuffle is the fact-fact join (lineitem ⋈ orders
shapes). Writing both sides bucketed by the join key lets every
subsequent join skip its exchange entirely — the classic
write-once/join-many trade. These helpers wrap the saveAsTable bucketing
API and are verified by tests/test_bucketing.py asserting the join plan
contains no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Persist ``df`` as a bucketed table, sorted within each bucket.

    Sorted buckets additionally let SortMergeJoin skip its per-task sort.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — planned
    shuffle-free when bucket counts match."""
    return spark.table(left_table).join(spark.table(right_table), key)


def write_partitioned(
    df: DataFrame, path: str, partition_col: str
) -> None:
    """Persist hive-style partitioned by a low-cardinality column — the
    layout that buys two scan eliminations at 100 TB: STATIC partition
    pruning for literal filters on the partition column (the scan lists
    only matching directories), and DYNAMIC partition pruning when the
    fact is joined to a filtered dimension on that column (Catalyst
    injects a runtime IN-subquery partition filter from the build side).
    Both are pinned by tests/test_bucketing.py."""
    df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
