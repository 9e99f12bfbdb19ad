"""Graph inputs shared by the graph-query families.

Each edge list a graph query runs on is built here once, so every
query over the same graph (and the scale smoke tool) plans it the same
way. The DuckDB oracles spell the same builds in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SUPP_OFFSET = 2_000_000  # supplier node ids, disjoint from custkeys


def trade_edges(o: DataFrame, li: DataFrame) -> DataFrame:
    """(src, dst) customer→supplier order graph: one directed edge per
    distinct (o_custkey, l_suppkey) pair over orders ⋈ lineitem, with
    supplier ids shifted by ``PR_SUPP_OFFSET``. Callers apply their own
    NULL-key filters to ``o``/``li`` first."""
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (F.col("l_suppkey").cast("bigint") + PR_SUPP_OFFSET).alias(
                "dst"
            ),
        )
        .distinct()
    )


def copurchase_edges(li: DataFrame) -> DataFrame:
    """(u, v) part co-purchase graph: one undirected edge per distinct
    pair of parts in the same order, stored once with ``u < v``."""
    items = li.select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").cast("bigint").alias("p"),
    ).distinct()
    return (
        items.select("o", F.col("p").alias("u"))
        .join(items.select("o", F.col("p").alias("v")), "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
