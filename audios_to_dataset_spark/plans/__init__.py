"""Declarative query plans exposed through ``__spark_entry__``.

Each module defines two dicts:

- ``QUERIES``: name -> ``fn(spark, sf_dir) -> DataFrame``
- ``ORACLES``: name -> ANSI-SQL string DuckDB runs on the same parquet
  (omitted for non-SQL-expressible ops → the driver does a rows-only check)

``all_queries()`` / ``all_oracles()`` merge every module in ``_modules()``
order; this is the single source of truth for the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    from ..streaming import events as streaming_events
    from . import (
        analytics,
        curation,
        dedup,
        evalmetrics,
        events,
        expstats,
        infostats,
        multimodal,
        nonparam,
        paths,
        relational,
        relational2,
        similarity,
        sketches,
        stats2,
        stats3,
        survival,
        textmetrics,
        textops,
        textops2,
        timeseries,
        tpch2,
        versioning,
    )

    return (sketches, analytics, textops, events, tpch2, versioning, paths,
            textops2, dedup, similarity, multimodal, streaming_events,
            curation, relational, relational2, evalmetrics, timeseries,
            textmetrics, infostats, survival, expstats, nonparam,
            stats2, stats3)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        overlap = merged.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query ids: {overlap}")
        merged.update(mod.QUERIES)
    return merged


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLES)
    return merged
