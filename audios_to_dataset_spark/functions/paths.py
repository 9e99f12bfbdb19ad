"""Path scalar functions + the csv_path_rewriter utility as a Spark plan.

The reference ships a Python helper (scripts/csv_path_rewriter.py) that
rewrites a CSV of absolute audio paths into (file_name basename,
relative_path, transcription) rows, deriving the base directory either
from --base-dir or from the longest common directory prefix of all paths
(:72-79, used at :91).

Spark shape: pure projections plus the classic distributed-LCP trick —
the common prefix of a set of strings equals the common prefix of its
min() and max() alone (one cheap agg instead of a full fold; SURVEY.md
§2.4 A2).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_path_str(col: Column) -> Column:
    """P1 (src/main.rs:112-122): backslash→slash, strip leading './'."""
    return F.regexp_replace(F.regexp_replace(col, r"\\", "/"), r"^(\./)+", "")


def basename(col: Column) -> Column:
    """P3 (src/main.rs:771-780, csv_path_rewriter.py:120): final path
    segment."""
    return F.element_at(F.split(normalize_path_str(col), "/"), -1)


def local_path(col: Column) -> Column:
    """Absolute local path of a ``file:`` URI (binaryFile's ``path``
    column); other strings pass through unchanged."""
    return F.regexp_replace(col, r"^file:/*", "/")


def common_dir_prefix(df: DataFrame, col: str = "file_name") -> str:
    """Longest common *directory* prefix of all paths (A2).

    min/max trick: any common prefix of all strings is a common prefix of
    the lexicographic extremes, and vice versa — one agg, driver-side
    character scan on just two strings.
    """
    row = df.select(
        F.min(normalize_path_str(F.col(col))).alias("lo"),
        F.max(normalize_path_str(F.col(col))).alias("hi"),
    ).first()
    lo, hi = row["lo"], row["hi"]
    if lo is None:
        return ""
    i = 0
    while i < len(lo) and i < len(hi) and lo[i] == hi[i]:
        i += 1
    prefix = lo[:i]
    # trim to a directory boundary (os.path.commonpath semantics,
    # csv_path_rewriter.py:72-79)
    if "/" not in prefix:
        return ""
    return prefix[: prefix.rfind("/")]


def rewrite_paths(
    df: DataFrame,
    base_dir: str | None = None,
    path_col: str = "file_name",
) -> DataFrame:
    """csv_path_rewriter transform (:105-125): output columns in the fixed
    order file_name (basename), relative_path, transcription (:128-136).

    Input must carry ``file_name`` (absolute path) and ``transcription``
    (validated at :49-69 — ValueError on missing columns, same here).
    """
    missing = {path_col, "transcription"} - set(df.columns)
    if missing:
        raise ValueError(
            f"input is missing required column(s): {sorted(missing)}"
        )
    if base_dir is None:
        base = common_dir_prefix(df, path_col)
    else:
        base = os.path.normpath(base_dir).replace("\\", "/")
    norm = normalize_path_str(F.col(path_col))
    prefix = base.rstrip("/") + "/" if base else ""
    rel = F.when(
        F.lit(prefix != "") & norm.startswith(prefix),
        F.substring(norm, len(prefix) + 1, 1 << 30),
    ).otherwise(norm)
    return df.select(
        basename(F.col(path_col)).alias("file_name"),
        rel.alias("relative_path"),
        F.col("transcription"),
    )
