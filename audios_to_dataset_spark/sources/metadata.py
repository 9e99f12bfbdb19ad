"""CSV / JSONL metadata side-table loaders (S6-S8).

Reference behavior (/root/reference/src/main.rs:261-386):

- dispatch by extension: ``.json``/``.jsonl`` → JSONL, else CSV (:261-284)
- CSV: header row; ``file_name``/``relative_path`` are key columns (taken
  only when non-empty; relative_path is normalized); every other non-empty
  cell is a String metadata value; reserved keys dropped; transcription
  defaults to "-" (:286-331)
- JSONL: blank and non-object lines skipped; native JSON types preserved;
  reserved keys dropped; same key extraction and transcription default
  (:333-386)
- rows with neither key still contribute to the schema union but are not
  joinable records (:323-325, :379-381)
- first record per key wins, independently per index (:178-193)

Spark shape: native readers (all-string CSV matches the reference exactly;
JSON inference + the widening pass matches the lattice), plus an explicit
line-number column so "first wins" is well-defined under parallel read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.paths import normalize_path_str
from ..schema import KEY_COLUMNS, widen_metadata_columns


def metadata_format_from_path(path: str) -> str:
    """Extension dispatch (src/main.rs:261-284): .json/.jsonl → jsonl,
    anything else → csv. A trailing compression extension is stripped
    first (engine extension: Spark's csv/json readers decompress
    .gz/.bz2 transparently, so `meta.jsonl.gz` must dispatch as jsonl,
    not fall through to csv on the `.gz`)."""
    base = path.lower()
    for comp in (".gz", ".bz2"):
        if base.endswith(comp):
            base = base[: -len(comp)]
            break
    ext = os.path.splitext(base)[1]
    return "jsonl" if ext in (".json", ".jsonl") else "csv"


def _with_line_number(df: DataFrame) -> DataFrame:
    """Attach a file-order key for first-wins semantics — scalably.

    ``monotonically_increasing_id`` encodes (partition_index << 33) +
    row-offset-in-partition. For a file-source read, rows within a split
    are in file order, and the splits of one file are laid out in byte
    offset order, so the id ordering reproduces file order without
    collapsing the read to one partition (the old ``coalesce(1)``
    serialized the whole metadata load — fatal for the big-metadata
    ``broadcast=False`` join mode). Ties across same-length splits rely
    on Spark's stable split packing; a metadata file small enough to be
    one split (<128 MB default) gets exact file order either way.
    """
    return df.withColumn("_line", F.monotonically_increasing_id())


def _prepare_keys(df: DataFrame) -> DataFrame:
    """Normalize/nullify the key columns the way the reference extracts
    them: empty strings count as missing; relative_path is normalized."""
    if "file_name" in df.columns:
        df = df.withColumn(
            "file_name", F.nullif(F.col("file_name").cast("string"), F.lit(""))
        )
    else:
        df = df.withColumn("file_name", F.lit(None).cast("string"))
    if "relative_path" in df.columns:
        df = df.withColumn(
            "relative_path",
            F.nullif(
                normalize_path_str(F.col("relative_path").cast("string")),
                F.lit(""),
            ),
        )
    else:
        df = df.withColumn("relative_path", F.lit(None).cast("string"))
    return df


def load_csv_metadata(spark: SparkSession, path: str) -> DataFrame:
    """CSV loader: header=True, all columns read as strings (the reference
    treats every CSV cell as a String, src/main.rs:310-312); empty cells
    become NULL (omitted values, :300-313)."""
    raw = spark.read.option("header", True).csv(path)
    # inferSchema stays off: all-string columns are the reference semantics
    return _finish(raw)


def load_jsonl_metadata(spark: SparkSession, path: str) -> DataFrame:
    """JSONL loader: native types preserved then widened onto the lattice.

    Spark's JSON reader already skips blank lines; corrupt/non-object
    lines land in _corrupt_record mode PERMISSIVE and are dropped.
    """
    raw = spark.read.json(path)
    if "_corrupt_record" in raw.columns:
        raw = raw.filter(F.col("_corrupt_record").isNull()).drop(
            "_corrupt_record"
        )
    return _finish(raw)


_PASSTHROUGH = frozenset(KEY_COLUMNS | {"_line"})


def _finish(raw: DataFrame) -> DataFrame:
    df = _with_line_number(raw)
    df = _prepare_keys(df)
    return widen_metadata_columns(df, passthrough=_PASSTHROUGH)


def load_metadata(spark: SparkSession, path: str) -> DataFrame:
    fmt = metadata_format_from_path(path)
    if fmt == "jsonl":
        return load_jsonl_metadata(spark, path)
    return load_csv_metadata(spark, path)


def first_wins(df: DataFrame, key: str) -> DataFrame:
    """Keep the first record per key in file order — the reference's
    or_insert build-side dedup (insert_record, src/main.rs:178-193)."""
    w = Window.partitionBy(key).orderBy("_line")
    return (
        df.filter(F.col(key).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
