"""Sharded DuckDB sink (S11): one ``<idx>.duckdb`` database per shard.

Reference behavior (/root/reference/src/main.rs:388-436, 797-847):

- per shard: open connection → ``CREATE SEQUENCE seq; CREATE TABLE files
  (id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq'), duration DOUBLE,
  audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB), …)`` —
  note the struct field order path/sampling_rate/bytes differs from the
  Parquet sink's bytes/sampling_rate/path; both are replicated, not
  "fixed" (SURVEY.md §7.4 item 5)
- metadata columns in lexicographic order; Bool→BOOLEAN, Float64→DOUBLE,
  String and List→VARCHAR (lists stored as their JSON text, :406, 835-837)
- ``id`` is the 0-based in-shard row index (:807-809)
- identifier quoting doubles embedded double-quotes (:241-243)
- all inserts in one transaction; one writer per file (never shared)

Spark shape: ``applyInPandas`` per shard — each task owns its .duckdb
file exclusively (same single-writer model as the reference's
connection-per-shard). Rows are inserted via DuckDB's Arrow scan, not
row-at-a-time statements.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.wav import wav_header_columns
from ..schema import sink_metadata_fields, sink_wav_columns


def sanitize_column_name(name: str) -> str:
    """Identifier escaping parity (src/main.rs:241-243)."""
    return name.replace('"', '""')


def _duck_type(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    return "VARCHAR"  # String and List (JSON text)


def build_create_table_sql(
    meta_fields: list[tuple[str, T.DataType]],
) -> str:
    """DDL parity with src/main.rs:388-416."""
    columns = [
        "id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq')",
        "duration DOUBLE",
        "audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB)",
    ]
    for name, dt in meta_fields:
        columns.append(f'"{sanitize_column_name(name)}" {_duck_type(dt)}')
    return f"CREATE SEQUENCE seq; CREATE TABLE files ({', '.join(columns)});"


def write_duckdb_shards(df: DataFrame, output_dir: str) -> DataFrame:
    """Write one ``<shard>.duckdb`` per shard; returns write receipts.

    Input contract matches
    :func:`..sinks.parquet_shards.write_parquet_shards`, including the
    per-shard WAV header decode when duration/sampling_rate are absent.
    """
    os.makedirs(output_dir, exist_ok=True)
    meta_fields = sink_metadata_fields(df)
    ddl = build_create_table_sql(meta_fields)

    wav_cols = sink_wav_columns(df)
    # Lists are stored as JSON text (src/main.rs:835-837); stringify
    # JVM-side so the pandas payload is already VARCHAR-shaped.
    slim_cols = [
        F.col("shard"), F.col("row_in_shard"), F.col("relative_path"),
        F.col("content"), *map(F.col, wav_cols),
    ]
    for name, dt in meta_fields:
        c = F.col(name)
        if isinstance(dt, T.ArrayType):
            c = F.to_json(c)
        slim_cols.append(c.alias(name))
    slim = df.select(*slim_cols)

    meta_names = [n for n, _ in meta_fields]
    quoted = [f'"{sanitize_column_name(n)}"' for n in meta_names]

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import duckdb

        pdf = pdf.sort_values("row_in_shard").reset_index(drop=True)
        if not wav_cols:
            pdf = pdf.join(wav_header_columns(pdf["content"]))
        shard = int(pdf["shard"].iloc[0])
        out_path = os.path.join(output_dir, f"{shard}.duckdb")
        # S12 idempotent replace, made ATOMIC: build the database at
        # <name>.tmp and os.replace into place — no reader of a live
        # output dir ever sees a half-written shard file.
        tmp_path = out_path + ".tmp"
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
        con = duckdb.connect(tmp_path)
        try:
            con.execute(ddl)
            payload = pdf.rename(columns={"row_in_shard": "id"})
            con.register("payload", payload)
            meta_sel = (", " + ", ".join(quoted)) if quoted else ""
            meta_cols = (", " + ", ".join(quoted)) if quoted else ""
            con.execute("BEGIN TRANSACTION")
            con.execute(
                f"INSERT INTO files (id, duration, audio{meta_cols}) "
                f"SELECT id, duration, "
                f"struct_pack(path := relative_path, "
                f"sampling_rate := CAST(sampling_rate AS INTEGER), "
                f"bytes := CAST(content AS BLOB)){meta_sel} "
                f"FROM payload ORDER BY id"
            )
            con.execute("COMMIT")
        finally:
            con.close()
        try:
            os.replace(tmp_path, out_path)
        finally:
            if os.path.exists(tmp_path):
                os.remove(tmp_path)
        return pd.DataFrame(
            {"shard": [shard], "n_rows": [len(pdf)], "out_path": [out_path]}
        )

    receipt_schema = T.StructType(
        [
            T.StructField("shard", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("out_path", T.StringType()),
        ]
    )
    return slim.groupBy("shard").applyInPandas(write_shard, receipt_schema)
