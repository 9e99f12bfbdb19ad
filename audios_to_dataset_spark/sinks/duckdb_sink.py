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

Spark shape: one ``applyInArrow`` task per shard through the shared shard
writer (``sinks.write_shards``) — each task owns its .duckdb file
exclusively (same single-writer model as the reference's
connection-per-shard). Rows are inserted via DuckDB's scan of the
shard's Arrow table, not row-at-a-time statements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import sink_metadata_fields
from . import write_shards


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
    """Write one ``<shard>.duckdb`` per shard through
    :func:`..sinks.write_shards`; returns its write receipts.

    The INSERT has no ORDER BY: ``write_shards`` hands each shard over
    in ``row_in_shard`` order, and DuckDB keeps insertion order
    (``preserve_insertion_order``, on by default), so no sort has to
    hold the whole shard."""
    meta_fields = sink_metadata_fields(df)
    ddl = build_create_table_sql(meta_fields)
    meta_cols = "".join(
        f', "{sanitize_column_name(n)}"' for n, _ in meta_fields
    )
    insert = (
        f"INSERT INTO files (id, duration, audio{meta_cols}) "
        f"SELECT row_in_shard, duration, "
        f"struct_pack(path := relative_path, "
        f"sampling_rate := CAST(sampling_rate AS INTEGER), "
        f"bytes := CAST(content AS BLOB)){meta_cols} "
        f"FROM payload"
    )

    def write_file(table, path: str) -> None:
        import duckdb

        con = duckdb.connect(path)
        try:
            con.execute(ddl)
            con.register("payload", table)
            con.execute("BEGIN TRANSACTION")
            con.execute(insert)
            con.execute("COMMIT")
        finally:
            con.close()

    # Lists are stored as JSON text (src/main.rs:835-837); stringify
    # JVM-side so the Arrow payload is already VARCHAR-shaped.
    lists = {
        n: F.to_json(n) for n, dt in meta_fields if isinstance(dt, T.ArrayType)
    }
    return write_shards(df.withColumns(lists), output_dir, "duckdb", write_file)
