"""The shard writer behind the parquet and DuckDB sinks.

One task per shard holds the shard's rows once, as the reference's shard
workers do (src/main.rs:737-795): ``applyInArrow`` in its table form
joins the shard's Arrow batches (each capped by
``spark.sql.execution.arrow.maxBytesPerBatch``) into one ``pa.Table``
without a copy, in ``row_in_shard`` order from the one sort before the
grouped operator. A sink only projects its columns and writes one file.
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.wav import parse_wav_header
from ..schema import sink_metadata_fields, sink_wav_columns

RECEIPT_SCHEMA = (
    "shard long, n_rows long, out_path string, n_bytes long, "
    "sum_duration double, min_duration double, max_duration double"
)


def _nan_as_null(c: Column, dt: T.DataType) -> Column:
    """A JSONL ``NaN`` literal reads as a double NaN; as missing metadata
    it is written as NULL (src/main.rs:486-509), in lists too."""
    if isinstance(dt, T.DoubleType):
        return F.nanvl(c, F.lit(None).cast(dt))
    if isinstance(dt, T.ArrayType) and "double" in dt.simpleString():
        return F.transform(c, lambda x: _nan_as_null(x, dt.elementType))
    return c


def write_shards(
    df: DataFrame,
    output_dir: str,
    ext: str,
    write_file: Callable[[pa.Table, str], None],
) -> DataFrame:
    """Write one ``<shard>.<ext>`` per shard with ``write_file(table,
    path)``; returns a DataFrame of ``RECEIPT_SCHEMA`` write receipts.

    ``df`` must carry: shard, row_in_shard, relative_path, content, and
    the widened metadata columns (everything else is ignored). A frame
    that carries both duration and sampling_rate keeps them; otherwise
    each shard task decodes them from the WAV header of ``content``.

    S12 idempotent replace, made atomic: the file is written at
    ``<name>.tmp`` and renamed into place, so a reader never sees a torn
    shard, a failed write leaves the previous one intact, and a retry
    replaces it again.
    """
    os.makedirs(output_dir, exist_ok=True)
    wav_cols = sink_wav_columns(df)
    cols = ["shard", "row_in_shard", "relative_path", "content", *wav_cols]
    cols += [
        _nan_as_null(F.col(n), dt).alias(n) for n, dt in sink_metadata_fields(df)
    ]

    def write(table):
        if not wav_cols:
            info = [parse_wav_header(v.as_py()) for v in table["content"]]
            table = table.append_column(
                "duration", pa.array([d for d, _ in info], pa.float64())
            ).append_column(
                "sampling_rate", pa.array([s for _, s in info], pa.int32())
            )
        shard = table["shard"][0].as_py()
        out_path = os.path.join(output_dir, f"{shard}.{ext}")
        tmp_path = out_path + ".tmp"
        try:
            if os.path.exists(tmp_path):  # left by a killed attempt
                os.remove(tmp_path)
            write_file(table, tmp_path)
            os.replace(tmp_path, out_path)
        finally:
            if os.path.exists(tmp_path):
                os.remove(tmp_path)
        dur = table["duration"].to_numpy()
        return pa.table(
            {
                "shard": [shard],
                "n_rows": [table.num_rows],
                "out_path": [out_path],
                "n_bytes": [os.path.getsize(out_path)],
                "sum_duration": [float(np.nansum(dur))],
                "min_duration": [float(np.nanmin(dur))],
                "max_duration": [float(np.nanmax(dur))],
            }
        )

    return (
        df.select(*cols)
        .repartition("shard")
        .sortWithinPartitions("shard", "row_in_shard")
        .groupBy("shard")
        .applyInArrow(write, RECEIPT_SCHEMA)
    )
