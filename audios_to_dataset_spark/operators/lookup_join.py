"""Metadata lookup join (J1-J3) — the reference's 3-level key-priority
fallback as broadcast left joins.

Reference semantics (metadata_for_file, /root/reference/src/main.rs:195-209):
for each file, probe ``by_relative_path[rel]``, else ``by_name[file_name]``,
else ``by_name[rel]``; a miss yields the empty record. The fallback is
**record-level**: the first index that matches supplies the WHOLE record
(including its NULL fields) — later levels are not consulted per-column.
Finally transcription defaults to "-" (:204-207).

Spark shape: the two indexes are first-wins-deduped projections of the
metadata DataFrame (J2); three LEFT broadcast joins (the reference shares
the indexes across workers via Arc — exactly a broadcast build side,
src/main.rs:628-633); per-column selection guarded by which level matched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import TRANSCRIPTION, TRANSCRIPTION_DEFAULT
from ..sources.metadata import first_wins


def lookup_join(
    files: DataFrame,
    metadata: DataFrame,
    broadcast: bool = True,
) -> DataFrame:
    """Enrich ``files`` with metadata columns via the 3-level fallback.

    ``files`` and ``metadata`` must carry ``relative_path``/``file_name``
    key columns, and ``metadata`` a ``_line`` ordering column (as
    produced by sources.metadata loaders).

    ``broadcast=True`` matches the reference's Arc-shared in-RAM index
    (metadata fits on every worker). For metadata too big to broadcast,
    pass False: the three joins become shuffle joins on the key columns —
    same semantics, and AQE's skew handling covers hot keys.
    """
    value_cols = sorted(
        c
        for c in metadata.columns
        if c not in ("relative_path", "file_name", "_line")
    )

    # The two hash indexes, first-record-wins per key (J2).
    by_rel = first_wins(metadata, "relative_path").select(
        F.col("relative_path").alias("_k1"),
        F.lit(True).alias("_m1"),
        *[F.col(c).alias(f"_1_{c}") for c in value_cols],
    )
    by_name = first_wins(metadata, "file_name").select(
        F.col("file_name").alias("_k2"),
        F.lit(True).alias("_m2"),
        *[F.col(c).alias(f"_2_{c}") for c in value_cols],
    )
    by_name_as_rel = by_name.select(
        F.col("_k2").alias("_k3"),
        F.col("_m2").alias("_m3"),
        *[F.col(f"_2_{c}").alias(f"_3_{c}") for c in value_cols],
    )

    hint = F.broadcast if broadcast else (lambda df: df)
    joined = (
        files.join(
            hint(by_rel), files["relative_path"] == by_rel["_k1"], "left"
        )
        .join(hint(by_name), files["file_name"] == by_name["_k2"], "left")
        .join(
            hint(by_name_as_rel),
            files["relative_path"] == by_name_as_rel["_k3"],
            "left",
        )
    )

    picked = []
    for c in value_cols:
        expr = (
            F.when(F.col("_m1"), F.col(f"_1_{c}"))
            .when(F.col("_m2"), F.col(f"_2_{c}"))
            .when(F.col("_m3"), F.col(f"_3_{c}"))
        )
        if c == TRANSCRIPTION:
            expr = F.coalesce(expr, F.lit(TRANSCRIPTION_DEFAULT))
        picked.append(expr.alias(c))

    keep = [F.col(c) for c in files.columns]
    return joined.select(*keep, *picked)
