"""Audio-file scan source (S1-S5): recursive directory walk → DataFrame.

Reference behavior (/root/reference/src/main.rs:655-710):

- recursive walk skipping symlinks, depth capped (default 50)
- directories skipped (files only)
- the metadata file itself excluded (by normalized relative path AND by
  canonical absolute path)
- optional MIME filter keeping a 12-entry audio allow-list (:97-110)
- whole-file bytes read per file (:738-741)

Spark shape: ``binaryFile`` source with recursiveFileLookup — columns
(path, modificationTime, length, content). The depth cap and metadata
exclusion are path-expression filters (pushed before any content I/O, the
same hand-placed-filter-order the reference uses); the MIME check is a
magic-bytes prefix test on ``content`` — JVM-side expressions, no UDF.

Scale note: binaryFile carries whole files in rows (2 GB row limit). At
100 TB the scan parallelizes by file; `spark.sql.files.maxPartitionBytes`
bounds per-task working set, and cheap path filters run before content
materialization (SURVEY.md §4.1 caveat).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.paths import basename, local_path, normalize_path_str

DEFAULT_MAX_DEPTH = 50  # src/main.rs:71-73

# Above this many symlink entries the exclusion switches from in-plan
# literal predicates to a broadcast anti-join (keeps the plan small).
_SYMLINK_LITERAL_CAP = 100


def _symlink_entries(input_dir: str) -> tuple[list[str], list[str]]:
    """Driver-side walk collecting symlinked files and directories.

    Symlink-ness is a local-filesystem property that Hadoop's
    LocalFileSystem resolves away before Spark ever sees the listing, so
    the only place it can be observed is a driver-side ``os.walk`` (no
    ``followlinks``, mirroring the reference's iterator-level NoSymlink
    filter, /root/reference/src/main.rs:661-667). Object stores have no
    symlinks, so at 100 TB this walk only ever runs for local inputs and
    costs one directory traversal with no file I/O.
    """
    root = os.path.abspath(input_dir)
    files: list[str] = []
    dirs: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root):
        for d in dirnames:
            p = os.path.join(dirpath, d)
            if os.path.islink(p):
                dirs.append(p)
        for f in filenames:
            p = os.path.join(dirpath, f)
            if os.path.islink(p):
                files.append(p)
    return files, dirs


def relative_path(col: Column, input_dir: str) -> Column:
    """P2 (src/main.rs:743-758): strip the input-dir prefix then normalize;
    empty result falls back to the basename."""
    no_scheme = local_path(col)
    prefix = os.path.abspath(input_dir).rstrip("/") + "/"
    rel = F.when(
        no_scheme.startswith(prefix),
        F.substring(no_scheme, len(prefix) + 1, 1 << 30),
    ).otherwise(no_scheme)
    rel = normalize_path_str(rel)
    base = F.element_at(F.split(rel, "/"), -1)
    return F.when(rel == "", base).otherwise(rel)


def scan_audio_files(
    spark: SparkSession,
    input_dir: str,
    max_depth: int = DEFAULT_MAX_DEPTH,
    metadata_file: str | None = None,
    check_mime_type: bool = False,
) -> DataFrame:
    """S1-S5: recursive binaryFile scan with the reference's filters.

    Returns columns: ``path`` (absolute), ``relative_path``, ``file_name``,
    ``content`` (binary), ``length``.
    """
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(input_dir)
    )

    # Symlink exclusion (S1, src/main.rs:661-667): Hadoop's local FS
    # follows symlinks, so binaryFile would double-count link targets;
    # drop rows whose path is a symlinked file or sits under a symlinked
    # directory. binaryFile paths are not percent-encoded (verified for
    # space/unicode/% names), so plain string compare works.
    if not input_dir.startswith(("s3", "hdfs", "gs")):
        link_files, link_dirs = _symlink_entries(input_dir)
        no_scheme = local_path(F.col("path"))
        if len(link_files) + len(link_dirs) > _SYMLINK_LITERAL_CAP:
            banned = [(p,) for p in link_files]
            df = df.join(
                F.broadcast(
                    spark.createDataFrame(banned, "banned_path string")
                ),
                no_scheme == F.col("banned_path"),
                "left_anti",
            )
            for d in link_dirs:
                df = df.filter(~no_scheme.startswith(d + "/"))
        else:
            for p in link_files:
                df = df.filter(no_scheme != F.lit(p))
            for d in link_dirs:
                df = df.filter(~no_scheme.startswith(d + "/"))

    rel = relative_path(F.col("path"), input_dir)
    df = df.select(
        F.col("path"),
        rel.alias("relative_path"),
        basename(F.col("path")).alias("file_name"),
        F.col("content"),
        F.col("length"),
    )

    # Depth cap (S1): segments of the relative path ≤ max_depth.
    df = df.filter(
        F.size(F.split(F.col("relative_path"), "/")) <= max_depth
    )

    # Metadata-file self-exclusion (S3): by normalized relative path and
    # by absolute path (src/main.rs:650-659, 677-693).
    if metadata_file is not None:
        meta_abs = os.path.abspath(metadata_file)
        meta_rel = os.path.relpath(meta_abs, os.path.abspath(input_dir))
        df = df.filter(local_path(F.col("path")) != F.lit(meta_abs))
        # The relative-path exclusion only applies when the metadata file
        # actually lives under the input dir: a '../'-prefixed relpath
        # must NOT be prefix-stripped into a name that shadows an
        # unrelated input file (r1 ADVICE: lstrip('./') strips a char
        # set, not a prefix).
        if not meta_rel.startswith(".."):
            meta_rel_norm = re.sub(r"^(\./)+", "", meta_rel.replace("\\", "/"))
            df = df.filter(
                F.col("relative_path") != F.lit(meta_rel_norm)
            )

    if check_mime_type:
        from ..functions.mime import is_audio_content

        df = df.filter(is_audio_content(F.col("content")))

    return df
