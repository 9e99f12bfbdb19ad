"""The paper's audio ingest: the ``run_pipeline`` calls of a pass, their
output checks, and the traced per-layer split.

A pass runs the pipeline once in each of two shapes, each over its own
generated tree:

- ``parquet``: CSV metadata, HF-parquet shards with a manifest;
- ``duckdb``: typed JSONL metadata with many unmatched rows, DuckDB
  shards.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics

import duckdb
import pyarrow.parquet as pq

from gen_audio import LEVELS, MAX_DEPTH, AudioTree, make_tree
from harness import Clock

N_CLIPS = 240
FILES_PER_SHARD = 40

SHAPES = {
    "parquet": {"jsonl": False, "output_format": "parquet"},
    "duckdb": {"jsonl": True, "output_format": "duckdb"},
}

# layers in pipeline order; each traced prefix adds the next one
PREFIXES = ("scan", "enrich", "join", "shard", "sink")


def generate(work: str, seed: int) -> dict[str, AudioTree]:
    """One tree per shape. The seed is shared, so both trees hold the
    same clips; only the metadata side file differs."""
    return {shape: make_tree(os.path.join(work, f"audio_{shape}"), seed,
                             N_CLIPS, spec["jsonl"])
            for shape, spec in SHAPES.items()}


def run_once(spark, shape: str, tree: AudioTree, out_dir: str) -> None:
    from audios_to_dataset_spark.pipeline import run_pipeline

    fmt = SHAPES[shape]["output_format"]
    run_pipeline(
        spark, tree.root, out_dir,
        metadata_file=tree.metadata_file,
        output_format=fmt,
        files_per_shard=FILES_PER_SHARD,
        max_depth=MAX_DEPTH,
        manifest=fmt == "parquet",
    )


def remove_output(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)


def _read_parquet(out_dir: str, problems: list) -> list[tuple]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        if b"huggingface" not in (pq.read_schema(path).metadata or {}):
            problems.append(f"{os.path.basename(path)}: no huggingface footer")
        t = pq.read_table(path, columns=["audio", "duration", "src_key"])
        for a, d, k in zip(t["audio"].to_pylist(), t["duration"].to_pylist(),
                           t["src_key"].to_pylist()):
            rows.append((a["path"], d, a["sampling_rate"], k))
    if not os.path.exists(os.path.join(out_dir, "_manifest.jsonl")):
        problems.append("no _manifest.jsonl")
    return rows


# column -> DuckDB type the metadata widening lattice must produce
JSONL_TYPES = {"is_clean": "BOOLEAN", "snr": "DOUBLE", "tags": "VARCHAR",
               "mixed": "VARCHAR", "transcription": "VARCHAR"}


def _read_duckdb(out_dir: str, problems: list) -> list[tuple]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "*.duckdb"))):
        con = duckdb.connect(path, read_only=True)
        try:
            types = dict(con.execute(
                "SELECT column_name, data_type FROM information_schema.columns"
                " WHERE table_name = 'files'").fetchall())
            for col, want in JSONL_TYPES.items():
                if types.get(col) != want:
                    problems.append(f"{col} is {types.get(col)}, not {want}")
            rows += con.execute(
                "SELECT audio.path, duration, audio.sampling_rate, src_key"
                " FROM files").fetchall()
        finally:
            con.close()
    return rows


def check_output(shape: str, tree: AudioTree, out_dir: str) -> dict:
    """Read the shards back and compare them with the generator's
    expectations. Returns counts plus a ``problems`` list (empty when
    the output is correct)."""
    problems: list[str] = []
    if SHAPES[shape]["output_format"] == "parquet":
        rows = _read_parquet(out_dir, problems)
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
    else:
        rows = _read_duckdb(out_dir, problems)
        files = glob.glob(os.path.join(out_dir, "*.duckdb"))
    levels = dict.fromkeys(LEVELS, 0)
    decode_failures = 0
    seen = set()
    for path, duration, rate, key in rows:
        seen.add(path)
        if path not in tree.expected:
            problems.append(f"unexpected row {path}")
            continue
        if (duration, rate) != tree.expected[path]:
            problems.append(f"{path}: ({duration}, {rate}) != "
                            f"{tree.expected[path]}")
        if (duration, rate) == (0.0, 0):
            decode_failures += 1
        level = "miss" if key is None else key.split(":", 1)[0]
        if level not in levels or (key is not None
                                   and key.split(":", 1)[1] != path):
            problems.append(f"{path}: matched metadata row {key}")
            continue
        levels[level] += 1
    if len(rows) != len(tree.expected) or seen != set(tree.expected):
        problems.append(f"{len(rows)} rows for {len(tree.expected)} "
                        "expected files")
    if levels != tree.level_counts():
        problems.append(f"levels {levels} != {tree.level_counts()}")
    if decode_failures != len(tree.corrupt):
        problems.append(f"{decode_failures} (0.0, 0) rows for "
                        f"{len(tree.corrupt)} corrupt files")
    return {
        "problems": problems,
        "rows": len(rows),
        "levels": levels,
        "decode_failures": decode_failures,
        "out_bytes": sum(os.path.getsize(f) for f in files),
    }


def self_times(cum: dict[str, float], metadata_s: float) -> dict[str, float]:
    """Per-layer self time from cumulative prefix times.

    ``cum`` holds the wall time of each prefix in ``PREFIXES``, each run
    to completion on its own. A layer's self time is its prefix minus
    the one before; the join prefix also pays for loading the metadata,
    which is timed on its own and subtracted. Catalyst
    fuses work across layers, so these are approximations and can dip
    below zero when a layer's work is absorbed by its neighbours."""
    return {
        "scan": cum["scan"],
        "wav": cum["enrich"] - cum["scan"],
        "metadata": metadata_s,
        "lookup_join": cum["join"] - cum["enrich"] - metadata_s,
        "sharding": cum["shard"] - cum["join"],
        "sink": cum["sink"] - cum["shard"],
    }


def traced_prefixes(spark, shape: str, tree: AudioTree, out_dir: str,
                    repeats: int) -> tuple[dict, float, int, int]:
    """Run each cumulative prefix ``repeats`` times, interleaved, under
    job group ``<shape>/<prefix>:<i>``. Prefixes up to sharding go to
    the noop sink; the last one writes the shards with the shape's
    ``write_*_shards`` into ``out_dir`` and sends its receipts to the
    noop sink. Returns (median wall per prefix, median metadata load
    time, metadata rows, metadata columns)."""
    from audios_to_dataset_spark.operators.lookup_join import lookup_join
    from audios_to_dataset_spark.operators.sharding import assign_shards
    from audios_to_dataset_spark.pipeline import enrich_files
    from audios_to_dataset_spark.sinks.duckdb_sink import write_duckdb_shards
    from audios_to_dataset_spark.sinks.parquet_shards import (
        write_parquet_shards,
    )
    from audios_to_dataset_spark.sources.binary_scan import scan_audio_files
    from audios_to_dataset_spark.sources.metadata import load_metadata

    from harness import isolate

    sc = spark.sparkContext
    write_shards = (write_parquet_shards
                    if SHAPES[shape]["output_format"] == "parquet"
                    else write_duckdb_shards)

    def build(upto: str):
        df = scan_audio_files(spark, tree.root, max_depth=MAX_DEPTH,
                              metadata_file=tree.metadata_file)
        if upto == "scan":
            return df
        df = enrich_files(df)
        if upto == "enrich":
            return df
        df = lookup_join(df, load_metadata(spark, tree.metadata_file))
        if upto == "join":
            return df
        df = assign_shards(df, FILES_PER_SHARD)
        if upto == "shard":
            return df
        return write_shards(df, out_dir)

    times: dict[str, list[float]] = {p: [] for p in PREFIXES}
    meta_times: list[float] = []
    for i in range(repeats):
        for p in PREFIXES:
            isolate(spark)
            remove_output(out_dir)
            sc.setJobGroup(f"{shape}/{p}:{i}", f"perfbench prefix {p}")
            with Clock() as c:
                build(p).write.mode("overwrite").format("noop").save()
            times[p].append(c.s)
        isolate(spark)
        sc.setJobGroup(f"{shape}/metadata:{i}", "perfbench metadata load")
        with Clock() as c:
            meta = load_metadata(spark, tree.metadata_file)
            meta.write.mode("overwrite").format("noop").save()
        meta_times.append(c.s)
    remove_output(out_dir)
    sc.setJobGroup(f"{shape}/metadata-count", "perfbench metadata count")
    meta = load_metadata(spark, tree.metadata_file)
    n_rows, n_cols = meta.count(), len(meta.columns)
    sc.setJobGroup("", "")
    return ({p: statistics.median(v) for p, v in times.items()},
            statistics.median(meta_times),
            n_rows, n_cols)
