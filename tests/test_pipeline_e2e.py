"""End-to-end pipeline tests mirroring the reference's e2e suite
(/root/reference/tests/end_to_end.rs): synthetic sine WAVs + metadata →
sharded output → read back → golden-value assertions."""

from __future__ import annotations

import glob
import json
import os
import struct

import duckdb
import pyarrow.parquet as pq
import pytest

from audios_to_dataset_spark.functions.wav import synth_wav
from audios_to_dataset_spark.pipeline import run_pipeline


@pytest.fixture()
def audio_dir(tmp_path):
    d = tmp_path / "audio"
    d.mkdir()
    (d / "sample.wav").write_bytes(synth_wav(sample_rate=16_000))
    nested = d / "nested"
    nested.mkdir()
    (nested / "with_path.wav").write_bytes(synth_wav(sample_rate=44_100))
    return str(d)


def _read_shard(out_dir: str, idx: int = 0):
    return pq.read_table(os.path.join(out_dir, f"{idx}.parquet"))


def test_csv_relative_path_golden(spark, tmp_path, audio_dir):
    # end_to_end.rs:11-86 — CSV keyed by relative_path, golden values
    meta = tmp_path / "metadata.csv"
    meta.write_text(
        "file_name,transcription,relative_path\n"
        "sample.wav,test transcription,sample.wav\n"
        "with_path.wav,nested one,nested/with_path.wav\n"
    )
    out = str(tmp_path / "out")
    receipts = run_pipeline(
        spark, audio_dir, out, metadata_file=str(meta)
    )
    assert len(receipts) == 1 and receipts[0].n_rows == 2
    t = _read_shard(out)
    assert t.num_rows == 2
    rows = t.to_pylist()
    by_path = {r["audio"]["path"]: r for r in rows}
    r = by_path["sample.wav"]
    assert r["duration"] == 1.0
    assert r["audio"]["sampling_rate"] == 16_000
    assert r["transcription"] == "test transcription"
    assert bytes(r["audio"]["bytes"]) == synth_wav(sample_rate=16_000)
    r2 = by_path["nested/with_path.wav"]
    assert r2["duration"] == 1.0
    assert r2["audio"]["sampling_rate"] == 44_100
    assert r2["transcription"] == "nested one"
    # column order: audio, duration, then metadata lexicographic
    assert t.column_names == ["audio", "duration", "transcription"]
    # audio struct field order bytes/sampling_rate/path (src/main.rs:465-469)
    assert [f.name for f in t.schema.field("audio").type] == [
        "bytes", "sampling_rate", "path"
    ]


def test_csv_fallback_by_file_name(spark, tmp_path, audio_dir):
    # end_to_end.rs:88-131 — metadata keyed only by file_name
    meta = tmp_path / "m.csv"
    meta.write_text(
        "file_name,transcription\nwith_path.wav,found by name\n"
    )
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, metadata_file=str(meta))
    rows = _read_shard(out).to_pylist()
    by_path = {r["audio"]["path"]: r for r in rows}
    assert by_path["nested/with_path.wav"]["transcription"] == "found by name"
    # unmatched file gets the "-" default (README.md:62)
    assert by_path["sample.wav"]["transcription"] == "-"


def test_jsonl_typed_scalars(spark, tmp_path, audio_dir):
    # end_to_end.rs:133-189 — string/bool/float columns land typed
    meta = tmp_path / "m.jsonl"
    meta.write_text(
        json.dumps(
            {
                "relative_path": "sample.wav",
                "transcription": "jsonl text",
                "speaker": "alice",
                "verified": True,
                "snr": 12.5,
            }
        )
        + "\n"
    )
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, metadata_file=str(meta))
    t = _read_shard(out)
    import pyarrow as pa

    schema = {f.name: f.type for f in t.schema}
    assert schema["speaker"] == pa.string()
    assert schema["verified"] == pa.bool_()
    assert schema["snr"] == pa.float64()
    by_path = {r["audio"]["path"]: r for r in t.to_pylist()}
    r = by_path["sample.wav"]
    assert (r["speaker"], r["verified"], r["snr"]) == ("alice", True, 12.5)
    # the unmatched file's typed columns are NULL — including doubles,
    # which must not degrade to NaN through the pandas hop
    r2 = by_path["nested/with_path.wav"]
    assert r2["speaker"] is None and r2["verified"] is None
    assert r2["snr"] is None


def test_jsonl_arrays_roundtrip(spark, tmp_path, audio_dir):
    # end_to_end.rs:191-269 — list<string>, list<double>, list<bool>
    meta = tmp_path / "m.jsonl"
    meta.write_text(
        json.dumps(
            {
                "relative_path": "sample.wav",
                "transcription": "array text",
                "tags": ["music", "test"],
                "scores": [0.1, 0.2],
                "flags": [True, False],
                "counts": [1, 2, 3],
            }
        )
        + "\n"
    )
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, metadata_file=str(meta))
    t = _read_shard(out)
    by_path = {r["audio"]["path"]: r for r in t.to_pylist()}
    r = by_path["sample.wav"]
    assert r["tags"] == ["music", "test"]
    assert r["scores"] == [0.1, 0.2]
    assert r["flags"] == [True, False]
    # JSON integers are Float64 in the reference lattice (src/main.rs:215)
    assert r["counts"] == [1.0, 2.0, 3.0]
    # HF footer features (src/main.rs:582-601)
    hf = json.loads(t.schema.metadata[b"huggingface"])
    feats = hf["info"]["features"]
    assert feats["audio"] == {"_type": "Audio"}
    assert feats["duration"] == {"dtype": "float64", "_type": "Value"}
    assert feats["tags"] == {
        "_type": "Sequence",
        "feature": {"dtype": "string", "_type": "Value"},
    }
    assert feats["counts"] == {
        "_type": "Sequence",
        "feature": {"dtype": "float64", "_type": "Value"},
    }


def test_jsonl_file_name_with_nested_path(spark, tmp_path, audio_dir):
    # end_to_end.rs:271-330 — file_name carrying a path matches via the
    # 3rd lookup level by_name[relative_path] (src/main.rs:201)
    meta = tmp_path / "m.jsonl"
    meta.write_text(
        json.dumps(
            {
                "file_name": "nested/with_path.wav",
                "transcription": "path lookup",
                "speaker": "bob",
            }
        )
        + "\n"
    )
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, metadata_file=str(meta))
    by_path = {
        r["audio"]["path"]: r for r in _read_shard(out).to_pylist()
    }
    assert by_path["nested/with_path.wav"]["transcription"] == "path lookup"
    assert by_path["nested/with_path.wav"]["speaker"] == "bob"


def test_no_metadata_defaults(spark, tmp_path, audio_dir):
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out)
    rows = _read_shard(out).to_pylist()
    assert {r["transcription"] for r in rows} == {"-"}


def test_sharding_and_overwrite(spark, tmp_path, audio_dir):
    out = str(tmp_path / "out")
    receipts = run_pipeline(spark, audio_dir, out, files_per_shard=1)
    assert sorted(r.shard for r in receipts) == [0, 1]
    assert os.path.exists(os.path.join(out, "0.parquet"))
    assert os.path.exists(os.path.join(out, "1.parquet"))
    # shard membership follows relative_path order
    t0 = _read_shard(out, 0).to_pylist()
    assert t0[0]["audio"]["path"] == "nested/with_path.wav"
    # idempotent replace (S12): run again, still exactly one row each
    receipts = run_pipeline(spark, audio_dir, out, files_per_shard=1)
    assert _read_shard(out, 0).num_rows == 1


def test_metadata_file_excluded_from_scan(spark, tmp_path, audio_dir):
    # S3: metadata file living inside the input dir is not ingested
    meta = os.path.join(audio_dir, "metadata.csv")
    with open(meta, "w") as f:
        f.write("file_name,transcription\nsample.wav,hello\n")
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, metadata_file=meta)
    paths = {r["audio"]["path"] for r in _read_shard(out).to_pylist()}
    assert "metadata.csv" not in paths
    assert paths == {"sample.wav", "nested/with_path.wav"}


def test_symlinks_excluded_from_scan(spark, tmp_path, audio_dir):
    # S1 (src/main.rs:661-667): symlinked files and files reached through
    # symlinked directories are skipped, like the reference's NoSymlink
    # iterator filter. Without the exclusion, binaryFile ingests both.
    outside = tmp_path / "outside"
    outside.mkdir()
    (outside / "target.wav").write_bytes(synth_wav(sample_rate=8_000))
    os.symlink(str(outside / "target.wav"),
               os.path.join(audio_dir, "link.wav"))
    os.symlink(str(outside), os.path.join(audio_dir, "linkdir"))
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out)
    paths = {r["audio"]["path"] for r in _read_shard(out).to_pylist()}
    assert paths == {"sample.wav", "nested/with_path.wav"}


def test_metadata_outside_input_dir_no_shadow_exclusion(
    spark, tmp_path, audio_dir
):
    # r1 ADVICE: '../m.csv' must not normalize to 'm.csv' and silently
    # exclude an unrelated input file of that relative name.
    shadow = os.path.join(audio_dir, "m.csv")
    with open(shadow, "w") as f:
        f.write("file_name,transcription\nwhatever.wav,x\n")  # a data file!
    meta = tmp_path / "m.csv"  # OUTSIDE the input dir, same basename
    meta.write_text("file_name,transcription\nsample.wav,outer meta\n")
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, metadata_file=str(meta))
    rows = {r["audio"]["path"]: r for r in _read_shard(out).to_pylist()}
    # the in-dir m.csv is DATA (kept, duration 0.0); the outer metadata
    # still joined
    assert "m.csv" in rows
    assert rows["sample.wav"]["transcription"] == "outer meta"


def test_filename_edge_cases(spark, tmp_path):
    # src/main.rs:771-780 neighborhood: names with spaces, unicode and
    # literal '%NN' sequences survive the scan unmangled (binaryFile does
    # not percent-encode) and join metadata by file_name.
    d = tmp_path / "audio"
    d.mkdir()
    weird = ["with space.wav", "uni_é_ü.wav", "pct%20enc.wav"]
    for name in weird:
        (d / name).write_bytes(synth_wav(sample_rate=16_000))
    meta = tmp_path / "m.csv"
    meta.write_text(
        "file_name,transcription\n"
        + "".join(f"{n},meta for {n}\n" for n in weird)
    )
    out = str(tmp_path / "out")
    run_pipeline(spark, str(d), out, metadata_file=str(meta))
    rows = {r["audio"]["path"]: r for r in _read_shard(out).to_pylist()}
    assert set(rows) == set(weird)
    for n in weird:
        assert rows[n]["transcription"] == f"meta for {n}"
        assert rows[n]["duration"] == 1.0


def test_mime_filter(spark, tmp_path, audio_dir):
    # S4: a non-audio file is dropped only when check_mime_type is on
    with open(os.path.join(audio_dir, "notes.txt"), "w") as f:
        f.write("not audio")
    out1 = str(tmp_path / "out1")
    run_pipeline(spark, audio_dir, out1)
    assert _read_shard(out1).num_rows == 3  # kept, duration 0.0
    rows = {r["audio"]["path"]: r for r in _read_shard(out1).to_pylist()}
    assert rows["notes.txt"]["duration"] == 0.0
    assert rows["notes.txt"]["audio"]["sampling_rate"] == 0
    out2 = str(tmp_path / "out2")
    run_pipeline(spark, audio_dir, out2, check_mime_type=True)
    assert _read_shard(out2).num_rows == 2


def test_duckdb_sink(spark, tmp_path, audio_dir):
    meta = tmp_path / "m.jsonl"
    meta.write_text(
        json.dumps(
            {
                "relative_path": "sample.wav",
                "transcription": "db text",
                "verified": True,
                "snr": 3.5,
                "tags": ["a", "b"],
            }
        )
        + "\n"
    )
    out = str(tmp_path / "db")
    receipts = run_pipeline(
        spark, audio_dir, out, metadata_file=str(meta),
        output_format="duckdb",
    )
    assert len(receipts) == 1
    con = duckdb.connect(os.path.join(out, "0.duckdb"))
    rows = con.execute(
        "SELECT id, duration, audio.path, audio.sampling_rate, "
        "audio.bytes, snr, tags, transcription, verified "
        "FROM files ORDER BY id"
    ).fetchall()
    con.close()
    assert [r[0] for r in rows] == [0, 1]  # id = in-shard index
    by_path = {r[2]: r for r in rows}
    r = by_path["sample.wav"]
    assert r[1] == 1.0 and r[3] == 16_000
    assert bytes(r[4]) == synth_wav(sample_rate=16_000)
    assert r[5] == 3.5
    assert r[6] == '["a","b"]'  # lists stored as JSON text
    assert r[7] == "db text" and r[8] is True
    r2 = by_path["nested/with_path.wav"]
    assert r2[7] == "-" and r2[5] is None


def test_first_wins_duplicate_metadata(spark, tmp_path, audio_dir):
    # J2: first record per key wins (src/main.rs:178-193). Whichever
    # levels match, each file keeps exactly one row, so the shards
    # (assigned before the join) stay contiguous in relative_path order.
    for rel in ("nested/sample.wav", "a/with_path.wav", "z.wav"):
        f = os.path.join(audio_dir, rel)
        os.makedirs(os.path.dirname(f), exist_ok=True)
        with open(f, "wb") as fh:
            fh.write(synth_wav(sample_rate=8_000))
    meta = tmp_path / "m.csv"
    meta.write_text(
        "relative_path,file_name,transcription\n"
        "sample.wav,,first\n"
        "sample.wav,,second\n"
        ",with_path.wav,by name first\n"
        ",with_path.wav,by name second\n"
        ",nested/sample.wav,level three\n"
    )
    out = str(tmp_path / "out")
    run_pipeline(
        spark, audio_dir, out, metadata_file=str(meta), files_per_shard=2
    )
    placed = [
        (shard, row, r["audio"]["path"], r["transcription"])
        for shard in range(3)
        for row, r in enumerate(_read_shard(out, shard).to_pylist())
    ]
    assert not os.path.exists(os.path.join(out, "3.parquet"))
    expected = {
        "a/with_path.wav": "by name first",
        "nested/sample.wav": "level three",
        "nested/with_path.wav": "by name first",
        "sample.wav": "first",
        "z.wav": "-",
    }
    assert [(s, r) for s, r, _, _ in placed] == [
        (i // 2, i % 2) for i in range(len(expected))
    ]
    assert [(p, t) for _, _, p, t in placed] == sorted(expected.items())


def _plan_nodes(node):
    """Every node of a physical plan (py4j SparkPlan), pre-order."""
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _output_names(node) -> set[str]:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def test_audio_bytes_cross_one_exchange(spark, tmp_path, audio_dir):
    """The path -> shard mapping is broadcast to the scan, so the only
    shuffle that carries ``content`` is the sink's repartition(shard),
    and the only sort is the one over it.
    The unmatched metadata rows keep the joined frame's size estimate (a
    product over the three left joins) above the broadcast threshold, so
    a mapping computed after the join would be shuffle-joined."""
    from audios_to_dataset_spark.pipeline import build_dataset
    from audios_to_dataset_spark.sinks.parquet_shards import (
        write_parquet_shards,
    )

    meta = tmp_path / "m.csv"
    meta.write_text(
        "file_name,transcription\nsample.wav,hello\n"
        + "".join(f"unmatched_{i}.wav,t{i}\n" for i in range(50))
    )
    receipts = write_parquet_shards(
        build_dataset(spark, audio_dir, metadata_file=str(meta)),
        str(tmp_path / "out"),
    )
    plan = receipts._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes = list(_plan_nodes(plan))
    fat_exchanges = [
        n for n in nodes
        if n.nodeName() == "Exchange" and "content" in _output_names(n)
    ]
    assert len(fat_exchanges) == 1
    assert any(
        n.nodeName() == "BroadcastHashJoin"
        and "row_in_shard" in _output_names(n.buildPlan())
        and "content" in _output_names(n.streamedPlan())
        for n in nodes
    )
    # The shard tasks get their rows in row_in_shard order from one
    # sort over that exchange; the grouped operator adds none.
    [sort] = [
        n for n in nodes
        if n.nodeName() == "Sort" and "content" in _output_names(n)
    ]
    order = sort.sortOrder()
    assert [order.apply(i).child().name() for i in range(order.size())] == [
        "shard", "row_in_shard"
    ]
    assert sort.child().equals(fat_exchanges[0])


@pytest.mark.parametrize("output_format", ["parquet", "duckdb"])
def test_ingest_map_stage_runs_without_python(
    spark, tmp_path, audio_dir, monkeypatch, output_format
):
    """The frame ``run_pipeline`` hands the parquet and DuckDB sinks has
    no WAV projection: the written plan's only Python node is the sink's
    grouped Arrow function, which decodes the headers, and the audio
    bytes still cross one exchange."""
    from audios_to_dataset_spark.sinks import duckdb_sink, parquet_shards

    module, name = {
        "parquet": (parquet_shards, "write_parquet_shards"),
        "duckdb": (duckdb_sink, "write_duckdb_shards"),
    }[output_format]
    sink = getattr(module, name)
    written = []

    def spy(df, *args, **kwargs):
        receipts = sink(df, *args, **kwargs)
        plan = receipts._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        written.append(
            [(n.nodeName(), _output_names(n)) for n in _plan_nodes(plan)]
        )
        return receipts

    monkeypatch.setattr(module, name, spy)
    meta = tmp_path / "m.csv"
    meta.write_text(
        "file_name,transcription\nsample.wav,hello\n"
        + "".join(f"unmatched_{i}.wav,t{i}\n" for i in range(50))
    )
    run_pipeline(
        spark, audio_dir, str(tmp_path / "out"), metadata_file=str(meta),
        output_format=output_format,
    )
    [nodes] = written
    python_nodes = [
        n for n, _ in nodes
        if any(k in n for k in ("Python", "Pandas", "Arrow"))
    ]
    assert python_nodes == ["FlatMapGroupsInArrow"]
    fat = [n for n, out in nodes if n == "Exchange" and "content" in out]
    assert len(fat) == 1


def _chunk(cid: bytes, body: bytes) -> bytes:
    # RIFF chunks are word-aligned: an odd body gets one pad byte
    return cid + struct.pack("<I", len(body)) + body + b"\0" * (len(body) & 1)


def _riff(*chunks: bytes) -> bytes:
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _fmt(rate: int, channels: int = 1) -> bytes:
    return _chunk(b"fmt ", struct.pack(
        "<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16
    ))


@pytest.fixture()
def header_tree(tmp_path):
    """WAV header shapes the decode must agree on wherever it runs."""
    d = tmp_path / "headers"
    (d / "sub").mkdir(parents=True)
    pcm = bytes(range(256)) * 25  # 6400 bytes
    files = {
        "mono.wav": synth_wav(sample_rate=16_000, n_samples=4_000),
        "sub/stereo.wav": synth_wav(
            sample_rate=22_050, n_samples=3_000, channels=2
        ),
        # odd-sized LIST chunk (padded) between fmt and data
        "list_first.wav": _riff(
            _fmt(8_000),
            _chunk(b"LIST", b"INFOISFT" + struct.pack("<I", 5) + b"test\0"),
            _chunk(b"data", pcm),
        ),
        "trailing.wav": _riff(
            _fmt(11_025, 2), _chunk(b"data", pcm), _chunk(b"id3 ", b"xyz")
        ),
        # data chunk declares more bytes than the file holds
        "sub/truncated.wav": synth_wav(sample_rate=8_000)[:-1001],
        # fmt chunk too short to hold a rate
        "corrupt.wav": _riff(_chunk(b"fmt ", b"garbage!"), _chunk(b"data", pcm)),
        "notes.txt": b"not a RIFF file at all",
    }
    for rel, data in files.items():
        (d / rel).write_bytes(data)
    return str(d)


def test_sinks_decode_like_build_dataset(spark, tmp_path, header_tree):
    """Both sinks, decoding in their shard tasks, write the
    (duration, sampling_rate) that ``build_dataset``'s columns carry,
    and the parquet shards and manifest stats equal those of a write of
    ``build_dataset``'s frame."""
    from audios_to_dataset_spark.pipeline import build_dataset
    from audios_to_dataset_spark.sinks.parquet_shards import (
        write_parquet_shards,
    )

    ds = build_dataset(spark, header_tree, files_per_shard=3)
    want = {
        r.relative_path: (r.duration, r.sampling_rate) for r in ds.collect()
    }
    assert want["mono.wav"] == (0.25, 16_000)
    assert want["list_first.wav"] == (0.4, 8_000)
    assert want["trailing.wav"] == (1600 / 11_025, 11_025)
    assert 0.0 < want["sub/truncated.wav"][0] < 1.0
    assert want["corrupt.wav"] == want["notes.txt"] == (0.0, 0)
    assert len(want) == 7

    pq_out = tmp_path / "pq"
    run_pipeline(
        spark, header_tree, str(pq_out), files_per_shard=3, manifest=True
    )
    got = {
        r["audio"]["path"]: (r["duration"], r["audio"]["sampling_rate"])
        for r in spark.read.parquet(str(pq_out)).collect()
    }
    assert got == want

    duck_out = tmp_path / "duck"
    run_pipeline(
        spark, header_tree, str(duck_out), files_per_shard=3,
        output_format="duckdb",
    )
    got = {}
    for shard in glob.glob(str(duck_out / "*.duckdb")):
        con = duckdb.connect(shard, read_only=True)
        got.update(
            (p, (d, sr)) for p, d, sr in con.execute(
                "SELECT audio.path, duration, audio.sampling_rate FROM files"
            ).fetchall()
        )
        con.close()
    assert got == want

    ref_out = tmp_path / "ref"
    ref = write_parquet_shards(ds, str(ref_out)).collect()
    stats = sorted(
        (r.shard, r.n_rows, r.sum_duration, r.min_duration, r.max_duration)
        for r in ref
    )
    with open(pq_out / "_manifest.jsonl") as f:
        manifest = [json.loads(line) for line in f]
    assert sorted(
        (m["shard"], m["n_rows"], m["sum_duration"], m["min_duration"],
         m["max_duration"])
        for m in manifest
    ) == stats
    for r in ref:
        name = os.path.basename(r.out_path)
        assert (pq_out / name).read_bytes() == (ref_out / name).read_bytes()


def test_nan_metadata_stays_null(spark, tmp_path, audio_dir):
    """A JSONL ``NaN`` literal is missing metadata: both sinks write it
    as NULL, as a scalar and (parquet) as a list element. The DuckDB
    sink stores lists as their JSON text, where it stays ``"NaN"``."""
    meta = tmp_path / "m.jsonl"
    meta.write_text(
        '{"relative_path": "sample.wav", "snr": NaN, "gains": [NaN, 1.5]}\n'
        '{"relative_path": "nested/with_path.wav", "snr": 2.5,'
        ' "gains": [0.5]}\n'
    )
    pq_out = str(tmp_path / "pq")
    run_pipeline(spark, audio_dir, pq_out, metadata_file=str(meta))
    got = {
        r["audio"]["path"]: (r["snr"], r["gains"])
        for r in _read_shard(pq_out).to_pylist()
    }
    assert got == {
        "sample.wav": (None, [None, 1.5]),
        "nested/with_path.wav": (2.5, [0.5]),
    }

    duck_out = str(tmp_path / "duck")
    run_pipeline(
        spark, audio_dir, duck_out, metadata_file=str(meta),
        output_format="duckdb",
    )
    con = duckdb.connect(os.path.join(duck_out, "0.duckdb"), read_only=True)
    got = {
        p: (snr, gains) for p, snr, gains in con.execute(
            "SELECT audio.path, snr, gains FROM files"
        ).fetchall()
    }
    con.close()
    assert got == {
        "sample.wav": (None, '["NaN",1.5]'),
        "nested/with_path.wav": (2.5, "[0.5]"),
    }


def test_shard_arriving_in_many_batches(spark, tmp_path):
    """A shard that reaches its task as many Arrow batches writes the
    rows of a one-batch write: the same parquet rows, 256-row groups,
    footer and manifest stats, and DuckDB ids in relative_path order."""
    d = tmp_path / "clips"
    d.mkdir()
    for i in range(300):
        (d / f"clip_{i:03d}.wav").write_bytes(
            synth_wav(sample_rate=8_000, n_samples=8 + (i * 37) % 101)
        )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def write(out, **kw):
        run_pipeline(
            spark, str(d), str(tmp_path / out), files_per_shard=300, **kw
        )
        return tmp_path / out

    ref = write("ref", manifest=True)
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        many = write("many", manifest=True)
        duck = write("duck", output_format="duckdb")
    finally:
        spark.conf.set(key, prev)

    want = pq.ParquetFile(ref / "0.parquet")
    got = pq.ParquetFile(many / "0.parquet")
    assert [
        got.metadata.row_group(i).num_rows
        for i in range(got.metadata.num_row_groups)
    ] == [256, 44]
    assert got.schema_arrow.metadata == want.schema_arrow.metadata
    assert got.schema_arrow == want.schema_arrow
    assert got.read().equals(want.read())

    def stats(out):
        [m] = [json.loads(line) for line in open(out / "_manifest.jsonl")]
        m.pop("n_bytes")
        return m

    assert stats(many) == stats(ref)

    con = duckdb.connect(str(duck / "0.duckdb"), read_only=True)
    rows = con.execute("SELECT id, audio.path FROM files ORDER BY id").fetchall()
    # the sink inserts without ORDER BY: storage order is the arrival order
    stored = con.execute("SELECT id FROM files").fetchall()
    con.close()
    assert rows == [(i, f"clip_{i:03d}.wav") for i in range(300)]
    assert stored == [(i,) for i in range(300)]


@pytest.mark.parametrize("output_format", ["parquet", "orc"])
def test_sample_rate_above_int32_keeps_row(
    spark, tmp_path, audio_dir, output_format
):
    """A fmt rate above 2**31 - 1 decodes as (0.0, 0) and the job
    succeeds, whether the sink (parquet) or the map-side UDF (ORC)
    decodes it."""
    data = bytearray(synth_wav(sample_rate=8_000))
    struct.pack_into("<I", data, 24, 3_087_055_744)
    with open(os.path.join(audio_dir, "huge_rate.wav"), "wb") as f:
        f.write(data)
    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, output_format=output_format)
    rows = {
        r["audio"]["path"]: (r["duration"], r["audio"]["sampling_rate"])
        for r in spark.read.format(output_format).load(out).collect()
    }
    assert rows == {
        "huge_rate.wav": (0.0, 0),
        "sample.wav": (1.0, 16_000),
        "nested/with_path.wav": (1.0, 44_100),
    }


def test_segmented_pipeline_e2e(spark, tmp_path):
    """--segment-seconds: each WAV becomes N standalone segments that
    flow through metadata join, sharding, and the parquet sink."""
    import glob

    import pyarrow.parquet as pq

    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import run_pipeline

    audio = tmp_path / "in"
    audio.mkdir()
    (audio / "a.wav").write_bytes(synth_wav(8000))  # 1.0 s → 4 segments
    (audio / "b.wav").write_bytes(synth_wav(8000, n_samples=4000))  # 2 segs
    meta = tmp_path / "m.csv"
    meta.write_text(
        "file_name,transcription\na.wav,alpha\nb.wav,beta\n"
    )
    out = tmp_path / "out"
    receipts = run_pipeline(
        spark,
        str(audio),
        str(out),
        metadata_file=str(meta),
        segment_seconds=0.25,
    )
    assert sum(r.n_rows for r in receipts) == 6
    tbl = pq.read_table(glob.glob(str(out / "*.parquet"))[0])
    rows = tbl.to_pylist()
    assert len(rows) == 6
    # every segment decoded to 0.25 s and kept its file's transcription
    assert all(abs(r["duration"] - 0.25) < 1e-9 for r in rows)
    by_tx = {}
    for r in rows:
        by_tx.setdefault(r["transcription"], 0)
        by_tx[r["transcription"]] += 1
    assert by_tx == {"alpha": 4, "beta": 2}
    # segment payloads are standalone RIFF files
    assert all(bytes(r["audio"]["bytes"])[:4] == b"RIFF" for r in rows)


def test_audio_stats_pipeline(spark, tmp_path):
    """--audio-stats adds rms/peak/clipped_frac columns to the shards."""
    import math
    import os

    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import run_pipeline

    audio = tmp_path / "in"
    audio.mkdir()
    (audio / "a.wav").write_bytes(synth_wav(sample_rate=4000))
    (audio / "b.wav").write_bytes(
        synth_wav(sample_rate=4000, freq_hz=0.0)
    )
    out = str(tmp_path / "out")
    run_pipeline(spark, str(audio), out, audio_stats=True)
    shard = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert shard
    back = spark.read.parquet(os.path.join(out, shard[0]))
    rows = {
        os.path.basename(r.path): r
        for r in back.select(
            "audio.path", "rms", "peak", "clipped_frac"
        ).collect()
    }
    assert abs(rows["a.wav"].rms - 1.0 / math.sqrt(2.0)) < 0.01
    assert rows["b.wav"].rms == 0.0 and rows["b.wav"].peak == 0.0


def test_sniff_formats_pipeline(spark, tmp_path):
    """--sniff-formats tags each file's container in an audio_format
    column (wav here; non-audio bytes → NULL)."""
    import os

    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import run_pipeline

    audio = tmp_path / "in"
    audio.mkdir()
    (audio / "a.wav").write_bytes(synth_wav(sample_rate=8000))
    (audio / "junk.wav").write_bytes(b"not really audio")
    out = str(tmp_path / "out")
    run_pipeline(spark, str(audio), out, sniff_formats=True)
    shard = [f for f in os.listdir(out) if f.endswith(".parquet")]
    back = spark.read.parquet(os.path.join(out, shard[0]))
    rows = {
        os.path.basename(r.path): r.audio_format
        for r in back.select("audio.path", "audio_format").collect()
    }
    assert rows["a.wav"] == "wav"
    assert rows["junk.wav"] is None


def test_incremental_ingest_skips_existing_and_continues_shards(
    spark, tmp_path
):
    """Second incremental run over a grown input dir must ingest ONLY the
    new files, continue shard numbering after the existing <idx>.parquet,
    leave prior shards byte-untouched, and a third run with nothing new
    must write nothing."""
    import os

    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import run_pipeline

    d = tmp_path / "in"
    d.mkdir()
    for i in range(4):
        (d / f"a{i}.wav").write_bytes(synth_wav(8000))
    out = str(tmp_path / "out")
    r1 = run_pipeline(
        spark, str(d), out, files_per_shard=2, incremental=True
    )
    assert sorted(r.shard for r in r1) == [0, 1]
    mtimes = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    }

    for i in range(4, 7):
        (d / f"b{i}.wav").write_bytes(synth_wav(8000))
    r2 = run_pipeline(
        spark, str(d), out, files_per_shard=2, incremental=True
    )
    assert sorted(r.shard for r in r2) == [2, 3]
    assert sum(r.n_rows for r in r2) == 3
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(out, f)) == m  # untouched

    back = spark.read.parquet(out)
    assert back.count() == 7
    paths = {r.path for r in back.select("audio.path").collect()}
    assert paths == {f"a{i}.wav" for i in range(4)} | {
        f"b{i}.wav" for i in range(4, 7)
    }

    r3 = run_pipeline(
        spark, str(d), out, files_per_shard=2, incremental=True
    )
    assert r3 == []
    assert spark.read.parquet(out).count() == 7


def test_manifest_written_and_consistent(spark, tmp_path, audio_dir):
    """--manifest writes _manifest.jsonl + _SUCCESS whose per-shard rows
    match the receipts (counts, on-disk bytes, duration stats), and the
    underscore names stay invisible to spark.read.parquet on the dir."""
    import json as _json
    import os as _os

    out = str(tmp_path / "out")
    receipts = run_pipeline(
        spark, audio_dir, out, files_per_shard=1, manifest=True
    )
    mpath = _os.path.join(out, "_manifest.jsonl")
    assert _os.path.exists(mpath)
    assert _os.path.exists(_os.path.join(out, "_SUCCESS"))
    lines = [
        _json.loads(line) for line in open(mpath).read().splitlines()
    ]
    assert [d["shard"] for d in lines] == sorted(
        r.shard for r in receipts
    )
    by_shard = {r.shard: r for r in receipts}
    for d in lines:
        r = by_shard[d["shard"]]
        assert d["n_rows"] == r.n_rows
        assert d["file"] == _os.path.basename(r.out_path)
        assert d["n_bytes"] == _os.path.getsize(r.out_path) > 0
        assert d["min_duration"] <= d["max_duration"]
        assert abs(d["sum_duration"] - 2.0) < 1e-9 or d["n_rows"] == 1
    assert sum(d["n_rows"] for d in lines) == 2
    # the manifest files must not break a Spark read of the dataset dir
    assert spark.read.parquet(out).count() == 2


def test_manifest_merges_across_incremental_runs(spark, tmp_path, audio_dir):
    """An --incremental re-run with new files appends shards; the merged
    manifest covers ALL shards on disk, old and new."""
    import json as _json
    import os as _os

    out = str(tmp_path / "out")
    run_pipeline(spark, audio_dir, out, files_per_shard=1, manifest=True)
    n_first = len(open(_os.path.join(out, "_manifest.jsonl")).readlines())

    (tmp_path / "more").mkdir()
    (tmp_path / "more" / "extra.wav").write_bytes(
        synth_wav(sample_rate=8_000)
    )
    # incremental over a second input dir: old relative paths differ, so
    # only the new file is ingested, numbered after existing shards
    run_pipeline(
        spark,
        str(tmp_path / "more"),
        out,
        files_per_shard=1,
        incremental=True,
        manifest=True,
    )
    lines = [
        _json.loads(line)
        for line in open(_os.path.join(out, "_manifest.jsonl"))
    ]
    assert len(lines) == n_first + 1
    shards_on_disk = sorted(
        int(f.split(".")[0])
        for f in _os.listdir(out)
        if f.endswith(".parquet")
    )
    assert [d["shard"] for d in lines] == shards_on_disk
    total = spark.read.parquet(out).count()
    assert sum(d["n_rows"] for d in lines) == total == 3


@pytest.mark.parametrize("output_format", ["duckdb", "orc"])
def test_manifest_refused_before_any_write(
    spark, tmp_path, audio_dir, output_format
):
    """manifest=True with a non-parquet sink raises with the other
    argument checks, before anything is planned: the output dir holds no
    shard file, and the request is never silently dropped."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="manifest requires parquet"):
        run_pipeline(
            spark, audio_dir, str(out), output_format=output_format,
            manifest=True,
        )
    assert not out.exists() or not any(p.is_file() for p in out.rglob("*"))


def test_read_pruned_skips_shards(spark, tmp_path):
    """read_pruned selects only the shard files whose manifest duration
    zone overlaps the predicate — the read-side file skipping the
    manifest exists for. Four 1-file shards with distinct durations:
    a range hitting one zone must open exactly one file, the full
    range all four, a miss zero (schema preserved)."""
    from audios_to_dataset_spark.functions.wav import synth_wav as _sw
    from audios_to_dataset_spark.sinks.parquet_shards import read_pruned

    d = tmp_path / "aud"
    d.mkdir()
    # duration scales with n samples at fixed rate
    for i, ms in enumerate((100, 300, 500, 700)):
        (d / f"f{i}.wav").write_bytes(
            _sw(sample_rate=8_000, n_samples=8 * ms)
        )
    out = str(tmp_path / "out")
    run_pipeline(spark, str(d), out, files_per_shard=1, manifest=True)

    df, n_sel, n_total = read_pruned(
        spark, out, min_duration=0.25, max_duration=0.35
    )
    assert (n_sel, n_total) == (1, 4)
    assert len(df.inputFiles()) == 1
    rows = df.collect()
    assert len(rows) == 1 and abs(rows[0]["duration"] - 0.3) < 1e-9

    df, n_sel, _ = read_pruned(spark, out)
    assert n_sel == 4 and df.count() == 4

    df, n_sel, _ = read_pruned(
        spark, out, min_duration=5.0, max_duration=9.0
    )
    assert n_sel == 0 and df.count() == 0
    assert "duration" in df.columns

    # zones are an optimization, never a correctness gate: no manifest
    # -> FileNotFoundError, caller falls back to a full read
    import pytest as _pytest

    (tmp_path / "bare").mkdir()
    with _pytest.raises(FileNotFoundError):
        read_pruned(spark, str(tmp_path / "bare"))

    # a manifest that exists but has zero entries behaves like no
    # manifest (FileNotFoundError, not IndexError)
    (tmp_path / "zero").mkdir()
    from audios_to_dataset_spark.sinks.parquet_shards import MANIFEST_NAME

    (tmp_path / "zero" / MANIFEST_NAME).write_text("")
    with _pytest.raises(FileNotFoundError):
        read_pruned(spark, str(tmp_path / "zero"))


def test_transcode_flac_pipeline(spark, tmp_path, audio_dir):
    """--transcode-flac: shards carry FLAC payloads that decode back to
    the EXACT original PCM (interleaved, channel count preserved —
    stereo declared stereo, not mono-with-doubled-duration), paths are
    rewritten/appended to .flac for every transcoded payload
    regardless of input suffix, and incremental+transcode is
    refused."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from audios_to_dataset_spark.functions.flac import (
        decode_flac,
        flac_stream_info,
    )
    from audios_to_dataset_spark.functions.wav import (
        parse_wav_header,
        wav_pcm16_frames,
    )

    def _pcm16_wav(sr, ch, frames, seed):
        rng = np.random.RandomState(seed)
        body = rng.randint(-32768, 32768, frames * ch).astype("<i2")
        data = body.tobytes()
        fmt = _struct.pack("<HHIIHH", 1, ch, sr, sr * 2 * ch, 2 * ch, 16)
        riff = (
            b"WAVE"
            + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + _struct.pack("<I", len(riff)) + riff

    d = tmp_path / "audio_tc"
    d.mkdir()
    stereo = _pcm16_wav(8000, 2, 1600, seed=3)  # 0.2 s stereo
    quad = _pcm16_wav(16000, 4, 800, seed=4)
    (d / "stereo.wav").write_bytes(stereo)
    (d / "alt_suffix.wave").write_bytes(quad)
    # PCM16 payload with a non-audio suffix: still transcoded, and the
    # .flac suffix is APPENDED so reader dispatch stays truthful
    (d / "payload.bin").write_bytes(_pcm16_wav(22050, 1, 500, seed=5))
    mono = synth_wav(sample_rate=16_000)
    (d / "mono.wav").write_bytes(mono)

    out = str(tmp_path / "out")
    run_pipeline(
        spark, str(d), out, files_per_shard=10, transcode_flac=True
    )
    rows = spark.read.parquet(out).collect()
    by_path = {r["audio"]["path"]: r for r in rows}
    assert set(by_path) == {
        "stereo.flac", "alt_suffix.flac", "payload.bin.flac", "mono.flac"
    }
    originals = {
        "stereo.flac": stereo,
        "alt_suffix.flac": quad,
        "payload.bin.flac": (d / "payload.bin").read_bytes(),
        "mono.flac": mono,
    }
    for path, r in by_path.items():
        want, sr, ch = wav_pcm16_frames(originals[path])
        blob = bytes(r["audio"]["bytes"])
        info = flac_stream_info(blob)
        assert info is not None and info[1] == ch and info[2] == 16
        got = decode_flac(blob)
        assert got is not None
        assert got[0] == sr == r["audio"]["sampling_rate"]
        assert np.array_equal(got[1], want)
        # decoded from the WAV before transcoding, not from the FLAC
        assert r["duration"] == parse_wav_header(originals[path])[0]
    with _pytest.raises(ValueError, match="incremental"):
        run_pipeline(
            spark, str(d), out, transcode_flac=True, incremental=True
        )


def test_atomic_shard_write_never_torn(spark, tmp_path, audio_dir, monkeypatch):
    """Kill a shard write midway, in either sink: the output dir must
    never show a torn <idx>.<ext> — the previous shard survives
    untouched, the .tmp is cleaned up, and a retry replaces the file."""
    from audios_to_dataset_spark import sinks
    from audios_to_dataset_spark.pipeline import build_dataset
    from audios_to_dataset_spark.sinks import duckdb_sink, parquet_shards

    ds = build_dataset(spark, audio_dir)

    def dying_write_shards(df, output_dir, ext, write_file):
        def dying(table, path):
            # write a real (torn) prefix, then die — the half-written
            # bytes must only ever exist at the .tmp path
            write_file(table, path)
            with open(path, "r+b") as f:
                f.truncate(10)
            raise OSError("simulated mid-write crash")

        return sinks.write_shards(df, output_dir, ext, dying)

    def n_rows(path, ext):
        if ext == "parquet":
            return pq.read_table(path).num_rows
        con = duckdb.connect(path, read_only=True)
        try:
            return con.execute("SELECT count(*) FROM files").fetchone()[0]
        finally:
            con.close()

    for module, ext, sink in [
        (parquet_shards, "parquet", parquet_shards.write_parquet_shards),
        (duckdb_sink, "duckdb", duckdb_sink.write_duckdb_shards),
    ]:
        out = tmp_path / ext
        shard = out / f"0.{ext}"
        sink(ds.filter("relative_path = 'sample.wav'"), str(out)).collect()
        old_bytes = shard.read_bytes()

        monkeypatch.setattr(module, "write_shards", dying_write_shards)
        with pytest.raises(Exception, match="simulated mid-write crash"):
            sink(ds, str(out)).collect()
        assert shard.read_bytes() == old_bytes  # previous shard intact
        assert not (out / f"0.{ext}.tmp").exists()  # tmp cleaned
        assert n_rows(str(shard), ext) == 1

        monkeypatch.undo()
        [receipt] = sink(ds, str(out)).collect()
        assert receipt.n_rows == n_rows(str(shard), ext) == 2
        assert receipt.n_bytes == shard.stat().st_size
        assert sorted(os.listdir(out)) == [f"0.{ext}"]


def test_duckdb_source_roundtrip(spark, tmp_path, audio_dir):
    """read_duckdb_shards reads the DuckDB sink's output back into
    Spark with byte-exact audio payloads and identical metadata to the
    parquet pipeline over the same inputs — the migration path for
    datasets the reference wrote."""
    meta = tmp_path / "meta.csv"
    meta.write_text(
        "file_name,transcription\n"
        "sample.wav,hello\n"
        "nested/with_path.wav,world\n"
    )
    duck_out = str(tmp_path / "duck")
    pq_out = str(tmp_path / "pq")
    run_pipeline(
        spark, audio_dir, duck_out, metadata_file=str(meta),
        output_format="duckdb", files_per_shard=1,
    )
    run_pipeline(
        spark, audio_dir, pq_out, metadata_file=str(meta),
        files_per_shard=1,
    )
    from audios_to_dataset_spark.sources.duckdb_source import (
        read_duckdb_shards,
    )

    got = {
        r["audio"]["path"]: r
        for r in read_duckdb_shards(spark, duck_out).collect()
    }
    want = {
        r["audio"]["path"]: r
        for r in spark.read.parquet(pq_out).collect()
    }
    assert set(got) == set(want) and len(got) == 2
    for p, g in got.items():
        w = want[p]
        assert bytes(g["audio"]["bytes"]) == bytes(w["audio"]["bytes"])
        assert g["audio"]["sampling_rate"] == w["audio"]["sampling_rate"]
        assert g["duration"] == w["duration"]
        assert g["transcription"] == w["transcription"]
        assert g["id"] == 0  # files_per_shard=1 -> in-shard index
    # shard ids come from the file names
    assert sorted(g["shard"] for g in got.values()) == [0, 1]
    # empty dir -> explicit error
    import pytest as _pytest

    (tmp_path / "none").mkdir()
    with _pytest.raises(FileNotFoundError):
        read_duckdb_shards(spark, str(tmp_path / "none"))


def test_convert_duckdb_to_parquet(spark, tmp_path, audio_dir):
    """--from-duckdb migration: a DuckDB-shard dataset converts to the
    HF parquet layout with byte-exact payloads, re-sharded by path,
    with the HF footer present."""
    from audios_to_dataset_spark.pipeline import convert_duckdb_to_parquet

    duck_out = str(tmp_path / "duck")
    run_pipeline(
        spark, audio_dir, duck_out, output_format="duckdb",
        files_per_shard=1,
    )
    # a stored duration no header decode would give: the conversion
    # must carry it, not decode the bytes again
    for shard in glob.glob(os.path.join(duck_out, "*.duckdb")):
        con = duckdb.connect(shard)
        con.execute(
            "UPDATE files SET duration = 123.5"
            " WHERE audio.path = 'sample.wav'"
        )
        con.close()
    pq_out = str(tmp_path / "pq")
    rows = convert_duckdb_to_parquet(
        spark, duck_out, pq_out, files_per_shard=10, manifest=True
    )
    assert sum(r.n_rows for r in rows) == 2 and len(rows) == 1
    back = {
        r["audio"]["path"]: r for r in spark.read.parquet(pq_out).collect()
    }
    assert set(back) == {"sample.wav", "nested/with_path.wav"}
    originals = {}
    for root, _dirs, files in os.walk(audio_dir):
        for f in files:
            p = os.path.join(root, f)
            originals[os.path.relpath(p, audio_dir)] = open(p, "rb").read()
    for p, r in back.items():
        assert bytes(r["audio"]["bytes"]) == originals[p]
    assert back["sample.wav"]["duration"] == 123.5
    assert back["nested/with_path.wav"]["duration"] == 1.0
    assert json.loads(
        open(os.path.join(pq_out, "_manifest.jsonl")).readline()
    )["max_duration"] == 123.5
    # HF footer + manifest made it through
    meta = _read_shard(pq_out, 0).schema.metadata
    assert b"huggingface" in meta
    assert os.path.exists(os.path.join(pq_out, "_manifest.jsonl"))


def test_convert_parquet_to_duckdb(spark, tmp_path, audio_dir):
    """Reverse migration: HF parquet shards convert to the reference's
    DuckDB layout and read back byte-exactly through the source."""
    from audios_to_dataset_spark.pipeline import convert_parquet_to_duckdb
    from audios_to_dataset_spark.sources.duckdb_source import (
        read_duckdb_shards,
    )

    pq_out = str(tmp_path / "pq")
    run_pipeline(spark, audio_dir, pq_out, files_per_shard=10)
    duck_out = str(tmp_path / "duck")
    rows = convert_parquet_to_duckdb(
        spark, pq_out, duck_out, files_per_shard=1
    )
    assert len(rows) == 2
    back = {
        r["audio"]["path"]: r
        for r in read_duckdb_shards(spark, duck_out).collect()
    }
    orig = {
        r["audio"]["path"]: r for r in spark.read.parquet(pq_out).collect()
    }
    assert set(back) == set(orig)
    for p, r in back.items():
        assert bytes(r["audio"]["bytes"]) == bytes(orig[p]["audio"]["bytes"])
        assert r["duration"] == orig[p]["duration"]
