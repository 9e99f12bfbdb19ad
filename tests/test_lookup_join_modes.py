"""lookup_join broadcast vs shuffle mode equivalence."""

from __future__ import annotations

import json

from audios_to_dataset_spark.operators.lookup_join import lookup_join
from audios_to_dataset_spark.sources.metadata import load_jsonl_metadata


def test_shuffle_mode_matches_broadcast(spark, tmp_path):
    p = tmp_path / "m.jsonl"
    lines = [
        {"relative_path": "a.wav", "transcription": "ra", "snr": 1.0},
        {"file_name": "b.wav", "transcription": "nb"},
        {"file_name": "nested/c.wav", "transcription": "nc"},
    ]
    p.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    meta = load_jsonl_metadata(spark, str(p))
    files = spark.createDataFrame(
        [
            ("a.wav", "a.wav"),
            ("sub/b.wav", "b.wav"),
            ("nested/c.wav", "c.wav"),
            ("miss.wav", "miss.wav"),
        ],
        "relative_path string, file_name string",
    )
    bc = sorted(map(tuple, lookup_join(files, meta).collect()))
    sh = sorted(
        map(tuple, lookup_join(files, meta, broadcast=False).collect())
    )
    assert bc == sh
    by_rel = {r[0]: r for r in bc}
    # level 1: relative_path; level 2: file_name; level 3: name-as-rel;
    # miss → "-" default
    assert by_rel["a.wav"][3] == "ra"
    assert by_rel["sub/b.wav"][3] == "nb"
    assert by_rel["nested/c.wav"][3] == "nc"
    assert by_rel["miss.wav"][3] == "-"


def test_shuffle_mode_has_no_single_partition_upstream(spark, tmp_path):
    """broadcast=False exists for metadata too big to broadcast; its
    usefulness dies if the metadata read is first collapsed to one
    partition (the r1 coalesce(1) line numbering). Pin: shuffle joins in
    the plan, no Coalesce(1) on the metadata side."""
    import contextlib
    import io
    import json as _json

    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            _json.dumps({"file_name": f"f{i}.wav", "transcription": f"t{i}"})
            for i in range(50)
        )
        + "\n"
    )
    meta = load_jsonl_metadata(spark, str(p))
    files = spark.createDataFrame(
        [(f"f{i}.wav", f"f{i}.wav") for i in range(50)],
        "relative_path string, file_name string",
    )
    # simulate metadata too big to broadcast: kill auto-broadcast so the
    # planner must pick a shuffle join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lookup_join(files, meta, broadcast=False)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Coalesce" not in plan
    # non-broadcast mode really shuffle-joins (SMJ or shuffled hash)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
