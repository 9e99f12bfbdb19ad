"""Self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen_tables  # noqa: E402
import harness  # noqa: E402
import ingest  # noqa: E402
from gen_audio import make_tree  # noqa: E402


def _tree_files(root: str) -> list[str]:
    return sorted(os.path.relpath(p, root)
                  for p in glob.glob(os.path.join(root, "**"), recursive=True)
                  if os.path.isfile(p) or os.path.islink(p))


@pytest.mark.parametrize("jsonl", [False, True])
def test_audio_generator_is_deterministic(tmp_path, jsonl):
    a = make_tree(str(tmp_path / "a"), 7, 30, jsonl)
    b = make_tree(str(tmp_path / "b"), 7, 30, jsonl)
    c = make_tree(str(tmp_path / "c"), 8, 30, jsonl)
    files = _tree_files(a.root)
    assert files == _tree_files(b.root)
    _, mismatch, errors = filecmp.cmpfiles(a.root, b.root, files,
                                           shallow=False)
    assert not mismatch and not errors
    assert (a.expected, a.level, a.in_bytes) == (b.expected, b.level,
                                                 b.in_bytes)
    assert a.expected != c.expected
    # every edge case is present
    assert len(a.corrupt) == 2 and len(a.excluded) == 3
    assert os.path.islink(os.path.join(a.root, "spk02/ch00/link.wav"))
    assert all(a.expected[p] == (0.0, 0) for p in a.corrupt)


def test_table_generator_is_deterministic():
    a, b = gen_tables.make_tables(3), gen_tables.make_tables(3)
    c = gen_tables.make_tables(4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    # sizes do not depend on the seed, only values do
    assert all(a[t].num_rows == c[t].num_rows for t in a
               if t != "lineitem")


def test_prefix_self_times():
    cum = {"scan": 1.0, "enrich": 3.0, "join": 4.5, "shard": 6.0,
           "sink": 8.25}
    got = ingest.self_times(cum, metadata_s=0.5)
    assert got == {"scan": 1.0, "wav": 2.0, "metadata": 0.5,
                   "lookup_join": 1.0, "sharding": 1.5, "sink": 2.25}
    # the self times add back up to the full pass
    assert sum(got.values()) == cum["sink"]


def test_tail_percentile():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 101)]
    value, pct = harness.tail(xs)
    assert value == 90.0 and pct == 90.0
    assert sum(x > value for x in xs) == 10


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def test_eventlog_parser_synthetic(tmp_path):
    task = {"Launch Time": 0, "Finish Time": 40, "Accumulables": [
        {"ID": 5, "Name": "data sent to Python workers", "Update": "100",
         "Metadata": "sql"}]}
    metrics = {"JVM GC Time": 3, "Disk Bytes Spilled": 0,
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
               "Input Metrics": {"Bytes Read": 10}}
    lines = [
        _event(eventlog.SQL_START, executionId=0, jobGroupId="g",
               physicalPlanDescription="== Physical Plan ==\nAdaptiveSparkPlan"
               "\n+- == Final Plan ==\n   BroadcastHashJoin\n"
               "+- == Initial Plan ==\n   BroadcastHashJoin"
               "\n\n\n(1) BroadcastHashJoin",
               sparkPlanInfo={"metrics": [{"accumulatorId": 9,
                                           "name": "number of files read"}],
                              "children": []}),
        _event("SparkListenerJobStart", **{
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "g"}}),
        _event("SparkListenerJobStart", **{"Stage IDs": [2],
                                           "Properties": {}}),
    ]
    for sid, finish in ((0, 40), (0, 10), (1, 20), (2, 5)):
        lines.append(_event("SparkListenerTaskEnd", **{
            "Stage ID": sid, "Task Info": {**task, "Finish Time": finish},
            "Task Metrics": metrics}))
    lines.append(_event(eventlog.DRIVER_ACCUM, executionId=0,
                        accumUpdates=[[9, 7]]))
    path = tmp_path / "log"
    path.write_text("".join(lines))
    groups = eventlog.parse(str(path))
    g = groups["g"]
    assert (g.jobs, set(g.stage_task_ms)) == (1, {0, 1})
    assert sorted(map(len, g.stage_task_ms.values())) == [1, 2]
    assert g.shuffle_write_bytes == 192 and g.input_bytes == 30
    assert g.gc_ms == 9
    assert g.sql["data sent to Python workers"] == 300
    assert g.sql["number of files read"] == 7
    assert g.task_max_over_median(0) == 40 / 25
    assert g.task_max_over_median() == 40 / 25  # the stage of the 40 ms task
    assert eventlog.plan_tree(g.plans[0]).count("BroadcastHashJoin") == 1
    assert groups[""].jobs == 1 and set(groups[""].stage_task_ms) == {2}
    both = eventlog.merged(groups, ("g", ""))
    assert both.jobs == 2 and set(both.stage_task_ms) == {0, 1, 2}
    assert both.shuffle_write_bytes == 4 * 64


@pytest.fixture
def restored_environ():
    """Put ``os.environ`` back as it was: starting a session sets the
    event log, the heap size and scratch directories in it, and later
    tests in the same process must not inherit them."""
    saved = os.environ.copy()
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_eventlog_parser_on_a_tiny_run(tmp_path, restored_environ):
    """Parse the log of a real session started and restarted with the
    event log on the way a traced benchmark run does it, and compare
    with Spark's own status tracker."""
    harness.configure_env()
    pytest.importorskip("pyspark")
    from pyspark.sql import functions as F

    spark = harness.restart_traced(harness.start_session(str(tmp_path)))
    try:
        sc = spark.sparkContext
        sc.setJobGroup("shuffle", "")
        spark.range(0, 5000, 1, 2).groupBy(
            (F.col("id") % 3).alias("k")).count().collect()
        sc.setJobGroup("plain", "")
        spark.range(0, 100, 1, 2).collect()
        tracker = sc.statusTracker()
        jobs = {g: tracker.getJobIdsForGroup(g) for g in ("shuffle", "plain")}
        stages = {g: {s for j in ids for s in tracker.getJobInfo(j).stageIds}
                  for g, ids in jobs.items()}
        ran = {g: {s for s in stages[g]
                   if tracker.getStageInfo(s) is not None
                   and tracker.getStageInfo(s).numCompletedTasks > 0}
               for g in stages}
        tasks = {g: sum(tracker.getStageInfo(s).numCompletedTasks
                        for s in ran[g]) for g in ran}
    finally:
        spark.stop()
        harness.stop_jvm()
    groups = eventlog.parse(harness.event_log(str(tmp_path)))
    for g in ("shuffle", "plain"):
        assert groups[g].jobs == len(jobs[g])
        assert set(groups[g].stage_task_ms) == ran[g]
        assert sum(map(len, groups[g].stage_task_ms.values())) == tasks[g]
    assert groups["shuffle"].shuffle_write_bytes > 0
    assert groups["plain"].shuffle_write_bytes == 0
