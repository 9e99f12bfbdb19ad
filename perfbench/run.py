"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest --seed 1 \
        --seconds 4 --trace 0

Generates the workload's inputs from ``--seed``, starts the engine's
own session (``session.get_session``, ``local[<cores>]``), warms it up
(untimed, counted in ``setup_s``), then runs closed-loop passes with one
client until ``--seconds`` of pass time are measured. Outputs are
checked outside the timed region. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 1`` the run goes on after the untraced passes: the
session is started again in the same JVM with the Spark event log on,
one more pass runs with every call into a layer under a job group (its
wall time minus the untraced ``wall_s`` is ``trace.overhead_s``), the
cumulative ingest prefixes follow, and the per-layer metrics are read
from the log. A provenance record (cores, load, git HEAD, versions,
seed, input size, host-speed probes) and the raw per-operation timings
go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import Clock, conf_changed, conf_snapshot, isolate, tail  # noqa: E402

# workload names and metric names and units come from the declaration
with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# the second ingest pass is still warming up: about 15% slower than later ones
INGEST_WARMUP_PASSES = 2
TRACE_REPEATS = 2


class Run:
    """Counters shared by the phases of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = defaultdict(float)
        self.e2e: dict[str, float] = {}
        self.conf_changed = 0
        self.provenance: dict = {}
        self.samples: dict = {}
        self.import_s = 0.0
        self.input_files = 0
        self.input_bytes = 0
        self.last_check: dict = {}

    def record(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)

    def session_layer(self, jvm_start_s: float, warmup_s: float) -> None:
        self.layer.update({
            "session.jvm_start_s": jvm_start_s,
            "session.warmup_s": warmup_s,
            "session.conf_changed": self.conf_changed,
        })


# ---------------------------------------------------------------- ingest

def ingest_prepare(run: Run):
    import ingest

    trees = ingest.generate(run.work, run.seed)
    run.input_files = sum(len(t.expected) + len(t.excluded)
                          for t in trees.values())
    run.input_bytes = sum(t.in_bytes for t in trees.values())
    return trees


def ingest_pass(run: Run, spark, trees, group: str = "") -> list[float]:
    """One pass: ``run_pipeline`` once per shape, each checked. Returns
    the latency of each call. With ``group`` set, each call runs under
    job group ``<shape>/<group>``."""
    import ingest

    latencies = []
    for shape, tree in trees.items():
        out_dir = os.path.join(run.work, f"out_{shape}")
        isolate(spark)
        ingest.remove_output(out_dir)
        before = conf_snapshot(spark)
        if group:
            spark.sparkContext.setJobGroup(f"{shape}/{group}",
                                           f"perfbench {group}")
        with Clock() as c:
            try:
                ingest.run_once(spark, shape, tree, out_dir)
                err = ""
            except Exception as exc:  # counted as a failed operation
                err = f"{shape}: run_pipeline raised {type(exc).__name__}: {exc}"
        run.conf_changed += conf_changed(before, conf_snapshot(spark))
        if not err:
            res = ingest.check_output(shape, tree, out_dir)
            err = "; ".join(f"{shape}: {p}" for p in res["problems"][:5])
            run.last_check[shape] = res
        run.record(not err, err)
        ingest.remove_output(out_dir)
        latencies.append(c.s)
    return latencies


def ingest_timed(run: Run, spark, trees, jvm_start_s: float) -> None:
    warm = [sum(ingest_pass(run, spark, trees))
            for _ in range(INGEST_WARMUP_PASSES)]
    walls: list[float] = []
    lat: list[float] = []
    while sum(walls) < run.seconds:
        ops = ingest_pass(run, spark, trees)
        walls.append(sum(ops))
        lat += ops
    wall = statistics.median(walls)
    files = sum(len(t.expected) for t in trees.values())
    run.e2e = {
        "setup_s": run.import_s + jvm_start_s + sum(warm),
        "wall_s": wall,
        "items_per_s": files / wall,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
    }
    run.session_layer(jvm_start_s, sum(warm))
    run.samples = {"warmup_walls": warm, "walls": walls, "latencies": lat,
                   "tail_percentile": tail(lat)[1]}


def ingest_traced(run: Run, spark, trees) -> None:
    """One pass under job groups, then the cumulative prefixes of each
    shape; per-layer metrics are summed over the two shapes, except the
    sink metrics, which are the shape's own."""
    import eventlog
    import ingest

    traced_wall = sum(ingest_pass(run, spark, trees, "full:0"))
    prefixes = {
        shape: ingest.traced_prefixes(
            spark, shape, tree, os.path.join(run.work, f"out_{shape}"),
            TRACE_REPEATS)
        for shape, tree in trees.items()
    }
    spark.stop()
    groups = eventlog.parse(harness.event_log(run.work))
    layer = run.layer
    for shape, tree in trees.items():
        cum, meta_s, meta_rows, meta_cols = prefixes[shape]
        checked = run.last_check[shape]
        self_s = ingest.self_times(cum, meta_s)

        def group(prefix: str) -> eventlog.GroupMetrics:
            return eventlog.merged(groups, f"{shape}/{prefix}:0")

        scan, enrich, join = group("scan"), group("enrich"), group("join")
        shard, sink = group("shard"), group("sink")
        for name, value in {
            "scan.self_s": self_s["scan"],
            "scan.files_listed": scan.sql.get("number of files read", 0),
            "scan.files_kept": checked["rows"],
            "scan.bytes_read": scan.input_bytes,
            "wav.self_s": self_s["wav"],
            "wav.python_bytes_in": enrich.sql.get(
                "data sent to Python workers", 0),
            "wav.decode_failures": checked["decode_failures"],
            "metadata.self_s": self_s["metadata"],
            "metadata.rows": meta_rows,
            "metadata.columns": meta_cols,
            "lookup_join.self_s": self_s["lookup_join"],
            "lookup_join.hits_l1": checked["levels"]["l1"],
            "lookup_join.hits_l2": checked["levels"]["l2"],
            "lookup_join.hits_l3": checked["levels"]["l3"],
            "lookup_join.misses": checked["levels"]["miss"],
            "lookup_join.broadcast_joins": sum(
                eventlog.plan_tree(p).count("BroadcastHashJoin")
                for p in join.plans),
            "sharding.self_s": self_s["sharding"],
            "sharding.shuffle_write_bytes":
                shard.shuffle_write_bytes - join.shuffle_write_bytes,
        }.items():
            layer[name] += value
        # the last stage of the sink prefix is the grouped shard write
        sink_stage = max(sink.stage_task_ms, default=None)
        layer.update({
            f"sink_{shape}.self_s": self_s["sink"],
            f"sink_{shape}.bytes_written": checked["out_bytes"],
            f"sink_{shape}.out_bytes_per_in_byte":
                checked["out_bytes"] / tree.in_bytes,
            f"sink_{shape}.task_max_over_median":
                sink.task_max_over_median(sink_stage),
        })
    layer["sharding.shuffle_bytes_per_input_byte"] = (
        layer["sharding.shuffle_write_bytes"] / run.input_bytes)
    layer["trace.overhead_s"] = traced_wall - run.e2e["wall_s"]


# --------------------------------------------------------------- queries

def query_prepare(run: Run):
    import queries

    sf_dir, run.input_files, run.input_bytes = queries.generate(
        run.work, run.seed)
    return sf_dir


def query_timed(run: Run, spark, sf_dir, jvm_start_s: float) -> None:
    import queries

    qs = queries.QUERY_LISTS[run.workload]
    with Clock() as warm:
        results, errors = queries.checked_pass(spark, qs, sf_dir)
    problems = queries.check_results(results, sf_dir)
    for q in qs:
        err = errors.get(q) or problems.get(q, "")
        run.record(not err, f"{q}: {err}")
    walls, lat = [], []
    while sum(walls) < run.seconds:
        p = queries.timed_pass(spark, qs, sf_dir)
        walls.append(p["wall"])
        lat += [b + e for b, e in p["latency"].values()]
        run.conf_changed += p["conf_changed"]
        for q in qs:
            run.record(q not in p["failed"], f"{q} raised in a timed pass")
    wall = statistics.median(walls)
    run.e2e = {
        "setup_s": run.import_s + jvm_start_s + warm.s,
        "wall_s": wall,
        "items_per_s": len(qs) / wall,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
    }
    run.session_layer(jvm_start_s, warm.s)
    run.samples = {"walls": walls, "latencies": lat,
                   "tail_percentile": tail(lat)[1]}


def query_traced(run: Run, spark, sf_dir) -> None:
    """One pass under job groups ``build:<q>`` / ``exec:<q>``."""
    import eventlog
    import queries

    qs = queries.QUERY_LISTS[run.workload]
    trace = {"persisted_rdds_left": {}, "cc_rounds": {}}
    p = queries.timed_pass(spark, qs, sf_dir, trace)
    for q in qs:
        run.record(q not in p["failed"], f"{q} raised in the traced pass")
    spark.stop()
    groups = eventlog.parse(harness.event_log(run.work))
    allq = eventlog.merged(groups, ("build:", "exec:"))
    lat = p["latency"]
    run.layer.update({
        "plans.build_s": sum(b for b, _ in lat.values()),
        "plans.exec_s": sum(e for _, e in lat.values()),
        "plans.jobs": allq.jobs,
        "plans.shuffle_write_bytes": allq.shuffle_write_bytes,
        "plans.spill_bytes": allq.spill_bytes,
        "plans.gc_s": allq.gc_ms / 1000.0,
        "plans.task_max_over_median": allq.task_max_over_median(),
        "plans.persisted_rdds_left": sum(
            trace["persisted_rdds_left"].values()),
        "graph.jobs": eventlog.merged(groups, "build:").jobs,
        "trace.overhead_s": p["wall"] - run.e2e["wall_s"],
    })
    for q, (b, e) in lat.items():
        run.layer[f"plans.build_s.{q}"] = b
        run.layer[f"plans.exec_s.{q}"] = e
        run.layer[f"plans.jobs.{q}"] = eventlog.merged(
            groups, (f"build:{q}", f"exec:{q}")).jobs
    for q, rounds in trace["cc_rounds"].items():
        run.layer[f"graph.cc_rounds.{q}"] = rounds


PHASES = {  # workload-name prefix -> (prepare, timed, traced)
    "ingest": (ingest_prepare, ingest_timed, ingest_traced),
    "query_": (query_prepare, query_timed, query_traced),
}


# ------------------------------------------------------------------ main

def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    harness.configure_env()
    probe_before = harness.host_probe_s()
    t_import = time.perf_counter()
    try:
        import audios_to_dataset_spark.pipeline  # noqa: F401
        import audios_to_dataset_spark.plans  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(harness.ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args.workload, args.seed, args.seconds, work)
    run.import_s = time.perf_counter() - t_import
    (prepare, timed, traced), = (
        v for k, v in PHASES.items() if args.workload.startswith(k))
    spark = None
    try:
        inputs = prepare(run)
        with Clock() as sess:
            spark = harness.start_session(work)
        timed(run, spark, inputs, sess.s)
        run.provenance = harness.provenance(
            spark, args.seed, run.input_files, run.input_bytes)
        if args.trace:
            spark = harness.restart_traced(spark)
            traced(run, spark, inputs)
    finally:
        if spark is not None:
            spark.stop()
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    run.provenance["host_probe_s"] = [probe_before, harness.host_probe_s()]

    if args.trace:
        metrics = {m["name"]: {"value": float(run.layer.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": run.e2e[m["name"]],
                               "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    print(json.dumps({"workload": args.workload, "provenance": run.provenance,
                      "samples": run.samples, "problems": run.problems[:20]}),
          file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
