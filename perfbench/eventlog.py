"""Parse an uncompressed, non-rolling Spark event log into per-job-group
metrics.

The traced run sets a job group around every call into a layer, so each
job, stage, task and SQL execution in the log can be charged to the
group that caused it. Metrics come from three places in the log:

- task end events: run time, GC time, shuffle bytes written, spill and
  input bytes, plus per-task SQL metric updates (``Accumulables``);
- driver accumulator updates: SQL metrics computed on the driver, such
  as the number of files a scan listed, keyed by execution id;
- SQL execution start and adaptive update events: the physical plan
  text and the accumulator id -> metric name map.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
DRIVER_ACCUM = (
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
)


@dataclass
class GroupMetrics:
    """Everything one job group did."""

    jobs: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    # SQL metric name -> summed value (task-side and driver-side updates)
    sql: dict = field(default_factory=lambda: defaultdict(int))
    # final physical plan text of each SQL execution in the group
    plans: list = field(default_factory=list)
    # stage id -> task durations in ms
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))

    def task_max_over_median(self, stage: int | None = None) -> float:
        """Slowest task over the median task of ``stage``; by default of
        the stage that ran the longest task in the group."""
        if stage is None and self.stage_task_ms:
            stage = max(self.stage_task_ms,
                        key=lambda s: max(self.stage_task_ms[s]))
        ms = self.stage_task_ms.get(stage, [])
        if not ms:
            return 0.0
        med = statistics.median(ms)
        return max(ms) / med if med > 0 else float(max(ms) > 0)


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", ()):
        _plan_metric_names(child, out)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> dict[str, GroupMetrics]:
    """Map job group id -> metrics. Work outside any group is keyed ""."""
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                groups[g].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"], "")
                gm = groups[g]
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                ms = info["Finish Time"] - info["Launch Time"]
                gm.stage_task_ms[ev["Stage ID"]].append(ms)
                gm.gc_ms += tm.get("JVM GC Time", 0)
                gm.shuffle_write_bytes += (
                    tm.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0)
                )
                gm.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                gm.input_bytes += tm.get("Input Metrics", {}).get(
                    "Bytes Read", 0)
                for acc in info.get("Accumulables", ()):
                    if acc.get("Metadata") == "sql":
                        gm.sql[acc["Name"]] += _int(acc.get("Update"))
            elif kind in (SQL_START, SQL_ADAPTIVE):
                eid = ev["executionId"]
                if kind == SQL_START:
                    exec_group[eid] = ev.get("jobGroupId") or ""
                _plan_metric_names(ev["sparkPlanInfo"], accum_name)
                exec_plan[eid] = ev["physicalPlanDescription"]
            elif kind == DRIVER_ACCUM:
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], acc_id, value))
    for eid, acc_id, value in driver_updates:
        g = exec_group.get(eid, "")
        groups[g].sql[accum_name.get(acc_id, str(acc_id))] += _int(value)
    for eid, text in exec_plan.items():
        groups[exec_group.get(eid, "")].plans.append(text)
    return dict(groups)


def plan_tree(text: str) -> str:
    """The operator tree at the top of a formatted physical plan; for an
    adaptive plan, only its final plan (not the initial one)."""
    return text.split("\n\n\n", 1)[0].split("== Initial Plan ==", 1)[0]


def merged(groups: dict[str, GroupMetrics],
           prefix: str | tuple[str, ...]) -> GroupMetrics:
    """Sum every group whose id starts with ``prefix`` (or any of them)."""
    out = GroupMetrics()
    for g, gm in groups.items():
        if not g.startswith(prefix):
            continue
        out.jobs += gm.jobs
        out.gc_ms += gm.gc_ms
        out.shuffle_write_bytes += gm.shuffle_write_bytes
        out.spill_bytes += gm.spill_bytes
        out.input_bytes += gm.input_bytes
        for k, v in gm.sql.items():
            out.sql[k] += v
        out.plans += gm.plans
        for sid, ms in gm.stage_task_ms.items():
            out.stage_task_ms[sid] += ms
    return out
