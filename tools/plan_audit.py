"""Physical-plan audit over every declared batch query.

Sweeps ``queries()`` and flags the plan shapes that kill a 100 TB run:

- ``CartesianProduct``        — all-pairs join, O(N·M) rows moved
- ``BroadcastNestedLoopJoin`` — per-row loop join; only acceptable when
                                one side is a literal handful of rows
                                (scalar aggregates, tiny spines)
- single-partition Window     — ``Exchange SinglePartition`` feeding a
                                ``Window``: the whole table sorts on one
                                task
- ``DuplicatedPythonEval``    — the same ArrowEvalPython/BatchEvalPython
                                call evaluated at two plan sites (a filter
                                pushed below an Exchange with a copy of
                                its UDF: the input decoded twice)

It also prints one plan-shape row per query: the counts of shuffle
Exchange, SortMergeJoin, BroadcastHashJoin, BroadcastNestedLoopJoin and
Python nodes (any operator that runs Python: UDF evals, grouped and
mapped pandas/Arrow functions), and ``BuildJobs``, the Spark jobs that
building the query ran (job group ``audit:<query>``).

Only the FINAL plan is audited. A query whose build runs an eager
localCheckpoint fixpoint (connected components, k-means centroid
rounds) returns a scan of its last checkpoint, so the flags and shape
counts never see the plans that ran before it; those rows show a high
``BuildJobs`` (11-56 at sf0.001, against 1-3 for most queries), and
their exchanges have to be read from the event log.

Queries where a flagged shape is *intentional* (brute-force correctness
baselines kept next to their LSH scale paths; the reference-semantics
global row id) are allowlisted with the reason printed, so any NEW
offender fails the audit — run this after adding a query.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001 — plans
don't depend on data volume). Exit 0 = clean, 1 = unexpected flags.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, pattern) -> reason; audited and accepted.
ALLOW: dict[tuple[str, str], str] = {
    ("q_window_bucket", "SinglePartitionWindow"):
        "reference shard semantics need a total order (src/main.rs:714);"
        " input pruned to the slim ordering key first",
    ("q_window_ntile", "SinglePartitionWindow"):
        "global deciles are total-order by definition; scale alt ="
        " q_approx_percentile histogram buckets",
    ("q_period_over_period", "SinglePartitionWindow"):
        "lag runs over the aggregated month frame (dozens of rows)",
    ("q_skyline", "SinglePartitionWindow"):
        "suffix-max window runs over the bucket grid — size fixed by"
        " the value range, not the data volume",
    ("q_auc", "SinglePartitionWindow"):
        "cumulative-negatives window runs over the quantized score"
        " HISTOGRAM — bounded at 10^6+1 rows by the 6-dp score"
        " quantization, not by data volume (the q_skyline bucket-grid"
        " argument); raw rows are never totally ordered",
    ("q_id_gaps", "SinglePartitionWindow"):
        "boundary-gap LEAD runs over the per-bucket min/max summary,"
        " pre-shrunk 1024x by the bucketed within-gap pass; the same"
        " decomposition recurses for another 1024x per level if the"
        " summary itself outgrows one sort (plans/relational2.py)",
    ("q_pr_auc", "SinglePartitionWindow"):
        "cumulative TP/FP window runs over the quantized score"
        " HISTOGRAM — bounded at 10^6+1 rows by the 6-dp quantization"
        " (the q_auc argument); raw rows are never totally ordered",
    ("q_lift_curve", "SinglePartitionWindow"):
        "cumulative gains run over the fixed CAL_BINS spine (10 rows"
        " by construction — the q_heaps_law argument); raw rows only"
        " feed one map-side-combinable groupBy",
    ("q_kaplan_meier", "SinglePartitionWindow"):
        "product-limit / hazard windows run over the distinct integer"
        " day-gap SPINE — bounded by the observation horizon in days,"
        " not data volume; raw orders reduce to per-day (d, c) counts"
        " via one map-side-combinable groupBy first",
    ("q_logrank", "SinglePartitionWindow"):
        "risk-set cumulatives run over the same bounded day-gap spine"
        " as q_kaplan_meier (pivoted per-cohort counts, one window)",
    ("q_bh_fdr", "SinglePartitionWindow"):
        "rank + reverse-cummin windows run over the market-segment"
        " spine (five rows by construction); the G-tests reduce to a"
        " (segment x status) contingency table first",
    ("q_mann_whitney", "SinglePartitionWindow"):
        "rank cumulative runs over the DISTINCT-VALUE spine —"
        " events.value lives on a 0.01 grid so the spine is bounded by"
        " the value range, not row count (the q_auc histogram"
        " argument); raw rows only feed one combinable groupBy",
    ("q_best_split", "SinglePartitionWindow"):
        "left/right class cumulatives run over the FIXED 100-bin score"
        " spine (the q_wasserstein argument); raw rows only feed one"
        " map-side-combinable histogram groupBy",
    ("q_wasserstein", "SinglePartitionWindow"):
        "CDF cumulative runs over the FIXED 100-bin score spine (the"
        " q_lift_curve argument); raw rows only feed one map-side-"
        "combinable histogram groupBy",
    ("q_rank_overlap", "SinglePartitionWindow"):
        "row_number / cumulative-overlap windows run over the"
        " top-RBO_K (20-row) frames produced by a distributed"
        " TakeOrdered and the LITERAL 1..K depth spine (the"
        " q_zipf_slope argument); raw parts are never totally ordered",
    # --- found by the r12 branch-depth fix (ADVICE r11: the old walker
    # computed depth from leading whitespace, flattening every subtree
    # under a ':'-prefixed Union/join branch to depth 0, so Windows
    # there were never inspected). Each below is a bounded-spine window
    # the broken walker silently skipped:
    ("q_exact_median", "SinglePartitionWindow"):
        "rank-bucket cumulative runs over the value-grid HISTOGRAM"
        " (bucket count set by the value range / MEDIAN_BUCKET_W, not"
        " row count — the q_auc argument); pass 2 sorts only the one"
        " target bucket, partitioned by its key",
    ("q_kruskal_wallis", "SinglePartitionWindow"):
        "tie-rank cumulative runs over the DISTINCT-VALUE spine —"
        " events.value lives on a 0.01 grid so the spine is bounded by"
        " the value range, not row count (the q_mann_whitney argument);"
        " raw rows only feed one combinable groupBy",
    ("q_lorenz_gini", "SinglePartitionWindow"):
        "cumulative-share + trapezoid-lag windows run over the LITERAL"
        " LORENZ_BINS (100-row) spine (the q_wasserstein argument); raw"
        " customers reduce to per-bin decimal sums first",
    ("q_theil_sen", "SinglePartitionWindow"):
        "rank-bucket cumulative runs over the slope-grid HISTOGRAM"
        " (fixed TS_BUCKET_W width over the bounded slope range — the"
        " q_exact_median selection reused); the pair set itself is"
        " horizon², data-volume-independent",
    # --- round-12 stats wave (plans/stats3.py): all four windows run
    # over a BOUNDED spine built by one map-side-combinable groupBy —
    # never raw rows:
    ("q_ljung_box", "SinglePartitionWindow"):
        "the 5 leads run over the observed-DAY spine (bounded by the"
        " horizon in days — the q_kaplan_meier argument); raw events"
        " only feed one combinable daily-count groupBy",
    ("q_runs_test", "SinglePartitionWindow"):
        "the sign-change lag runs over the observed-DAY spine (the"
        " q_kaplan_meier argument); raw orders only feed one"
        " combinable daily-revenue groupBy",
    ("q_cvm_test", "SinglePartitionWindow"):
        "the two CDF cumulatives run over the DISTINCT-VALUE spine —"
        " events.value lives on a 0.01 grid so the spine is bounded by"
        " the value range (the q_mann_whitney argument)",
    ("q_durbin_watson", "SinglePartitionWindow"):
        "the residual lag runs over the observed-DAY spine (the"
        " q_kaplan_meier argument); raw orders only feed one"
        " combinable daily-revenue groupBy",
    ("q_heaps_law", "SinglePartitionWindow"):
        "cumulative sums run over the FIXED 21-row power-of-two spine"
        " (2^4..2^24); tokens and docs reduce to per-bucket counts"
        " first, so the window input size is a constant, not a"
        " function of corpus size",
}

# Deliberate crossJoins (scalar aggregates, tiny spines) appear as
# Cross-type BNLJs — "BroadcastNestedLoopJoin Cross Build…". Those are
# the accepted pattern; what must never appear is a *conditional*
# nested-loop join (Inner/LeftOuter/… BNLJ), which means a non-equi
# predicate silently degraded a real join.
BNLJ_NODE = re.compile(r"BroadcastNestedLoopJoin (\w+) Build")


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node_text) per tree line of a formatted explain.

    Depth comes from the BRANCH PREFIX, not leading whitespace: each
    ancestor level contributes a 3-char group that is either three
    spaces (last child) or ``:␣␣`` (an open union/join branch), and the
    node's own marker is ``+-␣`` or ``:-␣``. Leading-whitespace depth is
    WRONG for ``:``-prefixed lines (they have zero leading spaces), which
    silently flattened every subtree under a Union/join left branch
    (ADVICE r11)."""
    nodes: list[tuple[int, str]] = []
    for ln in plan.splitlines():
        m = re.match(r"^((?:[: ]  )*)(?:[+:]- )?(\*?.*\(\d+\))\s*$", ln)
        if not m:
            continue
        prefix, text = m.group(1), m.group(2).strip()
        has_marker = bool(re.match(r"^(?:[: ]  )*[+:]- ", ln))
        depth = len(prefix) // 3 + (1 if has_marker else 0)
        nodes.append((depth, text))
    return nodes


def _window_on_single_partition(plan: str) -> bool:
    """True if a Window node's DIRECT INPUT SPINE contains an Exchange
    whose arguments are SinglePartition — i.e. the window's input really
    is one task. A SinglePartition exchange elsewhere (scalar
    aggregates, 1-row broadcasts, sibling branches) is fine and must not
    flag.

    Parses the formatted-explain tree section (branch-prefix depth via
    ``_parse_tree`` — correct under Union/join ``:`` branches) plus the
    per-node detail section (``(id) Node`` / ``Arguments: …``)."""
    lines = plan.splitlines()
    # node id -> its Arguments line
    args: dict[str, str] = {}
    cur = None
    for ln in lines:
        m = re.match(r"\((\d+)\) ", ln.strip())
        if m:
            cur = m.group(1)
        elif cur and ln.startswith("Arguments:"):
            args[cur] = ln
    tree = _parse_tree(plan)
    # Follow only the window's direct input spine (Sort/Project/Filter/
    # AQE wrappers). In preorder the first child of the current spine
    # node is the NEXT line at depth+1; anything else ends the chain.
    spine_ok = re.compile(
        r"\b(Sort|Project|Filter|WindowGroupLimit|AQEShuffleRead|"
        r"ShuffleQueryStage|InputAdapter|ColumnarToRow|Exchange)\b"
    )
    for i, (depth, text) in enumerate(tree):
        if not re.search(r"\bWindow(Group)?\w* \(\d+\)", text):
            continue
        cur_depth = depth
        for depth2, text2 in tree[i + 1:]:
            if depth2 != cur_depth + 1:
                break  # not the direct first child of the spine
            if not spine_ok.search(text2):
                break
            m = re.search(r"Exchange \((\d+)\)", text2)
            if m:
                if "SinglePartition" in args.get(m.group(1), ""):
                    return True
                break  # hash/range exchange: partitioning resolved
            cur_depth = depth2
    return False


def python_eval_sigs(plan: str) -> list[str]:
    """Arguments signatures of every ArrowEvalPython/BatchEvalPython node
    of a formatted explain, with expression ids stripped so two eval
    sites of the same UDF call compare equal."""
    sigs = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.match(r"^\(\d+\) (ArrowEvalPython|BatchEvalPython)", ln):
            for j in range(i + 1, min(i + 5, len(lines))):
                if lines[j].startswith("Arguments:"):
                    sig = re.sub(r"#\d+", "#", lines[j])
                    sig = re.sub(r"\[pythonUDF\d+#\]", "", sig)
                    sigs.append(sig)
                    break
    return sigs


SHAPE_COLUMNS = ("Exchange", "SortMergeJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "Python")
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_shape(plan: str) -> dict[str, int]:
    """Node counts per ``SHAPE_COLUMNS`` from the numbered node list of a
    formatted explain (subqueries included)."""
    names = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    shape = {c: names.count(c) for c in SHAPE_COLUMNS[:-1]}
    shape["Python"] = sum(bool(PYTHON_NODE.search(n)) for n in names)
    return shape


def audit(spark, sf_dir: str) -> int:
    from audios_to_dataset_spark.plans import all_queries
    from audios_to_dataset_spark.streaming.events import BATCH_TWINS

    flags: list[tuple[str, str, bool]] = []
    n_checked = 0
    columns = SHAPE_COLUMNS + ("BuildJobs",)
    sc = spark.sparkContext
    print(f"{'query':<32}" + "".join(f"  {c}" for c in columns))
    for name, fn in sorted(all_queries().items()):
        if name.startswith("q_stream_"):
            # Streaming queries execute on call (availableNow into a
            # memory sink); audit the structurally identical batch twin
            # (same shuffle keys / join types / window partitioning).
            fn = BATCH_TWINS[name]
        sc.setJobGroup(f"audit:{name}", f"plan audit {name}")
        df = fn(spark, sf_dir)
        build_jobs = len(
            sc.statusTracker().getJobIdsForGroup(f"audit:{name}")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        n_checked += 1
        shape = plan_shape(plan)
        shape["BuildJobs"] = build_jobs
        print(f"{name:<32}"
              + "".join(f"{shape[c]:>{len(c) + 2}}" for c in columns))

        found: list[str] = []
        if "CartesianProduct" in plan:
            found.append("CartesianProduct")
        join_types = {m.group(1) for m in BNLJ_NODE.finditer(plan)}
        if join_types - {"Cross"}:
            found.append("BroadcastNestedLoopJoin")
        if _window_on_single_partition(plan):
            found.append("SinglePartitionWindow")
        sigs = python_eval_sigs(plan)
        if len(set(sigs)) < len(sigs):
            found.append("DuplicatedPythonEval")

        for f in found:
            allowed = (name, f) in ALLOW
            flags.append((name, f, allowed))

    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    bad = 0
    for name, f, allowed in flags:
        if allowed:
            print(f"ALLOW {name}: {f} — {ALLOW[(name, f)]}")
        else:
            print(f"FLAG  {name}: {f}")
            bad += 1
    print(f"{n_checked} plans audited, {bad} unexpected flags")
    return 1 if bad else 0


def main() -> int:
    from audios_to_dataset_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("plan-audit")
    return audit(spark, sf_dir)


if __name__ == "__main__":
    raise SystemExit(main())
