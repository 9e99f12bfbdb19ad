"""Plan gate: no declared query may evaluate the same Python UDF twice
(VERDICT r12 item 8 — the §4.4 wins must not silently regress).

The r12 optimization round found 4 queries whose physical plans carried
DUPLICATED ArrowEvalPython/BatchEvalPython chains (the optimizer pushed
an explode-inferred filter below an Exchange WITH a copy of the decode
UDF — the whole corpus decoded twice). The fixes (asNondeterministic
marks, fingerprint checkpoints) are plan properties a future Catalyst
upgrade or an innocent plan edit can undo; this test pins them.

Scope: every query in plans.multimodal — the only module whose declared
batch plans reach Python (per the repo convention, pandas UDFs are for
WAV/MIME/multimodal byte work only; tools/plan_audit.py's
DuplicatedPythonEval flag sweeps all 406). Plan-only, no execution.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
)

from plan_audit import python_eval_sigs  # noqa: E402


def test_no_duplicated_python_eval_in_multimodal_plans(spark, sf_dir):
    from audios_to_dataset_spark.plans import multimodal

    bad: dict[str, list[str]] = {}
    for name, fn in sorted(multimodal.QUERIES.items()):
        df = fn(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        sigs = python_eval_sigs(txt)
        dup = sorted({s for s in sigs if sigs.count(s) > 1})
        if dup:
            bad[name] = [f"{sigs.count(s)}x {s[:120]}" for s in dup]
    assert bad == {}, f"duplicated python-eval chains: {bad}"
