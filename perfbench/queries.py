"""Query workloads: declared plans run serially, one client, each sent
to the noop sink; results checked against their DuckDB twins."""

from __future__ import annotations

import os
import sys

import duckdb

from harness import ROOT, Clock, conf_changed, conf_snapshot, isolate, persisted_rdds

# Graph fixpoint queries: the degree-oriented triangle walk
# (clustering coefficient) and connected components over near-duplicate
# pairs (split assignment). A run, cold pass included, must fit the
# benchmark's time budget, so the list stops at two; q_triangle_count
# shares q_clustering_coeff's triangle walk and q_dbscan shares
# q_split_assign's connected-components loop.
QUERY_LISTS = {
    "query_graph": ["q_clustering_coeff", "q_split_assign"],
}
GRAPH_CC_QUERIES = ("q_split_assign",)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def generate(work: str, seed: int) -> tuple[str, int, int]:
    """Write the seeded tables; returns (dir, files, bytes)."""
    from gen_tables import write_tables

    d = os.path.join(work, "tables")
    return d, len(TABLES), write_tables(d, seed)


def _table_hash():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import table_hash

    return table_hash


def check_results(results: dict, sf_dir: str) -> dict[str, str]:
    """Compare collected results with their DuckDB twins by row count
    and canonical value hash. Returns query -> problem."""
    from audios_to_dataset_spark.plans import all_oracles

    table_hash = _table_hash()
    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t)}.parquet'")
    problems = {}
    try:
        for q, (cols, rows) in results.items():
            res = con.execute(oracles[q])
            ocols = [c[0] for c in res.description]
            orows = res.fetchall()
            got = (len(rows), table_hash(cols, rows))
            want = (len(orows), table_hash(ocols, orows))
            if got != want:
                problems[q] = f"rows/hash {got} != oracle {want}"
    finally:
        con.close()
    return problems


def checked_pass(spark, queries: list[str], sf_dir: str) -> tuple[dict, dict]:
    """Untimed pass that collects every result; returns (results,
    query -> error) for queries that raised."""
    from audios_to_dataset_spark.plans import all_queries

    fns = all_queries()
    results, errors = {}, {}
    for q in queries:
        isolate(spark)
        try:
            df = fns[q](spark, sf_dir)
            results[q] = (list(df.columns), [tuple(r) for r in df.collect()])
        except Exception as exc:  # a failing query is counted, not fatal
            errors[q] = f"{type(exc).__name__}: {exc}"
    return results, errors


def timed_pass(spark, queries: list[str], sf_dir: str,
               trace: dict | None = None) -> dict:
    """One serial pass; each query is isolated, built, and run to the
    noop sink. Returns per-query (build_s, exec_s) plus pass totals.
    With ``trace`` set, each call runs under job groups
    ``build:<q>`` / ``exec:<q>`` and layer counters are recorded."""
    from audios_to_dataset_spark.operators import graph
    from audios_to_dataset_spark.plans import all_queries

    fns = all_queries()
    sc = spark.sparkContext
    out = {"latency": {}, "failed": [], "conf_changed": 0}
    before = conf_snapshot(spark)
    with Clock() as wall:
        for q in queries:
            isolate(spark)
            try:
                if trace is not None:
                    sc.setJobGroup(f"build:{q}", f"perfbench build {q}")
                with Clock() as b:
                    df = fns[q](spark, sf_dir)
                if trace is not None:
                    sc.setJobGroup(f"exec:{q}", f"perfbench exec {q}")
                with Clock() as e:
                    df.write.mode("overwrite").format("noop").save()
            except Exception:  # counted in fail_frac, pass continues
                out["failed"].append(q)
                continue
            out["latency"][q] = (b.s, e.s)
            if trace is not None:
                trace["persisted_rdds_left"][q] = persisted_rdds(spark)
                if q in GRAPH_CC_QUERIES:
                    trace["cc_rounds"][q] = graph.LAST_CC_ROUNDS
    if trace is not None:
        sc.setJobGroup("", "")
    out["wall"] = wall.s
    out["conf_changed"] = conf_changed(before, conf_snapshot(spark))
    isolate(spark)
    return out
