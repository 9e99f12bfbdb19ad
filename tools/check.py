"""Local differential checker mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same parquet, then compares row count, column names, and
an order-insensitive canonical value hash. Stricter than the driver is
fine; looser is not.

Usage: python tools/check.py [sf_dir] [query ...]
       python tools/check.py --nulls [sf_dir] [query ...]
       python tools/check.py --skew [sf_dir] [query ...]
       python tools/check.py --nulls --skew [sf_dir] [query ...]
       python tools/check.py --empty [sf_dir] [query ...]

``--empty`` runs every query against schema-only zero-row copies of all
tables (the empty-partition-day regime).
``--nulls --skew`` together build ONE copy with the skew rewrite applied
first and NULL injection on top (hot keys and NULL keys coexisting, as
they do in production), over the NULL sweep's eligible query set.

``--nulls`` rewrites documents/events into a temp copy with NULLs
injected into join/group keys and value columns (doc_id, lang, text,
source; user_id, event_type, value, ts), then runs the join/agg query
families against the copy. Both engines read the SAME injected parquet,
so any failure is a genuine NULL-semantics divergence between the Spark
plan and its DuckDB oracle (the class of bug ADVICE r3 found by review
in the collect_list-vs-list() inverted-index oracle) — caught by sweep
instead of by reviewer (VERDICT r4 item 6).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

import duckdb

# check the engine of the checkout this file is in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Injection rules for --nulls: col -> NULL when <key> % m = r. Distinct
# moduli so the null sets overlap but don't coincide.
_NULL_RULES = {
    "documents": (
        "doc_id",
        (
            ("doc_id", "doc_id % 17 = 3"),
            ("lang", "doc_id % 13 = 5"),
            ("text", "doc_id % 19 = 7"),
            ("source", "doc_id % 23 = 11"),
        ),
    ),
    "events": (
        "event_id",
        (
            ("user_id", "event_id % 17 = 3"),
            ("event_type", "event_id % 13 = 5"),
            ("value", "event_id % 19 = 7"),
            ("ts", "event_id % 23 = 11"),
        ),
    ),
    "embeddings": (
        "vec_id",
        (
            ("vec_id", "vec_id % 29 = 3"),
            ("embedding", "vec_id % 31 = 7"),
            ("label", "vec_id % 13 = 5"),
        ),
    ),
    # TPC-H side: primary keys stay clean (lineitem references them);
    # dirty FKs, measures, group keys, and date keys are the realistic
    # dirty-warehouse scenario
    "orders": (
        "o_orderkey",
        (
            ("o_custkey", "o_orderkey % 17 = 3"),
            ("o_totalprice", "o_orderkey % 19 = 7"),
            ("o_orderpriority", "o_orderkey % 13 = 5"),
            ("o_orderdate", "o_orderkey % 23 = 11"),
        ),
    ),
    "customer": (
        "c_custkey",
        (
            ("c_nationkey", "c_custkey % 17 = 3"),
            ("c_acctbal", "c_custkey % 19 = 7"),
            ("c_mktsegment", "c_custkey % 13 = 5"),
        ),
    ),
}

# --nulls covers EVERY declared query except NULLS_EXCLUDE (below):
# NULL-robustness is a repo-wide contract, not a per-family opt-in.
# NULLS_QUERIES survives as the historical first-wave list (kept for
# targeted reruns); the default sweep is all_queries() - NULLS_EXCLUDE.
NULLS_QUERIES = [
    # documents: text/agg/join families
    "q_text_stats", "q_lang_id", "q_token_count", "q_repetition",
    "q_quality_filter", "q_stopword_strip", "q_text_redact", "q_vocab",
    "q_tfidf", "q_token_diversity", "q_bigram_pmi", "q_inverted_index",
    "q_source_dedup", "q_mixture_plan", "q_chunk_dedup",
    "q_dedup_exact", "q_dedup_clusters", "q_dedup_survivors",
    "q_source_cap", "q_rarity_score", "q_fertility", "q_lm_score",
    "q_next_word", "q_text_chunks", "q_k_anonymity", "q_l_diversity",
    "q_dataset_card",
    # events: window/agg/sketch families
    "q_tumbling_window", "q_session_gap", "q_sliding_window",
    "q_rolling_sum", "q_ewma", "q_transitions", "q_event_sequence",
    "q_anomaly_zscore", "q_burstiness", "q_concurrency", "q_lateness",
    "q_scd2", "q_session_window",
    "q_behavior_diversity", "q_value_drift", "q_funnel", "q_retention",
    "q_stickiness", "q_windowed_distinct", "q_approx_distinct",
    "q_hll_union", "q_bootstrap_ci", "q_heavy_hitters", "q_exact_median",
    "q_gap_fill",
    # embeddings: ANN/dedup/cluster families on dirty vectors (NULL
    # vec_id / NULL embedding / NULL label)
    "q_embed_norm_stats", "q_cosine_scores", "q_ann_topk", "q_ann_lsh",
    "q_knn_graph", "q_dedup_embedding", "q_dedup_embedding_exact",
    "q_dedup_embedding_recall", "q_kmeans", "q_label_centroids",
    "q_pq_codes", "q_ann_pq", "q_cluster_purity", "q_semdedup_keep",
    # orders/customer: joins, group-bys, windows, TPC-H shapes on
    # dirty FKs / measures / group keys / dates
    "q_join_inner", "q_join_left", "q_join_semi_anti", "q_agg_group",
    "q_agg_minmax", "q_rollup", "q_sort_limit", "q_window_rank",
    "q_window_lag", "q_cube", "q_grouping_sets", "q_having", "q_pivot",
    "q_case_agg", "q_string_agg", "q_topk_per_group", "q_moment_stats",
    "q_percentile", "q_dense_rank", "q_window_dist", "q_first_last",
    "q_large_orders", "q_full_outer", "q_exists_subquery",
    "q_market_share", "q_profit", "q_top_supplier", "q_priority_wait",
    "q_seasonality", "q_forecast_revenue", "q_purchase_intervals",
    "q_cust_distribution", "q_cohort_ltv", "q_above_avg_customers",
    # streaming: watermarked event-time over NULL-ts rows (Structured
    # Streaming drops them; the closed-window replay oracles must agree)
    "q_stream_tumbling", "q_stream_sliding", "q_stream_hll",
    "q_stream_dedup",
]


def nulls_excluded() -> set[str]:
    """Queries exempt from the NULL sweep: the multimodal/audio FIXTURE
    queries synthesize their inputs from doc_id (``with_fixture``, which
    maps a NULL id to NULL content), so a NULL-injected copy only adds
    NULL-content rows, and their DuckDB oracles recompute pixels and
    samples per id with no NULL-content branch. Their decode paths are
    NULL-fuzzed in pytest instead (decoders return None/zeros on
    malformed bytes). q_media_null_content is the deliberate exception:
    its fixture and oracle both carry NULL-content rows (doc_id % 5 == 0
    and NULL ids), so it proves the decoder family propagates NULLs under
    the sweep itself."""
    from audios_to_dataset_spark.plans import multimodal

    return set(multimodal.QUERIES) - {"q_media_null_content"}


# Skew rules for --skew: funnel a majority of rows onto ONE hot key per
# dimension — the 100 TB failure mode where a single user/source/
# customer dominates a partition. Both engines read the same skewed
# copy, so failures are real divergences (e.g. an AQE skew-split or
# salting bug changing results), and gate-scale runs prove no
# hot-partition OOM/stall.
_SKEW_RULES = {
    "events": (
        ("user_id", "CASE WHEN event_id % 2 = 0 THEN 7 ELSE user_id END"),
        ("event_type",
         "CASE WHEN event_id % 10 < 9 THEN 'click' ELSE event_type END"),
    ),
    "documents": (
        ("source",
         "CASE WHEN doc_id % 10 < 8 THEN 'src0' ELSE source END"),
        ("lang", "CASE WHEN doc_id % 4 < 3 THEN 'en' ELSE lang END"),
    ),
    "orders": (
        ("o_custkey",
         "CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE o_custkey END"),
    ),
}


def _tmp_sweep_dir(prefix: str) -> str:
    """mkdtemp that self-cleans at interpreter exit (ADVICE r5: repeated
    sweeps were accumulating full-dataset parquet copies in /tmp)."""
    import atexit
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


def build_skew_dir(sf_dir: str) -> str:
    """Materialize a temp copy of sf_dir with heavy key skew."""
    import os

    out = _tmp_sweep_dir("spark_graft_skew_")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t in _SKEW_RULES:
            repl = ", ".join(
                f"{expr} AS {col}" for col, expr in _SKEW_RULES[t]
            )
            con.execute(
                f"COPY (SELECT * REPLACE ({repl}) FROM '{src}') "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM '{src}') TO '{dst}' (FORMAT PARQUET)"
            )
    con.close()
    return out


def build_empty_dir(sf_dir: str) -> str:
    """Materialize a temp copy of sf_dir with every table's SCHEMA but
    zero rows — the "empty partition day" a production pipeline stage
    must survive (its first run found three real divergences: an ANSI
    DIVIDE_BY_ZERO in the embedding-recall gate, and Spark-vs-standard
    grand-total semantics for ROLLUP/CUBE over empty input)."""
    import os

    import pyarrow.parquet as pq

    out = _tmp_sweep_dir("spark_graft_empty_")
    for t in TABLES:
        sch = pq.read_schema(os.path.join(sf_dir, f"{t}.parquet"))
        pq.write_table(
            sch.empty_table(), os.path.join(out, f"{t}.parquet")
        )
    return out


def build_nulls_dir(sf_dir: str) -> str:
    """Materialize a temp copy of sf_dir with NULL-injected keys."""
    import os

    out = _tmp_sweep_dir("spark_graft_nulls_")
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out, f"{t}.parquet")
        if t in _NULL_RULES:
            key, rules = _NULL_RULES[t]
            repl = ", ".join(
                f"CASE WHEN {cond} THEN NULL ELSE {col} END AS {col}"
                for col, cond in rules
            )
            con.execute(
                f"COPY (SELECT * REPLACE ({repl}) FROM '{src}') "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM '{src}') TO '{dst}' (FORMAT PARQUET)"
            )
    con.close()
    return out


def canon(v) -> str:
    """Canonical string for one value, tolerant of engine-level type skin
    (int vs long, float32 vs float64, date vs datetime)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of float64 — exact round-trip, catches any bit difference
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = [
        a for a in sys.argv[1:]
        if a not in ("--nulls", "--skew", "--empty")
    ]
    nulls = "--nulls" in sys.argv[1:]
    skew = "--skew" in sys.argv[1:]
    empty = "--empty" in sys.argv[1:]
    # the sf_dir positional is optional: a first arg that isn't a
    # directory is a query name (so `check.py --empty q_foo` works)
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        only = set(args[1:])
    else:
        sf_dir = "/root/testdata/sf0.01"
        only = set(args)
    if empty and (nulls or skew):
        print("--empty cannot be combined with --nulls/--skew")
        return 2
    if empty:
        sf_dir = build_empty_dir(sf_dir)
        print(f"Empty-table copy: {sf_dir}")
    elif nulls and skew:
        # Combined sweep: hot keys AND NULL-injected keys in ONE copy —
        # the 100 TB reality where both kinds of dirt coexist. Skew is
        # applied first, NULL injection on top (so some hot-key rows
        # also go NULL); eligibility is the NULL sweep's (stricter).
        sf_dir = build_nulls_dir(build_skew_dir(sf_dir))
        if not only:
            from audios_to_dataset_spark.plans import all_queries

            only = set(all_queries()) - nulls_excluded()
        print(
            f"Skew+NULL-injected copy: {sf_dir} ({len(only)} queries)"
        )
    elif nulls:
        sf_dir = build_nulls_dir(sf_dir)
        if not only:
            from audios_to_dataset_spark.plans import all_queries

            only = set(all_queries()) - nulls_excluded()
        print(f"NULL-injected copy: {sf_dir} ({len(only)} queries)")
    elif skew:
        sf_dir = build_skew_dir(sf_dir)
        print(f"Skew-injected copy: {sf_dir}")

    import __spark_entry__ as entrymod
    from audios_to_dataset_spark.session import get_session

    spark = get_session("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # A green gate with zero queries executed must be impossible: a
    # mistyped sf_dir (e.g. /root/testdata/sf001 — not a directory) is
    # reclassified as a query name above, and before this check it would
    # silently match nothing and print "0 failures" (ADVICE r8 item 1).
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        print("(a non-directory first arg is treated as a query name; "
              f"sf_dir={sf_dir})")
        return 2
    n_run = len(only & set(qs)) if only else len(qs)
    print(f"Running {n_run} of {len(qs)} declared queries on {sf_dir}")
    if n_run == 0:
        print("refusing to run zero queries")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            srows = [tuple(r) for r in df.collect()]
            scols = list(df.columns)
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}"
                  f" (spark {time.time() - t0:.1f}s)")
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({spark_s:.1f}s)")
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}"
                  f" (spark {spark_s:.1f}s, duckdb {time.time() - t0:.1f}s)")
            failures.append(name)
            continue
        secs = f"(spark {spark_s:.1f}s, duckdb {time.time() - t0:.1f}s)"
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show first differing canonical line for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(canon(r[i]) for i in order_s) for r in srows)
                lo = sorted("\x1f".join(canon(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        problems.append(f"  spark : {a[:200]}")
                        problems.append(f"  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]) + f" {secs}")
            for p in problems[1:]:
                print(p)
            failures.append(name)
        else:
            print(f"OK   {name}: {len(srows)} rows {secs}")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
