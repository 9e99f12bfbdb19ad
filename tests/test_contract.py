"""Driver-contract consistency: the registry stays well-formed."""

from __future__ import annotations

import inspect

import __spark_entry__ as entry_mod


def test_every_oracle_has_a_query():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every declared query now carries a full value-hash oracle — keep
    # it that way (a new rows-only query must be a deliberate decision)
    assert set(qs) - set(oracles) == set()


def test_query_callables_take_spark_and_sfdir():
    for name, fn in entry_mod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir)"


def test_every_query_has_a_docstring():
    """A docstring that opens with a ``.format(...)`` call or an f-string
    is an expression Python discards, leaving ``__doc__`` None."""
    missing = [
        name for name, fn in entry_mod.queries().items()
        if not (fn.__doc__ or "").strip()
    ]
    assert missing == []


def test_no_duplicate_registration():
    # all_queries raises on duplicates; reaching here means none
    assert len(entry_mod.queries()) >= 70


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["n_name", "n_orders", "revenue"]
    assert df.count() == 25


def test_query_order_is_module_order(monkeypatch):
    """all_queries() lists each module's QUERIES in _modules() order and
    reads no file to do it (Path.glob raises during the call)."""
    import pathlib

    from audios_to_dataset_spark import plans

    expected = [name for mod in plans._modules() for name in mod.QUERIES]

    def no_glob(self, pattern):
        raise AssertionError(f"all_queries() globbed {self}/{pattern}")

    monkeypatch.setattr(pathlib.Path, "glob", no_glob)
    assert list(plans.all_queries()) == expected


# The queries bench.py's "value" sums: headline + iterative sections.
BENCH_VALUE_QUERIES = {
    "q_agg_count", "q_join_inner", "q_join_left", "q_filter_in",
    "q_window_rownum", "q_window_rank", "q_sort_limit", "q_tumbling_window",
    "q_session_gap", "q_dedup_first", "q_dedup_exact", "q_dedup_minhash_lsh",
    "q_text_stats", "q_lang_id", "q_cosine_scores", "q_ann_topk",
    "q_approx_distinct", "q_approx_percentile", "q_skew_join", "q_bloom_join",
    "q_pagerank", "q_repetition", "q_zorder", "q_chunk_dedup", "q_gap_fill",
    "q_cust_distribution", "q_forecast_revenue", "q_profit", "q_bpe_merges",
    "q_seq_pack", "q_rarity_score", "q_knn_graph", "q_hybrid_search",
    "q_bm25", "q_weighted_sample", "q_kcore", "q_ann_pq", "q_sparse_cosine",
    "q_dsir_select",
}


def test_bench_sections_name_declared_queries():
    import bench

    declared = set(entry_mod.queries())
    for section, (names, where, reps) in bench.SECTIONS.items():
        assert set(names) <= declared, (section, set(names) - declared)
        assert len(set(names)) == len(names), section
        assert where in ("sf", "x10") and reps >= 1, section
    value = bench.SECTIONS["headline"][0] + bench.SECTIONS["iterative"][0]
    assert len(value) == len(BENCH_VALUE_QUERIES) == 39
    assert set(value) == BENCH_VALUE_QUERIES
