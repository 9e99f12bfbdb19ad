"""Physical-plan audits: the scale-critical properties stay true.

These pin the Catalyst outcomes the 100 TB design depends on — filter
pushdown into the parquet scan, column pruning, broadcast joins instead
of sort-merge, top-k without a global sort (SURVEY.md §4.1)."""

from __future__ import annotations

import contextlib
import io

from audios_to_dataset_spark.plans.relational import (
    q_agg_count,
    q_filter_in,
    q_join_fallback,
    q_join_inner,
    q_sort_limit,
)


def _explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    e = _explain(q_filter_in(spark, sf_dir))
    # the IN-list and range predicates reach the parquet scan
    assert "PushedFilters:" in e
    assert "In(l_returnflag" in e
    assert "GreaterThanOrEqual(l_quantity,10.0)" in e
    # column pruning: the 11-column lineitem scan reads only 5 columns
    assert "l_extendedprice" not in e
    assert "l_shipdate" not in e


def test_joins_broadcast_not_sortmerge(spark, sf_dir):
    e = _explain(q_join_inner(spark, sf_dir))
    assert "BroadcastHashJoin" in e
    assert "SortMergeJoin" not in e
    e2 = _explain(q_join_fallback(spark, sf_dir))
    # two left joins, both broadcast (formatted mode prints each node in
    # the tree and again in the detail section)
    assert e2.count("BroadcastHashJoin LeftOuter") == 2
    assert "SortMergeJoin" not in e2


def test_agg_has_partial_stage(spark, sf_dir):
    # map-side combine: two HashAggregates around one exchange
    e = _explain(q_agg_count(spark, sf_dir))
    assert e.count("HashAggregate") >= 2
    assert "Exchange" in e


def test_topk_avoids_global_sort(spark, sf_dir):
    e = _explain(q_sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in e
    # no full-sort exchange for a limit-10
    assert "Sort " not in e


def test_range_and_asof_avoid_nested_loop(spark, sf_dir):
    from audios_to_dataset_spark.plans.analytics import (
        q_asof_join,
        q_range_join,
    )

    e = _explain(q_range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in e
    assert "CartesianProduct" not in e
    e2 = _explain(q_asof_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in e2
    assert "CartesianProduct" not in e2
    # the asof union trick is one window pass, not a join at all
    assert "Window" in e2


def test_ivf_no_global_window_no_cartesian(spark, sf_dir):
    """The IVF centroid pick must be TakeOrderedAndProject, never a
    single-partition Window over the whole vector table (VERDICT r1 #3);
    the only Window left is the per-vector argmax, partitioned by id."""
    from audios_to_dataset_spark.plans.similarity import q_ann_ivf

    e = _explain(q_ann_ivf(spark, sf_dir))
    assert "TakeOrderedAndProject" in e
    for line in e.splitlines():
        if "Window [" in line:
            # partition spec is the 3rd bracket group: empty ⇒ global
            assert "[vec_id" in line.split("],")[-2], line


def test_simhash_pairs_no_cartesian(spark, sf_dir):
    """Nibble-pigeonhole SimHash pair search is a bucketed equi-join —
    no CartesianProduct / BroadcastNestedLoopJoin (VERDICT r1 #4)."""
    from audios_to_dataset_spark.plans.dedup import q_simhash_pairs

    e = _explain(q_simhash_pairs(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" not in e


def test_dedup_embedding_lsh_no_cartesian(spark, sf_dir):
    """Declared embedding near-dup path is LSH-bucketed: candidate join
    and vector re-join are equi-joins, never a cross product
    (VERDICT r1 #2)."""
    from audios_to_dataset_spark.plans.dedup import q_dedup_embedding

    e = _explain(q_dedup_embedding(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" not in e


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE hides codegen stars until execution — run, then inspect the
    # final executed plan
    df = q_agg_count(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark operators fused into whole-stage codegen
    assert "*(" in executed and "isFinalPlan=true" in executed
    e = _explain(df, "simple")
    # map-side combine visible pre-execution
    assert "partial_sum" in e and "partial_count" in e


def test_hll_prunes_and_partially_aggregates(spark, sf_dir):
    from audios_to_dataset_spark.plans.sketches import q_approx_distinct

    e = _explain(q_approx_distinct(spark, sf_dir))
    # sketch reads only the group + value columns of the events table
    assert "ReadSchema" in e
    assert "value" not in e.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in e.split("ReadSchema")[1].splitlines()[0]
    # register build has map-side combine (partial max per register)
    assert e.count("HashAggregate") >= 2
    # integer-only pipeline: no python UDF anywhere
    assert "BatchEvalPython" not in e and "ArrowEvalPython" not in e


def test_large_orders_aggregates_before_join(spark, sf_dir):
    from audios_to_dataset_spark.plans.relational2 import q_large_orders

    e = _explain(q_large_orders(spark, sf_dir))
    # the quantity rollup + having-filter must sit below the joins so
    # only the few large orders are joined; formatted-mode node ids are
    # execution-ordered (children first), so the first HashAggregate id
    # must precede the first join id
    import re

    agg = min(int(x) for x in re.findall(r"\((\d+)\) HashAggregate", e))
    join = min(int(x) for x in re.findall(r"\((\d+)\) BroadcastHashJoin", e))
    assert agg < join
    assert "SortMergeJoin" not in e


def test_histogram_quantiles_no_global_sort(spark, sf_dir):
    from audios_to_dataset_spark.plans.sketches import q_approx_percentile

    e = _explain(q_approx_percentile(spark, sf_dir))
    # the whole point: quantiles without sorting the fact table — the
    # only sort is the per-group bin ordering after reduction to bins
    first_scan = e.index("Scan parquet")
    assert "TakeOrderedAndProject" not in e[:first_scan]
    assert e.count("HashAggregate") >= 2


def test_vocab_topk_no_global_window(spark, sf_dir):
    from audios_to_dataset_spark.plans.textops import q_vocab

    e = _explain(q_vocab(spark, sf_dir))
    # top-K must come from TakeOrderedAndProject; the rank/coverage
    # window then only sees K rows
    assert "TakeOrderedAndProject" in e


def test_triangle_count_no_cartesian(spark, sf_dir):
    from audios_to_dataset_spark.plans.analytics import q_triangle_count

    e = _explain(q_triangle_count(spark, sf_dir))
    # degree-oriented wedge enumeration: the graph joins are hash
    # equi-joins (the only nested-loop joins are the 1-row scalar-count
    # crossJoins at the top, which broadcast a single row)
    assert "CartesianProduct" not in e
    assert "SortMergeJoin" in e or "ShuffledHashJoin" in e \
        or "BroadcastHashJoin" in e


def test_clustering_coeff_reads_checkpointed_graph(spark, sf_dir):
    """oriented_triangles checkpoints its edge list and degree table, so
    q_clustering_coeff's plan reads both from the checkpointed RDDs and
    never re-plans the lineitem co-purchase build above them (without
    the checkpoints the plan carried ~13 copies of it, each re-optimized
    by AQE)."""
    from audios_to_dataset_spark.plans.analytics import q_clustering_coeff

    e = _explain(q_clustering_coeff(spark, sf_dir))
    assert "Scan ExistingRDD" in e
    assert "Scan parquet" not in e
    assert "lineitem" not in e


def test_gap_fill_broadcasts_counts(spark, sf_dir):
    from audios_to_dataset_spark.plans.events import q_gap_fill

    e = _explain(q_gap_fill(spark, sf_dir))
    # the aggregated counts side broadcasts; the spine is never shuffled
    # into a sort-merge join
    assert "BroadcastHashJoin" in e
    assert "SortMergeJoin" not in e


def test_anomaly_zscore_broadcast_stats(spark, sf_dir):
    from audios_to_dataset_spark.plans.events import q_anomaly_zscore

    e = _explain(q_anomaly_zscore(spark, sf_dir))
    # 5-row stats side must broadcast, never shuffle the events scan
    assert "BroadcastHashJoin" in e
    assert "SortMergeJoin" not in e


def test_bigram_pmi_topk_no_global_sort(spark, sf_dir):
    from audios_to_dataset_spark.plans.textops import q_bigram_pmi

    e = _explain(q_bigram_pmi(spark, sf_dir))
    assert "TakeOrderedAndProject" in e
    assert "CartesianProduct" not in e


def test_small_qty_revenue_pushes_partial_agg(spark, sf_dir):
    from audios_to_dataset_spark.plans.analytics import q_small_qty_revenue

    e = _explain(q_small_qty_revenue(spark, sf_dir))
    # per-part average: partial + final HashAggregate around one exchange
    assert e.count("HashAggregate") >= 2
    assert "CartesianProduct" not in e


def test_plan_audit_parser_detects_spine_single_partition():
    """Pin tools/plan_audit's structural detector: a SinglePartition
    exchange on the window's input spine flags; the same exchange on a
    sibling broadcast branch does not."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_audit",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "plan_audit.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    spine = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- Window (4)
   +- Sort (3)
      +- Exchange (2)
         +- Scan parquet  (1)


(2) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
"""
    sibling = """== Physical Plan ==
AdaptiveSparkPlan (7)
+- Window (6)
   +- Sort (5)
      +- Exchange (4)
         +- BroadcastNestedLoopJoin Cross BuildRight (3)
            :- Scan parquet  (1)
            +- Exchange (2)


(2) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]

(4) Exchange
Arguments: hashpartitioning(user_id#2L, 32), ENSURE_REQUIREMENTS
"""
    assert mod._window_on_single_partition(spine) is True
    assert mod._window_on_single_partition(sibling) is False


def test_forecast_revenue_pushdown(spark, sf_dir):
    from audios_to_dataset_spark.plans.tpch2 import q_forecast_revenue

    e = _explain(q_forecast_revenue(spark, sf_dir))
    # all three predicates reach the parquet scan
    assert "PushedFilters:" in e
    assert "GreaterThanOrEqual(l_shipdate" in e
    assert "LessThan(l_quantity,24.0)" in e
    # column pruning: only the 4 needed columns are read
    assert "l_returnflag" not in e
    assert "l_tax" not in e
    # map-side partial agg before the single-row exchange
    assert e.count("HashAggregate") >= 2


def test_priority_wait_semi_join_no_materialize(spark, sf_dir):
    from audios_to_dataset_spark.plans.tpch2 import q_priority_wait

    e = _explain(q_priority_wait(spark, sf_dir))
    assert "LeftSemi" in e
    assert "SortMergeJoin" not in e
    # the returnflag filter reaches the lineitem scan
    assert "EqualTo(l_returnflag,R)" in e


def test_profit_broadcasts_dims(spark, sf_dir):
    from audios_to_dataset_spark.plans.tpch2 import q_profit

    e = _explain(q_profit(spark, sf_dir))
    # part/supplier/nation all land on the build side of hash joins
    assert "BroadcastHashJoin" in e
    assert "SortMergeJoin" not in e
    # the selective name filter reaches the part scan
    assert "StringContains(p_name,red)" in e


def test_frequent_pairs_single_fact_shuffle(spark, sf_dir):
    from audios_to_dataset_spark.plans.analytics import q_frequent_pairs

    e = _explain(q_frequent_pairs(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" not in e
    # top-20 without a global sort
    assert "TakeOrderedAndProject" in e


def test_minhash_error_no_cartesian(spark, sf_dir):
    from audios_to_dataset_spark.plans.dedup import q_minhash_error

    e = _explain(q_minhash_error(spark, sf_dir))
    assert "CartesianProduct" not in e


def test_windowed_distinct_partial_agg(spark, sf_dir):
    from audios_to_dataset_spark.plans.sketches import q_windowed_distinct

    e = _explain(q_windowed_distinct(spark, sf_dir))
    # register max and final sum both map-side combine before exchanging
    assert e.count("HashAggregate") >= 4
    assert "CartesianProduct" not in e


def test_curation_stages_no_cartesian(spark):
    from audios_to_dataset_spark.curate import (
        exact_dedup,
        near_dedup,
        pack_sequences,
        quality_gate,
        source_cap,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    staged = pack_sequences(
        source_cap(quality_gate(near_dedup(exact_dedup(docs), 0.5)), 5),
        128,
    )
    e = _explain(staged)
    assert "CartesianProduct" not in e
    # every window in the pipeline is partitioned (no global sort)
    assert "No Partition Defined" not in e


def test_minhash_signatures_mapside_no_aggregate(spark, sf_dir):
    """The MinHash signature pipeline must stay map-side: no aggregate
    (the mins are per-row array_min HOFs) and no exchange beyond the one
    deliberate small-file fan-out repartition. It explains the fold
    below minhash_signatures' checkpoint: the cut frame is an RDD scan,
    on which these checks would pass vacuously."""
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators.dedup import _signature_fold

    d = load(spark, sf_dir, "documents")
    import re

    e = _explain(_signature_fold(d))
    assert "Scan parquet" in e
    assert "HashAggregate" not in e and "SortAggregate" not in e
    # formatted explain lists each node in the tree AND the detail
    # section; count distinct Exchange node ids
    assert len(re.findall(r"\(\d+\) Exchange", e)) <= 1  # the fan-out only
    assert "Generate" not in e  # no explode anywhere


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """Our session leaves Spark's runtime bloom-filter injection enabled;
    at 100 TB the default thresholds self-activate (probe side > 10 GB),
    which this pins by lowering the application-side threshold and
    asserting the might_contain runtime filter lands on the fact scan of
    a shuffle join — plus result parity with the filter un-injected."""
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.catalog import load

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 100000
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_quantity", "o_totalprice"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        baseline = j.count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        e = _explain(j)
        assert "might_contain" in e
        assert j.count() == baseline > 0
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_aqe_splits_skewed_join_partitions(spark):
    """The session claims AQE skew-join handling; prove it engages: a
    join with one pathologically hot key must execute as
    SortMergeJoin(skew=true) (AQE split the hot partition at runtime)
    once the skew thresholds are in range for test-sized data — at
    100 TB the default 256 MB thresholds self-activate."""
    from pyspark.sql import functions as F

    left = (
        spark.range(500_000)
        .select(F.lit(0).alias("k"), F.col("id").alias("v"))
        .unionAll(
            spark.range(10_000).select(
                (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
            )
        )
    )
    right = spark.range(101).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1m",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m"
        )
        j = left.join(right, "k").select(
            F.sum(F.col("v") + F.col("w")).alias("s")
        )
        j.collect()
        ex = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in ex
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        )
        spark.conf.unset(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        )


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE partition coalescing (on in session conf) must collapse the
    32 near-empty shuffle partitions of a tiny aggregation into few
    tasks — the runtime right-sizing that keeps small stages cheap while
    spark.sql.shuffle.partitions stays sized for the big ones."""
    from pyspark.sql import functions as F

    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    df.collect()
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in ex


def test_lm_score_no_vocab_broadcast_no_cartesian(spark, sf_dir):
    """The bigram probability table is vocab-bounded but unbounded in
    principle — it must join back on the bigram KEY (shuffle join is
    fine, AQE handles the Zipf skew), never via CartesianProduct, and
    the per-doc agg must have a map-side partial stage."""
    from audios_to_dataset_spark.plans.textops2 import q_lm_score

    e = _explain(q_lm_score(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" not in e
    assert e.count("HashAggregate") >= 2


def test_ann_multiprobe_broadcasts_probe_set(spark, sf_dir):
    """The (1 + n_planes) x n_tables probe buckets are a tiny frame: the
    candidate fetch must be a broadcast equi-join against them, the
    final top-k a TakeOrderedAndProject, and nothing may cartesian
    against the full vector table (the 1-row query cross join is the
    only BroadcastNestedLoopJoin allowed)."""
    from audios_to_dataset_spark.plans.similarity import q_ann_multiprobe

    e = _explain(q_ann_multiprobe(spark, sf_dir))
    assert "BroadcastHashJoin" in e
    assert "TakeOrderedAndProject" in e
    assert "CartesianProduct" not in e


def test_label_prop_no_cartesian_windows_partitioned(spark, sf_dir):
    """Every LPA round shuffles on node ids — no cartesian anywhere, and
    the mode-pick window is PARTITIONED BY the node (never a
    single-partition global window). checkpoint=False keeps the full
    2-round lineage in one explainable plan."""
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators.graph import label_propagation
    from audios_to_dataset_spark.plans._edges import trade_edges

    edges = trade_edges(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = _explain(label_propagation(nodes, edges, iters=2, checkpoint=False))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" not in e
    # both rounds' mode-pick windows are keyed by the node column
    assert "windowspecdefinition" in e
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
    )
    from plan_audit import _window_on_single_partition

    assert not _window_on_single_partition(e)


def test_kmv_overlap_no_cartesian_on_data(spark, sf_dir):
    """The KMV pair math must join sketches (<= 2K rows per pair), not
    raw hashes: the only cartesian in the plan is the broadcast
    source-pair frame (20x20), and the bottom-k window is partitioned
    by source — never a single global partition."""
    from audios_to_dataset_spark.plans.sketches import q_kmv_overlap

    e = _explain(q_kmv_overlap(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" in e  # the 20-source pair frame


def test_incremental_agg_delta_is_batch_sized(spark, sf_dir):
    """Incremental view maintenance must aggregate the BATCH before the
    merge join: the plan carries two pre-join hash aggregates (base
    view + delta) and one shuffle-keyed full-outer join — no
    post-union global reaggregation of base+batch rows."""
    from audios_to_dataset_spark.plans.versioning import q_incremental_agg

    e = _explain(q_incremental_agg(spark, sf_dir))
    assert "FullOuter" in e
    assert "CartesianProduct" not in e
    # both sides aggregate before the join: at least two HashAggregate
    # pairs appear above the join in the formatted plan
    assert e.count("HashAggregate") >= 4


def test_dbscan_pair_graph_bucketed(spark, sf_dir):
    """DBSCAN's neighbor search must ride the LSH bucket equi-join —
    no cross join, no global window — and the component loop runs on a
    checkpointed pair graph (scan reuse shows as InMemory/Checkpoint
    scan, not a re-derived bucket join per iteration)."""
    from audios_to_dataset_spark.plans.similarity import q_dbscan

    df = q_dbscan(spark, sf_dir)
    e = _explain(df)
    assert "CartesianProduct" not in e
    # the checkpointed pair frame surfaces as an ExistingRDD scan
    assert "ExistingRDD" in e or "InMemoryTableScan" in e


def test_session4_queries_stay_jvm_side(spark, sf_dir):
    """q_url_dedup / q_html_strip / q_pii_audit are pure JVM expression
    pipelines: no Python/Arrow eval node may appear — a UDF sneaking
    into these map-heavy plans is the classic 100x regression."""
    from audios_to_dataset_spark.plans.curation import (
        q_pii_audit,
        q_url_dedup,
    )
    from audios_to_dataset_spark.plans.textops2 import q_html_strip

    for fn in (q_url_dedup, q_pii_audit, q_html_strip):
        e = _explain(fn(spark, sf_dir))
        assert "EvalPython" not in e, fn.__name__
        assert "PythonUDF" not in e, fn.__name__


def test_key_skew_audit_topk_no_global_sort(spark, sf_dir):
    """The per-table top-1 must be TakeOrderedAndProject (distributed
    partial top-k), never a single-partition window or global sort —
    per_key is every distinct join key, huge at scale."""
    from audios_to_dataset_spark.plans.sketches import q_key_skew_audit

    e = _explain(q_key_skew_audit(spark, sf_dir))
    assert "TakeOrderedAndProject" in e
    assert "Window" not in e


def test_sole_offender_aggregates_instead_of_semi_anti(spark, sf_dir):
    """r13: the correlated EXISTS / NOT EXISTS are rewritten at the
    SOURCE into one per-order distinct-supplier aggregate (guide §2.3)
    — the decorrelated LeftSemi/LeftAnti pair each moved a full
    lineitem projection (broadcast at bench scale, a lineitem-wide
    shuffle at 100 TB). The plan must carry the two COUNT(DISTINCT)
    aggregates keyed on l_orderkey and NO semi/anti join, per-row
    subquery, or nested loop."""
    from audios_to_dataset_spark.plans.tpch2 import q_sole_offender

    e = _explain(q_sole_offender(spark, sf_dir))
    assert "LeftSemi" not in e
    assert "LeftAnti" not in e
    assert "BroadcastNestedLoopJoin" not in e
    assert "CartesianProduct" not in e
    # the fused per-order pass: conditional distinct count of the
    # returned-line suppliers next to the plain distinct supplier count
    assert "count(CASE WHEN (_q21_lineitem.l_returnflag = 'R')" in e
    assert "count(_q21_lineitem.l_suppkey" in e


def test_zone_map_single_scan_shapes(spark, sf_dir):
    """q_zone_map: two aggregations over a union plus one broadcast
    join on the 2-row layout frame — no cartesian, no sort-merge."""
    from audios_to_dataset_spark.plans.sketches import q_zone_map

    e = _explain(q_zone_map(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastHashJoin" in e


def test_round8_queries_scale_shapes(spark, sf_dir):
    """The round-8 additions keep the plan shapes their docstrings
    claim: q_char_collision/q_code_detect are shuffle-free codegen
    projections; q_boilerplate_prefix is exactly one hash-aggregate
    exchange; q_interleave_mixture windows per source with NO global
    exchange-for-sort; q_dedup_threshold_sweep adds no cartesian or
    inequality join over the minhash plan."""
    from audios_to_dataset_spark.plans.curation import (
        q_boilerplate_prefix,
        q_code_detect,
    )
    from audios_to_dataset_spark.plans.dedup import q_dedup_threshold_sweep
    from audios_to_dataset_spark.plans.textops2 import (
        q_char_collision,
        q_interleave_mixture,
    )

    e = _explain(q_char_collision(spark, sf_dir))
    # HOF projections run outside whole-stage codegen by design; the
    # scale property is no shuffle and no Python anywhere in the plan
    assert "Exchange" not in e and "BatchEvalPython" not in e

    e = _explain(q_code_detect(spark, sf_dir))
    assert "Exchange" not in e and "BatchEvalPython" not in e
    # column pruning: only doc_id and text leave the scan
    assert "source" not in e.split("ReadSchema")[1][:200]

    e = _explain(q_boilerplate_prefix(spark, sf_dir))
    assert e.count("HashAggregate") >= 2  # partial + final
    assert "SortMergeJoin" not in e and "CartesianProduct" not in e

    e = _explain(q_interleave_mixture(spark, sf_dir))
    assert "Window" in e
    assert "hashpartitioning(source" in e  # per-source, never global
    assert "SinglePartition" not in e

    e = _explain(q_dedup_threshold_sweep(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" not in e


def test_histogram_broadcasts_bounds_and_pushes_partial_agg(spark, sf_dir):
    """q_histogram (round 9): the 1-row bounds aggregate must broadcast
    (never sort-merge against the fact scan) and the 20-bucket count
    must partially aggregate map-side."""
    from audios_to_dataset_spark.plans.relational2 import q_histogram

    e = _explain(q_histogram(spark, sf_dir))
    assert "SortMergeJoin" not in e
    assert "partial_count" in e
    # column pruning: only o_totalprice read from the 9-column table
    assert "o_orderdate" not in e and "o_comment" not in e


def test_id_gaps_single_partition_only_on_summary(spark, sf_dir):
    """q_id_gaps (round 9): exactly ONE single-partition exchange —
    the 1024x-shrunk bucket summary — and none on the full key set.
    A second one would mean the within-bucket window collapsed."""
    from audios_to_dataset_spark.plans.relational2 import q_id_gaps

    e = _explain(q_id_gaps(spark, sf_dir))
    # formatted mode prints each exchange's partitioning under
    # "Arguments:"; exactly one single-partition exchange (the summary
    # window), the within-bucket window hash-partitions
    assert e.count("SinglePartition") == 1
    assert "hashpartitioning(b#" in e
    assert "CartesianProduct" not in e


def test_bq_recall_broadcasts_probes(spark, sf_dir):
    """q_bq_recall (round 9): the 5-probe side broadcasts; scoring is
    a BNLJ cross against the broadcast, never a cartesian shuffle."""
    from audios_to_dataset_spark.plans.similarity import q_bq_recall

    e = _explain(q_bq_recall(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastNestedLoopJoin" in e or "BroadcastHashJoin" in e


def test_embed_dim_stats_partial_agg(spark, sf_dir):
    """q_embed_dim_stats (round 9): the per-dimension aggregate
    combines map-side (shuffle width = n_dims, not corpus size)."""
    from audios_to_dataset_spark.plans.similarity import (
        q_embed_dim_stats,
    )

    e = _explain(q_embed_dim_stats(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e


def test_decay_weights_single_scan_shapes(spark, sf_dir):
    """q_decay_weights (round 9): anchor is a broadcast 1-row
    aggregate; the event_type aggregate partially combines."""
    from audios_to_dataset_spark.plans.events import q_decay_weights

    e = _explain(q_decay_weights(spark, sf_dir))
    assert "SortMergeJoin" not in e
    assert "partial_count" in e or "partial_sum" in e


def test_auc_single_partition_only_on_histogram(spark, sf_dir):
    """q_auc (round 9): raw rows are never totally ordered — the one
    single-partition exchange feeds the window over the quantized
    score histogram, after a partial_count-combined groupBy."""
    from audios_to_dataset_spark.plans.evalmetrics import q_auc

    e = _explain(q_auc(spark, sf_dir))
    assert e.count("SinglePartition") <= 2  # window + final 1-row agg
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e


def test_confusion_matrix_aggregates_before_join(spark, sf_dir):
    """q_confusion_matrix (round 9): the class joins run over the
    classes^2 cell frame, not raw rows — every join side is an
    aggregate, and none falls back to cartesian."""
    from audios_to_dataset_spark.plans.evalmetrics import (
        q_confusion_matrix,
    )

    e = _explain(q_confusion_matrix(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "partial_count" in e or "partial_sum" in e


def test_timeseries_queries_scale_shapes(spark, sf_dir):
    """Round-9 second wave, time-series family: q_ohlc is ONE map-side
    combinable aggregation (no window, no join); q_time_weighted_avg
    windows per event_type (never a global sort); q_interpolate's
    spine join stays broadcast; q_lttb's neighbor-centroid joins
    broadcast the <=B-row aggregate and the argmax is an aggregate,
    not a window over raw points."""
    from audios_to_dataset_spark.plans.timeseries import (
        q_interpolate,
        q_lttb,
        q_ohlc,
        q_time_weighted_avg,
    )

    e = _explain(q_ohlc(spark, sf_dir))
    assert "Window" not in e and "Join" not in e
    assert "partial_count" in e or "partial_min" in e

    e = _explain(q_time_weighted_avg(spark, sf_dir))
    assert "hashpartitioning(event_type" in e
    assert "SinglePartition" not in e

    e = _explain(q_interpolate(spark, sf_dir))
    assert "SortMergeJoin" not in e and "CartesianProduct" not in e
    assert "hashpartitioning(event_type" in e

    e = _explain(q_lttb(spark, sf_dir))
    assert "SortMergeJoin" not in e and "CartesianProduct" not in e
    assert e.count("BroadcastHashJoin") >= 3  # bounds + left + right
    # the survivor selection is max(struct), not a per-point window
    assert "row_number" not in e


def test_ranking_metrics_scale_shapes(spark, sf_dir):
    """Round-9 second wave, ranking metrics: the ranked list windows
    PER LABEL (hash partitioning, no single-partition sort of raw
    rows); kappa joins only aggregated marginals."""
    from audios_to_dataset_spark.plans.evalmetrics import (
        q_cohen_kappa,
        q_map_at_k,
        q_ndcg,
    )

    e = _explain(q_ndcg(spark, sf_dir))
    assert "hashpartitioning(label" in e
    assert "SinglePartition" not in e

    e = _explain(q_map_at_k(spark, sf_dir))
    assert "hashpartitioning(label" in e
    assert "SinglePartition" not in e

    e = _explain(q_cohen_kappa(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "partial_count" in e or "partial_sum" in e


def test_textmetrics_scale_shapes(spark, sf_dir):
    """Round-9 second wave, text metrics: q_readability is one
    wordcount-shaped groupBy with all token math in JVM HOFs (no
    Python in the plan); q_heaps_law's only single-partition exchange
    feeds the fixed 21-row spine window, with tokens reduced to
    bucket counts first."""
    from audios_to_dataset_spark.plans.textmetrics import (
        q_heaps_law,
        q_readability,
    )

    e = _explain(q_readability(spark, sf_dir))
    assert "BatchEvalPython" not in e and "ArrowEvalPython" not in e
    assert e.count("HashAggregate") >= 2

    e = _explain(q_heaps_law(spark, sf_dir))
    assert "BatchEvalPython" not in e
    # token and doc buckets partially aggregate before the spine join
    assert "partial_count" in e or "partial_min" in e


def test_clustering_coeff_wedge_shapes(spark, sf_dir):
    """q_clustering_coeff: the degree-oriented wedge walk — equi-joins
    only (no cartesian, no conditional BNLJ), aggregates map-side
    combined, same bound as q_triangle_count."""
    from audios_to_dataset_spark.plans.analytics import (
        q_clustering_coeff,
    )

    e = _explain(q_clustering_coeff(spark, sf_dir))
    assert "CartesianProduct" not in e
    import re as _re

    bnlj = {
        m.group(1)
        for m in _re.finditer(
            r"BroadcastNestedLoopJoin\s+(\w+)", e
        )
    }
    assert bnlj <= {"Cross"}
    assert "partial_count" in e


def test_third_wave_scale_shapes(spark, sf_dir):
    """Round-9 third wave: q_pr_auc's single-partition window feeds
    only the quantized-score histogram (same bound as q_auc);
    q_ece is one groupBy with partial aggregation and NO window;
    q_gini_length ranks PER SOURCE (hash partitioning, no global
    sort)."""
    from audios_to_dataset_spark.plans.evalmetrics import q_ece, q_pr_auc
    from audios_to_dataset_spark.plans.textmetrics import q_gini_length

    e = _explain(q_pr_auc(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e

    e = _explain(q_ece(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e

    e = _explain(q_gini_length(spark, sf_dir))
    assert "hashpartitioning(source" in e
    assert "SinglePartition" not in e


def test_hard_negatives_bucketed_no_allpairs(spark, sf_dir):
    """q_hard_negatives: candidates come from the LSH bucket equi-join
    (no cartesian, no conditional BNLJ), labels join by hash, and the
    rank window partitions per anchor."""
    from audios_to_dataset_spark.plans.similarity import q_hard_negatives

    e = _explain(q_hard_negatives(spark, sf_dir))
    assert "CartesianProduct" not in e
    import re as _re

    bnlj = {
        m.group(1)
        for m in _re.finditer(r"BroadcastNestedLoopJoin\s+(\w+)", e)
    }
    assert bnlj <= {"Cross"}
    assert "hashpartitioning(src" in e


def test_psi_no_window_partial_agg(spark, sf_dir):
    """q_psi: no window anywhere (the bin spine is a broadcast join),
    totals broadcast, counts partially aggregate map-side."""
    from audios_to_dataset_spark.plans.evalmetrics import q_psi

    e = _explain(q_psi(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e
    assert "SortMergeJoin" not in e


def test_lift_curve_spine_only_window(spark, sf_dir):
    """q_lift_curve: raw rows feed exactly one map-side-combinable
    groupBy; the cumulative window and the totals cross-join operate
    on the fixed 10-row spine."""
    from audios_to_dataset_spark.plans.evalmetrics import q_lift_curve

    e = _explain(q_lift_curve(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e
    assert "SortMergeJoin" not in e


def test_survival_family_plan_shapes(spark, sf_dir):
    """Round-10 survival family: KM reduces raw orders to the day-gap
    spine with a map-side-combinable groupBy before any window; WOE/IV
    has no window at all (fixed-width bins + broadcast totals); the
    sorted-neighborhood probe is a pure equi-join (no nested-loop
    join, no cartesian); entropy rate joins only broadcast margins."""
    import re as _re

    from audios_to_dataset_spark.plans.survival import (
        q_entropy_rate, q_kaplan_meier, q_sorted_neighborhood, q_woe_iv,
    )

    e = _explain(q_kaplan_meier(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e

    e = _explain(q_woe_iv(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e
    assert "SortMergeJoin" not in e

    e = _explain(q_sorted_neighborhood(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert not _re.search(r"BroadcastNestedLoopJoin", e)

    e = _explain(q_entropy_rate(spark, sf_dir))
    assert "SortMergeJoin" not in e
    assert "CartesianProduct" not in e


def test_expstats_family_plan_shapes(spark, sf_dir):
    """Round-10 experiment-health family: SMD and CUPED have no window
    anywhere and partially aggregate map-side; xcorr's only cross join
    is the broadcast 13-row lag spine (Cross BNLJ, never conditional);
    wasserstein's window input is the fixed 100-bin spine."""
    import re as _re

    from audios_to_dataset_spark.plans.expstats import (
        q_cuped, q_smd_balance, q_wasserstein, q_xcorr,
    )

    e = _explain(q_smd_balance(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e

    e = _explain(q_cuped(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e

    e = _explain(q_xcorr(spark, sf_dir))
    bnlj = {m.group(1)
            for m in _re.finditer(r"BroadcastNestedLoopJoin[ \t]+(\w+)", e)}
    assert bnlj <= {"Cross"}
    assert "CartesianProduct" not in e

    e = _explain(q_wasserstein(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e


def test_nonparam_family_plan_shapes(spark, sf_dir):
    """Round-10 nonparametric family: Welch and Mann-Whitney have no
    unbounded raw-row sort (moment/histogram groupBys); Theil-Sen's
    only cross join is the broadcast daily spine (Cross BNLJ) and its
    resolve window is partitioned by the bucket key; attribution's
    windows are per-user partitions."""
    import re as _re

    from audios_to_dataset_spark.plans.nonparam import (
        q_attribution, q_mann_whitney, q_theil_sen, q_welch_t,
    )

    e = _explain(q_welch_t(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e

    e = _explain(q_mann_whitney(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e

    e = _explain(q_theil_sen(spark, sf_dir))
    bnlj = {m.group(1)
            for m in _re.finditer(r"BroadcastNestedLoopJoin[ \t]+(\w+)", e)}
    assert bnlj <= {"Cross"}
    assert "CartesianProduct" not in e

    e = _explain(q_attribution(spark, sf_dir))
    assert "hashpartitioning(user_id" in e
    assert "CartesianProduct" not in e


def test_mcc_best_split_plan_shapes(spark, sf_dir):
    """Round-10 eval-metric additions: MCC is one combinable scalar
    aggregation (no window, no join); best-split's window input is the
    fixed 100-bin spine and the argmax is ORDER BY + LIMIT 1 on the
    tie set, never a raw-row sort."""
    from audios_to_dataset_spark.plans.evalmetrics import (
        q_best_split, q_mcc,
    )

    e = _explain(q_mcc(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e

    e = _explain(q_best_split(spark, sf_dir))
    assert "partial_count" in e or "partial_sum" in e
    assert "CartesianProduct" not in e
    assert "TakeOrderedAndProject" in e


def test_wave4_plan_shapes(spark, sf_dir):
    """Round-10 fourth wave: silhouette's centroid join broadcasts the
    k·d centroid table (no cartesian, no sort-merge); range-frame
    windows partition by user; RFM is two combinable groupBys with a
    broadcast horizon."""
    from audios_to_dataset_spark.plans.analytics import q_rfm
    from audios_to_dataset_spark.plans.events import q_range_frame
    from audios_to_dataset_spark.plans.similarity import q_silhouette

    e = _explain(q_silhouette(spark, sf_dir))
    assert "CartesianProduct" not in e
    assert "BroadcastHashJoin" in e
    assert "SortMergeJoin" not in e

    e = _explain(q_range_frame(spark, sf_dir))
    assert "hashpartitioning(user_id" in e

    e = _explain(q_rfm(spark, sf_dir))
    assert "Window" not in e
    assert "partial_count" in e or "partial_sum" in e
