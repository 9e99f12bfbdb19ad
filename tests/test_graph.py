"""Connected components by label propagation."""

from __future__ import annotations

import pytest

from audios_to_dataset_spark.operators.graph import connected_components


def _run(spark, n_nodes, edge_list):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return {
        r.id: r.cluster_id
        for r in connected_components(nodes, edges).collect()
    }


def test_two_components_and_singleton(spark):
    got = _run(spark, 6, [(0, 1), (1, 2), (3, 4)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_chain_converges(spark):
    # a long path needs several propagation rounds
    got = _run(spark, 10, [(i, i + 1) for i in range(9)])
    assert set(got.values()) == {0}


def test_cycle(spark):
    got = _run(spark, 4, [(0, 1), (1, 2), (2, 0)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 3}


def test_pointer_jumping_matches_naive_and_cuts_rounds(spark):
    """r13 path-halving pin: the pointer-jumping loop must return the
    EXACT labels of plain neighbor-min propagation (component min at
    every node) while converging in strictly fewer rounds on a
    diameter-heavy graph. A worst-case 33-node path, ids ordered
    against the propagation direction so the min crawls the full
    diameter, plus a detached triangle and a singleton."""
    from audios_to_dataset_spark.operators import graph as G

    n = 33
    path = [(i, i + 1) for i in range(n - 1)]
    extra = [(n, n + 1), (n + 1, n + 2), (n, n + 2)]  # triangle
    got = _run(spark, n + 4, path + extra)
    # naive reference: min id reachable — path collapses to 0, the
    # triangle to n, the singleton keeps itself
    expect = {i: 0 for i in range(n)}
    expect.update({n: n, n + 1: n, n + 2: n, n + 3: n + 3})
    assert got == expect
    # O(log d) round count: a 32-hop diameter needs 5 jumped rounds
    # (plain neighbor-min needs 32) plus the fixpoint-detection round.
    # This is the measured-speedup guard — if the jumping step is ever
    # dropped, rounds jump back to O(d) and this fails.
    assert G.LAST_CC_ROUNDS == 6


@pytest.mark.parametrize(
    "n_nodes, edge_list, expect, rounds",
    [
        # empty node set: both label sums are NULL, stop after round 1
        (0, [], {}, 1),
        (0, [(0, 1)], {}, 1),
        # no edges: round 1 changes nothing
        (4, [], {0: 0, 1: 1, 2: 2, 3: 3}, 1),
        # duplicate, reversed and self-loop edges
        (
            6,
            [(0, 1), (0, 1), (1, 0), (2, 2), (3, 4), (4, 3), (4, 4)],
            {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 5},
            2,
        ),
        # endpoint 10 is not a node: it carries no label, so 1 and 2
        # are not joined through it
        (4, [(1, 10), (10, 2), (0, 3)], {0: 0, 1: 1, 2: 2, 3: 0}, 2),
        # NULL endpoints never match a node
        (
            4,
            [(0, None), (None, 1), (1, 2), (None, None)],
            {0: 0, 1: 1, 2: 1, 3: 3},
            2,
        ),
    ],
    ids=["empty", "empty-with-edges", "no-edges", "dup-self-loop",
         "foreign-endpoint", "null-endpoint"],
)
def test_cc_labels_and_rounds(spark, n_nodes, edge_list, expect, rounds):
    """Exact labels and round counts on degenerate inputs, so the round
    at which the Σlabel fixpoint test stops cannot drift."""
    from audios_to_dataset_spark.operators import graph as G

    assert _run(spark, n_nodes, edge_list) == expect
    assert G.LAST_CC_ROUNDS == rounds


def test_cc_runs_no_driver_collect(spark):
    """The label sums ride on each round's checkpoint job: building the
    components launches no job from a collect in graph.py."""
    sc = spark.sparkContext
    group = "test_cc_runs_no_driver_collect"
    sc.setJobGroup(group, group)
    try:
        nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (3, 4)], "src long, dst long"
        )
        connected_components(nodes, edges)
        st = sc.statusTracker()
        names = [
            st.getStageInfo(s).name
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
            if st.getStageInfo(s) is not None
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert names  # the eager checkpoints ran under the group
    assert not [
        n for n in names if n.startswith("collect at ") and "graph.py" in n
    ]


def test_undirected_matches_union_distinct(spark):
    """One exploded branch returns exactly the old union + distinct set,
    and reads its input once."""
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.operators.graph import undirected

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (3, 3), (None, 4), (5, None),
         (None, None), (6, 7)],
        "src long, dst long",
    )
    old = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
        .distinct()
    )
    got = undirected(edges)
    assert got.columns == ["a", "b"]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, old.collect()), key=repr
    )
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def _tri(spark, edges):
    """Totals from triangle_count; also pins oriented_triangles' degree
    table and per-node triangle credits (every corner of every closed
    row) against a brute-force count over each node's neighbor pairs."""
    from collections import Counter
    from itertools import combinations

    from audios_to_dataset_spark.operators.graph import (
        oriented_triangles,
        triangle_count,
    )

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "u long, v long"
    ).distinct()
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = {
        n: sum(1 for x, y in combinations(nb, 2) if y in adj[x])
        for n, nb in adj.items()
    }
    deg, tri = oriented_triangles(df)
    assert {r.node: r.d for r in deg.collect()} == {
        n: len(nb) for n, nb in adj.items()
    }
    credits = Counter(c for r in tri.collect() for c in (r.s, r.wu, r.wv))
    assert {n: credits[n] for n in adj} == brute
    assert set(credits) <= set(adj)
    row = triangle_count(df).collect()[0]
    return row.n_edges, row.n_nodes, row.n_triangles


def test_triangle_single(spark):
    assert _tri(spark, [(0, 1), (1, 2), (0, 2)]) == (3, 3, 1)


def test_triangle_none_in_path(spark):
    assert _tri(spark, [(0, 1), (1, 2), (2, 3)]) == (3, 4, 0)


def test_triangle_k4_has_four(spark):
    # complete graph on 4 nodes: C(4,3) = 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _tri(spark, k4) == (6, 4, 4)


def test_triangle_hub_star_has_none(spark):
    # star graph: the hub has high degree but no closed wedge
    assert _tri(spark, [(0, i) for i in range(1, 8)]) == (7, 8, 0)


def test_label_propagation_two_triangles_bridge(spark):
    """Hand-replayed 2-round synchronous LPA on two triangles joined by a
    bridge (3-4), plus an isolated node 7. Round 1: every node adopts its
    neighbors' min-tied/mode label; round 2 stabilizes the left triangle
    at 1 while the right side shows the classic synchronous oscillation
    (4 sees {1,4,4}→4; 5,6 see {3,4}→tie→3) — the point is exact
    determinism, which the DuckDB oracle replays identically."""
    from audios_to_dataset_spark.operators.graph import label_propagation

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    got = {
        r.id: r.community
        for r in label_propagation(nodes, e, iters=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3, 7: 7}


def _kcore(spark, edges, k, rounds):
    from audios_to_dataset_spark.operators.graph import k_core_peel

    e = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.id: r.core_deg
        for r in k_core_peel(e, k=k, rounds=rounds).collect()
    }


def test_kcore_path_peels_endpoints_per_round(spark):
    # 2-core peel of a path removes one endpoint per side per round;
    # the whole path dies once rounds >= ceil(len/2)
    path = [(i, i + 1) for i in range(4)]  # 0-1-2-3-4
    assert _kcore(spark, path, k=2, rounds=1) == {1: 2, 2: 2, 3: 2}
    assert _kcore(spark, path, k=2, rounds=2) == {2: 2}
    assert _kcore(spark, path, k=2, rounds=3) == {}


def test_kcore_triangle_with_tail(spark):
    # triangle survives any number of 2-core rounds; the tail (3-4) peels
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    got = _kcore(spark, edges, k=2, rounds=3)
    assert got == {0: 2, 1: 2, 2: 2}


def test_kcore_degree_is_entering_final_round(spark):
    # node 2's reported degree is its degree ENTERING the last round:
    # round 1 drops the pendant 3, so 2's degree goes 3 → 2
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    assert _kcore(spark, edges, k=2, rounds=1)[2] == 3
    assert _kcore(spark, edges, k=2, rounds=2)[2] == 2


def test_label_propagation_zero_iters_is_identity(spark):
    from audios_to_dataset_spark.operators.graph import label_propagation

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    got = {
        r.id: r.community
        for r in label_propagation(nodes, e, iters=0).collect()
    }
    assert got == {1: 1, 2: 2}


def test_hits_two_hubs(spark):
    """Hand-replayed 2-round max-normalized HITS: hub 0 covers {2,3},
    hub 1 covers {2} — node 2 becomes the unit authority, node 3 ~0.6,
    hub 1 converges toward 0.625 of hub 0."""
    import pytest

    from audios_to_dataset_spark.operators.graph import hits

    e = spark.createDataFrame(
        [(0, 2), (0, 3), (1, 2)], "src long, dst long"
    )
    hubs, auths = hits(e)
    h = {r.id: r.hub for r in hubs.collect()}
    a = {r.id: r.auth for r in auths.collect()}
    assert h[0] == 1.0 and a[2] == 1.0
    assert h[1] == pytest.approx(0.625, abs=1e-9)
    assert a[3] == pytest.approx(0.6, abs=1e-9)
