"""Similarity operators: brute force as ground truth, LSH/IVF as scale
paths whose recall is measured against it."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from audios_to_dataset_spark.operators import similarity as S


@pytest.fixture(scope="module")
def vectors(spark):
    """60 vectors in 3 tight clusters + noise — near-dups exist by
    construction."""
    rng = random.Random(7)
    rows = []
    centers = [
        [1.0 if i == j else 0.0 for i in range(8)] for j in range(3)
    ]
    vid = 0
    for c in centers:
        for _ in range(15):
            v = [x + rng.gauss(0, 0.02) for x in c]
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(15):
        v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def test_bruteforce_matches_python(spark, vectors):
    rows = {r.vec_id: r.embedding for r in vectors.collect()}
    got = {
        r.vec_id: r.cos_sim
        for r in S.cosine_vs_query(vectors, decimals=6).collect()
    }
    q = rows[0]
    for vid, v in rows.items():
        dot = sum(a * b for a, b in zip(v, q))
        na = math.sqrt(sum(a * a for a in v))
        nq = math.sqrt(sum(a * a for a in q))
        assert abs(got[vid] - dot / (na * nq)) < 1e-5


def test_lsh_neardup_recall(spark, vectors):
    exact = {
        (r.id_a, r.id_b)
        for r in S.cosine_neardup_pairs(vectors, threshold=0.98).collect()
    }
    assert len(exact) > 50  # clusters produce plenty of near-dups
    rng = random.Random(13)
    tables = [
        [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
        for _ in range(3)
    ]
    approx = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_neardup_pairs(
            vectors, tables, threshold=0.98
        ).collect()
    }
    # no false positives (bucket candidates are re-scored exactly)
    assert approx <= exact
    # 3 hash tables: a pair missed by all three is rare
    assert len(approx) / len(exact) > 0.9


def test_lsh_consumers_share_one_candidate_set(spark, vectors):
    """The near-dup pairs, the k-NN graph and hard-negative mining score
    the one candidate set of ``_lsh_candidates``: it is symmetric, the
    near-dup pairs are its src < dst half, and with k above the
    candidate count the k-NN graph ranks every candidate and the hard
    negatives every different-label one."""
    rng = random.Random(13)
    tables = [
        [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
        for _ in range(3)
    ]
    _, cand = S._lsh_candidates(vectors, tables)
    pairs = {(r.src, r.dst) for r in cand.collect()}
    assert pairs and pairs == {(d, s) for s, d in pairs}
    half = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_neardup_pairs(
            vectors, tables, threshold=-1.0
        ).collect()
    }
    assert half == {(s, d) for s, d in pairs if s < d}
    k = len(pairs)
    knn = S.knn_graph(vectors, tables, k=k).collect()
    assert {(r.src, r.dst) for r in knn} == pairs
    labels = vectors.select(
        F.col("vec_id").alias("id"), (F.col("vec_id") % 2).alias("label")
    )
    neg = S.hard_negatives(vectors, tables, labels, k=k).collect()
    assert {(r.src, r.dst) for r in neg} == {
        (s, d) for s, d in pairs if (s - d) % 2
    }


def test_ivf_topk_recall(spark, vectors):
    exact = [r.vec_id for r in S.topk_vs_query(vectors, k=10).collect()]
    approx = [
        r.vec_id
        for r in S.ivf_topk_vs_query(
            vectors, k=10, n_centroids=8, nprobe=3
        ).collect()
    ]
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.7  # probing 3/8 lists finds most true neighbors
    # the query's own cluster is probed, so the top hit survives
    assert approx[0] == exact[0]


def test_ivf_assignments_cover_all(spark, vectors):
    cents, assign = S.ivf_assignments(vectors, n_centroids=8)
    assert cents.count() == 8
    assert assign.count() == vectors.count()
    assert assign.select("vec_id").distinct().count() == vectors.count()
    n_used = assign.select("centroid_id").distinct().count()
    assert n_used >= 3  # the three clusters separate


def test_ivf_kmeans_probe_contains_query(spark, sf_dir):
    """The KMeans-quantized IVF probe must always fetch the query's own
    list (its argmax centroid ranks first in the probe order), so the
    query itself tops the result at cos 1.0."""
    from audios_to_dataset_spark.plans.similarity import (
        TOP_K,
        q_ann_ivf_kmeans,
    )

    out = q_ann_ivf_kmeans(spark, sf_dir).collect()
    assert len(out) == TOP_K
    assert out[0].vec_id == 0
    assert abs(out[0].cos_sim - 1.0) < 1e-9


def test_ann_lsh_recall_shape_and_bounds(spark, sf_dir):
    from audios_to_dataset_spark.plans.similarity import (
        TOP_K,
        q_ann_lsh_recall,
    )

    rows = q_ann_lsh_recall(spark, sf_dir).collect()
    assert [r.src for r in rows] == [0, 1, 2, 3, 4]
    for r in rows:
        assert r.n_exact == TOP_K
        assert 0 <= r.n_hit <= r.n_exact
        assert abs(r.recall - r.n_hit / r.n_exact) < 1e-12


def test_dedup_embedding_recall_gate_passes(spark, sf_dir):
    """The declared embedding-dedup path (DEDUP_PLANES) must keep pair
    recall >= 0.8 vs the brute-force baseline at the declared threshold
    (VERDICT r4 item 7). The first run of this gate caught the shared
    4x4 serving PLANES at recall 0.467 — this is the regression tripwire
    for any future plane retune."""
    from audios_to_dataset_spark.plans.dedup import (
        EMB_RECALL_GATE,
        q_dedup_embedding_recall,
    )

    (row,) = q_dedup_embedding_recall(spark, sf_dir).collect()
    assert row.n_found <= row.n_exact
    assert row.recall >= EMB_RECALL_GATE
    assert row.gate_pass is True


def test_multiprobe_candidates_superset_of_single_probe(spark, sf_dir):
    """Multi-probe's probe set contains the exact query buckets (j=0), so
    its candidate ids — and therefore the quality of its top-k — dominate
    the single-probe path: every single-probe result at strictly higher
    rounded similarity than multiprobe's cutoff must also appear in the
    multiprobe result."""
    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.plans.dedup import PLANES
    from audios_to_dataset_spark.plans.similarity import (
        TOP_K,
        q_ann_multiprobe,
    )

    em = load(spark, sf_dir, "embeddings")
    single = S.lsh_topk_vs_query(em, PLANES, k=TOP_K).collect()
    multi = q_ann_multiprobe(spark, sf_dir).collect()
    assert len(multi) == TOP_K
    # query itself collides with its own bucket: rank-1 self hit
    assert multi[0].vec_id == 0 and abs(multi[0].cos_sim - 1.0) < 1e-9
    cutoff = min(r.cos_sim for r in multi)
    multi_ids = {r.vec_id for r in multi}
    for r in single:
        if r.cos_sim > cutoff:
            assert r.vec_id in multi_ids
    # the multiprobe top-k is at least as close overall
    assert sum(r.cos_sim for r in multi) >= sum(r.cos_sim for r in single)


def test_multiprobe_probe_generation_flips_each_bit_once(spark):
    """5 probes per table for 4 planes: the identity bucket + 4 one-bit
    flips, across every table — verified by driving the operator over a
    tiny frame and counting distinct candidate buckets touched."""
    import random

    rng = random.Random(3)
    rows = [
        (i, [float(rng.gauss(0, 1)) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tables = [
        [[rng.gauss(0, 1) for _ in range(8)] for _ in range(4)]
        for _ in range(2)
    ]
    got = S.multiprobe_topk_vs_query(df, tables, k=40).collect()
    single = S.lsh_topk_vs_query(df, tables, k=40).collect()
    # multiprobe candidates strictly contain the single-probe candidates
    assert {r.vec_id for r in single} <= {r.vec_id for r in got}


def test_pq_codes_cluster_by_subspace_direction(spark):
    """Hand-checkable PQ: 4-dim vectors, 2 subspaces of 2 dims, k=2.
    Seeds are the two lowest ids; each subspace clusters by direction
    ((1,0)-ish vs (0,1)-ish), and one mean update does not change the
    memberships, so codes are the seed ids."""
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.0, 1.0, 1.0, 0.0]),
        (2, [2.0, 0.1, 0.1, 2.0]),
        (3, [0.1, 2.0, 2.0, 0.1]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = {
        r.vec_id: (r.code_0, r.code_1)
        for r in S.pq_codes(df, m=2, subdim=2, k=2, iters=1).collect()
    }
    assert got == {0: (0, 0), 1: (1, 1), 2: (0, 0), 3: (1, 1)}


def test_kmeans_is_one_subspace_pq(spark, vectors):
    """Seeded k-means equals PQ with one subspace spanning the whole
    vector: the same seeds, the same assignments and the same decimal
    means, so identical centroids once the subspace column is dropped."""
    assert S.KMEANS_ITERS == S.PQ_ITERS
    km = {
        r.cid: r.cvec
        for r in S.kmeans_centroids(vectors, k=S.PQ_K).collect()
    }
    pq = {
        r.cid: r.cvec
        for r in S.pq_codebooks(vectors, m=1, subdim=8)
        .drop("s")
        .collect()
    }
    assert len(km) == 4
    assert km == pq


@pytest.mark.parametrize(
    "name",
    [
        "q_kmeans", "q_ann_ivf_kmeans", "q_pq_codes", "q_ann_pq",
        "q_pq_distortion", "q_semdedup_keep", "q_cluster_purity",
        "q_dedup_semantic",
    ],
)
def test_kmeans_family_leaves_no_cache(spark, sf_dir, name):
    """Building and collecting a k-means query registers nothing in the
    session's CacheManager, so no centroid or assignment frame outlives
    the query."""
    from audios_to_dataset_spark.plans import all_queries

    spark.catalog.clearCache()
    all_queries()[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_semdedup_keep_consistent_with_pair_query(spark, sf_dir):
    from audios_to_dataset_spark.plans.similarity import (
        q_dedup_semantic,
        q_semdedup_keep,
    )

    pairs = q_dedup_semantic(spark, sf_dir).collect()
    decisions = q_semdedup_keep(spark, sf_dir).collect()
    dropped = {r.id_b for r in pairs}
    assert len(decisions) > 0
    for r in decisions:
        assert (r.keep == 0) == (r.vec_id in dropped)
        if r.keep == 0:
            best = max(p.cos_sim for p in pairs if p.id_b == r.vec_id)
            assert abs(r.max_lower_cos - best) < 1e-9
        else:
            assert r.max_lower_cos == -1.0


def test_dbscan_roles_and_clusters(spark):
    """DBSCAN on a hand-built angle chain at threshold 0.95 (= 18.2
    degrees): vectors at 0/18/36/54 degrees in a plane. Adjacent pairs
    are neighbors (cos 18 = .9511), skips are not (cos 36 = .809), so
    the interior vertices 2 and 3 reach min_pts=3 (cores, one
    component labelled min-core-id 2), the endpoints 1 and 4 are
    borders, the orthogonal point is noise, and the NULL-id row is
    dropped."""
    from audios_to_dataset_spark.operators.similarity import (
        dbscan_clusters,
    )

    def ang(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg)),
                0.0]

    rows = [
        (1, ang(0)),
        (2, ang(18)),
        (3, ang(36)),
        (4, ang(54)),
        (5, [0.0, 0.0, 1.0]),
        (None, ang(0)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # one table, one all-zero plane -> every vector hashes to bucket
    # '0:1': candidates are all pairs, so the test pins DBSCAN
    # semantics, not LSH recall
    out = {
        r["id"]: (r["role"], r["cluster_id"])
        for r in dbscan_clusters(
            df, [[[0.0, 0.0, 0.0]]], threshold=0.95, min_pts=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[2] == ("core", 2)
    assert out[3] == ("core", 2)
    assert out[1] == ("border", 2)
    assert out[4] == ("border", 2)
    assert out[5] == ("noise", None)


def test_coreset_covers_separated_clumps(spark, tmp_path):
    """Farthest-point traversal on three mutually-orthogonal clumps
    must pick one center from EACH clump within the first three steps
    (greedy k-center's 2-approximation guarantee is vacuous only when
    coverage fails), and radii are non-increasing after step 2."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import audios_to_dataset_spark.plans.similarity as sim

    # clumps along e1/e2/e3; ids interleaved so id order != clump order
    rows = []
    for i in range(12):
        axis = i % 3
        v = [0.0] * 6
        v[axis] = 1.0
        v[3 + axis] = 0.01 * (i // 3)  # tiny within-clump spread
        rows.append((i, v, 0))
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    d = tmp_path / "coreset"
    d.mkdir()
    pq.write_table(tbl, d / "embeddings.parquet")

    out = sim.q_coreset(spark, str(d)).collect()
    assert [r["step"] for r in out] == list(range(1, sim.CORESET_K + 1))
    first3 = out[:3]
    clumps = {r["vec_id"] % 3 for r in first3}
    assert clumps == {0, 1, 2}
    radii = [r["radius"] for r in out[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_silhouette_singleton_cluster_scores_zero(spark, tmp_path):
    """ADVICE r10: a singleton cluster's own-centroid distance is
    identically 0, so the raw ratio would award its point the maximum
    s = 1; the sklearn convention is s = 0, which must hold on both
    the per-label row and the overall mean."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import audios_to_dataset_spark.plans.similarity as sim

    rows = [
        (0, [0.0, 0.0], 0), (1, [0.2, 0.0], 0),   # cluster 0: pair
        (2, [10.0, 10.0], 1),                      # cluster 1: SINGLETON
        (3, [5.0, 0.0], 2), (4, [5.2, 0.0], 2),   # cluster 2: pair
    ]
    tbl = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })
    d = tmp_path / "single"
    d.mkdir()
    pq.write_table(tbl, d / "embeddings.parquet")

    got = {r["label"]: r for r in sim.q_silhouette(spark, str(d)).collect()}
    assert got[1]["n_points"] == 1
    assert got[1]["mean_sil"] == 0.0           # not the inflated 1.0
    # non-singleton clusters are far from everything else → s near 1
    assert got[0]["mean_sil"] > 0.9
    assert got[2]["mean_sil"] > 0.9
    # the overall mean includes the singleton's 0, so it sits strictly
    # below the non-singleton means
    assert got[-1]["n_points"] == 5
    assert got[-1]["mean_sil"] < min(got[0]["mean_sil"], got[2]["mean_sil"])


def test_bucket_bits_formulation(spark, vectors):
    """The r12 SQL-built _bucket_bits (from_json matrix literal +
    transform/array_join, built for driver-side build/analysis cost)
    must emit bit-identical buckets to the reference per-plane
    concat(when(dot >= 0)) construction it replaced — including on
    negative/noisy float32 vectors where a one-ulp dot slip would flip
    a sign bit."""
    import random as _random

    rng = _random.Random(1234)
    tables = [
        [[rng.gauss(0, 1) for _ in range(8)] for _ in range(5)]
        for _ in range(4)
    ]

    def ref_bits(planes, vec_col):
        return F.concat(
            *[
                F.when(
                    S._dot(
                        F.col(vec_col),
                        F.array(*[F.lit(float(p)) for p in plane]),
                    )
                    >= 0,
                    "1",
                ).otherwise("0")
                for plane in planes
            ]
        )

    new = S.multitable_buckets(vectors, tables)
    ref_entries = [
        F.concat(F.lit(f"{t}:"), ref_bits(planes, "embedding"))
        for t, planes in enumerate(tables)
    ]
    ref = vectors.select(
        F.col("vec_id").alias("id"),
        F.explode(F.array(*ref_entries)).alias("bucket"),
    )
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
    # and the matrix literal really is folded: no per-row json parse
    op = new._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in op
