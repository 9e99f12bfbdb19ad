"""Similarity-search plans over the embeddings table."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import similarity as S
from ..operators.similarity import (
    EMB_THRESHOLD,
    KMEANS_ITERS,
    KMEANS_K,
    PQ_ITERS,
    PQ_K,
    QUERY_ID,
)
from ._oracle_sql import (
    AUTO_PLANES,
    INDEXED_VECTORS,
    VECTORS,
    cc_labels,
    cosine,
    dot,
    emb_pairs,
    lsh_buckets,
    norm,
    plane_sql,
)
from ._util import DEC, dsum, dsum_sql, sround, sround_sql

TOP_K = 20

# the rounded query cosine every exact query-vector oracle ranks on
_QCOS = cosine("e", "qe", 3)

# vu(vec_id, u): the indexable vectors scaled to unit length, zero norms
# dropped — operators.similarity._unit_vectors
_UNIT_VECTORS = f"""{INDEXED_VECTORS}, vu AS MATERIALIZED (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS u
  FROM (SELECT vec_id, e, {norm("e")} AS nrm FROM v) n
  WHERE nrm > 0
)"""

# (vec_id, label) of the labelled rows, labels as INT
_LABELS = """lab AS (
  SELECT vec_id, CAST(label AS INT) AS label FROM embeddings
  WHERE vec_id IS NOT NULL AND label IS NOT NULL
)"""

_COS_CTE = f"""
WITH {VECTORS}, q AS (
  SELECT e AS qe FROM v WHERE vec_id = {{qid}}
), scored AS (
  SELECT vec_id, {_QCOS} AS cos_sim FROM v, q
)
"""


def _topk_per_src(scored: DataFrame, score: str, k: int) -> DataFrame:
    """(src, dst): per probe ``src``, the ``k`` rows of ``scored`` with
    the highest ``score``, vec_id tie-break; dst is their vec_id."""
    w = Window.partitionBy("src").orderBy(F.col(score).desc(), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("src", F.col("vec_id").alias("dst"))
    )


def _exact_topk(
    em: DataFrame, probe: Column, k: int, dim: int | None = None
) -> DataFrame:
    """(src, dst): the exact brute-force top-k of every probe vector
    (the rows where ``probe`` holds) among the OTHER vectors, on the
    3-place cosine of their first ``dim`` dimensions (all when None).
    The probe rows broadcast against the table: probes × N scores,
    linear in the corpus."""
    probes = em.filter(probe).select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("qe")
    )
    e, qe = F.col("embedding"), F.col("qe")
    if dim is not None:
        e, qe = F.slice(e, 1, dim), F.slice(qe, 1, dim)
    scored = (
        em.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("src"))
        .withColumn("cos_sim", sround(S._cosine(e, qe), 3))
    )
    return _topk_per_src(scored, "cos_sim", k)


def _recall_at_k(
    exact: DataFrame, approx: list[tuple[str, str, DataFrame]]
) -> DataFrame:
    """Recall@k per probe: (src, n_exact, then one hit column per
    ``(hit, recall, frame)`` of ``approx``, then the recall columns).
    ``hit`` counts the exact (src, dst) rows ``frame`` also holds and
    ``recall`` is hit / n_exact, an exact integer ratio."""
    out = exact.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    for hit, _, frame in approx:
        n = (
            exact.join(frame, ["src", "dst"], "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias(hit))
        )
        out = out.join(n, "src", "left")
    got = {hit: F.coalesce(hit, F.lit(0)) for hit, _, _ in approx}
    return out.select(
        "src",
        "n_exact",
        *[got[hit].cast("bigint").alias(hit) for hit, _, _ in approx],
        *[
            (got[hit].cast("double") / F.col("n_exact").cast("double"))
            .alias(recall)
            for hit, recall, _ in approx
        ],
    ).orderBy("src")


def _topk_sql(name: str, scored: str, score: str, k: int) -> str:
    """CTE ``name``(src, dst): per src, the ``k`` rows of relation
    ``scored``(src, dst, ...) with the highest ``score``, dst tie-break
    — the twin of :func:`_topk_per_src`."""
    return f"""{name} AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY {score} DESC, dst) AS rk
    FROM {scored}) x WHERE rk <= {k}
)"""


def _exact_topk_sql(name: str, k: int, dim: int | None = None) -> str:
    """CTE ``name``(src, dst) over v and probes(src, qe): the twin of
    :func:`_exact_topk`."""
    e, qe = ("v.e", "p.qe") if dim is None else (
        f"(v.e[1:{dim}])", f"(p.qe[1:{dim}])"
    )
    scored = f"""(
    SELECT p.src, v.vec_id AS dst, {cosine(e, qe, 3)} AS cos_sim
    FROM v CROSS JOIN probes p WHERE v.vec_id <> p.src) s"""
    return _topk_sql(name, scored, "cos_sim", k)


def _recall_sql(approx: list[tuple[str, str, str]]) -> str:
    """The recall@k SELECT over CTE exact(src, dst), one
    ``(hit, recall, cte)`` per approximate side — the twin of
    :func:`_recall_at_k`."""
    got = "COALESCE(MAX(h{}.n), 0)"
    cols = [
        f"CAST({got.format(i)} AS BIGINT) AS {hit}"
        for i, (hit, _, _) in enumerate(approx)
    ] + [
        f"CAST({got.format(i)} AS DOUBLE)\n         / CAST(COUNT(*) AS DOUBLE)"
        f" AS {recall}"
        for i, (_, recall, _) in enumerate(approx)
    ]
    joins = "".join(
        f"\nLEFT JOIN (\n  SELECT src, COUNT(*) AS n"
        f" FROM exact JOIN {cte} USING (src, dst)\n  GROUP BY src) h{i}"
        f" ON h{i}.src = e.src"
        for i, (_, _, cte) in enumerate(approx)
    )
    sel = ",\n       ".join(cols)
    return f"""
SELECT e.src, CAST(COUNT(*) AS BIGINT) AS n_exact,
       {sel}
FROM exact e{joins}
GROUP BY e.src ORDER BY e.src
"""


def q_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of every embedding vs the query vector (vec_id=0) — the exact
    brute-force baseline, all rows returned."""
    em = load(spark, sf_dir, "embeddings")
    return S.cosine_vs_query(em)


ORACLE_COSINE_SCORES = _COS_CTE.format(qid=QUERY_ID) + """
SELECT vec_id, cos_sim FROM scored
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbors of the query vector, ordered on the rounded
    score with vec_id tie-break (engine-independent cutoff)."""
    em = load(spark, sf_dir, "embeddings")
    return S.topk_vs_query(em, k=TOP_K)


ORACLE_ANN_TOPK = _COS_CTE.format(qid=QUERY_ID) + f"""
SELECT vec_id, cos_sim FROM scored
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components: posexplode + grouped decimal mean —
    the distributed embedding-aggregation shape (shuffles on (label,
    pos), perfectly uniform)."""
    from pyspark.sql import functions as F

    from ..catalog import load as _load

    em = _load(spark, sf_dir, "embeddings")
    flat = em.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    dec = F.sum(
        F.col("val").cast("double").cast("decimal(28,6)")
    ).cast("double")
    return (
        flat.filter(F.col("pos") < 8)
        .groupBy("label", "pos")
        .agg((dec / F.count("val")).alias("centroid"))
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            sround(F.col("centroid"), 6).alias("centroid"),
        )
    )


ORACLE_LABEL_CENTROIDS = """
SELECT label, pos,
       round((CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(28,6)))
                  AS DOUBLE) / COUNT(val)) * 1000000.0) / 1000000.0 + 0.0
         AS centroid
FROM (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding) AS val
  FROM embeddings) t
WHERE pos < 8
GROUP BY label, pos
"""


N_CENTROIDS = 16
NPROBE = 4


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k — the scale path itself, oracle-checked:
    deterministic lowest-id centroids, stable-rounded argmax assignment,
    nprobe=4 of 16 lists probed, exact re-score within candidates."""
    em = load(spark, sf_dir, "embeddings")
    return S.ivf_topk_vs_query(
        em, k=TOP_K, n_centroids=N_CENTROIDS, nprobe=NPROBE
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k vs the query vector — the
    bucket-probe ANN scale path itself, oracle-checked (deterministic
    seeded planes shared with q_dedup_embedding)."""
    from ..operators.similarity import lsh_topk_vs_query
    from .dedup import PLANES

    em = load(spark, sf_dir, "embeddings")
    return lsh_topk_vs_query(em, PLANES, k=TOP_K)


def _oracle_ann_lsh() -> str:
    from .dedup import PLANES

    return f"""
WITH {VECTORS}, {lsh_buckets(PLANES, len(PLANES[0]))}, qb AS (
  SELECT bucket FROM buckets WHERE vec_id = {QUERY_ID}
), cand AS (
  SELECT DISTINCT b.vec_id FROM buckets b JOIN qb ON b.bucket = qb.bucket
), q AS (
  SELECT e AS qe FROM v WHERE vec_id = {QUERY_ID}
)
SELECT v.vec_id, {cosine("v.e", "qe", 3)} AS cos_sim
FROM v JOIN cand USING (vec_id), q
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
"""


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH approximate top-k vs the query vector: probes the
    query bucket plus all Hamming-distance-1 buckets per table (Lv et
    al. 2007, public) — candidate recall ≥ q_ann_lsh's by construction
    (its probe set is a superset) at identical index cost. Same seeded
    planes as the single-probe path so the two are directly comparable."""
    from ..operators.similarity import multiprobe_topk_vs_query
    from .dedup import PLANES

    em = load(spark, sf_dir, "embeddings")
    return multiprobe_topk_vs_query(em, PLANES, k=TOP_K)


def _oracle_ann_multiprobe() -> str:
    from .dedup import PLANES

    n_planes = len(PLANES[0])
    return f"""
WITH {VECTORS}, {lsh_buckets(PLANES, n_planes)}, qb AS (
  SELECT bucket FROM buckets WHERE vec_id = {QUERY_ID}
), probes AS (
  SELECT DISTINCT
    CASE WHEN j = 0 THEN bucket
         ELSE string_split(bucket, ':')[1] || ':'
              || substr(string_split(bucket, ':')[2], 1, j - 1)
              || (CASE WHEN substr(string_split(bucket, ':')[2], j, 1)
                            = '1' THEN '0' ELSE '1' END)
              || substr(string_split(bucket, ':')[2], j + 1)
    END AS bucket
  FROM qb CROSS JOIN (SELECT unnest(range(0, {n_planes + 1})) AS j) r
), cand AS (
  SELECT DISTINCT b.vec_id FROM buckets b JOIN probes USING (bucket)
), q AS (
  SELECT e AS qe FROM v WHERE vec_id = {QUERY_ID}
)
SELECT v.vec_id, {cosine("v.e", "qe", 3)} AS cos_sim
FROM v JOIN cand USING (vec_id), q
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
"""


KNN_K = 3


def _knn_planes_for(em: DataFrame) -> list[list[list[float]]]:
    """Auto-scaled plane set for the k-NN graph family: one count() job
    picks planes-per-table via the integer log2 rule in plans/dedup
    (knn_n_planes) — the plan adapts to corpus size instead of carrying
    a hand-dialed bucket count to 100×. Each build counts its own
    input: no count is kept across builds."""
    from .dedup import knn_planes

    return knn_planes(em.count())


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the embedding table (top-3 neighbors
    per vector among LSH bucket-mates) — see operators/similarity.
    knn_graph. The build step every graph-ANN index runs. 8 tables,
    planes-per-table auto-scaled from the corpus row count
    (plans/dedup.knn_n_planes: P ≈ log2(N / 64), clamped to [4, 12]) —
    the all-pairs graph build must keep bucket SIZE bounded (candidates
    ~ sum(bucket²) per table, so fixed planes go quadratic as N grows),
    unlike the per-query serving probe which keeps the coarser
    PLANES."""
    from ..operators.similarity import knn_graph

    em = load(spark, sf_dir, "embeddings")
    planes = _knn_planes_for(em)
    return knn_graph(em, planes, k=KNN_K).orderBy("src", "rank")


def _knn_ctes() -> str:
    """CTEs knn_np .. scored(src, dst, cos_sim): every directed pair of
    LSH bucket-mates and its 3-place unit-vector cosine — the candidates
    and scores of operators.similarity.knn_graph. Buckets mirror the
    auto-scaled plane rule: all 12 family planes' sign bits are
    concatenated, then substr() keeps the first P where P comes from the
    knn_nplanes_sql row-count twin — the same prefix slice the Spark
    side takes."""
    from .dedup import KNN_PLANES_FULL, knn_nplanes_sql

    return f"""knn_np AS (
  {knn_nplanes_sql("embeddings")}
), {_UNIT_VECTORS}, {lsh_buckets(KNN_PLANES_FULL, AUTO_PLANES)}, cand AS (
  SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
  FROM buckets x JOIN buckets y
    ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
), scored AS (
  SELECT src, dst, {sround_sql(dot("a.u", "b.u"), 3)} AS cos_sim
  FROM cand JOIN vu a ON a.vec_id = src JOIN vu b ON b.vec_id = dst
)"""


def _ranked_sql(rel: str, k: int, cols: str) -> str:
    """A ranked CTE over relation ``rel``(src, dst, cos_sim, ...) — the
    row_number per src (cos_sim desc, dst) — and the SELECT of ``cols``
    with rank <= ``k``: the twin of operators.similarity._rank_unit."""
    return f""", ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY src
              ORDER BY cos_sim DESC, dst) AS BIGINT) AS rank
  FROM {rel})
SELECT {cols} FROM ranked WHERE rank <= {k}
"""


def _knn_graph_sql_body() -> str:
    """The k-NN-graph oracle without its ORDER BY: the knn relation of
    the q_label_noise and q_ann_recall oracles and of q_kcore and
    q_link_predict (plans/sketches)."""
    return f"WITH {_knn_ctes()}" + _ranked_sql(
        "scored", KNN_K, "src, dst, cos_sim, rank"
    )


def _oracle_knn_graph() -> str:
    return _knn_graph_sql_body() + "ORDER BY src, rank"


HN_K = 5


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@3 of the LSH k-NN graph against
    exact brute-force top-3 for a 5-vector probe set — the measurement
    that decides whether the bucket configuration is good enough to
    serve. Exact side: :func:`_exact_topk`; approx side: the same
    knn_graph plan restricted to the probes. Recall is an exact integer
    ratio."""
    probe_ids = list(range(5))
    em = load(spark, sf_dir, "embeddings")
    exact = _exact_topk(em, F.col("vec_id").isin(probe_ids), KNN_K)
    approx = S.knn_graph(em, _knn_planes_for(em), k=KNN_K).filter(
        F.col("src").isin(probe_ids)
    )
    return _recall_at_k(exact, [("n_hit", "recall", approx)])


def _oracle_ann_recall() -> str:
    return f"""
WITH {VECTORS}, probes AS (
  SELECT vec_id AS src, e AS qe FROM v WHERE vec_id < 5
), {_exact_topk_sql("exact", KNN_K)}, approx AS (
  SELECT src, dst FROM ({_knn_graph_sql_body()}) g WHERE src < 5
)""" + _recall_sql([("n_hit", "recall", "approx")])


def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen by k-NN vote (the confident-learning move,
    Northcutt et al. JAIR'21, reduced to its neighborhood form): each
    labelled vector is compared against the majority label of its
    k-NN-graph neighbors (the same LSH-bucketed graph as q_knn_graph);
    a disagreement flags the row as a suspected mislabel — the
    data-centric curation pass that catches annotation errors before
    they reach training. Majority ties break by (count desc, label
    asc), deterministic on both engines; unlabeled rows and neighbors
    drop out identically.

    Scale shape: the vote adds one groupBy on (src, neighbor-label)
    and a per-src top-1 window to the existing graph build — nothing
    beyond the k·N edge frame is ever materialized."""
    from pyspark.sql import Window

    from ..operators.similarity import knn_graph

    em = load(spark, sf_dir, "embeddings")
    lab = em.filter(
        F.col("vec_id").isNotNull() & F.col("label").isNotNull()
    ).select("vec_id", F.col("label").cast("int").alias("label"))
    g = knn_graph(em, _knn_planes_for(em), k=KNN_K).select("src", "dst")
    votes = (
        g.join(
            lab.select(
                F.col("vec_id").alias("dst"),
                F.col("label").alias("nb_label"),
            ),
            "dst",
        )
        .groupBy("src", "nb_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("src").orderBy(F.col("n").desc(), "nb_label")
    top = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("src", "nb_label", "n")
    )
    return (
        top.join(lab.select(F.col("vec_id").alias("src"), "label"), "src")
        .select(
            F.col("src").alias("vec_id"),
            "label",
            F.col("nb_label").alias("vote_label"),
            F.col("n").cast("bigint").alias("n_vote"),
            F.when(F.col("label") != F.col("nb_label"), 1)
            .otherwise(0)
            .alias("flagged"),
        )
        .orderBy("vec_id")
    )


def _oracle_label_noise() -> str:
    return f"""
WITH knn AS MATERIALIZED ({_knn_graph_sql_body()}),
{_LABELS}, votes AS (
  SELECT knn.src, lab.label AS nb_label, COUNT(*) AS n
  FROM knn JOIN lab ON lab.vec_id = knn.dst
  GROUP BY knn.src, lab.label
), top AS (
  SELECT src, nb_label, n FROM (
    SELECT src, nb_label, n,
           row_number() OVER (PARTITION BY src
             ORDER BY n DESC, nb_label) AS rk
    FROM votes) t WHERE rk = 1
)
SELECT top.src AS vec_id, lab.label, top.nb_label AS vote_label,
       CAST(top.n AS BIGINT) AS n_vote,
       CASE WHEN lab.label <> top.nb_label THEN 1 ELSE 0 END AS flagged
FROM top JOIN lab ON lab.vec_id = top.src
ORDER BY vec_id
"""



def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — for every labelled anchor, the top-HN_K
    highest-cosine bucket-mates with a DIFFERENT label, the triplet/
    contrastive-loss pairs a metric-learning pipeline mines at corpus
    scale. Reuses the auto-scaled k-NN LSH candidate generation
    (operators/similarity.hard_negatives); the label filter runs
    BEFORE the per-anchor rank so negatives beyond rank k among
    same-label neighbors are not lost. One bucket equi-join + two
    label hash joins + a per-anchor window — no all-pairs."""
    from ..operators.similarity import hard_negatives

    em = load(spark, sf_dir, "embeddings")
    lab = em.filter(
        F.col("vec_id").isNotNull() & F.col("label").isNotNull()
    ).select(
        F.col("vec_id").alias("id"), F.col("label").cast("int").alias("label")
    )
    return hard_negatives(
        em, _knn_planes_for(em), lab, k=HN_K
    ).orderBy("src", "rank")


def _oracle_hard_negatives() -> str:
    """The k-NN candidates and scores, kept to DIFFERENT-label pairs
    before the per-anchor rank, so the rank runs over negatives only."""
    return f"""WITH {_knn_ctes()}, {_LABELS}, neg AS (
  SELECT s.src, la.label AS src_label, s.dst,
         lb.label AS dst_label, s.cos_sim
  FROM scored s
  JOIN lab la ON la.vec_id = s.src
  JOIN lab lb ON lb.vec_id = s.dst
  WHERE la.label <> lb.label
)""" + _ranked_sql(
        "neg", HN_K, "src, src_label, dst, dst_label, cos_sim, rank"
    ) + "ORDER BY src, rank"

CORESET_K = 8


def q_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal, the
    2-approximation of Gonzalez'85 — the standard data-pruning /
    active-learning seed selector): seed with the min vec_id, then K-1
    times pick the point FARTHEST (rounded cosine distance, id
    tie-break) from the selected set, maintaining each point's
    min-distance-to-centers incrementally. Returns (step, vec_id,
    radius): radius is the chosen point's distance when selected — the
    coverage bound that tells you how well K centers summarize the
    corpus (radius_K is the k-center objective).

    Scale shape: each round is one broadcast of a SINGLE center row
    against the min-distance frame (a map-side LEAST, no shuffle) plus
    a TakeOrdered(1) argmax; the frame is checkpointed per round so
    round i never re-derives rounds 1..i-1 (the naive lazy-plan
    formulation re-evaluates exponentially — same lesson as the
    oracle's MATERIALIZED hints)."""
    em = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    # the seed is the minimum vec_id, and Spark sorts a NULL id first
    un = S._unit_vectors(em).localCheckpoint(eager=True)
    udot = S._dot(F.col("u"), F.col("cu"))
    seed = un.orderBy("vec_id").limit(1)
    picked = [
        seed.select(
            F.lit(1).alias("step"), "vec_id", F.lit(0.0).alias("radius")
        )
    ]
    center = seed.select(F.col("u").alias("cu"))
    mind = (
        un.crossJoin(F.broadcast(center))
        .select("vec_id", "u", sround(1.0 - udot, 4).alias("d"))
        .localCheckpoint(eager=True)
    )
    for step in range(2, CORESET_K + 1):
        far = mind.orderBy(F.col("d").desc(), "vec_id").limit(1)
        picked.append(
            far.select(
                F.lit(step).alias("step"),
                "vec_id",
                F.col("d").alias("radius"),
            )
        )
        if step == CORESET_K:
            break
        center = far.select(F.col("u").alias("cu"))
        mind = (
            mind.crossJoin(F.broadcast(center))
            .select(
                "vec_id",
                "u",
                F.least(F.col("d"), sround(1.0 - udot, 4)).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.orderBy("step")


def _oracle_coreset() -> str:
    d = sround_sql(f"1.0 - {dot('x.u', 'c.u')}", 4)
    parts = [f"""
WITH {_UNIT_VECTORS}, s1 AS MATERIALIZED (
  SELECT vec_id, u FROM vu ORDER BY vec_id LIMIT 1
), d1 AS MATERIALIZED (
  SELECT x.vec_id, x.u, {d} AS d
  FROM vu x CROSS JOIN s1 c
)"""]
    for step in range(2, CORESET_K + 1):
        prev = step - 1
        parts.append(f""", s{step} AS MATERIALIZED (
  SELECT vec_id, u, d FROM d{prev} ORDER BY d DESC, vec_id LIMIT 1
)""")
        if step == CORESET_K:
            break
        parts.append(f""", d{step} AS MATERIALIZED (
  SELECT x.vec_id, x.u, LEAST(x.d, {d}) AS d
  FROM d{prev} x CROSS JOIN s{step} c
)""")
    sels = [
        "SELECT 1 AS step, vec_id, 0.0 AS radius FROM s1"
    ] + [
        f"SELECT {i} AS step, vec_id, d AS radius FROM s{i}"
        for i in range(2, CORESET_K + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(sels) + "\nORDER BY step")
    return "".join(parts)


MRL_PROBES = 8
MRL_K = 5


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension truncation quality (the Matryoshka/MRL
    question, Kusupati et al. NeurIPS'22): recall@5 of top-k computed
    from only the first 32 / 16 of the 64 embedding dims against
    full-dim exact top-k, over an 8-probe set. The measurement that
    decides whether you can serve (or near-dup) on truncated vectors —
    2-4x less ANN memory and bandwidth — before committing the index.
    Same exact-vs-variant recall-gate shape as q_ann_recall /
    q_ann_pq_recall; both sides are deterministic brute force on the
    broadcast probe set (the yardstick, not the scale path), rounded
    before ranking with id tie-breaks."""
    em = load(spark, sf_dir, "embeddings")
    probe = F.col("vec_id") < MRL_PROBES
    exact = _exact_topk(em, probe, MRL_K)
    return _recall_at_k(exact, [
        ("hit_dim32", "recall_dim32", _exact_topk(em, probe, MRL_K, 32)),
        ("hit_dim16", "recall_dim16", _exact_topk(em, probe, MRL_K, 16)),
    ])


def _oracle_matryoshka_recall() -> str:
    return f"""
WITH {VECTORS}, probes AS (
  SELECT vec_id AS src, e AS qe FROM v WHERE vec_id < {MRL_PROBES}
), {_exact_topk_sql("exact", MRL_K)}, {_exact_topk_sql("t32", MRL_K, 32)},
{_exact_topk_sql("t16", MRL_K, 16)}""" + _recall_sql([
        ("hit_dim32", "recall_dim32", "t32"),
        ("hit_dim16", "recall_dim16", "t16"),
    ])


HYBRID_KEYWORD = "small"


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG serving query: keyword prefilter on the
    documents table (token membership, pushed into the scan side),
    then cosine re-rank of ONLY the survivors against the query vector
    (embeddings join on the shared id), top-10. At scale the lexical
    stage prunes the candidate set before any vector math runs, and the
    final top-k is TakeOrderedAndProject — no global sort."""
    d = load(spark, sf_dir, "documents")
    em = load(spark, sf_dir, "embeddings")
    hits = d.filter(
        F.array_contains(
            F.split(F.lower("text"), " "), HYBRID_KEYWORD
        )
    ).select("doc_id")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = em.select("vec_id", e.alias("e"))
    q = v.filter(F.col("vec_id") == QUERY_ID).select(
        F.col("e").alias("qe")
    )
    cos = S._cosine(F.col("e"), F.col("qe"))
    return (
        hits.join(v, hits.doc_id == v.vec_id)
        .crossJoin(F.broadcast(q))
        .select("doc_id", sround(cos, 3).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(10)
    )


def _oracle_hybrid_search() -> str:
    return f"""
WITH hits AS (
  SELECT doc_id FROM documents
  WHERE list_contains(string_split(lower(text), ' '),
                      '{HYBRID_KEYWORD}')
), {VECTORS}, q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_ID})
SELECT doc_id, {cosine("e", "qe", 3)} AS cos_sim
FROM hits JOIN v ON vec_id = doc_id CROSS JOIN q
ORDER BY cos_sim DESC, doc_id LIMIT 10
"""



def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded KMeans cluster assignment after 2 iterations — the
    iterative distributed-algorithm pattern (broadcast centroids +
    (cid, pos) mean shuffle per round), differentially tested against a
    DuckDB replay of the identical iteration."""
    from ..operators.similarity import kmeans_assignments

    em = load(spark, sf_dir, "embeddings")
    return kmeans_assignments(em)


def _kmeans_assign_cte(name: str, cents: str, src: str = "v") -> str:
    """CTE ``name``(vec_id, cid): each vector of ``src`` assigned to its
    nearest centroid of ``cents`` on the 6-place cosine, cid tie-break
    — operators.similarity._nearest."""
    return f"""{name} AS (
  SELECT vec_id, cid FROM (
    SELECT {src}.vec_id, c.cid,
           row_number() OVER (PARTITION BY {src}.vec_id
             ORDER BY {cosine(f"{src}.e", "c.ce", 6)} DESC, c.cid) AS rn
    FROM {src}, {cents} c) t WHERE rn = 1
)"""


def _kmeans_recompute_cte(name: str, assign: str, src: str = "v") -> str:
    return f"""{name} AS (
  SELECT cid, list(m ORDER BY pos) AS ce FROM (
    SELECT cid, pos,
           CAST(SUM(CAST(val AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS m
    FROM (
      SELECT a.cid, generate_subscripts({src}.e, 1) AS pos,
             unnest({src}.e) AS val
      FROM {assign} a JOIN {src} USING (vec_id)) u
    GROUP BY cid, pos) s
  GROUP BY cid
)"""


def _kmeans_ctes(
    k: int, iters: int, src: str | None = None, prefix: str = ""
) -> tuple[list[str], str]:
    """The shared kmeans iteration replay: returns (CTE list, name of the
    final-centroid CTE). cents_0 = lowest-id k; assign_t = argmax
    rounded-cosine (cid tie-break); cents_t = per-dimension decimal mean
    in pos order. ``src``/``prefix`` let callers replay kmeans over a
    custom vector CTE (e.g. a PQ subspace slice) without name clashes;
    the defaults keep the original whole-embedding shape."""
    ctes = []
    if src is None:
        src = "v"
        # NULL-id / NULL-vector rows are excluded, mirroring the
        # operator-side dirty-row guard in kmeans_centroids (no-op on
        # clean data; pinned by the --nulls sweep)
        ctes.append(INDEXED_VECTORS)
    ctes.append(
        f"{prefix}c0 AS (SELECT vec_id AS cid, e AS ce FROM {src}"
        f" ORDER BY vec_id LIMIT {k})"
    )
    prev = f"{prefix}c0"
    for t in range(1, iters + 1):
        ctes.append(_kmeans_assign_cte(f"{prefix}a{t}", prev, src))
        ctes.append(_kmeans_recompute_cte(f"{prefix}c{t}", f"{prefix}a{t}", src))
        prev = f"{prefix}c{t}"
    return ctes, prev


def _kmeans_assigned() -> str:
    """CTEs v .. km(vec_id, cid): the KMEANS_K / KMEANS_ITERS replay
    and every vector's assignment to the final centroids — the
    arithmetic of kmeans_assignments, as chained CTEs."""
    ctes, cents = _kmeans_ctes(KMEANS_K, KMEANS_ITERS)
    ctes.append(_kmeans_assign_cte("km", cents))
    return ",\n".join(ctes)


def _cluster_pairs_ctes() -> str:
    """:func:`_kmeans_assigned` plus scored(id_a, id_b, cos_sim): every
    cluster-mate pair id_a < id_b and its 4-place cosine —
    operators.similarity._cluster_pairs before its threshold."""
    return f"""{_kmeans_assigned()}, scored AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         {cosine("a.e", "b.e", 4)} AS cos_sim
  FROM km x JOIN km y ON x.cid = y.cid AND x.vec_id < y.vec_id
  JOIN v a ON a.vec_id = x.vec_id JOIN v b ON b.vec_id = y.vec_id
)"""


def _oracle_kmeans() -> str:
    return f"WITH {_kmeans_assigned()}\nSELECT vec_id, cid FROM km"



NPROBE_KM = 2


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a TRAINED coarse quantizer: the seeded
    KMeans centroids (k=8, 2 iterations — the same oracle-replayed
    arithmetic as q_kmeans) feed ivf_topk_vs_query as the partitioner;
    nprobe=2 of 8 lists probed, exact re-score within candidates. The
    production IVF shape: train once (centroids stay driver-small,
    broadcast everywhere), assign + probe at scale — one broadcast
    cross-join argmax for assignment, candidate fetch is an equi-join
    on centroid_id."""
    from ..operators.similarity import kmeans_centroids

    em = load(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(em).select(
        F.col("cid").alias("centroid_id"),
        F.col("cvec").alias("centroid_vec"),
    )
    return S.ivf_topk_vs_query(
        em, k=TOP_K, nprobe=NPROBE_KM, centroids=cents
    )


def _oracle_ivf(k: int, iters: int, nprobe: int) -> str:
    """IVF replay over the k-means centroids of :func:`_kmeans_ctes`
    (zero iterations: the k lowest-id vectors): each vector's nearest
    centroid, the ``nprobe`` centroid lists nearest the query, and the
    exact top-k within them — operators.similarity.ivf_topk_vs_query."""
    ctes, cents = _kmeans_ctes(k, iters)
    ctes.append(_kmeans_assign_cte("assign", cents))
    joined = ",\n".join(ctes)
    return f"""WITH {joined},
q AS (
  SELECT e AS qe FROM v WHERE vec_id = {QUERY_ID}
), probe AS (
  SELECT cid FROM {cents}, q
  ORDER BY {cosine("ce", "qe", 6)} DESC, cid LIMIT {nprobe}
)
SELECT v.vec_id, {cosine("v.e", "qe", 3)} AS cos_sim
FROM v JOIN assign USING (vec_id) JOIN probe USING (cid), q
ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
"""


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall gate for the bucket-probe serving path: recall@20 of
    the hyperplane-LSH candidate top-k against exact brute-force top-k
    for the 5-vector probe set — mirrors q_ann_recall but measures the
    bucket-probe serving shape itself (lsh_topk_batch, the q_ann_lsh
    buckets: any-table bucket collision → candidate re-score → top-k)
    rather than the k-NN graph. Self-matches are excluded on both sides
    so recall reflects neighbors, not the trivial self-hit."""
    from .dedup import PLANES

    probe_ids = list(range(5))
    em = load(spark, sf_dir, "embeddings")
    exact = _exact_topk(em, F.col("vec_id").isin(probe_ids), TOP_K)
    approx = S.lsh_topk_batch(em, PLANES, probe_ids, k=TOP_K).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return _recall_at_k(exact, [("n_hit", "recall", approx)])


def _lsh_batch_ctes(probe: str) -> str:
    """CTEs v .. scored(src, dst, cos_sim): every bucket-mate of each
    probe vector (the rows where predicate ``probe`` holds) over the
    PLANES buckets, with its 3-place cosine — lsh_topk_batch before its
    per-query rank."""
    from .dedup import PLANES

    return f"""{VECTORS}, {lsh_buckets(PLANES, len(PLANES[0]))}, qb AS (
  SELECT vec_id AS src, bucket FROM buckets WHERE {probe}
), cand AS (
  SELECT DISTINCT qb.src, b.vec_id AS dst
  FROM buckets b JOIN qb ON b.bucket = qb.bucket AND b.vec_id <> qb.src
), scored AS (
  SELECT cand.src, cand.dst, {cosine("dv.e", "qv.e", 3)} AS cos_sim
  FROM cand
  JOIN v dv ON dv.vec_id = cand.dst
  JOIN v qv ON qv.vec_id = cand.src
)"""


def _oracle_ann_lsh_recall() -> str:
    return f"""
WITH {_lsh_batch_ctes("vec_id < 5")}, probes AS (
  SELECT vec_id AS src, e AS qe FROM v WHERE vec_id < 5
), {_topk_sql("approx", "scored", "cos_sim", TOP_K)},
{_exact_topk_sql("exact", TOP_K)}""" + _recall_sql(
        [("n_hit", "recall", "approx")]
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup (public method: Abbas et al.
    2023): candidate pairs come from seeded-KMeans CLUSTER buckets (the
    same oracle-replayed k=8 / 2-iteration arithmetic as q_kmeans)
    instead of random hyperplanes — clusters track the data's own
    density, so near-dups co-cluster and per-cluster work is (N/k)²
    (raise k with N at scale). Exact rounded re-score inside clusters,
    threshold shared with the LSH path (q_dedup_embedding)."""
    from ..operators.similarity import cluster_bucketed_neardup_pairs

    em = load(spark, sf_dir, "embeddings")
    return cluster_bucketed_neardup_pairs(em)


def _oracle_dedup_semantic() -> str:
    return f"""WITH {_cluster_pairs_ctes()}
SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= {EMB_THRESHOLD}
"""


def q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: per-label L2-norm statistics (count, mean, min,
    max) — the sanity scan before any cosine math (zero or exploding
    norms break normalization downstream). sqrt is IEEE-correctly-
    rounded, so norms are bit-identical across engines; the mean goes
    through the decimal-sum discipline. One narrow shuffle on label."""
    em = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x)
    )
    return (
        em.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (
                F.sum(F.col("norm").cast(DEC)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("label")
    )


ORACLE_EMBED_NORM_STATS = """
WITH v AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
  FROM embeddings)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(norm AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_norm,
       MIN(norm) AS min_norm, MAX(norm) AS max_norm
FROM v GROUP BY label ORDER BY label
"""


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    scale = max|x| / 127) — the 4x storage/bandwidth cut an ANN index
    takes before sharding. Pure higher-order functions; round() at
    integer precision is portable (no decimal-scale multiply), so the
    DuckDB twin reproduces every quantized value."""
    em = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.greatest(
        F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-12)
    )
    scale = (mx / F.lit(127.0)).alias("scale")
    q = F.transform(e, lambda x: F.round(x / (mx / 127.0)).cast("int"))
    # The quantized vector is emitted as an md5 over its csv rendering
    # (scalar columns only: the differential harness canonicalizes rows
    # via pandas sort, which cannot factorize array cells).
    return em.select(
        "vec_id",
        scale,
        F.md5(
            F.array_join(F.transform(q, lambda x: x.cast("string")), ",")
        ).alias("q8_digest"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("q8_sum"),
    )


ORACLE_EMBED_QUANTIZE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), s AS (
  SELECT vec_id, e,
         greatest(list_max(list_transform(e, x -> abs(x))), 1e-12)
           AS mx
  FROM v
)
SELECT vec_id,
       mx / 127.0 AS scale,
       md5(array_to_string(
             list_transform(
               e, x -> CAST(CAST(round(x / (mx / 127.0)) AS INT) AS VARCHAR)),
             ',')) AS q8_digest,
       CAST(list_sum(list_transform(
              e, x -> CAST(round(x / (mx / 127.0)) AS BIGINT)))
            AS BIGINT) AS q8_sum
FROM s
"""



SQ_K = 3
SQ_PROBES = 5


def q_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization RETRIEVAL gate: recall@3 of brute-force
    search over unit-normalized int8-quantized vectors
    (q = round(127·x/‖x‖), so the integer dot q_a·q_b IS the quantized
    cosine ×127² — ranking is pure int64 arithmetic, no float in the
    ordering) against exact float cosine top-3 for a 5-probe set. The
    measurement that decides whether the 4× memory/bandwidth cut of
    q_embed_quantize is safe to SERVE from, not just to store —
    separating the compression (already oracled) from its retrieval
    cost. Mirrors q_ann_recall's shape: probes broadcast against the
    table (5·N scores, linear); quantized ties break by vec_id.
    Quantization is reproducible cross-engine because /, sqrt, ×, and
    round are correctly-rounded IEEE doubles on both."""
    probe_ids = list(range(SQ_PROBES))
    em = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = (
        em.filter(
            F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        )
        .select("vec_id", e.alias("e"), S._norm(e).alias("nrm"))
        .filter(F.col("nrm") > 0)
        .select(
            "vec_id",
            "e",
            F.transform(
                "e",
                lambda x: F.round(
                    x * F.lit(127.0) / F.col("nrm")
                ).cast("long"),
            ).alias("q8"),
        )
    )
    probes = v.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("src"),
        F.col("e").alias("qe"),
        F.col("q8").alias("qq"),
    )
    idot = F.aggregate(
        F.zip_with("q8", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        v.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("src"))
        .select(
            "src",
            "vec_id",
            sround(S._cosine(F.col("e"), F.col("qe")), 3).alias("cos_f"),
            idot.alias("dot_q"),
        )
    )
    return _recall_at_k(_topk_per_src(scored, "cos_f", SQ_K), [
        ("n_hit", "recall", _topk_per_src(scored, "dot_q", SQ_K)),
    ])


ORACLE_SQ_RECALL = f"""
WITH {INDEXED_VECTORS}, sq AS (
  SELECT vec_id, e,
         list_transform(e, x -> CAST(round(x * 127.0 / {norm("e")})
                                     AS BIGINT)) AS q8
  FROM v WHERE {norm("e")} > 0
), probes AS (
  SELECT vec_id AS src, e AS qe, q8 AS qq FROM sq
  WHERE vec_id < {SQ_PROBES}
), scored AS (
  SELECT probes.src, sq.vec_id AS dst, {cosine("e", "qe", 3)} AS cos_f,
         CAST({dot("q8", "qq")} AS BIGINT) AS dot_q
  FROM sq CROSS JOIN probes WHERE sq.vec_id <> probes.src
), {_topk_sql("exact", "scored", "cos_f", SQ_K)},
{_topk_sql("quant", "scored", "dot_q", SQ_K)}""" + _recall_sql(
    [("n_hit", "recall", "quant")]
)


def q_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit sign) quantization RETRIEVAL gate: recall@3 of
    brute-force search ranked by matching-sign-bit count (64× memory
    cut — the 'binary embeddings' serving trick, one step past
    q_sq_recall's int8) against exact float cosine top-3 for the same
    5-probe set. bit_i = [x_i >= 0]; similarity = popcount(XNOR) =
    #matching bits — pure integer ranking, ties by vec_id, so the
    ordering is engine-exact. Same broadcast-probe shape as
    q_sq_recall (5·N scores, linear in the corpus); at 100 TB the
    sign bits pack 64 dims/word and the scan is bandwidth-bound, which
    is the point of the technique."""
    probe_ids = list(range(SQ_PROBES))
    em = load(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = (
        em.filter(
            F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        )
        .select("vec_id", e.alias("e"))
        .select(
            "vec_id",
            "e",
            F.transform(
                "e",
                lambda x: F.when(x >= 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long"),
            ).alias("b"),
        )
    )
    probes = v.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("src"),
        F.col("e").alias("qe"),
        F.col("b").alias("qb"),
    )
    matches = F.aggregate(
        F.zip_with(
            "b", "qb",
            lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        v.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("src"))
        .select(
            "src",
            "vec_id",
            sround(S._cosine(F.col("e"), F.col("qe")), 3).alias("cos_f"),
            matches.alias("n_match"),
        )
    )
    return _recall_at_k(_topk_per_src(scored, "cos_f", SQ_K), [
        ("n_hit", "recall", _topk_per_src(scored, "n_match", SQ_K)),
    ])


ORACLE_BQ_RECALL = f"""
WITH {INDEXED_VECTORS}, bq AS (
  SELECT vec_id, e,
         list_transform(e, x -> CASE WHEN x >= 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS b
  FROM v
), probes AS (
  SELECT vec_id AS src, e AS qe, b AS qb FROM bq
  WHERE vec_id < {SQ_PROBES}
), scored AS (
  SELECT probes.src, bq.vec_id AS dst, {cosine("e", "qe", 3)} AS cos_f,
         CAST(list_sum(list_transform(range(1, len(b) + 1),
                 i -> CASE WHEN b[i] = qb[i] THEN 1 ELSE 0 END))
              AS BIGINT) AS n_match
  FROM bq CROSS JOIN probes WHERE bq.vec_id <> probes.src
), {_topk_sql("exact", "scored", "cos_f", SQ_K)},
{_topk_sql("binq", "scored", "n_match", SQ_K)}""" + _recall_sql(
    [("n_hit", "recall", "binq")]
)


EMB_DIM_ROUND = 6


def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding profile (mean / variance / min / max /
    zero fraction) — the QA pass that catches dead dims, dimension
    drift, and un-normalized ingest before they silently corrupt LSH
    (the scale_smoke postmortem: a truncated-dim replica funneled
    everything into mega-buckets). One posexplode + one groupBy(dim):
    map-side combinable, shuffle width = n_dims regardless of corpus
    size. Sums go through the decimal discipline so the variance is
    order-independent."""
    em = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    d = em.select(
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "x")
    )
    n = F.count(F.lit(1)).cast("bigint")
    s1 = F.sum(F.col("x").cast("decimal(28,12)"))
    s2 = F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
    mean = s1.cast("double") / n.cast("double")
    return (
        d.groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            n.alias("n"),
            sround(mean, EMB_DIM_ROUND).alias("mean"),
            sround(
                s2.cast("double") / n.cast("double") - mean * mean,
                EMB_DIM_ROUND,
            ).alias("variance"),
            sround(F.min("x"), EMB_DIM_ROUND).alias("min_x"),
            sround(F.max("x"), EMB_DIM_ROUND).alias("max_x"),
            (
                F.sum(F.when(F.col("x") == 0.0, 1).otherwise(0))
                .cast("double")
                / n.cast("double")
            ).alias("zero_frac"),
        )
        .orderBy("dim")
    )


ORACLE_EMBED_DIM_STATS = f"""
WITH d AS (
  SELECT CAST(u.i - 1 AS BIGINT) AS dim, CAST(u.x AS DOUBLE) AS x
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) u
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       {{m}} AS mean,
       {{v}} AS variance,
       round(MIN(x) * 1e{EMB_DIM_ROUND}) / 1e{EMB_DIM_ROUND} + 0.0
         AS min_x,
       round(MAX(x) * 1e{EMB_DIM_ROUND}) / 1e{EMB_DIM_ROUND} + 0.0
         AS max_x,
       CAST(SUM(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS zero_frac
FROM d GROUP BY dim ORDER BY dim
""".format(
    m=(
        f"round((CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE)) * 1e{EMB_DIM_ROUND})"
        f" / 1e{EMB_DIM_ROUND} + 0.0"
    ),
    v=(
        f"round((CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE)"
        f" - (CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)"
        f"    / CAST(COUNT(*) AS DOUBLE))"
        f"   * (CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)"
        f"      / CAST(COUNT(*) AS DOUBLE))) * 1e{EMB_DIM_ROUND})"
        f" / 1e{EMB_DIM_ROUND} + 0.0"
    ),
)


BATCH_QUERY_IDS = [0, 7, 21, 42, 99]
BATCH_K = 5


def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-5 approximate neighbors for five query vectors in
    ONE pass (broadcast query buckets → single candidate equi-join →
    per-query window top-k) — the serving/backfill shape where
    per-query table scans would be ruinous."""
    from ..operators.similarity import lsh_topk_batch
    from .dedup import PLANES

    em = load(spark, sf_dir, "embeddings")
    return lsh_topk_batch(
        em, PLANES, query_ids=BATCH_QUERY_IDS, k=BATCH_K
    )


def _oracle_ann_batch() -> str:
    qids = ", ".join(str(q) for q in BATCH_QUERY_IDS)
    return f"""
WITH {_lsh_batch_ctes(f"vec_id IN ({qids})")}, r AS (
  SELECT src, dst, cos_sim,
         row_number() OVER (PARTITION BY src
                            ORDER BY cos_sim DESC, dst) AS rnk
  FROM scored
)
SELECT CAST(src AS BIGINT) AS query_id,
       CAST(dst AS BIGINT) AS neighbor_id,
       cos_sim, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {BATCH_K}
"""


RP_DIM = 8


def _rp_planes() -> list[list[float]]:
    from .dedup import _make_planes

    return _make_planes(n_tables=1, n_planes=RP_DIM, seed=11)[0]


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    64-dim embedding onto 8 seeded Gaussian directions — the cheap
    front-end that shrinks vectors before clustering / ANN at corpus
    scale (8× less shuffle payload downstream).

    Per-row HOF dot products inside codegen, zero shuffles; both engines
    accumulate the dot left-to-right in float64 and the output is
    rounded, so the differential check covers the whole projection.
    """
    from ..operators.similarity import _dot

    em = load(spark, sf_dir, "embeddings")
    cols = [
        # one array Literal per plane (not CreateArray of 64 lits):
        # bit-identical dot, ~64x smaller expression tree (r12 opt)
        sround(
            _dot(F.col("embedding"), F.lit([float(v) for v in plane])), 6
        ).alias(f"p{j}")
        for j, plane in enumerate(_rp_planes())
    ]
    return em.select("vec_id", *cols)


def _oracle_random_projection() -> str:
    comps = ",\n       ".join(
        f"{sround_sql(dot('e', f'({plane_sql(p)})'), 6)} AS p{j}"
        for j, p in enumerate(_rp_planes())
    )
    return f"""
WITH {VECTORS}
SELECT vec_id,
       {comps}
FROM v
"""


PQ_M = 4
PQ_SUBDIM = 16


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes for every embedding (Jégou et al.
    2011): 4 subspaces × 16 dims, a 4-centroid seeded-kmeans codebook
    per subspace → each 64-float vector compresses to 4 code words (the
    RAM-resident ANN representation at 100 TB). Codebook training and
    assignment reuse the deterministic cosine kmeans of q_kmeans, so the
    oracle replays all 4 subspace iterations exactly; codes are centroid
    ids (seed vector ids), stable across engines."""
    from ..operators.similarity import pq_codes

    em = load(spark, sf_dir, "embeddings")
    out = pq_codes(
        em, m=PQ_M, subdim=PQ_SUBDIM
    )
    return out.select(
        "vec_id",
        *[
            F.col(f"code_{s}").cast("bigint").alias(f"code_{s}")
            for s in range(PQ_M)
        ],
    )


def _pq_ctes() -> tuple[list[str], list[str]]:
    """Shared PQ replay: per subspace a slice CTE, the kmeans chain
    (prefixed names), and a final code assignment. Returns (CTE list,
    final-centroid CTE name per subspace)."""
    ctes, cfins = [], []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        # same dirty-row exclusion as _kmeans_ctes' v (matches pq_codes)
        ctes.append(
            f"v{s} AS (SELECT vec_id,"
            f" list_transform(embedding[{lo}:{hi}],"
            " x -> CAST(x AS DOUBLE)) AS e FROM embeddings"
            " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)"
        )
        sub, cfin = _kmeans_ctes(
            PQ_K, PQ_ITERS, src=f"v{s}", prefix=f"s{s}_"
        )
        ctes += sub
        ctes.append(_kmeans_assign_cte(f"code{s}", cfin, src=f"v{s}"))
        cfins.append(cfin)
    return ctes, cfins


def _oracle_pq_codes() -> str:
    """Per subspace: slice CTE, the shared kmeans replay (prefixed names),
    a final assignment; codes join back on vec_id."""
    ctes, _ = _pq_ctes()
    joined = ",\n".join(ctes)
    cols = ", ".join(
        f"CAST(code{s}.cid AS BIGINT) AS code_{s}" for s in range(PQ_M)
    )
    joins = " ".join(
        f"JOIN code{s} USING (vec_id)" for s in range(1, PQ_M)
    )
    return (
        f"WITH {joined}\nSELECT vec_id, {cols}\nFROM code0 {joins}"
    )


PQ_TOPK = 20


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN serving via asymmetric distance computation
    (ADC, Jégou et al. 2011): per subspace, the query subvector is dotted
    against the k codebook centroids ONCE (an m×k lookup table), and
    every database vector is scored as the cosine of the query against
    its PQ *reconstruction* — m table lookups summed, never a
    full-vector dot. At 100 TB the scored side carries only m small ints
    per vector; the LUTs (m broadcast joins on the code) and the 1-row
    query norm are driver-small, and the top-k is
    TakeOrderedAndProject. Completes q_pq_codes' compression story with
    the serving path."""
    from ..operators.similarity import _dot, _seeded_kmeans, pq_subvectors

    em = load(spark, sf_dir, "embeddings")
    cents, codes = _seeded_kmeans(
        em, PQ_K, PQ_ITERS, PQ_M, PQ_SUBDIM
    )
    qdf = em.filter(F.col("vec_id") == QUERY_ID)
    qsubs = pq_subvectors(qdf, PQ_M, PQ_SUBDIM).select(
        "s", F.col("sub").alias("qsub")
    )
    qn = qdf.select(
        _dot(F.col("embedding"), F.col("embedding")).alias("qn2")
    )
    lut = cents.join(F.broadcast(qsubs), "s").select(
        "s",
        "cid",
        _dot(F.col("qsub"), F.col("cvec")).alias("w"),
        _dot(F.col("cvec"), F.col("cvec")).alias("n"),
    )
    agg = (
        codes.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("vec_id")
        .agg(
            dsum("w").alias("wsum"),
            dsum("n").alias("nsum"),
        )
    )
    score = F.col("wsum") / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("nsum")))
    return (
        agg.crossJoin(F.broadcast(qn))
        .filter(F.col("vec_id") != QUERY_ID)
        .select("vec_id", sround(score, 6).alias("pq_cos"))
        .orderBy(F.col("pq_cos").desc(), "vec_id")
        .limit(PQ_TOPK)
    )


def _oracle_ann_pq() -> str:
    """PQ replay + per-subspace LUT CTEs + the reconstruction-cosine
    scoring. The per-vector sums over subspaces go through the decimal
    domain (order-independent), mirroring q_ann_pq's grouped aggregate."""
    ctes, cfins = _pq_ctes()
    ctes.append(
        "qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))"
        f" AS e FROM embeddings WHERE vec_id = {QUERY_ID})"
    )
    ctes.append(f"qn AS (SELECT {dot('e', 'e')} AS qn2 FROM qv)")
    for s in range(PQ_M):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        ctes.append(
            f"qs{s} AS (SELECT e[{lo}:{hi}] AS qe FROM qv)"
        )
        ctes.append(
            f"lut{s} AS (SELECT cid, {dot('qe', 'ce')} AS w,"
            f" {dot('ce', 'ce')} AS n FROM {cfins[s]}, qs{s})"
        )
    parts = " UNION ALL ".join(
        f"SELECT code{s}.vec_id, lut{s}.w, lut{s}.n"
        f" FROM code{s} JOIN lut{s} USING (cid)"
        for s in range(PQ_M)
    )
    ctes.append(f"scored AS ({parts})")
    ctes.append(
        "agg AS (SELECT vec_id,"
        f" {dsum_sql('w')} AS wsum,"
        f" {dsum_sql('n')} AS nsum"
        " FROM scored GROUP BY vec_id)"
    )
    joined = ",\n".join(ctes)
    score = "wsum / (sqrt(qn2) * sqrt(nsum))"
    return f"""
WITH {joined}
SELECT vec_id, {sround_sql(score, 6)} AS pq_cos
FROM agg CROSS JOIN qn
WHERE vec_id <> {QUERY_ID}
ORDER BY pq_cos DESC, vec_id
LIMIT {PQ_TOPK}
"""


def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook-health report: per (subspace, centroid), member count
    and mean member-to-centroid cosine — the quantization-distortion
    audit run before shipping a codebook (empty or low-similarity cells
    mean k/iters are wrong for the corpus). Completes the PQ family:
    q_pq_codes (compression) → q_ann_pq (serving) → q_ann_pq_recall
    (serving quality) → this (codebook quality).

    Scale shape: one grouped assignment (broadcast codebooks + per-(id,s)
    window) and one (s, cid) aggregate — map-side combinable; means go
    through the decimal domain."""
    from ..operators.similarity import _seeded_kmeans

    em = load(spark, sf_dir, "embeddings")
    _, a = _seeded_kmeans(
        em, PQ_K, PQ_ITERS, PQ_M, PQ_SUBDIM
    )
    return (
        a.groupBy("s", "cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            (dsum("cos") / F.count(F.lit(1))).alias("_m"),
        )
        .select(
            F.col("s").cast("bigint").alias("subspace"),
            F.col("cid").cast("bigint").alias("code"),
            "n_members",
            sround(F.col("_m"), 9).alias("mean_cos"),
        )
    )


def _oracle_pq_distortion() -> str:
    """PQ replay + per-subspace member-cosine re-score (the identical
    rounded cosine the assignment used), decimal-mean per (s, cid)."""
    ctes, cfins = _pq_ctes()
    c6 = cosine("v.e", "c.ce", 6)
    parts = " UNION ALL ".join(
        f"SELECT {s} AS s, a.cid, {c6} AS c6"
        f" FROM code{s} a JOIN v{s} v USING (vec_id)"
        f" JOIN {cfins[s]} c ON c.cid = a.cid"
        for s in range(PQ_M)
    )
    ctes.append(f"members AS ({parts})")
    joined = ",\n".join(ctes)
    mean = f"{dsum_sql('c6')} / COUNT(*)"
    return f"""
WITH {joined}
SELECT CAST(s AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       {sround_sql(mean, 9)} AS mean_cos
FROM members GROUP BY s, cid
"""


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of PQ-ADC serving against exact brute-force cosine for
    the q_ann_pq probe — the compression-quality gate that decides
    whether m×k codebooks are enough before shipping a PQ index
    (mirrors q_ann_recall / q_ann_lsh_recall for the LSH paths). Both
    sides exclude the probe itself; the exact side ranks on the same
    rounded cosine as q_ann_topk."""
    em = load(spark, sf_dir, "embeddings")
    from ..operators.similarity import cosine_vs_query

    exact = (
        cosine_vs_query(em)
        .filter(F.col("vec_id") != QUERY_ID)
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(PQ_TOPK)
        .select("vec_id")
    )
    pq = q_ann_pq(spark, sf_dir).select("vec_id")
    return pq.join(exact, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        (
            F.count(F.lit(1)).cast("double") / F.lit(float(PQ_TOPK))
        ).alias("recall"),
    )


def _oracle_ann_pq_recall() -> str:
    return f"""
WITH {VECTORS}, q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_ID}),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id, {_QCOS} AS cos_sim FROM v CROSS JOIN q
    WHERE vec_id <> {QUERY_ID})
  ORDER BY cos_sim DESC, vec_id LIMIT {PQ_TOPK}
), pq AS (
  SELECT vec_id FROM ({_oracle_ann_pq()}) t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / {float(PQ_TOPK)!r} AS recall
FROM pq JOIN exact USING (vec_id)
"""


def q_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup keep/drop DECISION per vector — what a curation
    pipeline actually consumes downstream of q_dedup_semantic's pair
    list: drop a vector when a lower-id cluster-mate scores >= the
    shared embedding threshold (min-id survivor), report the strongest
    such mate's cosine (-1.0 when kept). Same oracle-replayed KMeans
    bucketing; the assignment is computed once and cached."""
    from ..operators.similarity import semantic_dedup_decisions

    em = load(spark, sf_dir, "embeddings")
    return semantic_dedup_decisions(em)


def _oracle_semdedup_keep() -> str:
    return f"""WITH {_cluster_pairs_ctes()}, drops AS (
  SELECT id_b, MAX(cos_sim) AS max_lower_cos FROM scored
  WHERE cos_sim >= {EMB_THRESHOLD} GROUP BY id_b
)
SELECT af.vec_id, af.cid,
       COALESCE(d.max_lower_cos, -1.0) AS max_lower_cos,
       CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS keep
FROM km af LEFT JOIN drops d ON d.id_b = af.vec_id
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation — the "are my semantic buckets
    real" gate run before trusting SemDeDup/IVF partitions: per seeded
    KMeans cluster (the same oracle-replayed k=8 / 2-iteration
    arithmetic as q_kmeans), the member count, majority ``label``, and
    purity = majority share. Exact integer ratio; ties on the majority
    label break to the smallest label.

    100 TB shape: assignment is the broadcast-centroid argmax; the
    purity rollup is two tiny groupBys on (cid, label) — nothing
    shuffles the vector payload."""
    from ..operators.similarity import kmeans_assignments

    em = load(spark, sf_dir, "embeddings")
    a = kmeans_assignments(em)
    cl = (
        a.join(em.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("cid").orderBy(F.col("n").desc(), "label")
    top = (
        cl.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cid",
            F.col("label").alias("top_label"),
            F.col("n").alias("n_top"),
        )
    )
    tot = cl.groupBy("cid").agg(F.sum("n").alias("n_members"))
    return tot.join(top, "cid").select(
        "cid",
        "n_members",
        "top_label",
        "n_top",
        (
            F.col("n_top").cast("double") / F.col("n_members").cast("double")
        ).alias("purity"),
    )


def _oracle_cluster_purity() -> str:
    return f"""WITH {_kmeans_assigned()}, cl AS (
  SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n
  FROM km JOIN embeddings USING (vec_id)
  GROUP BY cid, label
), top AS (
  SELECT cid, label AS top_label, n AS n_top FROM (
    SELECT cid, label, n,
           row_number() OVER (PARTITION BY cid
                              ORDER BY n DESC, label) AS rn
    FROM cl) t WHERE rn = 1
), tot AS (
  SELECT cid, CAST(SUM(n) AS BIGINT) AS n_members FROM cl GROUP BY cid
)
SELECT cid, n_members, top_label, n_top,
       CAST(n_top AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity
FROM tot JOIN top USING (cid)
"""


DBSCAN_MIN_PTS = 3  # sf0.01 degrees: 114 cores / ~197 borders / ~189 noise


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN) over the embedding table —
    the curation move kmeans can't make: clusters of arbitrary shape
    plus an explicit NOISE label for low-density outliers (the rows a
    training-data pipeline quarantines rather than force-assigns).

    Eps-neighborhoods are LSH-bucketed cosine pairs over the DBSCAN
    plane family (per-table prefix = DEDUP_PLANES, so buckets are
    identical to q_dedup_embedding's wherever the auto-scale rule
    resolves to 4 planes — every gate scale), with planes-per-table
    AUTO-SCALED from the corpus row count via the same knn_n_planes
    rule the k-NN family adopted in r6 (round 9: the new sf1 bench
    entry measured the fixed 12x4 point at 152 s at x10 vs ~31 s
    scaled — frozen planes are quadratic by construction; recall
    tradeoff documented at plans/dedup.DBSCAN_PLANES_FULL). Cores
    have >= MIN_PTS points in their neighborhood, clusters are
    components of the core-core graph, borders attach to their
    min-labelled core neighbor. The oracle replays buckets (same
    substr prefix slice), degrees, and the component fixpoint
    (recursive CTE), so the full core/border/noise assignment is
    value-hashed."""
    from ..operators.similarity import dbscan_clusters
    from .dedup import dbscan_planes

    em = load(spark, sf_dir, "embeddings")
    planes = dbscan_planes(em.count())
    return dbscan_clusters(
        em, planes, threshold=EMB_THRESHOLD, min_pts=DBSCAN_MIN_PTS
    ).select(F.col("id").alias("vec_id"), "cluster_id", "role")


def _oracle_dbscan() -> str:
    from .dedup import DBSCAN_PLANES_FULL, knn_nplanes_sql

    # MATERIALIZED hints are load-bearing: DuckDB inlines CTEs per
    # reference — without them the 12-table LSH chain re-executes for
    # every reader of the pair list
    core_pairs = (
        "SELECT id_a AS a, id_b AS b FROM p"
        " WHERE id_a IN (SELECT id FROM core)"
        " AND id_b IN (SELECT id FROM core)"
    )
    return f"""WITH RECURSIVE knn_np AS (
  {knn_nplanes_sql()}
), {emb_pairs(DBSCAN_PLANES_FULL, AUTO_PLANES)},
p AS MATERIALIZED (
  SELECT id_a, id_b FROM pairs
), und AS MATERIALIZED (
  SELECT id_a AS id, id_b AS nb FROM p
  UNION ALL
  SELECT id_b AS id, id_a AS nb FROM p
), deg AS (
  SELECT id, COUNT(*) AS n_nb FROM und GROUP BY id
), core AS MATERIALIZED (
  SELECT id FROM deg WHERE n_nb + 1 >= {DBSCAN_MIN_PTS}
), {cc_labels("SELECT id FROM core", core_pairs)}, borderlab AS (
  SELECT u.id, MIN(c.cluster_id) AS cluster_id
  FROM und u JOIN cc c ON u.nb = c.id
  WHERE u.id NOT IN (SELECT id FROM core)
  GROUP BY u.id
), lab AS (
  SELECT id, cluster_id, 'core' AS role FROM cc
  UNION ALL
  SELECT id, cluster_id, 'border' AS role FROM borderlab
)
SELECT id AS vec_id, cluster_id, role FROM lab
UNION ALL
SELECT vec_id, CAST(NULL AS BIGINT) AS cluster_id, 'noise' AS role
FROM embeddings
WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
  AND vec_id NOT IN (SELECT id FROM lab)
"""


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-distribution audit + balanced reweighting over the
    embedding table — the class-imbalance report every supervised
    data pipeline prints, with sklearn's "balanced" class weight
    n_total / (n_classes * n_c) (public formula) computed from exact
    integer counts so both engines emit the identical double. Includes
    each class's share and the majority/minority imbalance ratio
    repeated per row (readable without a second query). One map-side
    combinable count + a 1-row broadcast of the totals."""
    e = load(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull()
    )
    per = e.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("maxn"),
        F.min("n").cast("bigint").alias("minn"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            sround(
                F.col("n").cast("double") / F.col("total").cast("double"),
                9,
            ).alias("share"),
            sround(
                F.col("total").cast("double")
                / (F.col("k").cast("double") * F.col("n").cast("double")),
                9,
            ).alias("balanced_weight"),
            sround(
                F.col("maxn").cast("double") / F.col("minn").cast("double"),
                6,
            ).alias("imbalance_ratio"),
        )
        .orderBy("label")
    )


ORACLE_CLASS_BALANCE = f"""
WITH per AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings WHERE label IS NOT NULL GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(MAX(n) AS BIGINT) AS maxn, CAST(MIN(n) AS BIGINT) AS minn
  FROM per
)
SELECT label, n,
       {sround_sql("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)", 9)}
         AS share,
       {sround_sql(
           "CAST(total AS DOUBLE)"
           " / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE))", 9)}
         AS balanced_weight,
       {sround_sql("CAST(maxn AS DOUBLE) / CAST(minn AS DOUBLE)", 6)}
         AS imbalance_ratio
FROM per CROSS JOIN tot ORDER BY label
"""


QUERIES = {
    "q_class_balance": q_class_balance,
    "q_ann_batch": q_ann_batch,
    "q_dbscan": q_dbscan,
    "q_embed_quantize": q_embed_quantize,
    "q_embed_norm_stats": q_embed_norm_stats,
    "q_cosine_scores": q_cosine_scores,
    "q_ann_topk": q_ann_topk,
    "q_ann_ivf": q_ann_ivf,
    "q_ann_lsh": q_ann_lsh,
    "q_ann_multiprobe": q_ann_multiprobe,
    "q_knn_graph": q_knn_graph,
    "q_ann_recall": q_ann_recall,
    "q_sq_recall": q_sq_recall,
    "q_bq_recall": q_bq_recall,
    "q_embed_dim_stats": q_embed_dim_stats,
    "q_matryoshka_recall": q_matryoshka_recall,
    "q_label_noise": q_label_noise,
    "q_hard_negatives": q_hard_negatives,
    "q_coreset": q_coreset,
    "q_ann_ivf_kmeans": q_ann_ivf_kmeans,
    "q_dedup_semantic": q_dedup_semantic,
    "q_ann_lsh_recall": q_ann_lsh_recall,
    "q_hybrid_search": q_hybrid_search,
    "q_kmeans": q_kmeans,
    "q_label_centroids": q_label_centroids,
    "q_random_projection": q_random_projection,
    "q_pq_codes": q_pq_codes,
    "q_ann_pq": q_ann_pq,
    "q_ann_pq_recall": q_ann_pq_recall,
    "q_pq_distortion": q_pq_distortion,
    "q_cluster_purity": q_cluster_purity,
    "q_semdedup_keep": q_semdedup_keep,
}

ORACLES = {
    "q_class_balance": ORACLE_CLASS_BALANCE,
    "q_ann_batch": _oracle_ann_batch(),
    "q_dbscan": _oracle_dbscan(),
    "q_embed_quantize": ORACLE_EMBED_QUANTIZE,
    "q_embed_norm_stats": ORACLE_EMBED_NORM_STATS,
    "q_cosine_scores": ORACLE_COSINE_SCORES,
    "q_ann_topk": ORACLE_ANN_TOPK,
    "q_ann_ivf": _oracle_ivf(N_CENTROIDS, 0, NPROBE),
    "q_ann_lsh": _oracle_ann_lsh(),
    "q_ann_multiprobe": _oracle_ann_multiprobe(),
    "q_knn_graph": _oracle_knn_graph(),
    "q_ann_recall": _oracle_ann_recall(),
    "q_sq_recall": ORACLE_SQ_RECALL,
    "q_bq_recall": ORACLE_BQ_RECALL,
    "q_embed_dim_stats": ORACLE_EMBED_DIM_STATS,
    "q_matryoshka_recall": _oracle_matryoshka_recall(),
    "q_label_noise": _oracle_label_noise(),
    "q_hard_negatives": _oracle_hard_negatives(),
    "q_coreset": _oracle_coreset(),
    "q_ann_ivf_kmeans": _oracle_ivf(KMEANS_K, KMEANS_ITERS, NPROBE_KM),
    "q_dedup_semantic": _oracle_dedup_semantic(),
    "q_ann_lsh_recall": _oracle_ann_lsh_recall(),
    "q_hybrid_search": _oracle_hybrid_search(),
    "q_kmeans": _oracle_kmeans(),
    "q_label_centroids": ORACLE_LABEL_CENTROIDS,
    "q_random_projection": _oracle_random_projection(),
    "q_pq_codes": _oracle_pq_codes(),
    "q_ann_pq": _oracle_ann_pq(),
    "q_ann_pq_recall": _oracle_ann_pq_recall(),
    "q_pq_distortion": _oracle_pq_distortion(),
    "q_cluster_purity": _oracle_cluster_purity(),
    "q_semdedup_keep": _oracle_semdedup_keep(),
}


# --------------------------------------------------------------------------
# round-10 addition: simplified silhouette (clustering quality)

def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette score per label: a = distance to the own-
    label centroid, b = nearest other-label centroid,
    s = (b−a)/max(a,b) — the clustering-quality readout that needs no
    pairwise point distances (the classic silhouette's O(N²) is
    replaced by N·k centroid distances, the standard large-scale
    variant). The ``-1`` row carries the overall mean. A point in a
    SINGLETON cluster scores s = 0 (the standard sklearn convention,
    ADVICE r10) — its own-centroid distance is identically 0, so the
    raw ratio would award it the maximum s = 1 and inflate the means;
    cluster sizes come from one extra count over the per-point frame
    and join broadcast (k rows).

    Centroids are quantized decimal means per (label, pos) — the
    q_label_centroids shape — so both engines share bit-identical
    centroid doubles; per-dimension squared gaps are quantized
    (sround 9) and DECIMAL-summed per (vec_id, clabel); sqrt/min/max
    and the final ratio are identical IEEE trees. The centroid join
    fans out each point-dimension row exactly k times (k = labels, a
    constant), and the (vec_id, clabel) reduction is map-side
    combinable — cost is N·d·k rows, linear in N.
    """
    em = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
        & F.col("label").isNotNull()
    )
    pts = em.select(
        "vec_id", F.col("label").cast("bigint").alias("label"),
        F.posexplode("embedding").alias("pos", "fval"),
    ).select("vec_id", "label", "pos",
             F.col("fval").cast("double").alias("val"))
    cent = (
        pts.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            sround(
                F.sum(F.col("val").cast("decimal(28,6)")).cast("double")
                / F.count("val"), 6
            ).alias("c")
        )
    )
    term = sround((F.col("val") - F.col("c"))
                  * (F.col("val") - F.col("c")), 9)
    d2 = (
        pts.join(F.broadcast(cent), "pos")
        .select("vec_id", "label", "clabel",
                term.cast("decimal(28,9)").alias("t"))
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("t").cast("double").alias("d2"))
    )
    dist = F.sqrt(F.col("d2"))
    per_vec = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), dist)).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), dist)).alias("b"),
    )
    csize = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_own")
    )
    s = F.when(F.col("n_own") == 1, F.lit(0.0)).otherwise(
        F.when(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.greatest(F.col("a"), F.col("b")) > 0.0),
            sround((F.col("b") - F.col("a"))
                   / F.greatest(F.col("a"), F.col("b")), 9),
        )
    )
    sil = per_vec.join(F.broadcast(csize), "label").select(
        "label", s.alias("s")
    )
    per_label = sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.when(
            F.count("s") > 0,
            sround(F.sum(F.col("s").cast("decimal(28,9)")).cast("double")
                   / F.count("s"), 9),
        ).alias("mean_sil"),
    )
    total = sil.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.when(
            F.count("s") > 0,
            sround(F.sum(F.col("s").cast("decimal(28,9)")).cast("double")
                   / F.count("s"), 9),
        ).alias("mean_sil"),
    ).select(F.lit(-1).cast("bigint").alias("label"), "n_points",
             "mean_sil")
    return per_label.unionByName(total).orderBy("label")


ORACLE_SILHOUETTE = f"""
WITH pts AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND label IS NOT NULL
), cent AS (
  SELECT label AS clabel, pos,
         {sround_sql(
             "CAST(SUM(CAST(val AS DECIMAL(28,6))) AS DOUBLE)"
             " / COUNT(val)", 6)} AS c
  FROM pts GROUP BY 1, 2
), d2 AS (
  SELECT vec_id, label, clabel,
         CAST(SUM(CAST({sround_sql("(val - c) * (val - c)", 9)}
           AS DECIMAL(28,9))) AS DOUBLE) AS d2
  FROM pts JOIN cent ON pts.pos = cent.pos
  GROUP BY 1, 2, 3
), per_vec AS (
  SELECT vec_id, label,
         MAX(CASE WHEN clabel = label THEN sqrt(d2) END) AS a,
         MIN(CASE WHEN clabel <> label THEN sqrt(d2) END) AS b
  FROM d2 GROUP BY 1, 2
), csize AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_own
  FROM per_vec GROUP BY 1
), sil AS (
  SELECT label,
    CASE WHEN n_own = 1 THEN 0.0
    ELSE CASE WHEN a IS NOT NULL AND b IS NOT NULL
          AND greatest(a, b) > 0.0
    THEN {sround_sql("(b - a) / greatest(a, b)", 9)} END END AS s
  FROM per_vec JOIN csize USING (label)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
       CASE WHEN COUNT(s) > 0 THEN {sround_sql(
           "CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE) / COUNT(s)",
           9)} END AS mean_sil
FROM sil GROUP BY label
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CASE WHEN COUNT(s) > 0 THEN {sround_sql(
           "CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE) / COUNT(s)",
           9)} END
FROM sil
ORDER BY label
"""

QUERIES["q_silhouette"] = q_silhouette
ORACLES["q_silhouette"] = ORACLE_SILHOUETTE
