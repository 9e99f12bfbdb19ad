"""Similarity search over embedding columns (array<float>).

Brute-force cosine with HOFs (`zip_with` dot product — JVM-side, codegen'd)
as the exact baseline, plus a random-hyperplane LSH bucketing as the scale
path: at 100 TB you never do the O(N·Q) brute force; you bucket by sign
hashes (equi-join shuffle on the bucket key) and only score within buckets.

Each kernel is written once. ``_dot``, ``_norm`` and ``_cosine`` are the
float math every vector query uses. ``_lsh_candidates`` is the one LSH
candidate generator: the bucket self-join and the directed (src, dst)
distinct behind the near-dup pairs (its src < dst half), the k-NN graph
and hard-negative mining. ``_rank_unit`` is the one unit-vector ranker
(``_unit_vectors``, the vector join-back and the per-src row_number)
that the last two share. ``_nearest`` and ``_seeded_kmeans`` are the one
nearest-centroid argmax and training loop behind k-means, PQ and IVF.

What every caller shares is a module constant, not a parameter: the
vector frame's ``VEC_ID``/``EMBEDDING`` columns, ``PAIR_DECIMALS`` for
pair and cluster scores, ``RANK_DECIMALS`` for ranked neighbour lists,
the single-query searches' ``QUERY_ID`` and the k-means, PQ and
semantic-dedup settings. The plans import them from here.

All double math accumulates left-to-right in float64 so the DuckDB oracle
(``plans/_oracle_sql.dot``/``cosine``) reproduces it bit-for-bit;
results are rounded before any threshold/ordering so cross-engine float
noise (≤1 ulp) cannot flip a comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans._util import sround

VEC_ID = "vec_id"  # id column of every vector frame
EMBEDDING = "embedding"  # its array<float> vector column
PAIR_DECIMALS = 4  # rounding of pair and cluster cosines
RANK_DECIMALS = 3  # rounding of ranked-neighbour cosines
QUERY_ID = 0  # the vector the single-query searches score against
EMB_THRESHOLD = 0.35  # near-dup cosine; sf0.01 max pair is 0.513: non-vacuous
KMEANS_K = 8  # k-means clusters behind the cluster-bucketed near-dups
KMEANS_ITERS = 2  # training rounds of every k-means
PQ_K = 4  # centroids per product-quantization subspace
PQ_ITERS = 2  # training rounds of a PQ codebook


def _spread_small_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor (optimization guide §2.5, input
    skew): a single-file fixture parquet plans ONE scan split, so every
    downstream per-row computation — bucket-bit hashing, candidate
    generation, interpreted HOF dot products — serializes on one core
    of a 32-core host (r12 profiling: q_knn_graph's candidate stage ran
    1.4 s single-task, its scoring stage 8.9 s of executor time on 6
    AQE-coalesced tasks). When the planned scan parallelism is already
    >= the cluster's defaultParallelism (any real corpus: splits >>
    cores), this is a NO-OP and adds no shuffle — the repartition only
    fires for scans narrower than the cluster, where the shuffled frame
    is by construction tiny."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic frames; spread anyway
        return df.repartition(p)
    return df.repartition(p) if n < p else df


def _shuffle_width(df: DataFrame) -> int:
    """Partition count for explicit candidate repartitions (r13, VERDICT
    r12 item 7): read ``spark.sql.shuffle.partitions`` — the knob a real
    deployment sizes to the cluster (2-3× total cores via
    spark-defaults) — instead of pinning ``defaultParallelism``, so the
    candidate exchanges follow the production shuffle width rather than
    the local core count. Locally the session sets both to
    $SPARK_GRAFT_CPUS, so bench numbers are unchanged by construction.
    """
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):  # "auto" or unset on exotic builds
        return df.sparkSession.sparkContext.defaultParallelism


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine(a: Column, b: Column) -> Column:
    """Cosine of two float arrays: ``_dot(a, b) / (|a| * |b|)``, the one
    formula every oracle in plans/similarity.py replays."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _indexable(df: DataFrame) -> DataFrame:
    """Drop rows that cannot be indexed: a NULL id or a NULL vector.

    Seeds are the lowest ids and Spark sorts NULL ids FIRST, so one
    NULL-id row would become a seed, and a NULL-vector seed NULLs every
    cosine against it: one dirty row would empty a whole clustering
    (found by the --nulls sweep)."""
    return df.filter(F.col(VEC_ID).isNotNull() & F.col(EMBEDDING).isNotNull())


def cosine_vs_query(df: DataFrame, decimals: int = RANK_DECIMALS) -> DataFrame:
    """Cosine similarity of every vector against the ``QUERY_ID`` vector."""
    return _vs_query(df, df, decimals)


def _vs_query(
    cand: DataFrame, df: DataFrame, decimals: int = RANK_DECIMALS
) -> DataFrame:
    """(id, cos_sim): every ``cand`` vector's cosine, rounded to
    ``decimals`` places, against the vector of ``QUERY_ID`` in ``df``.

    The 1-row query side is cross-joined broadcast — no shuffle of the big
    side at all; the scan streams through a codegen'd projection.
    """
    q = df.filter(F.col(VEC_ID) == QUERY_ID).select(
        F.col(EMBEDDING).alias("query_vec")
    )
    cos = _cosine(F.col(EMBEDDING), F.col("query_vec"))
    return cand.crossJoin(F.broadcast(q)).select(
        VEC_ID, sround(cos, decimals).alias("cos_sim")
    )


def _top(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best ``cos_sim`` rows, ordered on the *rounded* score
    with an id tie-break so the cutoff is engine-independent. Spark plans
    the orderBy+limit as TakeOrderedAndProject (per-partition top-k, no
    global sort shuffle)."""
    return scored.orderBy(F.col("cos_sim").desc(), F.col(VEC_ID)).limit(k)


def topk_vs_query(df: DataFrame, k: int = 20) -> DataFrame:
    """Top-k nearest to the ``QUERY_ID`` vector by cosine (:func:`_top`)."""
    return _top(cosine_vs_query(df), k)


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding near-duplicate pairs: all pairs with rounded cosine ≥
    threshold. Brute-force O(N²) — correct baseline; use
    :func:`lsh_bucketed_neardup_pairs` at scale."""
    a = df.select(F.col(VEC_ID).alias("id_a"), F.col(EMBEDDING).alias("va"))
    b = df.select(F.col(VEC_ID).alias("id_b"), F.col(EMBEDDING).alias("vb"))
    cos = _cosine(F.col("va"), F.col("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", sround(cos, PAIR_DECIMALS))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _bucket_bits(planes: list[list[float]]) -> Column:
    """Sign-bit string of the vector's dot products with the planes.

    The plane family is ONE ``array<array<double>>`` literal and the
    per-plane sign bit is computed inside a single ``transform`` lambda,
    joined with ``array_join`` — not a per-plane chain of Python-built
    ``concat(when(dot(...)))`` columns. Two costs motivated this (r12
    profiling of q_knn_graph: stage walls summed to <2 s while the
    query took 6-18 s):

    - build cost: every ``F.aggregate``/``F.zip_with`` lambda is dozens
      of py4j round trips; 8-12 tables x 4-12 planes made each
      multitable_buckets call 3.3-4.1 s of driver-side construction.
      This form is 1 literal + 3 lambdas per table (~0.02 s).
    - analysis cost: per-plane expressions (or per-element literal
      casts) put thousands of nodes in the tree, and Spark re-analyzes
      the accumulated plan on every downstream DataFrame op. This form
      is ~12 nodes per table.

    Per plane the evaluated expression is the identical
    ``CASE WHEN aggregate(zip_with(v, plane, x*y), 0.0, +) >= 0`` —
    '1'/'0' strings are never NULL, so ``array_join(transform(...))``
    concatenates exactly what the old per-plane ``concat`` did: every
    bucket value is bit-unchanged (pinned by
    tests/test_similarity_ops.py::test_bucket_bits_formulation).

    The matrix literal travels as ONE json string (classic-mode
    ``F.lit(list)`` decomposes into per-element py4j literals — the
    cost this rewrite removes) and ``from_json`` over a foldable
    argument is constant-folded by the optimizer into a plain
    ``array<array<double>>`` Literal before execution, so nothing is
    parsed per row. json.dumps emits repr() doubles (shortest
    round-trip) and Spark's Jackson path parses correctly rounded, so
    the folded values are bit-identical to ``F.lit`` doubles —
    verified element-wise against lit() including subnormals/-0.0
    (r12, 2057 values, 0 mismatches)."""
    import json as _json

    mat = (
        "from_json('"
        + _json.dumps([[float(p) for p in plane] for plane in planes])
        + "', 'array<array<double>>')"
    )
    return F.expr(
        f"array_join(transform({mat}, p -> CASE WHEN "
        f"aggregate(zip_with(`{EMBEDDING}`, p, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        "(acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END), '')"
    )


def multitable_buckets(
    df: DataFrame, tables: list[list[list[float]]]
) -> DataFrame:
    """('id', 'bucket') rows for EVERY hash table in ONE scan: each input
    row computes its |tables| bucket keys ('<table>:<sign bits>') and
    explodes them. Row-set identical to unioning per-table single-scan
    bucket projections, but the vector table — the
    100 TB side — is read once instead of |tables| times, and the plan
    is a single Generate inside codegen instead of a |tables|-way Union
    of scans."""
    entries = [
        F.concat(F.lit(f"{t}:"), _bucket_bits(planes))
        for t, planes in enumerate(tables)
    ]
    return df.select(
        F.col(VEC_ID).alias("id"),
        F.explode(F.array(*entries)).alias("bucket"),
    )


def ivf_assignments(
    df: DataFrame,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (centroids, assignments).

    Default centroids are the ``n_centroids`` lowest-id vectors, i.e.
    the seeds of :func:`kmeans_centroids` (zero training rounds):
    deterministic, no RNG, good enough as a coarse partitioner; the
    centroid's own id doubles as ``centroid_id``. Pass ``centroids`` (a
    (centroid_id, centroid_vec) frame, e.g. from
    :func:`kmeans_centroids`) to swap in a trained quantizer. Each
    vector goes to its nearest centroid (:func:`_nearest`): a broadcast
    join + argmax, the big side streams once. NULL-id / NULL-vector rows
    are dropped.
    """
    if centroids is None:
        cents, a = _seeded_kmeans(df, n_centroids, 0)
    else:
        cents = centroids.select(
            F.lit(0).alias("s"),
            F.col("centroid_id").alias("cid"),
            F.col("centroid_vec").alias("cvec"),
        )
        a = _nearest(_whole(_indexable(df)), cents)
    return (
        cents.select(
            F.col("cid").alias("centroid_id"),
            F.col("cvec").alias("centroid_vec"),
        ),
        a.select(
            VEC_ID,
            F.col("sub").alias(EMBEDDING),
            F.col("cid").alias("centroid_id"),
        ),
    )


def ivf_topk_vs_query(
    df: DataFrame,
    k: int = 20,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` centroid lists nearest
    the ``QUERY_ID`` vector, score within them. At scale the assignment
    table is partitioned by centroid_id, so a query touches
    nprobe/n_centroids of the data instead of all of it. ``centroids``
    swaps in a trained coarse quantizer (e.g. :func:`kmeans_centroids`)."""
    centroids, assignments = ivf_assignments(df, n_centroids, centroids)
    q = df.filter(F.col(VEC_ID) == QUERY_ID).select(
        F.col(EMBEDDING).alias("query_vec")
    )
    ccos = _cosine(F.col("centroid_vec"), F.col("query_vec"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", sround(ccos, 6).alias("_qc"))
        .orderBy(F.col("_qc").desc(), "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    candidates = assignments.join(F.broadcast(probe), "centroid_id")
    return _top(_vs_query(candidates, df), k)


def lsh_topk_vs_query(
    df: DataFrame, tables: list[list[list[float]]], k: int = 20
) -> DataFrame:
    """Approximate top-k vs the ``QUERY_ID`` vector via hyperplane-LSH
    buckets.

    Candidates = vectors colliding with the query in ANY hash table;
    they alone are scored exactly, then top-k on the rounded score with
    an id tie-break. At scale this probes |tables| buckets instead of
    the full table — the candidate fetch is an equi-join on the bucket
    key against a handful of broadcast query buckets, and only the
    candidate rows' vectors ever move.
    """
    bucketed = multitable_buckets(df, tables)
    qb = bucketed.filter(F.col("id") == QUERY_ID).select("bucket")
    cand_ids = (
        bucketed.join(F.broadcast(qb), "bucket")
        .select("id")
        .distinct()
    )
    cand = df.join(cand_ids.withColumnRenamed("id", VEC_ID), VEC_ID)
    return _top(_vs_query(cand, df), k)


def multiprobe_topk_vs_query(
    df: DataFrame, tables: list[list[list[float]]], k: int = 20
) -> DataFrame:
    """Multi-probe LSH ANN (the method of Lv et al. 2007, public
    literature): in each hash table, probe the query's own bucket PLUS
    every bucket at Hamming distance 1 (each sign bit flipped once) —
    1 + n_planes probes per table instead of 1. Near-miss neighbors that
    landed one hyperplane away become candidates without adding hash
    tables, so recall rises at the same indexing cost; candidates are
    still re-scored exactly (precision stays 1).

    Scale shape: identical to the single-probe path — the probe set is a
    handful of broadcast bucket keys ((1 + n_planes) × n_tables rows),
    candidates arrive via ONE equi-join on the bucket key, and only
    candidate vectors are ever scored. The bit-flip probe generation is
    pure string ops inside codegen on a tables-sized frame.
    """
    n_planes = len(tables[0])
    bucketed = multitable_buckets(df, tables)
    qb = bucketed.filter(F.col("id") == QUERY_ID).select("bucket")
    # j = 0 keeps the exact bucket; j >= 1 flips sign bit j. The bucket
    # string is "<table>:<bits>", so flips splice the bits part only.
    probes = (
        qb.withColumn(
            "j", F.explode(F.sequence(F.lit(0), F.lit(n_planes)))
        )
        .select(
            F.expr(
                "if(j = 0, bucket,"
                " concat(substring_index(bucket, ':', 1), ':',"
                "        substring(substring_index(bucket, ':', -1),"
                "                  1, j - 1),"
                "        if(substring(substring_index(bucket, ':', -1),"
                "                     j, 1) = '1', '0', '1'),"
                "        substring(substring_index(bucket, ':', -1),"
                f"                  j + 1, {n_planes})))"
            ).alias("bucket")
        )
        .distinct()
    )
    cand_ids = (
        bucketed.join(F.broadcast(probes), "bucket").select("id").distinct()
    )
    cand = df.join(cand_ids.withColumnRenamed("id", VEC_ID), VEC_ID)
    return _top(_vs_query(cand, df), k)


def _whole(df: DataFrame) -> DataFrame:
    """(id, s, sub): each whole vector as the single subspace ``s = 0``."""
    return df.select(
        VEC_ID, F.lit(0).alias("s"), F.col(EMBEDDING).alias("sub")
    )


def _nearest(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, s, sub, cid, cos): every subvector's nearest centroid in its
    subspace, the one argmax behind k-means, PQ and IVF.

    The (s, cid, cvec) centroids are broadcast and joined on the
    subspace, so the big side streams once. The join is a cross join
    with the subspace condition: PQ plans it as a broadcast hash join,
    and with one subspace (s = 0 on both sides) the optimizer folds the
    condition away, leaving the broadcast Cross nested loop the plan
    audit accepts. ``cos`` is the cosine rounded to 6 places, so the
    argmax is engine-reproducible; ties go to the lower cid inside one
    (id, s) window."""
    scored = sub.join(
        F.broadcast(cents.withColumnRenamed("s", "_s")),
        F.col("s") == F.col("_s"),
        "cross",
    ).select(
        VEC_ID,
        "s",
        "sub",
        "cid",
        sround(_cosine(F.col("sub"), F.col("cvec")), 6).alias("cos"),
    )
    pick = Window.partitionBy(VEC_ID, "s").orderBy(
        F.col("cos").desc(), "cid"
    )
    return (
        scored.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _seeded_kmeans(
    df: DataFrame,
    k: int,
    iters: int,
    m: int = 1,
    subdim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Seeded k-means on cosine, trained in every subspace at once:
    (centroids (s, cid, cvec), assignments (id, s, sub, cid, cos)).

    Vectors split into ``m`` contiguous ``subdim``-wide subspaces
    (:func:`pq_subvectors`); ``subdim=None`` keeps each whole vector as
    the single subspace ``s = 0``, so plain k-means is one-subspace
    product quantization and both run this one loop.

    Init: the ``k`` lowest-id vectors, split the same way
    (TakeOrderedAndProject, no RNG); a seed's id is its centroid id.
    Each iteration assigns every subvector (:func:`_nearest`), then
    takes each centroid's per-dimension *decimal* mean (posexplode →
    groupBy(s, cid, pos): one uniform shuffle on m × k × subdim keys)
    and reassembles it in pos order. Every step is engine-reproducible,
    so the DuckDB oracles replay the identical iteration. Each round's
    centroids (m × k rows) are cut with an eager localCheckpoint, as in
    operators/graph.py: the next round reads k rows instead of
    replaying the lineage (uncut, q_kmeans executed in 3.3 s instead of
    0.6 s at sf0.1 on 4 cores), and ContextCleaner reclaims the checkpoint
    once the frame is gone, where a cached frame would stay in the
    CacheManager for the whole app. Rows with a NULL id or vector are
    dropped (:func:`_indexable`)."""
    from ..plans._util import DEC

    def split(d: DataFrame) -> DataFrame:
        if subdim is None:
            return _whole(d)
        return pq_subvectors(d, m, subdim)

    df = _indexable(df)
    sub = split(df)
    cents = split(
        df.select(VEC_ID, EMBEDDING).orderBy(VEC_ID).limit(k)
    ).select("s", F.col(VEC_ID).alias("cid"), F.col("sub").alias("cvec"))
    for _ in range(iters):
        flat = _nearest(sub, cents).select(
            "s", "cid", F.posexplode(F.col("sub")).alias("pos", "val")
        )
        means = flat.groupBy("s", "cid", "pos").agg(
            (
                F.sum(F.col("val").cast("double").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        cents = (
            means.groupBy("s", "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("_pm")
            )
            .select(
                "s",
                "cid",
                F.transform("_pm", lambda x: x["m"]).alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
    return cents, _nearest(sub, cents)


def kmeans_centroids(df: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Deterministic seeded KMeans → the final k centroids (cid, cvec):
    :func:`_seeded_kmeans` over whole vectors, ``KMEANS_ITERS`` rounds."""
    cents, _ = _seeded_kmeans(df, k, KMEANS_ITERS)
    return cents.drop("s")


def kmeans_assignments(df: DataFrame) -> DataFrame:
    """Deterministic seeded KMeans on cosine similarity → (id, cid): the
    assignment of every vector against :func:`kmeans_centroids`'s final
    ``KMEANS_K`` centroids. At 100 TB: per-iteration cost is one
    broadcast + one (cid, pos) shuffle; centroids (k×dim doubles) stay
    tiny. NULL-id / NULL-vector rows are dropped."""
    _, a = _seeded_kmeans(df, KMEANS_K, KMEANS_ITERS)
    return a.select(VEC_ID, "cid")


def pq_subvectors(df: DataFrame, m: int, subdim: int) -> DataFrame:
    """(id, s, sub): every vector exploded into its ``m`` contiguous
    ``subdim``-wide subvectors — ONE scan of the vector table feeds all
    subspaces (the per-subspace-loop alternative rescans the 100 TB side
    m times per kmeans iteration)."""
    parts = [
        F.struct(
            F.lit(s).cast("int").alias("s"),
            F.slice(F.col(EMBEDDING), s * subdim + 1, subdim).alias("sub"),
        )
        for s in range(m)
    ]
    return df.select(
        F.col(VEC_ID), F.explode(F.array(*parts)).alias("_p")
    ).select(VEC_ID, F.col("_p.s").alias("s"), F.col("_p.sub").alias("sub"))


def pq_codebooks(df: DataFrame, m: int, subdim: int) -> DataFrame:
    """(s, cid, cvec) ``PQ_K``-centroid codebooks for all ``m`` PQ
    subspaces, trained ``PQ_ITERS`` rounds as ONE grouped seeded kmeans
    (:func:`_seeded_kmeans`): each iteration is a single broadcast
    assignment plus a single (s, cid, pos) decimal-mean shuffle — m
    codebooks for the per-iteration cost of one."""
    cents, _ = _seeded_kmeans(df, PQ_K, PQ_ITERS, m, subdim)
    return cents


def pq_codes(
    df: DataFrame,
    m: int,
    subdim: int,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Product quantization (Jégou, Douze & Schmid 2011, public
    literature): split each vector into ``m`` contiguous ``subdim``-wide
    subvectors, train a seeded-kmeans codebook per subspace (the same
    deterministic cosine kmeans as :func:`kmeans_centroids`, so the
    DuckDB oracle replays it), and emit each vector's code word — the
    centroid id — per subspace. m codes of log2(k) bits replace
    m×subdim floats: THE memory-compression path that lets a 100 TB
    embedding corpus serve ANN from RAM (codebooks are k×subdim doubles,
    broadcast; distances against codes become m table lookups).

    Scale shape: all subspaces train and assign through the grouped
    subvector table — one scan + one (id, s) window per assignment, one
    (s, cid, pos) shuffle per recompute, regardless of m; the final
    per-vector code row is a pivot-free max(CASE) aggregate keyed on the
    id. NULL-id / NULL-vector rows cannot be coded and are dropped."""
    _, a = _seeded_kmeans(df, k, iters, m, subdim)
    return a.groupBy(VEC_ID).agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("cid"))).alias(f"code_{s}")
            for s in range(m)
        ]
    )


def _lsh_candidates(
    df: DataFrame, tables: list[list[list[float]]]
) -> tuple[DataFrame, DataFrame]:
    """(base, cand): the slim (id, vector) scan and every directed
    (src, dst) pair of distinct ids that share a bucket in ANY table —
    the one candidate generator behind the near-dup pairs, the k-NN graph
    and hard-negative mining.

    The self-join shuffles on (table, bucket) keys, uniform by
    construction. The scan is spread to cluster width
    (:func:`_spread_small_scan`, a no-op at scale), and the candidates
    are repartitioned on the FULL pair before the distinct at
    ``spark.sql.shuffle.partitions`` width: one ultra-hot src spreads
    across every task (dst varies), the distinct's ClusteredDistribution
    is satisfied exactly, and AQE's byte heuristic cannot collapse the
    per-pair scoring stage, whose rows are small but whose interpreted
    dot products are not. Only ids move through that exchange; the
    vectors join back from ``base`` after the distinct."""
    base = _spread_small_scan(df.select(VEC_ID, EMBEDDING))
    bucketed = multitable_buckets(base, tables)
    a = bucketed.select(F.col("id").alias("src"), "bucket")
    b = bucketed.select(F.col("id").alias("dst"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .repartition(_shuffle_width(df), "src", "dst")
        .distinct()
    )
    return base, cand


def _unit_vectors(df: DataFrame) -> DataFrame:
    """(id, u): each vector divided by its norm, once per vector, so a
    pair's cosine is one dot product instead of a dot and two norms. The
    DuckDB oracles normalize with the identical per-element division.
    Zero-norm (and NULL) vectors have no defined cosine and are dropped
    rather than failing the job with DIVIDE_BY_ZERO under ANSI mode."""
    return (
        df.select(VEC_ID, F.col(EMBEDDING).alias("_v"))
        .withColumn("_n", _norm(F.col("_v")))
        .filter(F.col("_n") > 0)
        .select(
            VEC_ID,
            F.transform("_v", lambda x: x.cast("double") / F.col("_n"))
            .alias("u"),
        )
    )


def _rank_unit(base: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """``cand`` (src, dst, ...) plus ``cos_sim``, the unit-vector cosine
    rounded to ``RANK_DECIMALS`` places, and ``rank``, its row_number per
    src (cos_sim desc, dst), kept to rank <= k. The window is PARTITIONED
    BY src: no global sort."""
    un = _unit_vectors(base)
    va = un.select(F.col(VEC_ID).alias("src"), F.col("u").alias("ua"))
    vb = un.select(F.col(VEC_ID).alias("dst"), F.col("u").alias("ub"))
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    return (
        cand.join(va, "src")
        .join(vb, "dst")
        .withColumn(
            "cos_sim", sround(_dot(F.col("ua"), F.col("ub")), RANK_DECIMALS)
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def lsh_bucketed_neardup_pairs(
    df: DataFrame, tables: list[list[list[float]]], threshold: float = 0.95
) -> DataFrame:
    """Approximate near-dup pairs: score only within LSH buckets.

    ``tables`` is a list of hash tables, each a list of hyperplanes; a
    pair is a candidate if it collides in ANY table (recall ≈
    1 − (1 − p^b)^T for per-plane agreement p). Candidates are the
    id_a < id_b half of :func:`_lsh_candidates` (the filter lands in the
    bucket join condition) and are re-scored exactly, so precision is 1
    — only recall is approximate. Tune: more planes/table → smaller
    buckets (cheaper, lower recall); more tables → higher recall
    (linearly more hashing)."""
    base, cand = _lsh_candidates(df, tables)
    # Norms are per-VECTOR, computed on the N-row join side rather than
    # inside the C >> N candidate projection. The score is
    # dot / (na * nb), not a unit-vector dot: its oracle
    # (_oracle_sql.emb_pairs) computes the norms in place, and
    # unit-vector scoring can round differently.
    vn = base.select(
        F.col(VEC_ID).alias("id"), F.col(EMBEDDING).alias("v")
    ).withColumn("nrm", _norm(F.col("v")))
    va = vn.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = vn.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
        .join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", sround(cos, PAIR_DECIMALS))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def knn_graph(
    df: DataFrame, tables: list[list[list[float]]], k: int = 3
) -> DataFrame:
    """Approximate k-NN graph — the index-construction primitive under
    HNSW/IVF-graph ANN serving: for EVERY vector, its top-k neighbors
    among LSH bucket-mates (exact re-score inside buckets, so precision
    is 1 within the candidate set; recall grows with tables).

    Scale shape: :func:`_lsh_candidates` then :func:`_rank_unit`. No
    global sort, no all-pairs anywhere."""
    base, cand = _lsh_candidates(df, tables)
    return _rank_unit(base, cand, k).select(
        "src", "dst", "cos_sim", "rank"
    )


def hard_negatives(
    df: DataFrame,
    tables: list[list[list[float]]],
    labels: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    labelled anchor, the top-k HIGHEST-cosine bucket-mates with a
    DIFFERENT label — the near-misses a metric-learning loss needs.
    The :func:`knn_graph` ranking over label-filtered candidates: the
    label filter runs BEFORE the per-anchor rank (a post-rank filter
    would lose negatives hiding beyond rank k among same-label
    neighbors).

    ``labels`` is an (id, label) frame; NULL-label rows drop out as
    both anchors and candidates. Scale shape: knn_graph's plus two
    label hash joins on the candidate frame.
    """
    base, cand = _lsh_candidates(df, tables)
    la = labels.select(
        F.col("id").alias("src"), F.col("label").alias("src_label")
    )
    lb = labels.select(
        F.col("id").alias("dst"), F.col("label").alias("dst_label")
    )
    neg = (
        cand.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("src_label") != F.col("dst_label"))
    )
    return _rank_unit(base, neg, k).select(
        "src", "src_label", "dst", "dst_label", "cos_sim", "rank"
    )


def lsh_topk_batch(
    df: DataFrame,
    tables: list[list[list[float]]],
    query_ids: list[int],
    k: int = 5,
) -> DataFrame:
    """Batch ANN: approximate top-k for MANY query vectors at once.

    The realistic serving/backfill shape (one query at a time wastes a
    full pass per query): all queries' buckets broadcast, candidates
    arrive via ONE equi-join on the bucket key, exact scores only for
    (query, candidate) collisions, then a per-query window top-k. Cost
    at scale: one pass over the vector table for bucketing + a shuffle
    of candidate rows — independent of the number of queries until the
    query side outgrows the broadcast threshold.
    """
    bucketed = multitable_buckets(df, tables)
    ids = [F.lit(q) for q in query_ids]
    qb = (
        bucketed.filter(F.col("id").isin(*ids))
        .select(F.col("id").alias("qid"), "bucket")
    )
    cand = (
        bucketed.join(F.broadcast(qb), "bucket")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id")
        .distinct()
    )
    v = df.select(F.col(VEC_ID).alias("id"), F.col(EMBEDDING).alias("vec"))
    qv = df.filter(F.col(VEC_ID).isin(*ids)).select(
        F.col(VEC_ID).alias("qid"), F.col(EMBEDDING).alias("qvec")
    )
    cos = _cosine(F.col("vec"), F.col("qvec"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("id")
    )
    return (
        cand.join(v, "id")
        .join(F.broadcast(qv), "qid")
        .select("qid", "id", sround(cos, RANK_DECIMALS).alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("qid").cast("bigint").alias("query_id"),
            F.col("id").cast("bigint").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def cluster_bucketed_neardup_pairs(df: DataFrame) -> DataFrame:
    """SemDeDup-style semantic near-dup (cluster-bucketed; the method of
    Abbas et al. 2023, "SemDeDup", public literature): bucket every
    vector by its seeded-KMeans cluster (:func:`kmeans_assignments`),
    then keep the pairs WITHIN clusters whose cosine reaches
    ``EMB_THRESHOLD``. The complement of LSH bucketing: clusters follow
    the data's own density (near-dups co-cluster by construction), and
    per-cluster candidate count is (N/k)² — at scale you raise k with N
    (k ~ N/target_cluster_size) and the train step stays one broadcast
    + one (cid, pos) shuffle per iteration. Exact re-score inside
    buckets, so precision is 1; recall misses only pairs split across
    cluster boundaries."""
    return _cluster_pairs(df, kmeans_assignments(df))


def _cluster_pairs(df: DataFrame, assign: DataFrame) -> DataFrame:
    """(id_a, id_b, cos_sim): pairs of cluster-mates (same ``cid`` in the
    (id, cid) frame ``assign``), id_a < id_b, whose cosine rounded to
    ``PAIR_DECIMALS`` places is >= ``EMB_THRESHOLD``."""
    mates = df.join(assign, VEC_ID)
    left = mates.select(
        "cid", F.col(VEC_ID).alias("id_a"), F.col(EMBEDDING).alias("va")
    )
    right = mates.select(
        "cid", F.col(VEC_ID).alias("id_b"), F.col(EMBEDDING).alias("vb")
    )
    return (
        left.join(right, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            sround(_cosine(F.col("va"), F.col("vb")), PAIR_DECIMALS),
        )
        .filter(F.col("cos_sim") >= EMB_THRESHOLD)
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_dedup_decisions(df: DataFrame) -> DataFrame:
    """The SemDeDup ENDGAME on top of :func:`cluster_bucketed_neardup_pairs`:
    one row per vector with the keep/drop decision. A vector is dropped
    when some LOWER-id cluster-mate scores >= ``EMB_THRESHOLD`` (min-id
    survivor, the same deterministic rule as exact_dedup_groups);
    ``max_lower_cos`` reports the strongest such mate (-1.0 when none
    qualifies).

    The KMeans assignments feed both sides of the pair join and the
    final decision frame. Scale shape is unchanged from the pair search:
    per-cluster (N/k)^2 candidates with k raised alongside N, then an
    (id) groupBy and a left join."""
    assign = kmeans_assignments(df)
    drops = (
        _cluster_pairs(df, assign)
        .groupBy("id_b")
        .agg(F.max("cos_sim").alias("max_lower_cos"))
    )
    return assign.join(
        drops, assign[VEC_ID] == drops["id_b"], "left"
    ).select(
        VEC_ID,
        "cid",
        F.coalesce("max_lower_cos", F.lit(-1.0)).alias("max_lower_cos"),
        F.when(F.col("id_b").isNull(), 1).otherwise(0).alias("keep"),
    )


def dbscan_clusters(
    df: DataFrame,
    tables: list[list[list[float]]],
    threshold: float,
    min_pts: int,
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. KDD'96) over an
    embedding column, with the eps-neighborhood realized as the
    LSH-bucketed cosine near-dup pair graph.

    Semantics (on the candidate graph): a point is **core** when its
    eps-neighborhood — itself plus neighbors with rounded cosine >=
    ``threshold`` — has at least ``min_pts`` members; clusters are the
    connected components of the core-core neighbor graph (labelled by
    min core id); a non-core point adjacent to >= 1 core point is a
    **border** member of its minimum-labelled core neighbor's cluster;
    everything else is **noise** (NULL cluster_id).

    Approximate in exactly the sense of every bucketed pair-finder in
    this module: neighborhoods are computed within deterministic LSH
    candidates (precision 1, recall < 1), and the oracle replays the
    identical buckets — so the check is exact even though the clustering
    is approximate relative to all-pairs DBSCAN.

    Scale shape: the pair search is the bucket equi-join
    (:func:`lsh_bucketed_neardup_pairs` — no cross join), degrees are
    one groupBy on node ids, core/border splits are semi/anti joins,
    and the component loop shuffles only (id, label) pairs with
    loop-invariant frames checkpointed inside
    :func:`~..operators.graph.connected_components`. At 1000 executors
    nothing here materializes more than the candidate pairs, which the
    plane count keeps ~linear in N (see the scale-smoke's
    log2(N)-bucket dial).
    """
    from .graph import connected_components

    # the pair graph feeds degrees, the core-edge subgraph, the border
    # join AND every component iteration — checkpoint it ONCE so the
    # LSH bucket join + re-score never re-executes inside the loop
    # (localCheckpoint over cache: loop lineage must be CUT, not merely
    # cached, or the 20-iteration plan growth dominates; see
    # operators/dedup.py:473 for the ContextCleaner rationale)
    pairs = (
        lsh_bucketed_neardup_pairs(df, tables, threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    und = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    ).select(F.col("id_a").alias("id"), F.col("id_b").alias("nb"))

    deg = und.groupBy("id").agg(F.count("*").alias("n_nb"))
    core = deg.filter(F.col("n_nb") + 1 >= min_pts).select("id")

    core_edges = (
        pairs.join(core.select(F.col("id").alias("id_a")), "id_a", "semi")
        .join(core.select(F.col("id").alias("id_b")), "id_b", "semi")
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    core_lab = connected_components(core, core_edges).select(
        "id", "cluster_id"
    )

    border = (
        und.join(core, "id", "left_anti")
        .join(
            core_lab.select(
                F.col("id").alias("nb"),
                F.col("cluster_id").alias("nb_cluster"),
            ),
            "nb",
        )
        .groupBy("id")
        .agg(F.min("nb_cluster").alias("cluster_id"))
    )
    labeled = core_lab.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    # the pair graph can never label NULL-id / NULL-vector rows (NULL
    # comparisons drop them before any candidate forms), so the noise
    # leg must exclude them too or the --nulls sweep diverges
    all_ids = _indexable(df).select(F.col(VEC_ID).alias("id"))
    noise = all_ids.join(labeled, "id", "left_anti").select(
        "id",
        F.lit(None).cast("bigint").alias("cluster_id"),
        F.lit("noise").alias("role"),
    )
    return labeled.unionByName(noise)
