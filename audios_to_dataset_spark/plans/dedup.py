"""Dedup plans over the documents table, wrapping operators.dedup.

Every oracle reproduces the *identical* algorithm in DuckDB SQL (same md5
seeds, same shingling, same integer arithmetic), so the hashes must match
exactly — these are full differential tests of the dedup operators, not
just row-count smokes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import dedup as D
from ..operators.dedup import (  # noqa: F401 (re-exported)
    BAND_SIZE,
    NGRAM_N,
    NUM_HASHES,
)
from ..operators.similarity import EMB_THRESHOLD
from ._oracle_sql import (
    VECTORS,
    bands,
    capped_shingles,
    cc_labels,
    cosine,
    emb_pairs,
    jaccard_pairs,
    minhash_agree,
    ngrams,
    shingles,
    signature,
    tokens,
)
from ._util import sround, sround_sql

NGRAM_THRESHOLD = 0.2
# Stop-shingle cap: shingles appearing in more docs than this carry no
# dedup signal but dominate the inverted-index join (quadratic in the
# hottest shingle). Exercised by the declared query and mirrored in the
# oracle CTE. At sf0.01 the max doc-frequency is 7, so 5 prunes real rows.
MAX_SHINGLE_FREQ = 5


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by sha256 content hash (min-id survivor)."""
    d = load(spark, sf_dir, "documents")
    return D.exact_dedup_groups(d)


ORACLE_DEDUP_EXACT = """
SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


def q_dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-induced mixture drift — the audit a data team runs BEFORE
    shipping a deduped corpus: exact dedup removes rows unevenly
    across sources (boilerplate-heavy domains lose more), silently
    reweighting the training mixture. Per source: docs before, min-id
    keepers after (the q_dedup_exact rule — GLOBAL dedup, so a source
    keeps a doc only when it holds the minimum id of the duplicate
    group), shares of the corpus before/after, and the share shift.
    Shares divide exact integers, identical IEEE on both engines.
    One hash groupBy + one source groupBy — both map-side combinable;
    the min-id keeper join moves (hash, keep_id) pairs only."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    keepers = (
        d.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("keep_id"))
        .select("keep_id")
    )
    before = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    after = (
        d.join(keepers, d.doc_id == keepers.keep_id, "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_after"))
    )
    tot = before.agg(
        F.sum("n_before").cast("bigint").alias("tb")
    )
    tot_a = after.agg(F.sum("n_after").cast("bigint").alias("ta"))
    share_b = F.col("n_before").cast("double") / F.col("tb").cast("double")
    share_a = F.col("n_after").cast("double") / F.col("ta").cast("double")
    return (
        before.join(after, "source", "left")
        .na.fill({"n_after": 0})
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tot_a))
        .select(
            "source",
            "n_before",
            F.col("n_after").cast("bigint").alias("n_after"),
            sround(share_b, 9).alias("share_before"),
            sround(share_a, 9).alias("share_after"),
            sround(share_a - share_b, 9).alias("share_shift"),
        )
        .orderBy("source")
    )


ORACLE_DEDUP_MIXTURE_SHIFT = """
WITH d AS (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), keep AS (
  SELECT MIN(doc_id) AS keep_id FROM d GROUP BY sha256(text)
), b AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before
  FROM d GROUP BY 1
), a AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after
  FROM d WHERE doc_id IN (SELECT keep_id FROM keep)
  GROUP BY 1
), t AS (
  SELECT CAST(SUM(n_before) AS BIGINT) AS tb FROM b
), ta AS (
  SELECT CAST(SUM(n_after) AS BIGINT) AS ta FROM a
)
SELECT b.source, b.n_before,
       CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
       (round(CAST(b.n_before AS DOUBLE) / CAST(t.tb AS DOUBLE)
              * 1000000000.0) / 1000000000.0) + 0.0 AS share_before,
       (round(CAST(COALESCE(a.n_after, 0) AS DOUBLE)
              / CAST(ta.ta AS DOUBLE)
              * 1000000000.0) / 1000000000.0) + 0.0 AS share_after,
       (round((CAST(COALESCE(a.n_after, 0) AS DOUBLE)
               / CAST(ta.ta AS DOUBLE)
             - CAST(b.n_before AS DOUBLE) / CAST(t.tb AS DOUBLE))
              * 1000000000.0) / 1000000000.0) + 0.0 AS share_shift
FROM b LEFT JOIN a ON b.source = a.source
CROSS JOIN t CROSS JOIN ta
ORDER BY b.source
"""


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs above 0.2, with the
    stop-shingle frequency cap engaged (the scale guard against
    quadratic blowup on hot shingles)."""
    d = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        d,
        threshold=NGRAM_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    )


def _ngram_pairs_sql(threshold: float) -> str:
    return f"""
WITH {jaccard_pairs("documents", threshold)}
SELECT doc_a, doc_b, jaccard FROM jpairs
"""


ORACLE_DEDUP_NGRAM = _ngram_pairs_sql(NGRAM_THRESHOLD)

def q_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-score histogram — the threshold-tuning curve for near
    dedup: every shingle-sharing pair's Jaccard bucketed into 0.1-wide
    bands with counts. Run before committing to a dedup threshold; the
    elbow in this histogram IS the threshold decision. Same capped
    inverted-index plan as q_dedup_ngram (threshold 0 keeps all
    candidate pairs; the stop-shingle cap still bounds the join)."""
    d = load(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, threshold=0.0, max_shingle_freq=MAX_SHINGLE_FREQ
    )
    band = F.floor(F.col("jaccard") * 10).cast("bigint")
    return (
        pairs.groupBy(band.alias("band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("band")
    )


def _oracle_sim_histogram() -> str:
    return f"""
WITH {jaccard_pairs("documents", 0.0)}
SELECT CAST(floor(jaccard * 10) AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM jpairs
GROUP BY band ORDER BY band
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) candidate pairs."""
    d = load(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(D.minhash_signatures(d))


# CTEs toks .. cand(doc_a, doc_b): the MinHash-LSH candidate pairs of
# documents, the oracle chain of minhash_signatures + lsh_candidate_pairs
MINHASH_CTES = f"""toks AS (
  {tokens("documents")}
), sh AS (
  {shingles("toks", NGRAM_N)}
), sig AS (
  {signature("sh")}
), bands AS (
{bands("sig")}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)"""


def _oracle_minhash() -> str:
    return f"""
WITH {MINHASH_CTES}
SELECT doc_a, doc_b FROM cand
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document."""
    d = load(spark, sf_dir, "documents")
    return D.simhash16(d)


def _oracle_simhash() -> str:
    vote_exprs = []
    for i in range(16):
        p = i // 4 + 1
        j = 2 ** (i % 4)
        vote_exprs.append(
            f"list_sum(list_transform(t, tok -> "
            f"CAST(FLOOR((strpos('{D.HEX_DIGITS}', substr(md5(tok), {p}, 1))"
            f" - 1) / {j}) AS BIGINT) % 2)) AS v{i}"
        )
    votes = ",\n         ".join(vote_exprs)
    fp = " + ".join(
        f"(CASE WHEN v{i} * 2 >= n_toks THEN {2**i} ELSE 0 END)"
        for i in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks
  FROM documents
), votes AS (
  SELECT doc_id, n_toks,
         {votes}
  FROM toks
)
SELECT doc_id AS id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


# --- Embedding near-dup -------------------------------------------------
#
# Declared path = the LSH-bucketed scale operator (hyperplane sign
# buckets, candidates from bucket equi-joins, exact re-score). The planes
# are fixed and seeded, so candidate generation is deterministic and the
# DuckDB oracle reproduces the identical bucketing — a full differential
# test of the approximate algorithm, not just of the scorer.
EMB_DIM = 64
LSH_TABLES = 4
LSH_PLANES = 4


def _make_planes(
    n_tables: int = LSH_TABLES,
    n_planes: int = LSH_PLANES,
    dim: int = EMB_DIM,
    seed: int = 7,
) -> list[list[list[float]]]:
    """Seeded Gaussian hyperplanes, rounded to 6 dp so the decimal text
    parses to the identical double in Spark and DuckDB."""
    import random

    rng = random.Random(seed)
    return [
        [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)]
         for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


PLANES = _make_planes()

# Plane family for the k-NN graph build (q_knn_graph / q_ann_recall /
# q_kcore / q_link_predict / q_label_noise): 8 tables, planes-per-table
# AUTO-SCALED from the corpus row count (VERDICT r6 item 2 — the fixed
# 8×5 dial was correct at gate scale but quadratic-by-construction as N
# grew; BENCH r6 measured 56 s fixed vs 13.6 s scaled at sf1). The rule
# is the documented one — planes ≈ log2(N / target_bucket_size) — made
# integer-exact so Spark and DuckDB can never diverge by a ulp:
#
#   m = ceil(N / KNN_TARGET_BUCKET);  P = clamp(bit_length(m - 1), 4, 12)
#
# i.e. the smallest P with 2^P buckets/table holding ≤ TARGET rows each
# on average, floored at 4 (recall floor for tiny corpora) and capped at
# 12 (4096 buckets/table; beyond that, re-seed more tables instead).
# N = 2000 (sf0.1) gives P = 5 — exactly the hand-tuned r5 value — and
# N = 20000 (the ×10 smoke) gives P = 9, the twin that measured 13.6 s.
# All P planes are a PREFIX of one seeded 12-plane family, so both
# engines slice the same vectors (SQL: substr of the 12-bit sign
# string). More tables buys recall, more planes/table bounds bucket
# SIZE (candidate pairs grow with sum(bucket²)); the 4×4 config stays
# for per-query serving probes where per-query cost is one bucket, and
# for the near-dup threshold path whose oracle pins it.
KNN_TABLES = 8
KNN_MIN_PLANES = 4
KNN_MAX_PLANES = 12
KNN_TARGET_BUCKET = 64
KNN_PLANES_FULL = _make_planes(
    n_tables=KNN_TABLES, n_planes=KNN_MAX_PLANES, seed=11
)


def knn_n_planes(n_rows: int) -> int:
    """Planes per table for a corpus of ``n_rows``: the smallest P with
    avg bucket size ≤ KNN_TARGET_BUCKET, clamped to [4, 12]. Integer
    arithmetic only — ``knn_nplanes_sql`` is the DuckDB twin."""
    m = (max(int(n_rows), 0) + KNN_TARGET_BUCKET - 1) // KNN_TARGET_BUCKET
    raw = (m - 1).bit_length() if m > 1 else 0
    return max(KNN_MIN_PLANES, min(KNN_MAX_PLANES, raw))


def knn_planes(n_rows: int) -> list[list[list[float]]]:
    """The first ``knn_n_planes(n_rows)`` planes of each table — the
    prefix-slice the SQL twin mirrors with substr()."""
    p = knn_n_planes(n_rows)
    return [t[:p] for t in KNN_PLANES_FULL]


def knn_nplanes_sql(count_from: str = "embeddings") -> str:
    """DuckDB scalar twin of ``knn_n_planes`` over ``count_from``'s
    row count: bit_length(x) = length(bin(x)) for x >= 1, integer
    division for the ceil — bit-identical to the Python rule."""
    return (
        f"SELECT GREATEST({KNN_MIN_PLANES}, LEAST({KNN_MAX_PLANES}, "
        "CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)) AS p "
        f"FROM (SELECT (count(*) + {KNN_TARGET_BUCKET - 1}) "
        f"// {KNN_TARGET_BUCKET} AS m FROM {count_from})"
    )


# Plane set for the embedding-DEDUP path (q_dedup_embedding + its
# recall gate), distinct from the serving-probe PLANES: a pair at the
# cos >= 0.35 boundary (theta ~ 69.5 deg) collides per plane with
# p ~ 1 - theta/pi ~ 0.61, per 4-plane table with p^4 ~ 0.14 — the 4x4
# serving config tops out near recall 0.46 on boundary pairs (measured
# 0.467 when the r5 gate first ran). 12 tables keeps bucket size bounded
# (4 planes -> 16 buckets/table) while lifting pair recall to
# 1 - (1 - 0.14)^12 ~ 0.84; the gate below pins >= 0.8 so a retune that
# silently drops coverage fails the hash, not just a vibe check.
DEDUP_PLANES = _make_planes(n_tables=12, n_planes=4, seed=13)

# Plane family for the DBSCAN eps-neighborhood graph (q_dbscan):
# per-table prefix IS DEDUP_PLANES (so every gate-scale result, sweep,
# and the 12x4 recall design hold bit-identically wherever
# knn_n_planes(N) == 4), extended with extra planes so the
# planes-per-table can follow the same auto-scale rule the KNN family
# adopted in r6. Round 9's new sf1 bench entry measured the fixed 12x4
# operating point at 152 s at x10 vs ~31 s scaled — the same
# frozen-planes quadratic the KNN family fixed.
#
# Recall tradeoff (deliberate, documented): a boundary pair at
# cos 0.35 collides per plane with p ~ 0.61, so per-table collision is
# p^P and pair recall over 12 tables falls as P grows (P=4 → 0.84,
# P=9 → ~0.13). For THRESHOLD DEDUP that loss is the product — which
# is why q_dedup_embedding keeps the gate-pinned 12x4 point and its
# docstring carries the table-growth recipe (T ~ ln(1-r)/ln(1-p^P))
# for real 100 TB tuning. DBSCAN is density-based: what it needs from
# the graph is neighborhood COUNTS clearing min_pts, and candidate
# recall scales every degree uniformly, so the min_pts dial absorbs
# the operating point; tools/scale_smoke.py pins completion + role
# sanity end-to-end at the scaled point.
_DBSCAN_EXTRA = _make_planes(
    n_tables=12, n_planes=KNN_MAX_PLANES - 4, seed=17
)
DBSCAN_PLANES_FULL = [
    DEDUP_PLANES[t] + _DBSCAN_EXTRA[t] for t in range(12)
]


def dbscan_planes(n_rows: int) -> list[list[list[float]]]:
    """First knn_n_planes(n_rows) planes of each DBSCAN table — the
    prefix slice the oracle mirrors with substr()."""
    p = knn_n_planes(n_rows)
    return [t[:p] for t in DBSCAN_PLANES_FULL]


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the LSH-bucketed scale path:
    candidates only from hyperplane-sign buckets (equi-join shuffle, no
    cross join), exact rounded re-score, threshold on the rounded value.
    Uses DEDUP_PLANES (12x4): pair-finding needs recall on BOTH sides of
    a pair, so it takes more tables than the per-query serving probes
    (see q_dedup_embedding_recall, the gate that keeps this honest).

    100 TB tuning recipe (why this plan does NOT auto-scale planes the
    way q_knn_graph/q_dbscan do): for threshold dedup, candidate recall
    IS the product — every missed pair is a missed duplicate. Bounding
    bucket size at scale means more planes per table (P up), and
    holding recall r then means more tables: with per-plane collision
    p ~ 1 - theta/pi (=0.61 at cos 0.35), T = ln(1-r) / ln(1-p^P) —
    e.g. P=5 → T=19, P=6 → T=31 for r=0.84. That linear-in-T cost is
    LSH's real price (the rho exponent), paid deliberately instead of
    silently shedding recall; the recall gate pins whatever operating
    point ships."""
    from ..operators import similarity as S

    em = load(spark, sf_dir, "embeddings")
    return S.lsh_bucketed_neardup_pairs(
        em, DEDUP_PLANES, threshold=EMB_THRESHOLD
    )


def _oracle_dedup_embedding() -> str:
    return f"""
WITH {emb_pairs(DEDUP_PLANES, len(DEDUP_PLANES[0]))}
SELECT id_a, id_b, cos_sim FROM pairs
"""


def q_dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute-force exact baseline (the
    recall yardstick for the LSH path; O(N²) — never the scale path)."""
    from ..operators import similarity as S

    em = load(spark, sf_dir, "embeddings")
    return S.cosine_neardup_pairs(em, threshold=EMB_THRESHOLD)


_EXACT_COS = cosine("a.e", "b.e", 4)

ORACLE_DEDUP_EMBEDDING_EXACT = f"""
WITH {VECTORS}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_EXACT_COS} AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_EXACT_COS} >= {EMB_THRESHOLD}
"""


EMB_RECALL_GATE = 0.8

# The recall gate's exact side is O(N²); cap its input with a
# deterministic stride sample (vec_id % ceil(N / cap) = 0) so the gate
# stays a fixed-cost health check at any sf (ADVICE r5). At the sf dirs
# in testdata (≤2000 vectors) the stride is 1 — full corpus, unchanged
# results; at 100 TB the recall estimate is a ratio of counts and stays
# unbiased under the uniform stride.
EMB_RECALL_MAX_N = 5000


def q_dedup_embedding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the DECLARED embedding-dedup path (VERDICT r4
    item 7): q_dedup_embedding's LSH-bucketed pair set against
    q_dedup_embedding_exact's brute-force pair set at the same rounded
    threshold, with a pass flag at recall ≥ ``EMB_RECALL_GATE`` (0.8).
    The LSH path re-scores candidates exactly, so found ⊆ exact and
    recall is a pure candidate-coverage measure — the number this gate
    exists to watch when someone retunes PLANES.

    Scale shape: the exact side is O(N²) and stays gate-only — the
    query ENFORCES that with a deterministic stride sample capping the
    gate's input at ~``EMB_RECALL_MAX_N`` (5000) vectors
    (``vec_id % ceil(N / EMB_RECALL_MAX_N) = 0``, identical on the
    oracle side), so running it against a large sf dir costs O(cap²),
    not O(N²); the recall estimate is a ratio of counts, unbiased under
    the uniform stride. The production pair set is the LSH side alone.
    """
    from ..operators import similarity as S

    em = load(spark, sf_dir, "embeddings")
    stride = em.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(
                F.count(F.lit(1)) / F.lit(float(EMB_RECALL_MAX_N))
            ).cast("bigint"),
        ).alias("_stride")
    )
    em = (
        em.crossJoin(F.broadcast(stride))
        .filter(F.col("vec_id") % F.col("_stride") == 0)
        .drop("_stride")
    )
    exact = S.cosine_neardup_pairs(em, threshold=EMB_THRESHOLD).select(
        "id_a", "id_b"
    )
    lsh = S.lsh_bucketed_neardup_pairs(
        em, DEDUP_PLANES, threshold=EMB_THRESHOLD
    ).select("id_a", "id_b")
    found = exact.join(lsh, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_found = found.agg(F.count(F.lit(1)).cast("bigint").alias("n_found"))
    # empty exact set (tiny/empty input): recall is vacuously perfect —
    # guard the division (ANSI mode throws DIVIDE_BY_ZERO; found by the
    # empty-table sweep) and pass the gate
    recall = F.when(
        F.col("n_exact") > 0,
        F.col("n_found").cast("double") / F.col("n_exact").cast("double"),
    ).otherwise(F.lit(1.0))
    return (
        n_exact.crossJoin(F.broadcast(n_found))
        .select(
            "n_exact",
            "n_found",
            recall.alias("recall"),
            (recall >= EMB_RECALL_GATE).alias("gate_pass"),
        )
    )


def _oracle_dedup_embedding_recall() -> str:
    # Mirror the engine's deterministic stride cap: both inner pair
    # queries read the sampled emb_s instead of the full table.
    sampled = "FROM emb_s"
    exact = ORACLE_DEDUP_EMBEDDING_EXACT.strip().replace(
        "FROM embeddings", sampled
    )
    lsh = _oracle_dedup_embedding().strip().replace(
        "FROM embeddings", sampled
    )
    return f"""
WITH emb_s AS (
  SELECT * FROM embeddings
  WHERE vec_id % (SELECT GREATEST(1, CAST(CEIL(COUNT(*)
                    / {float(EMB_RECALL_MAX_N)}) AS BIGINT))
                  FROM embeddings) = 0
), exact AS (
{exact}
), lsh AS (
{lsh}
), found AS (
  SELECT exact.id_a, exact.id_b FROM exact
  WHERE EXISTS (SELECT 1 FROM lsh
                WHERE lsh.id_a = exact.id_a AND lsh.id_b = exact.id_b)
)
SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
       (SELECT COUNT(*) FROM found) AS n_found,
       CASE WHEN (SELECT COUNT(*) FROM exact) > 0
            THEN CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
            ELSE 1.0 END AS recall,
       CASE WHEN (SELECT COUNT(*) FROM exact) > 0
            THEN CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE)
            ELSE 1.0 END >= {EMB_RECALL_GATE} AS gate_pass
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via the nibble-pigeonhole
    bucketed join — no CartesianProduct anywhere in the plan. The oracle
    stays the all-pairs formulation: the pigeonhole guarantees recall 1,
    so agreeing with the exhaustive scan *proves* the bucketing correct."""
    fp = D.simhash16(load(spark, sf_dir, "documents"))
    return D.simhash_neardup_pairs(fp)


def _oracle_simhash_pairs() -> str:
    inner = _oracle_simhash().strip()
    return f"""
WITH fp AS (
{inner}
)
SELECT a.id AS doc_a, b.id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""



# Contamination check: the synthetic "eval set" is every 10th document
# with its first token dropped — near-dup of its source, never identical.
CONTAM_MOD = 10
CONTAM_PICK = 3
CONTAM_OFFSET = 1_000_000


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination detection: MinHash-LSH candidates ACROSS
    two corpora (training docs × perturbed eval docs). Cross-corpus
    banding is the same equi-join discipline as self-dedup — one shuffle
    per side, no cross product — so checking a 100 TB corpus against an
    eval suite costs one LSH pass, not N×M comparisons."""
    d = load(spark, sf_dir, "documents")
    evalset = d.filter(
        F.col("doc_id") % CONTAM_MOD == CONTAM_PICK
    ).select(
        (F.col("doc_id") + CONTAM_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 2, 1_000_000), " "
        ).alias("text"),
    )
    pairs = D.cross_lsh_candidates(
        D.minhash_signatures(d),
        D.minhash_signatures(evalset),
    )
    return pairs.select(
        F.col("doc_a").alias("train_id"), F.col("doc_b").alias("eval_id")
    )


DECON_N = 3        # token n-gram length (13 at production text lengths;
                   # 3 at the short synthetic texts so overlap is nonempty)
DECON_MOD = 41     # doc_id % 41 == 0 -> the stand-in benchmark/eval set


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram decontamination — the GPT-3/Llama-style counterpart
    to q_contamination's probabilistic MinHash pass: a training doc is
    flagged when it shares ANY exact token ``DECON_N``-gram (3) with any
    benchmark doc, reporting the distinct-overlapping-gram count. The
    benchmark side is docs with doc_id % ``DECON_MOD`` (41) == 0 (a
    stand-in eval suite).

    Scale shape: the benchmark side of the join is the distinct shingle
    set of the EVAL suite — small by nature (benchmarks are MBs while
    the corpus is TBs) — so it broadcasts, and the 100 TB training side
    is one shingle projection + map-side hash join + per-doc groupBy:
    no shuffle of the corpus at all. Same zip_with shingle kernel as
    the dedup family (operators/dedup.shingles).
    """
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d, n=DECON_N)
    bench = (
        sh.filter(F.col("id") % DECON_MOD == 0)
        .select("shingle")
        .distinct()
    )
    train = sh.filter(F.col("id") % DECON_MOD != 0)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .select(F.col("id").cast("bigint").alias("doc_id"), "n_shared")
    )


def _oracle_decontaminate() -> str:
    return f"""
WITH toks AS (
  {tokens("documents")}
), sh AS (
  {shingles("toks", DECON_N)}
), bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_MOD} = 0
)
SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM sh JOIN bench ON sh.s = bench.s
WHERE sh.doc_id % {DECON_MOD} <> 0
GROUP BY sh.doc_id
"""


def _oracle_contamination() -> str:
    return f"""
WITH toksA AS (
  {tokens("documents")}
), toksB AS (
  SELECT doc_id + {CONTAM_OFFSET} AS doc_id,
         list_slice(string_split(lower(text), ' '), 2,
                    len(string_split(lower(text), ' '))) AS t
  FROM documents WHERE doc_id % {CONTAM_MOD} = {CONTAM_PICK}
), shA AS (
  {shingles("toksA", NGRAM_N)}
), shB AS (
  {shingles("toksB", NGRAM_N)}
), sigA AS (
  {signature("shA")}
), sigB AS (
  {signature("shB")}
), bandsA AS (
{bands("sigA")}
), bandsB AS (
{bands("sigB")}
)
SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
FROM bandsA a
JOIN bandsB b ON a.band = b.band AND a.band_key = b.band_key
"""


def q_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based similarity estimation: for every LSH candidate pair,
    estimate Jaccard as the fraction of agreeing MinHash components —
    the cheap O(k) scorer a dedup pipeline uses before (or instead of)
    exact shingle intersection. Joins the two signature rows per
    candidate pair; no shingle data moves."""
    sigs = D.minhash_signatures(load(spark, sf_dir, "documents"))
    est = F.col("agree").cast("double") / float(NUM_HASHES)
    return D.minhash_agreement(
        D.lsh_candidate_pairs(sigs), sigs, sigs
    ).select("doc_a", "doc_b", est.alias("jaccard_est"))


def _oracle_minhash_jaccard() -> str:
    return f"""
WITH {MINHASH_CTES}
SELECT cand.doc_a, cand.doc_b,
       CAST(({minhash_agree("sa", "sb")}) AS DOUBLE)
         / {float(NUM_HASHES)!r} AS jaccard_est
FROM cand
JOIN sig sa ON sa.doc_id = cand.doc_a
JOIN sig sb ON sb.doc_id = cand.doc_b
"""


CONTAIN_THRESHOLD = 0.6


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| — the measure
    that catches a document quoted wholesale inside a larger one, which
    symmetric Jaccard dilutes below threshold. Same capped inverted-
    index join as q_dedup_ngram; the division just normalizes by the
    CONTAINED side's shingle count. Emits (inner, outer) pairs where
    the smaller doc's shingles are ≥ 60% covered by the other."""
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d, n=NGRAM_N)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
    sh = sh.join(
        freq.filter(F.col("f") <= MAX_SHINGLE_FREQ).select("shingle"),
        "shingle",
    )
    cnt = sh.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a = sh.select(F.col("id").alias("doc_a"), "shingle")
    b = sh.select(F.col("id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    ca = cnt.select(F.col("id").alias("doc_a"), F.col("n_sh").alias("na"))
    containment = F.col("common").cast("double") / F.col("na").cast(
        "double"
    )
    return (
        common.join(ca, "doc_a")
        .select(
            F.col("doc_a").alias("inner_doc"),
            F.col("doc_b").alias("outer_doc"),
            sround(containment, 4).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
        .orderBy("inner_doc", "outer_doc")
    )


def _oracle_containment() -> str:
    ratio = "CAST(common AS DOUBLE) / CAST(ca.n AS DOUBLE)"
    return f"""
WITH {capped_shingles("documents")}, pairs AS (
  SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT inner_doc, outer_doc, {sround_sql(ratio, 4)} AS containment
FROM pairs JOIN cnt ca ON ca.doc_id = inner_doc
WHERE {sround_sql(ratio, 4)} >= {CONTAIN_THRESHOLD}
ORDER BY inner_doc, outer_doc
"""


def q_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE next to the EXACT shingle Jaccard and the absolute
    error — the audit that tells you whether 16 hashes are enough
    before you trust the sketch at 100 TB. The exact intersection is
    computed ONLY for candidate pairs (the shingle self-join is
    restricted by an equi-join onto the candidate set first), so the
    expensive part stays proportional to candidates, not all pairs."""
    d = load(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(d)
    pairs = D.lsh_candidate_pairs(sigs)
    sh = D.shingles(d, n=NGRAM_N)
    a = sh.select(F.col("id").alias("doc_a"), "shingle")
    b = sh.select(F.col("id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(pairs, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    cnt = sh.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    ca = cnt.select(F.col("id").alias("doc_a"), F.col("n_sh").alias("na"))
    cb = cnt.select(F.col("id").alias("doc_b"), F.col("n_sh").alias("nb"))
    est = F.col("agree").cast("double") / float(NUM_HASHES)
    exact = F.coalesce(F.col("common"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("common"), F.lit(0))
    ).cast("double")
    return (
        D.minhash_agreement(pairs, sigs, sigs)
        .join(common, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("jaccard_est"),
            sround(exact, 4).alias("jaccard_exact"),
            sround(F.abs(est - exact), 4).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _oracle_minhash_error() -> str:
    est = (
        f"CAST(({minhash_agree('sa', 'sb')}) AS DOUBLE)"
        f" / {float(NUM_HASHES)!r}"
    )
    exact = (
        "CAST(COALESCE(common, 0) AS DOUBLE)"
        " / CAST(ca.n + cb.n - COALESCE(common, 0) AS DOUBLE)"
    )
    return f"""
WITH {MINHASH_CTES}, cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
  GROUP BY 1, 2
)
SELECT cand.doc_a, cand.doc_b,
       {est} AS jaccard_est,
       {sround_sql(exact, 4)} AS jaccard_exact,
       {sround_sql(f"abs(({est}) - ({exact}))", 4)} AS abs_err
FROM cand
LEFT JOIN inter ON inter.doc_a = cand.doc_a AND inter.doc_b = cand.doc_b
JOIN cnt ca ON ca.doc_id = cand.doc_a
JOIN cnt cb ON cb.doc_id = cand.doc_b
JOIN sig sa ON sa.doc_id = cand.doc_a
JOIN sig sb ON sb.doc_id = cand.doc_b
ORDER BY cand.doc_a, cand.doc_b
"""


ENTITY_THRESHOLD = 0.4


def _entity_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """(na, nb, jaccard): distinct part-name pairs na < nb whose
    character-trigram Jaccard, rounded to 6 places, is at least
    ``threshold``.

    Same inverted-index shape as document dedup, one granularity down:
    distinct names → distinct char-3-grams → gram equi-join →
    integer intersection counts → one final double division, thresholded
    on the rounded score. Scale: the gram join shuffles (gram, name)
    pairs; names are bounded-length so per-name gram count is O(len).
    """
    p = load(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    base = names.select("name")  # projected column → no HOF re-eval
    grams = base.select(
        "name",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("name") - 2),
                    lambda i: F.col("name").substr(i, F.lit(3)),
                )
            )
        ).alias("gram"),
    )
    sz = grams.groupBy("name").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    a = grams.select(F.col("name").alias("na"), "gram")
    b = grams.select(F.col("name").alias("nb"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("na") < F.col("nb"))
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sz.select(F.col("name").alias("na"), F.col("sz").alias("sa"))
    sb = sz.select(F.col("name").alias("nb"), F.col("sz").alias("sb"))
    jac = F.col("inter").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sa, "na")
        .join(sb, "nb")
        .select("na", "nb", sround(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _entity_pairs_sql(threshold: float) -> str:
    """CTEs n .. cand(na, nb, jaccard): the oracle of ``_entity_pairs``."""
    jac = "CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)"
    return f"""n AS (SELECT DISTINCT p_name AS name FROM part),
g AS (SELECT name,
             unnest(list_distinct(list_transform(
               range(1, length(name) - 1), i -> substr(name, i, 3))))
               AS gram
      FROM n),
sz AS (SELECT name, CAST(COUNT(*) AS BIGINT) AS sz FROM g GROUP BY name),
inter AS (SELECT a.name AS na, b.name AS nb,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM g a JOIN g b ON a.gram = b.gram AND a.name < b.name
          GROUP BY a.name, b.name),
scored AS (SELECT na, nb, {sround_sql(jac, 6)} AS jaccard
           FROM inter
           JOIN sz sa ON sa.name = na
           JOIN sz sb ON sb.name = nb),
cand AS (SELECT * FROM scored WHERE jaccard >= {threshold})"""


def q_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: candidate duplicate part names by CHARACTER
    trigram Jaccard ≥ 0.4 — the fuzzy-matching pass that catches
    typo-level variants word-shingle dedup misses (short strings have
    no word n-grams to share)."""
    return _entity_pairs(spark, sf_dir, ENTITY_THRESHOLD).orderBy("na", "nb")


ORACLE_ENTITY_MATCH = f"""
WITH {_entity_pairs_sql(ENTITY_THRESHOLD)}
SELECT na, nb, jaccard FROM cand ORDER BY na, nb
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — "which crawl dumps overlap":
    MinHash-LSH candidate near-dup pairs rolled up to unordered
    source-pair counts. This is the report that decides which source to
    drop when two dumps substantially overlap. Reuses the exact LSH
    banding of q_dedup_minhash_lsh (map-side signatures, band
    equi-join), then two slim doc_id→source joins and a small agg."""
    d = load(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(d))
    src = d.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "source_a", "source_b")
    )


def _oracle_source_overlap() -> str:
    return f"""
WITH pairs AS ({_oracle_minhash()}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(a.source, b.source) AS source_a,
       greatest(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs
JOIN src a ON a.doc_id = doc_a
JOIN src b ON b.doc_id = doc_b
GROUP BY source_a, source_b
ORDER BY n_pairs DESC, source_a, source_b
"""


EDIT_MAX = 3
CAND_THRESHOLD = 0.2


def q_entity_match_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage entity resolution — the block-then-verify pattern every
    production matcher uses: the cheap trigram-Jaccard inverted index
    BLOCKS (candidates at a permissive 0.2), then exact Levenshtein
    VERIFIES (edit distance ≤ 3), so the expensive O(len²) DP runs only
    on the candidate set, never all pairs. Both stages JVM-side;
    ``levenshtein`` is built into both engines with identical classic-DP
    semantics."""
    return (
        _entity_pairs(spark, sf_dir, CAND_THRESHOLD)
        .withColumn(
            "edit_dist",
            F.levenshtein("na", "nb").cast("bigint"),
        )
        .filter(F.col("edit_dist") <= EDIT_MAX)
        .orderBy("na", "nb")
    )


ORACLE_ENTITY_MATCH_VERIFIED = f"""
WITH {_entity_pairs_sql(CAND_THRESHOLD)}
SELECT na, nb, jaccard,
       CAST(levenshtein(na, nb) AS BIGINT) AS edit_dist
FROM cand WHERE levenshtein(na, nb) <= {EDIT_MAX}
ORDER BY na, nb
"""


DUPSPAN_N = 8


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span LOCALIZATION — the position-level diagnostic
    behind substring-level dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public literature):
    for each document, how many of its 8-token spans also occur in
    ANOTHER document, and the first/last such token position. Doc-level
    dedup (q_dedup_exact/q_dedup_minhash_lsh) decides keep-or-drop;
    this says WHERE to cut when the right fix is excising the quoted
    span and keeping the document.

    Plan: positional span explode (one row per token position — linear
    in corpus tokens), span groupBy for the cross-doc count (shuffle on
    span text, uniform), equi-join of the shared-span set back, per-doc
    agg. No windows, no pair explosion — a span shared by k docs costs
    k rows, not k² pairs."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    )
    spans = (
        d.filter(F.size("t") >= DUPSPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (DUPSPAN_N - 1))
            ).alias("pos"),
            "t",
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.array_join(
                F.slice("t", F.col("pos"), DUPSPAN_N), " "
            ).alias("span"),
        )
    )
    shared = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span")
    )
    return (
        spans.join(shared, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_spans"),
            F.min("pos").cast("bigint").alias("first_pos"),
            F.max("pos").cast("bigint").alias("last_pos"),
        )
    )


ORACLE_DUP_SPANS = f"""
WITH tt AS (SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents),
spans AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(t[i : i + {DUPSPAN_N - 1}], ' ') AS span
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {DUPSPAN_N - 1} + 1))
               AS i
        FROM tt WHERE len(t) >= {DUPSPAN_N}) u),
shared AS (SELECT span FROM spans GROUP BY span
           HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_spans,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CAST(MAX(pos) AS BIGINT) AS last_pos
FROM spans JOIN shared USING (span)
GROUP BY doc_id
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty per document: the share of each doc's
    distinct word-3-grams whose FIRST corpus occurrence (min doc_id) is
    this document — the corpus-staleness diagnostic: a crawl that keeps
    re-collecting old content shows novelty sliding toward 0 across
    ingestion order. Complements q_dup_spans (where duplication sits
    inside a doc) with WHEN content first appeared.

    Plan: one shingle explode + distinct, a min-id groupBy on the
    shingle text (uniform shuffle), an equi-join back, a per-doc agg —
    linear in corpus shingles, no pair joins anywhere."""
    d = load(spark, sf_dir, "documents")
    sh = D.shingles(d, n=NGRAM_N)
    first = sh.groupBy("shingle").agg(F.min("id").alias("first_id"))
    return (
        sh.join(first, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_id") == F.col("id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            F.col("id").cast("bigint").alias("doc_id"),
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH toks AS (
  {tokens("documents")}
), sh AS (
  {shingles("toks", NGRAM_N)}
), first AS (
  SELECT s, MIN(doc_id) AS first_id FROM sh GROUP BY s
)
SELECT CAST(sh.doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first_id = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN first_id = sh.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM sh JOIN first USING (s)
GROUP BY sh.doc_id
"""


CDC_W = 4  # rolling fingerprint window (chars)
CDC_D = 64  # boundary divisor → ~64-char expected chunk length


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rolling-fingerprint boundary rule
    of LBFS, Muthitacharoen et al. 2001, public literature — the
    storage-dedup primitive under restic/borg/rsync): a chunk boundary
    falls wherever the fingerprint of the trailing 4-char window ≡ 0
    mod 64, so insertions shift boundaries only locally — unlike fixed
    -stride chunking (q_text_chunks) where one inserted byte re-chunks
    the whole tail. Reports per document its chunk count and how many
    of its chunks (by md5) also occur in ANOTHER document — the
    cross-doc chunk-dedup signal.

    Plan: one positional explode (row per char — linear), a boundary
    filter inside codegen, per-doc boundary collect (bounded by doc
    length), a segment explode, and a chunk-hash groupBy (shuffle on
    md5 — uniform). No windows, no pair joins: a chunk shared by k docs
    costs k rows."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("s")
    )
    win = F.col("s").substr(
        (F.col("i") - (CDC_W - 1)).cast("int"), F.lit(CDC_W)
    )
    h = F.conv(F.substring(F.md5(win), 1, 8), 16, 10).cast("bigint")
    cuts = (
        d.select(
            "doc_id",
            "s",
            F.explode(
                F.sequence(F.lit(CDC_W), F.length("s"))
            ).alias("i"),
        )
        .filter(h % CDC_D == 0)
        .select("doc_id", F.col("i").cast("bigint").alias("i"))
    )
    bounds = cuts.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("i")).alias("cutpos")
    )
    docs2 = d.join(bounds, "doc_id", "left").select(
        "doc_id",
        "s",
        F.coalesce(
            F.col("cutpos"), F.array().cast("array<bigint>")
        ).alias("cutpos"),
    )
    starts = F.concat(
        F.array(F.lit(0).cast("bigint")), F.col("cutpos")
    )
    ends = F.concat(
        F.col("cutpos"), F.array(F.length("s").cast("bigint"))
    )
    seg = docs2.select(
        "doc_id",
        starts.alias("starts"),
        ends.alias("ends"),
        "s",
    ).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("starts")),
                lambda j: F.col("s").substr(
                    (F.element_at(F.col("starts"), j) + 1).cast("int"),
                    (
                        F.element_at(F.col("ends"), j)
                        - F.element_at(F.col("starts"), j)
                    ).cast("int"),
                ),
            )
        ).alias("chunk"),
    )
    ch = seg.filter(F.col("chunk") != "").select(
        "doc_id", F.md5("chunk").alias("h")
    )
    shared = (
        ch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_sh"))
    )
    return (
        ch.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_sh"), F.lit(0)))
            .cast("bigint")
            .alias("n_shared_chunks"),
        )
    )


ORACLE_CDC_CHUNKS = f"""
WITH d AS (SELECT doc_id, lower(text) AS s FROM documents),
cuts AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i
  FROM (SELECT doc_id, s, unnest(range({CDC_W}, length(s) + 1)) AS i
        FROM d) u
  WHERE (('0x' || substr(md5(substring(s, CAST(i AS BIGINT) - {CDC_W - 1},
                                       {CDC_W})), 1, 8))::BIGINT)
        % {CDC_D} = 0),
bounds AS (SELECT doc_id, list_sort(list(i)) AS cutpos
           FROM cuts GROUP BY doc_id),
docs2 AS (
  SELECT d.doc_id, d.s, COALESCE(b.cutpos, []) AS cutpos
  FROM d LEFT JOIN bounds b USING (doc_id)),
seg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(starts) + 1),
           j -> substring(s, starts[j] + 1, ends[j] - starts[j]))) AS chunk
  FROM (SELECT doc_id, s, list_concat([0], cutpos) AS starts,
               list_concat(cutpos, [length(s)]) AS ends
        FROM docs2) t),
ch AS (SELECT doc_id, md5(chunk) AS h FROM seg WHERE chunk <> ''),
shared AS (SELECT h, 1 AS is_sh FROM ch GROUP BY h
           HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT ch.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(COALESCE(shared.is_sh, 0)) AS BIGINT) AS n_shared_chunks
FROM ch LEFT JOIN shared USING (h)
GROUP BY ch.doc_id
"""


SPARSE_MAX_DF = 5
SPARSE_THRESHOLD = 0.3


def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector cosine similarity join over word-3-gram TERM
    FREQUENCIES — the weighted twin of q_dedup_ngram's set Jaccard
    (Bayardo et al. 2007's all-pairs design, prefix filter collapsed to
    the df<=5 stop-term cap): df-capped inverted-index candidates, then
    an exact integer dot product over the full postings of candidate
    pairs only. Repeated boilerplate counts here where Jaccard sees one
    set member."""
    d = load(spark, sf_dir, "documents")
    return D.sparse_cosine_pairs(
        d,
        threshold=SPARSE_THRESHOLD,
        max_df=SPARSE_MAX_DF,
    )


_SPARSE_COS = "CAST(dot AS DOUBLE) / (na.nrm * nb.nrm)"

ORACLE_SPARSE_COSINE = f"""
WITH toks AS (
  {tokens("documents")}
), gr AS (
  SELECT doc_id, {ngrams(NGRAM_N)} AS g FROM toks
), tf AS (
  SELECT doc_id AS id, g, CAST(COUNT(*) AS BIGINT) AS tf
  FROM gr GROUP BY id, g
), nrm AS (
  SELECT id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm FROM tf GROUP BY id
), rare AS (
  SELECT tf.id, tf.g FROM tf JOIN (
    SELECT g FROM tf GROUP BY g HAVING COUNT(*) <= {SPARSE_MAX_DF}) keep
    ON tf.g = keep.g
), cand AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM rare a JOIN rare b ON a.g = b.g AND a.id < b.id
), dots AS (
  SELECT doc_a, doc_b, CAST(SUM(ta.tf * tb.tf) AS BIGINT) AS dot
  FROM cand JOIN tf ta ON ta.id = doc_a
            JOIN tf tb ON tb.id = doc_b AND tb.g = ta.g
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, dot,
       {sround_sql(_SPARSE_COS, 4)} AS cos_sim
FROM dots JOIN nrm na ON na.id = doc_a JOIN nrm nb ON nb.id = doc_b
WHERE {sround_sql(_SPARSE_COS, 4)} >= {SPARSE_THRESHOLD}
"""


def q_lsh_recall_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH S-curve — the text twin of q_ann_recall: for each
    0.1-wide exact-Jaccard band, the fraction of shingle-sharing pairs
    the MinHash(16)/LSH(4x4) banding actually surfaces as candidates.
    This is the measured version of the 1-(1-s^r)^b collision curve the
    band/row choice is designed around; run it before trusting an LSH
    threshold at a new corpus. Ground truth is the capped inverted-index
    pair set (threshold 0 keeps every candidate pair), so both sides
    share the stop-shingle cap caveat."""
    d = load(spark, sf_dir, "documents")
    ex = D.ngram_jaccard_pairs(
        d, threshold=0.0, max_shingle_freq=MAX_SHINGLE_FREQ
    )
    cand = D.lsh_candidate_pairs(
        D.minhash_signatures(d)
    ).withColumn("_hit", F.lit(1))
    return (
        ex.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(
            F.floor(F.col("jaccard") * 10.0).cast("int").alias("band")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_caught"),
            (
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                / F.count("*").cast("double")
            ).alias("recall"),
        )
    )


def _oracle_lsh_recall_text() -> str:
    return f"""
WITH ex AS (SELECT * FROM ({_ngram_pairs_sql(0.0)}) e),
cand AS (SELECT * FROM ({_oracle_minhash()}) c)
SELECT CAST(floor(jaccard * 10.0) AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_caught,
       CAST(SUM(CASE WHEN cand.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM ex LEFT JOIN cand USING (doc_a, doc_b)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Train/val/test split leakage audit
# ---------------------------------------------------------------------------

SPLIT_MOD = 10
SPLIT_TRAIN_LT = 8  # buckets 0-7 train, 8 val, 9 test


def _split_bucket(col):
    """Deterministic 0..9 split bucket from the first 4 md5 hex chars of
    the id string — the same formula DuckDB replays with
    ('0x' || substr(md5(...), 1, 4))::INT % 10."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10)
        .cast("long") % SPLIT_MOD
    )


def _split_label(bucket):
    return (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket == SPLIT_TRAIN_LT, "val")
        .otherwise("test")
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split LEAKAGE audit — the step between dedup and
    training that naive pipelines skip: hash-splitting individual items
    puts near-duplicate pairs on both sides of the split (val contamination).
    Compares two split policies over the embedding near-dup graph
    (DEDUP_PLANES LSH pairs, the q_dedup_embedding path):

      * naive  — split by md5(vec_id): leaks every pair whose members
        hash apart (~1 - 1/SPLIT_MOD-ish of near-dup pairs);
      * group  — split by md5(connected-component representative):
        provably zero crossing pairs, because a whole near-dup cluster
        moves together.

    Returns one row per method: crossing pair count + split sizes. At
    100 TB this is the LSH pair shuffle + the iterative CC (both already
    scale-shaped) + one broadcast-size aggregate; no new scale risk."""
    from ..operators import similarity as S
    from ..operators.graph import connected_components

    em = load(spark, sf_dir, "embeddings")
    pairs = S.lsh_bucketed_neardup_pairs(
        em, DEDUP_PLANES, threshold=EMB_THRESHOLD
    ).select("id_a", "id_b")
    # membership = every identifiable vector (vectors with NULL/zero
    # embeddings can't pair but still need a split assignment)
    ids = em.filter(F.col("vec_id").isNotNull()).select(
        F.col("vec_id").alias("id")
    )
    cc = connected_components(ids, pairs, src="id_a", dst="id_b")
    m = cc.select(
        "id",
        _split_label(_split_bucket(F.col("id"))).alias("naive_s"),
        _split_label(_split_bucket(F.col("cluster_id"))).alias("group_s"),
    )
    counts = m.agg(
        *[
            F.sum(F.when(F.col(c) == lab, 1).otherwise(0)).alias(
                f"{pre}_{lab}"
            )
            for c, pre in (("naive_s", "naive"), ("group_s", "group"))
            for lab in ("train", "val", "test")
        ]
    )
    pj = (
        pairs.join(
            m.select(
                F.col("id").alias("id_a"),
                F.col("naive_s").alias("na"),
                F.col("group_s").alias("ga"),
            ),
            "id_a",
        )
        .join(
            m.select(
                F.col("id").alias("id_b"),
                F.col("naive_s").alias("nb"),
                F.col("group_s").alias("gb"),
            ),
            "id_b",
        )
    )
    cross = pj.agg(
        F.coalesce(
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0)),
            F.lit(0),
        ).alias("naive_cross"),
        F.coalesce(
            F.sum(F.when(F.col("ga") != F.col("gb"), 1).otherwise(0)),
            F.lit(0),
        ).alias("group_cross"),
    )
    one = counts.crossJoin(cross)  # two 1-row frames
    out = []
    for pre in ("naive", "group"):
        out.append(
            one.select(
                F.lit(pre).alias("method"),
                F.col(f"{pre}_cross").cast("long").alias("crossing_pairs"),
                F.col(f"{pre}_train").cast("long").alias("n_train"),
                F.col(f"{pre}_val").cast("long").alias("n_val"),
                F.col(f"{pre}_test").cast("long").alias("n_test"),
            )
        )
    return out[0].unionByName(out[1])


def _oracle_split_leakage() -> str:
    return f"""
WITH RECURSIVE {emb_pairs(DEDUP_PLANES, len(DEDUP_PLANES[0]))},
{cc_labels("SELECT vec_id AS id FROM embeddings WHERE vec_id IS NOT NULL",
           "SELECT id_a AS a, id_b AS b FROM pairs")}, m AS (
  SELECT id,
    CASE WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4))::INT
              % {SPLIT_MOD} < {SPLIT_TRAIN_LT} THEN 'train'
         WHEN ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4))::INT
              % {SPLIT_MOD} = {SPLIT_TRAIN_LT} THEN 'val'
         ELSE 'test' END AS naive_s,
    CASE WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::INT
              % {SPLIT_MOD} < {SPLIT_TRAIN_LT} THEN 'train'
         WHEN ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::INT
              % {SPLIT_MOD} = {SPLIT_TRAIN_LT} THEN 'val'
         ELSE 'test' END AS group_s
  FROM cc
), pj AS (
  SELECT a.naive_s AS na, b.naive_s AS nb, a.group_s AS ga,
         b.group_s AS gb
  FROM cc_pairs p JOIN m a ON a.id = p.a JOIN m b ON b.id = p.b
), agg AS (
  SELECT
    (SELECT COALESCE(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END), 0)
     FROM pj) AS naive_cross,
    (SELECT COALESCE(SUM(CASE WHEN ga <> gb THEN 1 ELSE 0 END), 0)
     FROM pj) AS group_cross,
    SUM(CASE WHEN naive_s = 'train' THEN 1 ELSE 0 END) AS naive_train,
    SUM(CASE WHEN naive_s = 'val' THEN 1 ELSE 0 END) AS naive_val,
    SUM(CASE WHEN naive_s = 'test' THEN 1 ELSE 0 END) AS naive_test,
    SUM(CASE WHEN group_s = 'train' THEN 1 ELSE 0 END) AS group_train,
    SUM(CASE WHEN group_s = 'val' THEN 1 ELSE 0 END) AS group_val,
    SUM(CASE WHEN group_s = 'test' THEN 1 ELSE 0 END) AS group_test
  FROM m
)
SELECT 'naive' AS method, CAST(naive_cross AS BIGINT) AS crossing_pairs,
       CAST(naive_train AS BIGINT) AS n_train,
       CAST(naive_val AS BIGINT) AS n_val,
       CAST(naive_test AS BIGINT) AS n_test
FROM agg
UNION ALL
SELECT 'group', CAST(group_cross AS BIGINT),
       CAST(group_train AS BIGINT), CAST(group_val AS BIGINT),
       CAST(group_test AS BIGINT)
FROM agg
"""


SWEEP_MIN_T = 8  # lowest agreement threshold the sweep reports (of 16)


def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup THRESHOLD SENSITIVITY table — the tuning artifact a
    curator reads before picking the one number that decides how much
    corpus survives: for every MinHash agreement threshold t (8..16 of
    {NUM_HASHES}), how many LSH candidate pairs clear it and how many
    docs the one-pass younger-drops rule would remove. One extra scan
    answers "what if we were stricter?" for every t at once instead of
    re-running dedup per setting.

    Shape: the signature/band work is the SAME plan q_dedup_minhash_lsh
    runs; per-pair agreement is one 16-column comparison, and the sweep
    is a bounded explode (<= 9 rows per pair — linear, no inequality
    join, no window), then a groupBy on the 9-value threshold key.
    est_jaccard = t/16 is the single correctly-rounded division."""
    sigs = D.minhash_signatures(load(spark, sf_dir, "documents"))
    ag = (
        D.minhash_agreement(D.lsh_candidate_pairs(sigs), sigs, sigs)
        .select("doc_b", "agree")
        .filter(F.col("agree") >= SWEEP_MIN_T)
    )
    sw = ag.select(
        "doc_b",
        F.explode(
            F.sequence(F.lit(SWEEP_MIN_T), F.col("agree"))
        ).alias("_t"),
    ).select("doc_b", F.col("_t").cast("long").alias("threshold"))
    return (
        sw.groupBy("threshold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_docs_dropped"),
        )
        .select(
            "threshold",
            (
                F.col("threshold").cast("double") / float(NUM_HASHES)
            ).alias("est_jaccard"),
            "n_pairs",
            "n_docs_dropped",
        )
    )


def _oracle_threshold_sweep() -> str:
    agree = minhash_agree("sa", "sb")
    return f"""
WITH {MINHASH_CTES}, ag AS (
  SELECT cand.doc_b, ({agree}) AS agree
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b
  WHERE ({agree}) >= {SWEEP_MIN_T}
), sw AS (
  SELECT doc_b, CAST(unnest(range({SWEEP_MIN_T}, agree + 1)) AS BIGINT)
           AS threshold
  FROM ag
)
SELECT threshold,
       CAST(threshold AS DOUBLE) / {NUM_HASHES}.0 AS est_jaccard,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
FROM sw GROUP BY threshold
"""


QUERIES = {
    "q_dedup_threshold_sweep": q_dedup_threshold_sweep,
    "q_minhash_jaccard": q_minhash_jaccard,
    "q_contamination": q_contamination,
    "q_decontaminate_ngram": q_decontaminate_ngram,
    "q_simhash_pairs": q_simhash_pairs,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_mixture_shift": q_dedup_mixture_shift,
    "q_dedup_ngram": q_dedup_ngram,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_embedding": q_dedup_embedding,
    "q_dedup_embedding_exact": q_dedup_embedding_exact,
    "q_dedup_embedding_recall": q_dedup_embedding_recall,
    "q_entity_match": q_entity_match,
    "q_entity_match_verified": q_entity_match_verified,
    "q_source_overlap": q_source_overlap,
    "q_sim_histogram": q_sim_histogram,
    "q_minhash_error": q_minhash_error,
    "q_containment": q_containment,
    "q_dup_spans": q_dup_spans,
    "q_cdc_chunks": q_cdc_chunks,
    "q_ngram_novelty": q_ngram_novelty,
    "q_sparse_cosine": q_sparse_cosine,
    "q_lsh_recall_text": q_lsh_recall_text,
    "q_split_leakage": q_split_leakage,
}

ORACLES = {
    "q_dedup_threshold_sweep": _oracle_threshold_sweep(),
    "q_minhash_jaccard": _oracle_minhash_jaccard(),
    "q_contamination": _oracle_contamination(),
    "q_decontaminate_ngram": _oracle_decontaminate(),
    "q_simhash_pairs": _oracle_simhash_pairs(),
    "q_dedup_exact": ORACLE_DEDUP_EXACT,
    "q_dedup_mixture_shift": ORACLE_DEDUP_MIXTURE_SHIFT,
    "q_dedup_ngram": ORACLE_DEDUP_NGRAM,
    "q_dedup_minhash_lsh": _oracle_minhash(),
    "q_dedup_simhash": _oracle_simhash(),
    "q_dedup_embedding": _oracle_dedup_embedding(),
    "q_dedup_embedding_exact": ORACLE_DEDUP_EMBEDDING_EXACT,
    "q_dedup_embedding_recall": _oracle_dedup_embedding_recall(),
    "q_entity_match": ORACLE_ENTITY_MATCH,
    "q_entity_match_verified": ORACLE_ENTITY_MATCH_VERIFIED,
    "q_source_overlap": _oracle_source_overlap(),
    "q_sim_histogram": _oracle_sim_histogram(),
    "q_minhash_error": _oracle_minhash_error(),
    "q_containment": _oracle_containment(),
    "q_dup_spans": ORACLE_DUP_SPANS,
    "q_cdc_chunks": ORACLE_CDC_CHUNKS,
    "q_ngram_novelty": ORACLE_NGRAM_NOVELTY,
    "q_sparse_cosine": ORACLE_SPARSE_COSINE,
    "q_lsh_recall_text": _oracle_lsh_recall_text(),
    "q_split_leakage": _oracle_split_leakage(),
}
