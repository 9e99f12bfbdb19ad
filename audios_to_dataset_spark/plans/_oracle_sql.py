"""DuckDB oracle fragments that several plan modules' oracles compose.

Each fragment is the SQL twin of one Spark operator, written once so the
oracles that replay it cannot drift apart: word n-gram shingles and
their capped Jaccard pairs (operators.dedup), MinHash signatures, LSH
bands and component agreement, hyperplane-LSH buckets and the
embedding near-dup pairs (operators.similarity), the list dot product
and the rounded cosine built on it, the connected-component closure and
the degree-oriented triangles (operators.graph).

A fragment documented as CTEs returns comma-joined ``name AS (...)``
items for a ``WITH``; the others return a query body or an expression. Constants come from plans/dedup, imported inside the
functions: dedup builds its own oracles while it is being imported.
"""

from __future__ import annotations

from ._util import sround_sql

# v(vec_id, e): the embedding table as DOUBLE lists
VECTORS = """v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)"""

# v(vec_id, e) without the rows operators.similarity._indexable drops: a
# NULL id or a NULL vector
INDEXED_VECTORS = """v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
)"""

# substr length of the auto-scaled plane families: the knn_np CTE holds
# plans/dedup.knn_nplanes_sql, the twin of knn_n_planes
AUTO_PLANES = "(SELECT p FROM knn_np)"


def tokens(src: str) -> str:
    """(doc_id, t) word tokens of relation ``src`` — the lower-cased
    single-space split of operators.dedup.shingles."""
    return f"SELECT doc_id, string_split(lower(text), ' ') AS t FROM {src}"


def ngrams(n: int) -> str:
    """One value per word ``n``-gram of token list ``t`` (duplicates
    kept): the sliding window of operators.dedup.shingles."""
    gram = " || ' ' || ".join(["t[i]"] + [f"t[i + {j}]" for j in range(1, n)])
    return (
        "unnest(list_transform("
        f"range(1, greatest(len(t) - {n - 1}, 0) + 1), i -> {gram}))"
    )


def shingles(toks: str, n: int) -> str:
    """Distinct (doc_id, s) word ``n``-grams of token relation ``toks``."""
    return (
        f"SELECT DISTINCT doc_id, s FROM (\n"
        f"    SELECT doc_id, {ngrams(n)} AS s\n    FROM {toks}) u"
    )


def capped_shingles(src: str) -> str:
    """CTEs toks, sh0, sh and cnt(doc_id, n): the NGRAM_N-shingles of
    ``src``'s documents minus stop-shingles (those in more than
    MAX_SHINGLE_FREQ docs), and each doc's capped count — the input side
    of ngram_jaccard_pairs(max_shingle_freq)."""
    from .dedup import MAX_SHINGLE_FREQ, NGRAM_N

    return f"""toks AS (
  {tokens(src)}
), sh0 AS (
  {shingles("toks", NGRAM_N)}
), sh AS (
  SELECT sh0.doc_id, sh0.s
  FROM sh0 JOIN (
    SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}
  ) keep ON sh0.s = keep.s
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
)"""


def jaccard_pairs(src: str, threshold: float) -> str:
    """``capped_shingles(src)`` plus jpairs(doc_a, doc_b, jaccard): the
    doc pairs whose capped shingle Jaccard reaches ``threshold``, the
    score rounded to 4 decimals — operators.dedup.ngram_jaccard_pairs."""
    ratio = "CAST(common AS DOUBLE) / (ca.n + cb.n - common)"
    return f"""{capped_shingles(src)}, jpairs AS (
  SELECT doc_a, doc_b, {sround_sql(ratio, 4)} AS jaccard
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) p JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
  WHERE {ratio} >= {threshold}
)"""


def signature(sh: str) -> str:
    """Each doc's NUM_HASHES MinHash components over shingle relation
    ``sh`` — operators.dedup.minhash_signatures."""
    from .dedup import NUM_HASHES

    mins = ",\n         ".join(
        f"MIN(substr(md5('{i // 4}:' || s), {(i % 4) * 8 + 1}, 8)) AS mh{i}"
        for i in range(NUM_HASHES)
    )
    return f"SELECT doc_id, {mins}\n  FROM {sh} GROUP BY doc_id"


def bands(sig: str) -> str:
    """(doc_id, band, band_key) LSH band rows of signature relation
    ``sig`` — the banding of operators.dedup.lsh_candidate_pairs."""
    from .dedup import BAND_SIZE, NUM_HASHES

    return "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(
            f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE)
        )
        + f") AS band_key FROM {sig}"
        for b in range(NUM_HASHES // BAND_SIZE)
    )


def minhash_agree(a: str, b: str) -> str:
    """Number of equal MinHash components of signature rows ``a`` and
    ``b``."""
    from .dedup import NUM_HASHES

    return " + ".join(
        f"(CASE WHEN {a}.mh{i} = {b}.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )


def dot(a: str, b: str) -> str:
    """Left-to-right dot product of list expressions ``a`` and ``b``, the
    one spelling of operators.similarity._dot."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i]))"
    )


def norm(a: str) -> str:
    """L2 norm of list expression ``a`` — operators.similarity._norm."""
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


def plane_sql(plane: list[float]) -> str:
    """One hyperplane as a DOUBLE[] literal (repr: exact round-trip)."""
    return "CAST([" + ", ".join(repr(v) for v in plane) + "] AS DOUBLE[])"


def lsh_buckets(tables: list[list[list[float]]], width: int | str) -> str:
    """CTEs planes and buckets(vec_id, bucket) over v(vec_id, e): per
    table, '<t>:' and the first ``width`` sign bits of e against the
    table's planes — operators.similarity's bucket keys. ``width`` is a
    fixed set's plane count or AUTO_PLANES. Each plane is bound once, as
    a column of the one-row planes relation, not per list element."""
    cols = ",\n         ".join(
        f"{plane_sql(p)} AS p{t}_{j}"
        for t, planes in enumerate(tables)
        for j, p in enumerate(planes)
    )
    rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, '{t}:' || substr("
        + " || ".join(
            f"(CASE WHEN {dot('e', f'p{t}_{j}')} >= 0 THEN '1' ELSE '0' END)"
            for j in range(len(planes))
        )
        + f", 1, {width}) AS bucket FROM v, planes"
        for t, planes in enumerate(tables)
    )
    return f"""planes AS (
  SELECT {cols}
), buckets AS (
{rows}
)"""


def cosine(a: str, b: str, k: int) -> str:
    """Cosine of vector expressions ``a`` and ``b`` rounded to ``k``
    decimals (``sround_sql``), both norms computed in place."""
    return sround_sql(f"{dot(a, b)} / ({norm(a)} * {norm(b)})", k)


def emb_pairs(tables: list[list[list[float]]], width: int | str) -> str:
    """CTEs v, planes, buckets, cand and pairs(id_a, id_b, cos_sim): the
    LSH-bucketed embedding near-dup pairs whose 4-decimal cosine reaches
    EMB_THRESHOLD — operators.similarity.lsh_bucketed_neardup_pairs."""
    from .dedup import EMB_THRESHOLD

    cos = cosine("a.e", "b.e", 4)
    return f"""{VECTORS}, {lsh_buckets(tables, width)}, cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
), pairs AS (
  SELECT cand.id_a, cand.id_b, {cos} AS cos_sim
  FROM cand
  JOIN v a ON a.vec_id = cand.id_a
  JOIN v b ON b.vec_id = cand.id_b
  WHERE {cos} >= {EMB_THRESHOLD}
)"""


def cc_labels(nodes: str, pairs: str) -> str:
    """CTEs cc_pairs, edges, reach and cc(id, cluster_id): every id of
    query ``nodes`` labelled with the least id it reaches over the
    undirected edges of query ``pairs`` (columns a, b) — the result of
    operators.graph.connected_components. The closure reads only
    MATERIALIZED CTEs: DuckDB inlines the others into every recursive
    round."""
    return f"""cc_pairs AS MATERIALIZED (
  {pairs}
), edges AS MATERIALIZED (
  SELECT a, b FROM cc_pairs
  UNION
  SELECT b AS a, a AS b FROM cc_pairs
), reach(id, r) AS (
  SELECT id, id FROM ({nodes}) n
  UNION
  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
), cc AS (
  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
)"""


# CTEs items .. tri over the part co-purchase graph: e0(u < v) edges,
# deg(node, d), each edge oriented from its lower-(degree, id) end, and
# tri(s, wu, wv) one row per triangle — operators.graph.oriented_triangles
ORIENTED_TRIANGLES = """items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e0 AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
  GROUP BY node
), oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v
         END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u
         END AS t
  FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
), tri AS (
  SELECT e1.s AS s, e1.t AS wu, e2.t AS wv
  FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s AND e1.t < e2.t
  JOIN e0 ON e0.u = e1.t AND e0.v = e2.t
)"""
