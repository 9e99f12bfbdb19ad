"""Sketch / graph / sampling plans — scale-path engine capabilities.

Operators a 100 TB training-data pipeline leans on, each with an exact
DuckDB twin; the anchors:

- ``q_approx_distinct``: deterministic HyperLogLog (md5 registers) —
  the sketch shuffles ≤ m rows per group instead of every distinct key;
  ``q_hll_union`` / ``q_cms_merge`` make the MERGE property explicit
  (register-wise max / sum across sources ≡ a direct build — sketches
  roll up without rescanning);
- ``q_pagerank``: synchronous PageRank with dangling-mass correction —
  the second iterative distributed-algorithm pattern next to
  ``q_kmeans``/``q_dedup_clusters``, oracle = full CTE replay of every
  iteration;
- ``q_bloom_join``: explicit bloom-filter semi-join pruning (k md5
  positions, broadcast bit-set) — deterministic false-positive set,
  oracle = k EXISTS probes of the same positions;
- ``q_stratified_sample``: reproducible per-stratum hash sampling —
  md5-bucket thresholds per event_type, the subsampling primitive for
  dataset curation.

The reference has no analogs (its aggregate surface is the schema union,
/root/reference/src/main.rs:166-176); these are engine-capability
extensions per SURVEY.md §7 M7.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.bloom import bloom_positions_sql, bloom_semi_join
from ..operators.graph import HITS_ITERS, PR_DAMPING, pagerank
from ..operators.sketch import (
    HLL_M,
    histogram_quantiles,
    histogram_quantiles_sql,
    hll_estimate,
    hll_sql,
)
from ._edges import PR_SUPP_OFFSET, copurchase_edges, trade_edges
from ._util import DEC, DEC_SQL, davg, davg_sql, sround, sround_sql

PR_ITERS = 3

BLOOM_M_BITS = 4096  # small on purpose: forces real false positives
BLOOM_K = 3
# Selective build side (~35% of customers at sf0.01) so the bloom result
# sits strictly between the true semi-join and the full probe table —
# both the pruning and the false-positive semantics are exercised.
BLOOM_MIN_TOTALPRICE = 480_000.0

SAMPLE_RATES = {"purchase": 500, "view": 50}  # per-mille; default below
SAMPLE_DEFAULT = 200


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx distinct users per event type via the md5-register HLL
    sketch (m=64, ±13% typical) next to nothing but integer math."""
    e = load(spark, sf_dir, "events")
    return hll_estimate(e, "user_id", ["event_type"], m=HLL_M).select(
        "event_type",
        "registers_hit",
        sround(F.col("hll_estimate"), 4).alias("hll_estimate"),
    )


ORACLE_APPROX_DISTINCT = f"""
SELECT event_type, registers_hit,
       {sround_sql('hll_estimate', 4)} AS hll_estimate
FROM ({hll_sql('events', 'user_id', ['event_type'])})
"""


def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE — the property that makes HLL the right 100 TB
    primitive: per-source distinct-text estimates PLUS a TOTAL row
    computed by merging the per-source register tables (groupBy(reg),
    max(m_j) across sources) instead of re-scanning the data. At scale
    this is how per-partition/per-day sketches roll up: registers are
    m rows each, the merge is a tiny shuffle, and max is associative so
    the merged estimate is bit-identical to a direct pass — which the
    oracle pins by replaying both levels."""
    from ..operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )

    d = load(spark, sf_dir, "documents")
    # no .cache(): regs is consumed twice (per-source estimates + the
    # merge), and both consumers share its register exchange through
    # exchange reuse, so documents scans once
    regs = hll_registers(d, "text", ["source"], m=HLL_M)
    per_src = hll_estimate_from_registers(regs, ["source"], m=HLL_M)
    merged = (
        regs.groupBy("reg")
        .agg(F.max("m_j").alias("m_j"))
        .withColumn("source", F.lit("TOTAL"))
    )
    total = hll_estimate_from_registers(merged, ["source"], m=HLL_M)
    return (
        per_src.unionByName(total)
        .select(
            "source",
            "registers_hit",
            sround(F.col("hll_estimate"), 4).alias("hll_estimate"),
        )
        .orderBy("source")
    )


def _oracle_hll_union() -> str:
    from ..operators.sketch import hll_final_sql, hll_regs_sql

    return f"""
WITH srcregs AS (
  {hll_regs_sql('documents', 'text', ['source'], HLL_M)}
), merged AS (
  SELECT 'TOTAL' AS source, reg, MAX(m_j) AS m_j FROM srcregs GROUP BY reg
), regs AS (
  SELECT source, reg, m_j FROM srcregs
  UNION ALL
  SELECT source, reg, m_j FROM merged
), est AS (
  {hll_final_sql(['source'], HLL_M)}
)
SELECT source, registers_hit,
       {sround_sql('hll_estimate', 4)} AS hll_estimate
FROM est ORDER BY source
"""


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source overlap estimation by HLL
    inclusion-exclusion — |A∩B| ≈ est(A) + est(B) - est(A∪B), the union
    estimated by max-merging the two sources' register tables. This is
    the sketch-only way to answer "how much does source X duplicate
    source Y" across a 100 TB corpus: per-source registers are m rows
    each, every pairwise union is a register-level merge, and the raw
    data is scanned exactly once. The exact intersection rides along
    (distinct-text equi-join) so the estimate's error is readable in
    the result; at scale you keep the sketch columns and drop the exact
    join. Registers and estimates use the repo's integer-exact HLL
    pipeline, so the oracle replays everything bit-identically."""
    from ..operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )

    d = load(spark, sf_dir, "documents")
    # no .cache(): every consumer of regs shares its register exchange
    # through exchange reuse
    regs = hll_registers(d, "text", ["source"], m=HLL_M)
    est = hll_estimate_from_registers(regs, ["source"], m=HLL_M)
    s = d.select("source").distinct()
    pairs = (
        s.select(F.col("source").alias("src_a"))
        .crossJoin(F.broadcast(s.select(F.col("source").alias("src_b"))))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    pair_regs = (
        pairs.join(
            regs.select(F.col("source").alias("src_a"), "reg", "m_j"),
            "src_a",
        )
        .unionByName(
            pairs.join(
                regs.select(F.col("source").alias("src_b"), "reg", "m_j"),
                "src_b",
            ).select("src_a", "src_b", "reg", "m_j")
        )
        .groupBy("src_a", "src_b", "reg")
        .agg(F.max("m_j").alias("m_j"))
    )
    est_u = hll_estimate_from_registers(
        pair_regs, ["src_a", "src_b"], m=HLL_M
    ).select("src_a", "src_b", F.col("hll_estimate").alias("est_union"))
    ea = est.select(
        F.col("source").alias("src_a"), F.col("hll_estimate").alias("est_a")
    )
    eb = est.select(
        F.col("source").alias("src_b"), F.col("hll_estimate").alias("est_b")
    )
    st = d.select("source", "text").distinct()
    exact = (
        st.select(F.col("source").alias("src_a"), "text")
        .join(st.select(F.col("source").alias("src_b"), "text"), "text")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count_distinct("text").cast("bigint").alias("exact_overlap"))
    )
    return (
        est_u.join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            sround(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_overlap"),
            sround(F.col("est_union"), 4).alias("est_union"),
            F.coalesce(F.col("exact_overlap"), F.lit(0))
            .cast("bigint")
            .alias("exact_overlap"),
        )
    )


def _oracle_hll_overlap() -> str:
    from ..operators.sketch import hll_final_sql, hll_regs_sql

    return f"""
WITH srcregs AS (
  {hll_regs_sql('documents', 'text', ['source'], HLL_M)}
), est1 AS (
  SELECT source, registers_hit, hll_estimate
  FROM ({hll_final_sql(['source'], HLL_M).replace('FROM regs',
                                                  'FROM srcregs')}) z
), s AS (
  SELECT DISTINCT source FROM documents
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM s a JOIN s b ON a.source < b.source
), regs AS (
  SELECT p.src_a, p.src_b, r.reg, MAX(r.m_j) AS m_j
  FROM pairs p JOIN srcregs r
    ON r.source = p.src_a OR r.source = p.src_b
  GROUP BY p.src_a, p.src_b, r.reg
), estu AS (
  {hll_final_sql(['src_a', 'src_b'], HLL_M)}
), ex AS (
  SELECT a.src_a, b.src_b, COUNT(DISTINCT a.text) AS exact_overlap
  FROM (SELECT DISTINCT source AS src_a, text FROM documents) a
  JOIN (SELECT DISTINCT source AS src_b, text FROM documents) b
    ON a.text = b.text AND a.src_a < b.src_b
  GROUP BY a.src_a, b.src_b
)
SELECT estu.src_a, estu.src_b,
       {sround_sql('ea.hll_estimate + eb.hll_estimate - estu.hll_estimate',
                   4)} AS est_overlap,
       {sround_sql('estu.hll_estimate', 4)} AS est_union,
       CAST(COALESCE(ex.exact_overlap, 0) AS BIGINT) AS exact_overlap
FROM estu
JOIN est1 ea ON ea.source = estu.src_a
JOIN est1 eb ON eb.source = estu.src_b
LEFT JOIN ex ON ex.src_a = estu.src_a AND ex.src_b = estu.src_b
"""


def q_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch × event-time window composition: approx distinct users per
    1-hour window via the same md5-register HLL — the "uniques per hour"
    dashboard query that at 100 TB must NOT hold per-window user sets
    (state is m=64 registers per window, mergeable across partitions
    and days)."""
    e = load(spark, sf_dir, "events")
    hourly = e.select(
        F.date_trunc("hour", "ts").alias("win_start"), "user_id"
    )
    return (
        hll_estimate(hourly, "user_id", ["win_start"], m=HLL_M)
        .select(
            "win_start",
            "registers_hit",
            sround(F.col("hll_estimate"), 4).alias("hll_estimate"),
        )
        .orderBy("win_start")
    )


ORACLE_WINDOWED_DISTINCT = f"""
SELECT win_start, registers_hit,
       {sround_sql('hll_estimate', 4)} AS hll_estimate
FROM ({hll_sql(
    "(SELECT date_trunc('hour', ts) AS win_start, user_id FROM events) t",
    'user_id', ['win_start'])})
ORDER BY win_start
"""


def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness from MERGEABLE sketches — the pattern that
    makes distinct-counting survive 100 TB: daily HLL register tables
    are the only state; WAU for day d is a register-wise MAX over days
    d−6..d (sketch union), never a rescan of raw events. The trailing
    window is an explode of each register row into the ≤7 target days
    it serves (equi-join onto the day spine — no nested-loop range
    join), so work is 7× the register table, constant per day.
    Estimates use the exact same integer HLL pipeline as
    q_approx_distinct; stickiness = DAU/WAU rounded to 4."""
    from ..operators.sketch import HASH_BITS, hll_alpha, hll_registers

    m = HLL_M
    w = HASH_BITS - int(math.log2(m))
    p = w + 1
    numer = float(hll_alpha(m) * m * m * (2**p))

    e = load(spark, sf_dir, "events")
    daily = e.select(F.date_trunc("day", "ts").alias("day"), "user_id")
    regs = hll_registers(daily, "user_id", ["day"], m=m)

    def estimate(grouped):
        z_seen = F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({p} - m_j AS INT))"
            )
        )
        hit = F.count(F.lit(1)).cast("long")
        z = z_seen + (F.lit(m).cast("long") - hit) * F.lit(2**p).cast(
            "long"
        )
        return grouped.agg(
            (F.lit(numer) / z.cast("double")).alias("est")
        )

    dau = estimate(regs.groupBy("day")).withColumnRenamed("est", "dau")
    days = regs.select("day").distinct()
    spread = regs.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        F.date_add("day", F.col("i")).cast("timestamp").alias("t_day"),
        "reg",
        "m_j",
    ).join(
        F.broadcast(days.select(F.col("day").alias("t_day"))), "t_day"
    )
    wau_regs = spread.groupBy(
        F.col("t_day").alias("day"), "reg"
    ).agg(F.max("m_j").alias("m_j"))
    wau = estimate(wau_regs.groupBy("day")).withColumnRenamed(
        "est", "wau"
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            sround(F.col("dau"), 4).alias("dau_est"),
            sround(F.col("wau"), 4).alias("wau_est"),
            sround(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


def _oracle_stickiness() -> str:
    from ..operators.sketch import HASH_BITS, hll_alpha

    m = HLL_M
    log2m = int(math.log2(m))
    w = HASH_BITS - log2m
    p = w + 1
    numer = repr(float(hll_alpha(m) * m * m * (2**p)))
    h = "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)"
    b = f"({h} >> {log2m})"
    x = b
    for sft in (1, 2, 4, 8, 16, 32):
        x = f"({x} | ({x} >> {sft}))"
    rho = f"({w} - bit_count({x}) + 1)"
    z = (
        f"SUM(CAST(1 AS BIGINT) << ({p} - m_j))"
        f" + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {p})"
    )
    return f"""
WITH regs AS (
  SELECT date_trunc('day', ts) AS day, ({h} % {m}) AS reg,
         MAX({rho}) AS m_j
  FROM events GROUP BY day, reg),
dau AS (
  SELECT day, {numer} / CAST({z} AS DOUBLE) AS dau
  FROM regs GROUP BY day),
days AS (SELECT DISTINCT day FROM regs),
spread AS (
  SELECT regs.day + i * INTERVAL 1 DAY AS t_day, reg, m_j
  FROM regs, (SELECT unnest(range(0, 7)) AS i) offs),
wau_regs AS (
  SELECT t_day AS day, reg, MAX(m_j) AS m_j
  FROM spread JOIN days ON days.day = spread.t_day
  GROUP BY t_day, reg),
wau AS (
  SELECT day, {numer} / CAST({z} AS DOUBLE) AS wau
  FROM wau_regs GROUP BY day)
SELECT CAST(dau.day AS TIMESTAMP) AS day,
       {sround_sql('dau', 4)} AS dau_est,
       {sround_sql('wau', 4)} AS wau_est,
       {sround_sql('dau / wau', 4)} AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY day
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier order graph (directed edge per
    distinct (o_custkey, l_suppkey) pair; suppliers are all dangling, so
    the dangling-mass path is genuinely exercised)."""
    # an order with no customer key contributes no edge — a NULL
    # endpoint isn't a graph node (--nulls sweep; both sides filter)
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    li = load(spark, sf_dir, "lineitem")
    edges = trade_edges(o, li)
    r = pagerank(edges, iters=PR_ITERS)
    return r.select(
        F.col("id").cast("bigint").alias("node_id"),
        sround(F.col("rank"), 9).alias("rank"),
    )


def _oracle_pagerank() -> str:
    """Replay every pagerank iteration as chained CTEs with the same
    decimal(38,12) sums and double scalar expression shapes."""
    nd = "(SELECT CAST(n AS DOUBLE) FROM nn)"
    base = repr(1.0 - PR_DAMPING)
    d = repr(PR_DAMPING)
    ctes = [
        "e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,"
        f" CAST(l_suppkey AS BIGINT) + {PR_SUPP_OFFSET} AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
        " WHERE o_custkey IS NOT NULL)",
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / {nd} AS rank FROM nodes)",
    ]
    for t in range(1, PR_ITERS + 1):
        p = f"r{t - 1}"
        ctes.append(
            f"d{t} AS (SELECT COALESCE(CAST(SUM(CAST(rank AS"
            f" DECIMAL(38,12))) AS DOUBLE), 0.0) AS dmass FROM {p} r"
            " WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.id))"
        )
        ctes.append(
            f"i{t} AS (SELECT e.dst, CAST(SUM(CAST(r.rank /"
            " CAST(deg.deg AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)"
            f" AS inflow FROM e JOIN {p} r ON e.src = r.id"
            " JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{t} AS (SELECT nodes.id, ({base} / {nd}) + {d} *"
            f" (COALESCE(i.inflow, 0.0) + (SELECT dmass FROM d{t}) / {nd})"
            f" AS rank FROM nodes LEFT JOIN i{t} i ON i.dst = nodes.id)"
        )
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\nSELECT CAST(id AS BIGINT) AS node_id,"
        f" {sround_sql('rank', 9)} AS rank FROM r{PR_ITERS}"
    )


BFS_ROUNDS = 3
BFS_SEED_MOD = 97


def _order_graph_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer-supplier order graph: the pagerank edge set
    plus its reverse (customer ids < PR_SUPP_OFFSET <= supplier ids)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey").isNotNull()
    )
    e = trade_edges(o, li)
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS: hop distance from a seed set (customer
    nodes with custkey % ``BFS_SEED_MOD`` (97) == 1) over the undirected
    customer-supplier order graph, ``BFS_ROUNDS`` (3) synchronous rounds
    — the reachability / neighborhood-expansion primitive under
    influence propagation and provenance tracing.

    Scale shape: each round is one frontier equi-join on src plus one
    left-anti join against the visited set — node-id shuffles only, the
    frontier localCheckpoint'ed per round so lineage stays
    ``BFS_ROUNDS``-deep, the same iterative-join discipline as
    pagerank/k-core. No windows, no collects; the visited accumulator is
    a union of bounded frontiers.
    """
    ud = _order_graph_undirected(spark, sf_dir).localCheckpoint(eager=True)
    seeds = (
        ud.select("src")
        .filter(
            (F.col("src") < PR_SUPP_OFFSET)
            & (F.col("src") % BFS_SEED_MOD == 1)
        )
        .distinct()
        .select(F.col("src").alias("id"))
    )
    visited = seeds.withColumn("hops", F.lit(0))
    frontier = seeds
    for r in range(1, BFS_ROUNDS + 1):
        nxt = (
            ud.join(frontier.select(F.col("id").alias("src")), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt.withColumn("hops", F.lit(r)))
        frontier = nxt
    return visited.select(
        F.col("id").cast("bigint").alias("node_id"),
        F.col("hops").cast("int").alias("hops"),
    )


def _oracle_bfs_hops() -> str:
    ctes = [
        "e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,"
        f" CAST(l_suppkey AS BIGINT) + {PR_SUPP_OFFSET} AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
        " WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL)",
        "ud AS (SELECT src, dst FROM e"
        " UNION ALL SELECT dst, src FROM e)",
        "f0 AS (SELECT DISTINCT src AS id FROM ud"
        f" WHERE src < {PR_SUPP_OFFSET} AND src % {BFS_SEED_MOD} = 1)",
        "v0 AS (SELECT id FROM f0)",
    ]
    for r in range(1, BFS_ROUNDS + 1):
        ctes.append(
            f"f{r} AS (SELECT DISTINCT ud.dst AS id FROM ud"
            f" JOIN f{r - 1} ON ud.src = f{r - 1}.id"
            f" EXCEPT SELECT id FROM v{r - 1})"
        )
        ctes.append(
            f"v{r} AS (SELECT id FROM v{r - 1}"
            f" UNION ALL SELECT id FROM f{r})"
        )
    layers = "\nUNION ALL ".join(
        f"SELECT CAST(id AS BIGINT) AS node_id, {r} AS hops FROM f{r}"
        for r in range(BFS_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + layers


LP_ITERS = 2


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the undirected customer↔supplier order
    graph via 2 synchronous label-propagation rounds (Raghavan et al.
    2007) — mode-label update with smallest-label tie-break, replayed
    exactly by the DuckDB oracle. Complements q_dedup_clusters (min-label
    connected components): LPA splits a connected trade network into
    dense purchasing communities."""
    from ..operators.graph import label_propagation

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = trade_edges(o, li)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    r = label_propagation(nodes, edges, iters=LP_ITERS)
    return r.select(
        F.col("id").cast("bigint").alias("node_id"),
        F.col("community").cast("bigint").alias("community"),
    )


def _lp_ctes(edge_ctes: list[str] | None = None) -> tuple[list[str], str]:
    """Replay each synchronous LPA round as chained CTEs: neighbor label
    counts → per-node mode with (count DESC, label ASC) tie-break →
    coalesce for isolated nodes. Returns (CTE list, final-labels CTE
    name). ``edge_ctes`` overrides the default customer↔supplier trade
    edges with any CTE chain ending in ``e(src, dst)`` — q_modularity
    passes the part co-purchase graph (LPA on the BIPARTITE trade graph
    oscillates sides out of phase, leaving zero internal edges at every
    round count; the unipartite co-purchase graph has real communities)."""
    ctes = list(
        edge_ctes
        if edge_ctes is not None
        else [
            "e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,"
            f" CAST(l_suppkey AS BIGINT) + {PR_SUPP_OFFSET} AS dst"
            " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        ]
    )
    ctes += [
        "und AS (SELECT src AS a, dst AS b FROM e"
        " UNION SELECT dst, src FROM e)",
        "nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e)",
        "l0 AS (SELECT id, id AS label FROM nodes)",
    ]
    for t in range(1, LP_ITERS + 1):
        p = f"l{t - 1}"
        ctes.append(
            f"n{t} AS (SELECT und.a, l.label, COUNT(*) AS c"
            f" FROM und JOIN {p} l ON und.b = l.id GROUP BY und.a, l.label)"
        )
        ctes.append(
            f"p{t} AS (SELECT a AS id, label FROM ("
            "SELECT a, label, row_number() OVER (PARTITION BY a"
            f" ORDER BY c DESC, label) AS rn FROM n{t}) t WHERE rn = 1)"
        )
        ctes.append(
            f"l{t} AS (SELECT l.id, COALESCE(p.label, l.label) AS label"
            f" FROM {p} l LEFT JOIN p{t} p ON p.id = l.id)"
        )
    return ctes, f"l{LP_ITERS}"


def _oracle_label_prop() -> str:
    ctes, fin = _lp_ctes()
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\nSELECT CAST(id AS BIGINT) AS node_id,"
        f" CAST(label AS BIGINT) AS community FROM {fin}"
    )


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of 2-round LPA communities on the part
    CO-PURCHASE graph — the "are these communities real" eval (Newman &
    Girvan 2004), pairing with q_cluster_purity's role for KMeans: per
    community, node count, internal-edge count, degree sum, and the
    modularity contribution e_c/m - (D_c/(2m))^2. All counts are exact
    integers; the contribution is two integer-ratio divisions in fixed
    order. The graph deliberately differs from q_label_prop's trade
    graph: synchronous LPA on a bipartite graph oscillates the two
    sides out of phase, so its "communities" have zero internal edges
    at every round count — co-purchase is unipartite and yields real
    ones (see _lp_ctes).

    100 TB shape: degrees and internal edges are equi-join + groupBy
    passes over the edge list; the 1-row total-edge frame rides a
    broadcast cross join (the PageRank dangling-mass pattern)."""
    from ..operators.graph import label_propagation

    edges = copurchase_edges(load(spark, sf_dir, "lineitem")).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    r = label_propagation(nodes, edges, iters=LP_ITERS)
    und = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    deg = und.groupBy("id").agg(F.count("*").alias("deg"))
    comm = r.select(
        "id", F.col("community").cast("bigint").alias("community")
    ).join(deg, "id")
    stats = comm.groupBy("community").agg(
        F.count("*").alias("n_nodes"), F.sum("deg").alias("deg_sum")
    )
    ca = comm.select(F.col("id").alias("src"), F.col("community").alias("_ca"))
    cb = comm.select(F.col("id").alias("dst"), F.col("community").alias("_cb"))
    ein = (
        edges.join(ca, "src")
        .join(cb, "dst")
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    m1 = edges.agg(F.count("*").alias("m"))
    contrib = F.col("e_in").cast("double") / F.col("m").cast("double") - (
        F.col("deg_sum").cast("double") / (F.col("m") * 2).cast("double")
    ) * (
        F.col("deg_sum").cast("double") / (F.col("m") * 2).cast("double")
    )
    return (
        stats.join(ein, "community", "left")
        .fillna(0, ["e_in"])
        .crossJoin(F.broadcast(m1))
        .select(
            "community",
            "n_nodes",
            "deg_sum",
            "e_in",
            contrib.alias("contribution"),
        )
    )


_MOD_EDGE_CTES = [
    "items AS (SELECT DISTINCT l_orderkey AS o,"
    " CAST(l_partkey AS BIGINT) AS p FROM lineitem)",
    "e AS (SELECT DISTINCT a.p AS src, b.p AS dst"
    " FROM items a JOIN items b ON a.o = b.o AND a.p < b.p)",
]


def _oracle_modularity() -> str:
    ctes, fin = _lp_ctes(_MOD_EDGE_CTES)
    joined = ",\n".join(ctes)
    c = (
        "CAST(COALESCE(e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE)"
        " - (CAST(deg_sum AS DOUBLE) / CAST(m * 2 AS DOUBLE))"
        " * (CAST(deg_sum AS DOUBLE) / CAST(m * 2 AS DOUBLE))"
    )
    return f"""WITH {joined},
deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg
        FROM und GROUP BY a),
comm AS (SELECT l.id, CAST(l.label AS BIGINT) AS community, deg.deg
         FROM {fin} l JOIN deg USING (id)),
stats AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(deg) AS BIGINT) AS deg_sum
          FROM comm GROUP BY community),
ein AS (SELECT ca.community, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM e JOIN comm ca ON ca.id = e.src
               JOIN comm cb ON cb.id = e.dst
        WHERE ca.community = cb.community GROUP BY ca.community),
m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e)
SELECT s.community, n_nodes, deg_sum,
       CAST(COALESCE(e_in, 0) AS BIGINT) AS e_in,
       {c} AS contribution
FROM stats s LEFT JOIN ein USING (community) CROSS JOIN m1
"""


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the customer→supplier order graph
    (Kleinberg 1999): 2 synchronous max-normalized rounds — customers
    score as hubs (breadth of suppliers bought from), suppliers as
    authorities (weight of well-connected buyers). Complements
    q_pagerank's single-score endorsement with the two-sided
    mutual-recursion shape; the oracle replays every half-round's
    decimal sum, MAX, and division exactly."""
    from ..operators.graph import hits

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = trade_edges(o, li)
    hubs, auths = hits(edges)
    return hubs.select(
        F.col("id").cast("bigint").alias("node_id"),
        F.lit("hub").alias("kind"),
        sround(F.col("hub"), 9).alias("score"),
    ).unionByName(
        auths.select(
            F.col("id").cast("bigint").alias("node_id"),
            F.lit("auth").alias("kind"),
            sround(F.col("auth"), 9).alias("score"),
        )
    )


def _oracle_hits() -> str:
    """Replay each HITS half-round: decimal-sum join, scalar MAX
    subquery, division — chained CTEs, same shapes as the Spark loop."""
    dsum38 = "CAST(SUM(CAST({c} AS DECIMAL(38,12))) AS DOUBLE)"
    ctes = [
        "e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,"
        f" CAST(l_suppkey AS BIGINT) + {PR_SUPP_OFFSET} AS dst"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey)",
        "h0 AS (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS hub"
        " FROM e)",
    ]
    for t in range(1, HITS_ITERS + 1):
        p = f"h{t - 1}"
        ctes.append(
            f"a{t}r AS (SELECT dst AS id, {dsum38.format(c='hub')} AS raw"
            f" FROM e JOIN {p} ON e.src = {p}.id GROUP BY dst)"
        )
        ctes.append(
            f"a{t} AS (SELECT id, raw / (SELECT MAX(raw) FROM a{t}r)"
            f" AS auth FROM a{t}r)"
        )
        ctes.append(
            f"h{t}r AS (SELECT src AS id, {dsum38.format(c='auth')} AS raw"
            f" FROM e JOIN a{t} ON e.dst = a{t}.id GROUP BY src)"
        )
        ctes.append(
            f"h{t} AS (SELECT id, raw / (SELECT MAX(raw) FROM h{t}r)"
            f" AS hub FROM h{t}r)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT CAST(id AS BIGINT) AS node_id, 'hub' AS kind,
       {sround_sql('hub', 9)} AS score FROM h{HITS_ITERS}
UNION ALL
SELECT CAST(id AS BIGINT) AS node_id, 'auth' AS kind,
       {sround_sql('auth', 9)} AS score FROM a{HITS_ITERS}
"""


KCORE_K = 2
KCORE_ROUNDS = 3


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): the directed edges of q_knn_graph's k-NN graph over
    the embeddings, localCheckpoint'ed once so the LSH scoring is not
    recomputed by each branch that reads them."""
    from ..operators.similarity import knn_graph
    from .similarity import KNN_K, _knn_planes_for

    em = load(spark, sf_dir, "embeddings")
    return (
        knn_graph(em, _knn_planes_for(em), k=KNN_K)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the MUTUAL k-NN similarity graph —
    the standard semantic-cluster denoising step: an edge survives only
    if each endpoint ranks the other in its top-k (mutual k-NN), then
    ``KCORE_ROUNDS`` synchronous peel rounds drop every node whose
    degree falls below ``KCORE_K`` (Seidman 1983 k-core, bounded-round
    like connected_components' MAX_CC_ROUNDS). Survivors are the dense
    "semantic core" a curation pipeline keeps; at sf0.01 the cascade is
    genuinely multi-round (500 → 362 → 316 → 293 nodes).

    Scale shape: the mutual filter is a self-equi-join of the k-NN edge
    list on (src,dst)=(dst,src); each peel round is one degree groupBy +
    one survivor semi-join (operators/graph.k_core_peel) — node-id
    shuffles only, no windows, no collects. The k-NN base is
    :func:`_knn_edges`."""
    from ..operators.graph import k_core_peel

    g = _knn_edges(spark, sf_dir)
    rev = g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = g.join(rev, ["src", "dst"])
    core = k_core_peel(mutual, k=KCORE_K, rounds=KCORE_ROUNDS)
    return core.select(
        F.col("id").cast("bigint").alias("node_id"),
        F.col("core_deg").cast("bigint").alias("core_deg"),
    )


def _oracle_kcore() -> str:
    """Replay: kNN CTE base (shared with q_knn_graph's oracle), mutual
    self-join, then each peel round as degree→filter→edge-restrict CTEs.
    MATERIALIZED pins DuckDB's CTE evaluation to once-per-CTE — the
    chain references each u{t} twice, and inlining would re-expand the
    LSH scoring subtree exponentially."""
    from .similarity import _knn_graph_sql_body

    ctes = [
        f"knn AS MATERIALIZED ({_knn_graph_sql_body()})",
        "mu AS MATERIALIZED (SELECT a.src AS a, a.dst AS b FROM knn a"
        " JOIN knn b ON a.src = b.dst AND a.dst = b.src)",
        "u0 AS MATERIALIZED (SELECT a, b FROM mu UNION SELECT b, a FROM mu)",
    ]
    for t in range(1, KCORE_ROUNDS + 1):
        p = f"u{t - 1}"
        ctes.append(
            f"d{t} AS (SELECT a, COUNT(*) AS d FROM {p} GROUP BY a)"
        )
        ctes.append(
            f"k{t} AS MATERIALIZED (SELECT a, d FROM d{t}"
            f" WHERE d >= {KCORE_K})"
        )
        ctes.append(
            f"u{t} AS MATERIALIZED (SELECT u.a, u.b FROM {p} u"
            f" JOIN k{t} x ON u.a = x.a JOIN k{t} y ON u.b = y.a)"
        )
    joined = ",\n".join(ctes)
    return (
        f"WITH {joined}\nSELECT CAST(a AS BIGINT) AS node_id,"
        f" CAST(d AS BIGINT) AS core_deg FROM k{KCORE_ROUNDS}"
    )


LINK_MIN_COMMON = 2


def q_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (Jaccard coefficient, the
    classic Liben-Nowell/Kleinberg baseline) over the undirected k-NN
    similarity graph (:func:`_knn_edges`): for every NON-edge pair
    (a, b) sharing >= ``LINK_MIN_COMMON`` (2) neighbors, score =
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the
    "these two documents should probably be linked/merged" signal a
    curation pipeline uses to densify its similarity graph.

    Scale shape: a wedge join through the shared neighbor (the graph
    has bounded degree <= 2k after the kNN build, so wedges are O(N·k²),
    never all-pairs), one degree groupBy, and a left-anti join to keep
    only NON-edges — node-id shuffles only, same discipline as
    q_triangle_count's wedge walk.
    """
    g = _knn_edges(spark, sf_dir)
    und = g.unionByName(
        g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # wedge through the shared neighbor: (a -nb- b), a < b
    l = und.select(F.col("src").alias("a"), F.col("dst").alias("nb"))
    r = und.select(F.col("src").alias("b"), F.col("dst").alias("nb"))
    common = (
        l.join(r, "nb")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= LINK_MIN_COMMON)
    )
    non_edges = common.join(
        und.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        ),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("db"))
    jac = F.col("common").cast("double") / (
        F.col("da") + F.col("db") - F.col("common")
    ).cast("double")
    return (
        non_edges.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").cast("bigint").alias("id_a"),
            F.col("b").cast("bigint").alias("id_b"),
            F.col("common").cast("bigint").alias("n_common"),
            sround(jac, 6).alias("jaccard"),
        )
    )


def _oracle_link_predict() -> str:
    from .similarity import _knn_graph_sql_body

    return f"""
WITH knn AS MATERIALIZED ({_knn_graph_sql_body()}),
und AS MATERIALIZED (
  SELECT src, dst FROM knn UNION SELECT dst, src FROM knn
),
deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
common AS (
  SELECT l.src AS a, r.src AS b, COUNT(*) AS c
  FROM und l JOIN und r ON l.dst = r.dst AND l.src < r.src
  GROUP BY l.src, r.src
  HAVING COUNT(*) >= {LINK_MIN_COMMON}
),
ne AS (
  SELECT common.a, common.b, common.c FROM common
  WHERE NOT EXISTS (SELECT 1 FROM und
                    WHERE und.src = common.a AND und.dst = common.b)
)
SELECT CAST(ne.a AS BIGINT) AS id_a, CAST(ne.b AS BIGINT) AS id_b,
       CAST(ne.c AS BIGINT) AS n_common,
       {sround_sql('CAST(ne.c AS DOUBLE) / CAST(x.deg + y.deg - ne.c'
                   ' AS DOUBLE)', 6)} AS jaccard
FROM ne JOIN deg x ON x.src = ne.a JOIN deg y ON y.src = ne.b
"""


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers that *may* have orders per a 4096-bit/3-hash bloom of
    order custkeys — the pre-shuffle probe-pruning pattern; the result is
    a deterministic superset of the true semi-join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > BLOOM_MIN_TOTALPRICE
    )
    passed = bloom_semi_join(
        c, o, "c_custkey", "o_custkey", m_bits=BLOOM_M_BITS, k=BLOOM_K
    )
    return passed.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_name"
    )


def _oracle_bloom_join() -> str:
    parts = " UNION ALL ".join(
        f"SELECT {bloom_positions_sql('o_custkey', i, BLOOM_M_BITS)} AS p"
        f" FROM orders WHERE o_totalprice > {BLOOM_MIN_TOTALPRICE!r}"
        for i in range(BLOOM_K)
    )
    probes = " AND ".join(
        "EXISTS (SELECT 1 FROM pos WHERE pos.p = "
        f"{bloom_positions_sql('c.c_custkey', i, BLOOM_M_BITS)})"
        for i in range(BLOOM_K)
    )
    return f"""
WITH pos AS (SELECT DISTINCT p FROM ({parts}))
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name
FROM customer c WHERE {probes}
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified subsample: per-event-type keep rates
    (purchase 50%, view 5%, rest 20%) decided by an md5 bucket of the
    event id — stable across runs, engines, and partitionings."""
    e = load(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("samp:"), F.col("event_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    rate = F.lit(SAMPLE_DEFAULT)
    for etype, r in SAMPLE_RATES.items():
        rate = F.when(F.col("event_type") == etype, r).otherwise(rate)
    return (
        e.filter(F.pmod(h, F.lit(1000)) < rate)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            F.col("user_id").cast("bigint").alias("user_id"),
        )
    )


WSAMPLE_K = 50
_WSAMPLE_SCALE = float(2**60)  # md5 15-hex-digit range, a power of two


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential race keys
    (Efraimidis & Spirakis 2006, public literature): each document draws
    u ~ U(0,1] from an md5 of its id and races with key = -ln(u)/w,
    w = n_chars; the k smallest keys are a weighted-without-replacement
    sample — longer documents proportionally likelier. The one sanctioned
    ``ln`` in the repo: the exponential transform has no rational
    equivalent, so cross-engine determinism is pinned by rounding the key
    to 12 decimals BEFORE ranking (libm differences are ≤1 ulp ≈ 1e-16
    relative on keys ≤ 1; ties after rounding break on doc_id).

    Scale shape: stateless per-row key derivation (md5 + arithmetic, all
    JVM built-ins) then orderBy+limit → TakeOrderedAndProject: every
    partition keeps its local top-k and only k rows per partition reach
    the driver-side merge — the distributed reservoir, no shuffle of the
    corpus and no single-partition window."""
    # id-less docs have no lottery ticket (md5(NULL) -> NULL race key,
    # which the engines order oppositely) — drop them on both sides
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
        & F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)).cast("double") / F.lit(_WSAMPLE_SCALE)
    key = (-F.log(u)) / F.col("n_chars").cast("double")
    return (
        d.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            sround(key, 12).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(WSAMPLE_K)
    )


def _oracle_weighted_sample() -> str:
    h = (
        "(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)),"
        " 1, 15))::BIGINT)"
    )
    key = f"(-ln(CAST({h} + 1 AS DOUBLE) / {_WSAMPLE_SCALE!r}))" \
        " / CAST(n_chars AS DOUBLE)"
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       {sround_sql(key, 12)} AS priority
FROM documents
WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
ORDER BY priority, doc_id
LIMIT {WSAMPLE_K}
"""


BOOT_R = 32
# Poisson(1) CDF breakpoints scaled to the md5 15-hex-digit range
# (floor(P(X<=k) * 2^60) for k = 0..3; k is truncated at 4 — P(k>=5) is
# 3.7e-4 and the truncation is applied identically on both engines).
# Integer comparisons only: the replica-weight assignment never touches
# a double.
_BOOT_T = (
    424_136_118_829_305_344,
    848_272_237_658_610_688,
    1_060_340_297_073_263_360,
    1_131_029_650_211_480_960,
)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean ``value`` per
    event type — THE scalable resampling pattern (each row draws an
    independent Poisson(1) multiplicity per replica, so no replica needs
    a global sample): 32 deterministic replicas whose weights come from
    integer md5 draws against fixed Poisson-CDF breakpoints, each
    replica's weighted mean via decimal sums, and the 2nd-smallest /
    2nd-largest replica means as a ~94% CI (order statistics of 32).

    100 TB shape: the explode is a constant 32x row multiplier feeding
    ONE map-side-combinable (type, replica) aggregation — no data-sized
    shuffle beyond it, and the 5x32 replica-mean table is window-ranked
    per type. RNG-free: reruns, engines, and partitionings all agree."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("r"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot:"),
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    k = (
        F.when(h < _BOOT_T[0], 0)
        .when(h < _BOOT_T[1], 1)
        .when(h < _BOOT_T[2], 2)
        .when(h < _BOOT_T[3], 3)
        .otherwise(4)
    )
    from pyspark.sql import Window

    # Zero-weight replicas (every Poisson draw = 0, probability e^-n —
    # real for tiny types) are dropped on BOTH engine and oracle: Spark
    # would yield NULL for 0/0 while DuckDB yields NaN, and the two
    # engines also rank NULLs differently, so the rank-2 CI would
    # diverge. Dropping is also the statistically standard treatment
    # (an empty resample estimates nothing).
    est = (
        base.select("event_type", "r", k.alias("k"), "value")
        .groupBy("event_type", "r")
        .agg(
            F.sum((F.col("k") * F.col("value")).cast(DEC)).alias("_num"),
            F.sum("k").alias("_den"),
        )
        .filter(F.col("_den") > 0)
        .select(
            "event_type",
            "r",
            (F.col("_num").cast("double") / F.col("_den").cast("double"))
            .alias("est"),
        )
    )
    lo_w = Window.partitionBy("event_type").orderBy("est", "r")
    hi_w = Window.partitionBy("event_type").orderBy(
        F.col("est").desc(), F.col("r").desc()
    )
    ranked = est.withColumn("_rlo", F.row_number().over(lo_w)).withColumn(
        "_rhi", F.row_number().over(hi_w)
    )
    lo = ranked.filter(F.col("_rlo") == 2).select(
        "event_type", F.col("est").alias("ci_lo")
    )
    hi = ranked.filter(F.col("_rhi") == 2).select(
        "event_type", F.col("est").alias("ci_hi")
    )
    point = e.groupBy("event_type").agg(
        F.count("*").alias("n_events"), davg("value").alias("mean_value")
    )
    return point.join(lo, "event_type").join(hi, "event_type")


def _oracle_bootstrap_ci() -> str:
    h = (
        "(('0x' || substr(md5('boot:' || CAST(event_id AS VARCHAR)"
        " || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT)"
    )
    return f"""
WITH base AS (
  SELECT event_type, value, r, {h} AS h
  FROM events CROSS JOIN range({BOOT_R}) t(r)
), w AS (
  SELECT event_type, r, value,
         CASE WHEN h < {_BOOT_T[0]} THEN 0
              WHEN h < {_BOOT_T[1]} THEN 1
              WHEN h < {_BOOT_T[2]} THEN 2
              WHEN h < {_BOOT_T[3]} THEN 3
              ELSE 4 END AS k
  FROM base
), est AS (
  SELECT event_type, r,
         CAST(SUM(CAST(k * value AS {DEC_SQL})) AS DOUBLE)
           / CAST(SUM(k) AS DOUBLE) AS est
  FROM w GROUP BY 1, 2
  HAVING SUM(k) > 0
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY est, r) AS rlo,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY est DESC, r DESC) AS rhi
  FROM est
), point AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         {davg_sql('value')} AS mean_value
  FROM events GROUP BY 1
)
SELECT event_type, n_events, mean_value, lo.est AS ci_lo, hi.est AS ci_hi
FROM point
JOIN (SELECT event_type, est FROM ranked WHERE rlo = 2) lo
  USING (event_type)
JOIN (SELECT event_type, est FROM ranked WHERE rhi = 2) hi
  USING (event_type)
"""


WSAMPLE_STRAT_K = 10


def q_weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE weighted sampling without replacement — the
    balanced-subsample builder (k docs from every language, longer docs
    proportionally likelier): the same Efraimidis-Spirakis race keys as
    q_weighted_sample (same md5 uniform, same sanctioned ``ln``, same
    12-decimal pinning), ranked within language instead of globally.

    Scale shape: the window is PARTITIONED BY lang — per-stratum top-k,
    no global order; with many strata this is the exact per-group
    reservoir. (For very-low-cardinality strata at extreme scale the
    TakeOrdered-per-stratum variant is a groupBy(lang) + min_by-k.)"""
    from pyspark.sql import Window

    # id-less docs have no lottery ticket (md5(NULL) -> NULL race key,
    # which the engines order oppositely) — drop them on both sides
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
        & F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)).cast("double") / F.lit(_WSAMPLE_SCALE)
    key = (-F.log(u)) / F.col("n_chars").cast("double")
    w = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        d.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            sround(key, 12).alias("priority"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= WSAMPLE_STRAT_K)
        .select("doc_id", "lang", "n_chars", "priority")
    )


def _oracle_weighted_sample_stratified() -> str:
    h = (
        "(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)),"
        " 1, 15))::BIGINT)"
    )
    key = f"(-ln(CAST({h} + 1 AS DOUBLE) / {_WSAMPLE_SCALE!r}))" \
        " / CAST(n_chars AS DOUBLE)"
    return f"""
WITH scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(n_chars AS BIGINT) AS n_chars,
         {sround_sql(key, 12)} AS priority
  FROM documents
  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, lang, n_chars, priority FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
              ORDER BY priority, doc_id) AS rn
  FROM scored) t
WHERE rn <= {WSAMPLE_STRAT_K}
"""


def _oracle_stratified_sample() -> str:
    h = (
        "(('0x' || substr(md5('samp:' || CAST(event_id AS VARCHAR)),"
        " 1, 15))::BIGINT)"
    )
    whens = " ".join(
        f"WHEN '{t}' THEN {r}" for t, r in SAMPLE_RATES.items()
    )
    return f"""
SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
       CAST(user_id AS BIGINT) AS user_id
FROM events
WHERE ({h} % 1000) < (CASE event_type {whens} ELSE {SAMPLE_DEFAULT} END)
"""


# Histogram-quantile sketch range: l_extendedprice spans ~[900, 105000]
# in TPC-H-shaped data; 4096 bins over [0, 120000] → ~29.3 bin width,
# i.e. ≤0.03% relative error at the p50/p95 magnitudes.
HQ_LO, HQ_HI, HQ_BINS = 0.0, 120_000.0, 4096
HQ_QUANTILES = [50, 95]


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95 of item price per return flag via the
    mergeable fixed-bin histogram sketch — bins counters instead of a
    distributed sort; map-side combinable, mergeable across days."""
    li = load(spark, sf_dir, "lineitem")
    return histogram_quantiles(
        li,
        "l_extendedprice",
        ["l_returnflag"],
        lo=HQ_LO,
        hi=HQ_HI,
        bins=HQ_BINS,
        quantiles=HQ_QUANTILES,
    )


ORACLE_APPROX_PERCENTILE = histogram_quantiles_sql(
    "lineitem",
    "l_extendedprice",
    ["l_returnflag"],
    lo=HQ_LO,
    hi=HQ_HI,
    bins=HQ_BINS,
    quantiles=HQ_QUANTILES,
)


def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key for orders over (customer, order-day): the
    Morton interleave whose sort order clusters both dimensions at once,
    so row-group min/max stats prune scans on either key. zbucket is the
    coarse cluster id a range-partitioned writer would use as the file
    split."""
    from ..operators.zorder import morton2

    o = load(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    z = morton2(F.col("o_custkey"), day)
    return o.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        z.alias("zcode"),
        F.shiftright(z, 16).cast("bigint").alias("zbucket"),
    )


def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit — the observability query a 100 TB
    operator runs BEFORE a join melts an executor (q_skew_join is the
    mitigation; this is the detector): for each hot join key the
    engine actually shuffles on (lineitem.l_orderkey, events.user_id,
    documents.source), the key-cardinality profile — distinct keys,
    total rows, the heaviest key's row count and identity, mean rows
    per key, and the max/mean skew factor that decides whether AQE
    skew-split or salting is needed. One map-side-combinable count per
    table plus a top-1 window over the (small) per-key frame; NULL
    keys are excluded (they route to a null-safe partition anyway)."""
    def profile(df, col, label):
        per_key = (
            df.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # deterministic top-1 as TakeOrderedAndProject (distributed
        # partial top-k per partition), NOT a single-partition window —
        # per_key is every distinct join key, huge at 100 TB
        top = (
            per_key.orderBy(F.col("n").desc(), "k")
            .limit(1)
            .select(
                F.col("k").alias("top_key"),
                F.col("n").alias("top_rows"),
            )
        )
        agg = per_key.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("n").cast("bigint").alias("total_rows"),
        )
        return agg.crossJoin(F.broadcast(top)).select(
            F.lit(label).alias("shuffle_key"),
            "n_keys",
            "total_rows",
            "top_key",
            F.col("top_rows").cast("bigint").alias("top_rows"),
            sround(
                F.col("top_rows").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double"),
                6,
            ).alias("skew_factor"),
        )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load(spark, sf_dir, "events").select("user_id")
    dc = load(spark, sf_dir, "documents").select("source")
    return (
        profile(li, "l_orderkey", "lineitem.l_orderkey")
        .unionByName(profile(ev, "user_id", "events.user_id"))
        .unionByName(profile(dc, "source", "documents.source"))
        .orderBy("shuffle_key")
    )


def _skew_audit_leg(table: str, col: str, label: str) -> str:
    pk = (
        f"SELECT CAST({col} AS VARCHAR) AS k, COUNT(*) AS n "
        f"FROM {table} WHERE {col} IS NOT NULL GROUP BY 1"
    )
    return f"""
SELECT '{label}' AS shuffle_key, ag.n_keys, ag.total_rows,
       tp.top_key, tp.top_rows,
       {sround_sql(
           "CAST(tp.top_rows AS DOUBLE) * CAST(ag.n_keys AS DOUBLE)"
           " / CAST(ag.total_rows AS DOUBLE)", 6)} AS skew_factor
FROM (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS total_rows
  FROM ({pk}) a) ag
CROSS JOIN (
  SELECT k AS top_key, CAST(n AS BIGINT) AS top_rows
  FROM ({pk}) b ORDER BY n DESC, k LIMIT 1) tp
"""


ORACLE_KEY_SKEW_AUDIT = (
    _skew_audit_leg("lineitem", "l_orderkey", "lineitem.l_orderkey")
    + "UNION ALL"
    + _skew_audit_leg("events", "user_id", "events.user_id")
    + "UNION ALL"
    + _skew_audit_leg("documents", "source", "documents.source")
    + "ORDER BY shuffle_key"
)


def q_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning audit — the
    quantitative payoff measurement for q_zorder's layout key: lay the
    orders table out two ways (arrival order = orderkey ranges, vs
    Morton-clustered zbuckets), build each file's (min, max, rows)
    zone map for o_custkey, and evaluate a customer-range predicate
    against the maps alone. Reports files hit, rows a scanner must
    read, and the read amplification vs the true match count — the
    number a 100 TB lakehouse uses to decide whether a re-cluster pays
    for itself (file sizes differ between the layouts, so the
    row-normalized read_amplification — not files_hit — is the
    comparable column). Everything is two map-side-combinable aggregations
    over file ids plus a 2-row broadcast join; the zone evaluation
    itself is metadata-scale, exactly as it is in a real manifest."""
    from ..operators.zorder import morton2

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("day"),
    )
    arrival = o.select(
        F.lit("arrival").alias("layout"),
        (F.col("o_orderkey") / 256).cast("bigint").alias("file_id"),
        "o_custkey",
    )
    zord = o.select(
        F.lit("zorder").alias("layout"),
        F.shiftright(morton2(F.col("o_custkey"), F.col("day")), 16)
        .cast("bigint")
        .alias("file_id"),
        "o_custkey",
    )
    u = arrival.unionByName(zord)
    lo, hi = 100, 120
    zones = u.groupBy("layout", "file_id").agg(
        F.min("o_custkey").alias("mn"),
        F.max("o_custkey").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    hit = (F.col("mn") <= hi) & (F.col("mx") >= lo)
    per_layout = zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(hit, 1).otherwise(0)).alias("files_hit"),
        F.sum(F.when(hit, F.col("n")).otherwise(0)).alias("rows_scanned"),
    )
    matching = (
        u.filter(F.col("o_custkey").between(lo, hi))
        .groupBy("layout")
        .agg(F.count(F.lit(1)).alias("rows_matching"))
    )
    return (
        per_layout.join(F.broadcast(matching), "layout")
        .select(
            "layout",
            F.col("n_files").cast("bigint").alias("n_files"),
            F.col("files_hit").cast("bigint").alias("files_hit"),
            F.col("rows_scanned").cast("bigint").alias("rows_scanned"),
            F.col("rows_matching").cast("bigint").alias("rows_matching"),
            sround(
                F.col("rows_scanned").cast("double")
                / F.greatest(F.col("rows_matching"), F.lit(1)).cast(
                    "double"
                ),
                4,
            ).alias("read_amplification"),
        )
        .orderBy("layout")
    )


def _oracle_zone_map() -> str:
    from ..operators.zorder import morton2_sql

    z = morton2_sql(
        "o_custkey",
        "datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
    )
    return f"""
WITH u AS (
  SELECT 'arrival' AS layout,
         CAST(o_orderkey // 256 AS BIGINT) AS file_id, o_custkey
  FROM orders
  UNION ALL
  SELECT 'zorder', CAST({z} >> 16 AS BIGINT), o_custkey FROM orders
), zones AS (
  SELECT layout, file_id, MIN(o_custkey) AS mn, MAX(o_custkey) AS mx,
         COUNT(*) AS n
  FROM u GROUP BY 1, 2
), per_layout AS (
  SELECT layout, COUNT(*) AS n_files,
         SUM(CASE WHEN mn <= 120 AND mx >= 100 THEN 1 ELSE 0 END)
           AS files_hit,
         SUM(CASE WHEN mn <= 120 AND mx >= 100 THEN n ELSE 0 END)
           AS rows_scanned
  FROM zones GROUP BY 1
), matching AS (
  SELECT layout, COUNT(*) AS rows_matching
  FROM u WHERE o_custkey BETWEEN 100 AND 120 GROUP BY 1
)
SELECT p.layout, CAST(n_files AS BIGINT) AS n_files,
       CAST(files_hit AS BIGINT) AS files_hit,
       CAST(rows_scanned AS BIGINT) AS rows_scanned,
       CAST(rows_matching AS BIGINT) AS rows_matching,
       {sround_sql(
           "CAST(rows_scanned AS DOUBLE)"
           " / CAST(greatest(rows_matching, 1) AS DOUBLE)", 4)}
         AS read_amplification
FROM per_layout p JOIN matching m ON p.layout = m.layout
ORDER BY p.layout
"""


def _oracle_zorder() -> str:
    from ..operators.zorder import morton2_sql

    z = morton2_sql(
        "o_custkey",
        "datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
    )
    return f"""
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       {z} AS zcode,
       CAST({z} >> 16 AS BIGINT) AS zbucket
FROM orders
"""



# Columns profiled by q_profile — canonicalized to strings so one melt
# (column, value) relation feeds every statistic in a single pass.
PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profile — the QA report a curation pipeline runs
    on every new drop: per column, row/null counts, min/max, and an HLL
    distinct estimate. The table is melted to (col_name, value) rows so
    ALL columns' statistics come from one scan + one groupBy family
    (profiling 500 columns costs the same shuffles as one)."""
    o = load(spark, sf_dir, "orders")
    kv = []
    for c in PROFILE_COLS:
        kv += [F.lit(c), F.col(c).cast("string")]
    melted = o.select(
        F.explode(F.create_map(*kv)).alias("col_name", "value")
    )
    basic = melted.groupBy("col_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).cast("bigint").alias(
            "n_null"
        ),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    est = hll_estimate(
        melted.filter(F.col("value").isNotNull()),
        "value",
        ["col_name"],
        m=HLL_M,
    ).select("col_name", sround(F.col("hll_estimate"), 4).alias("distinct_est"))
    return basic.join(est, "col_name")


def _oracle_profile() -> str:
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value"
        " FROM orders"
        for c in PROFILE_COLS
    )
    h = hll_sql(
        f"(SELECT * FROM melted WHERE value IS NOT NULL) nn",
        "value",
        ["col_name"],
    )
    return f"""
WITH melted AS ({melt}),
basic AS (
  SELECT col_name,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(value) AS BIGINT) AS n_null,
         MIN(value) AS min_value,
         MAX(value) AS max_value
  FROM melted GROUP BY col_name
),
est AS (
  SELECT col_name, {sround_sql('hll_estimate', 4)} AS distinct_est
  FROM ({h})
)
SELECT basic.col_name, n_rows, n_null, min_value, max_value, distinct_est
FROM basic JOIN est USING (col_name)
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each event's value to its type's exact
    [p5, p95] band, with percentiles defined by rank position (the value
    of the row at rank ceil(q·n) under (value, event_id) order) — a
    purely ordinal definition, so no interpolation float can diverge
    between engines.

    Scale: one window per event_type partition to rank, one broadcast
    join of the 5-row threshold table back onto the scan. This is the
    standard outlier-capping pass before training-statistics export.
    """
    from pyspark.sql import Window

    # NULL values have no rank in a value distribution and the engines
    # order them oppositely — drop them on both sides (--nulls sweep)
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = e.select(
        "event_type", "value",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    lo_rank = F.ceil(F.col("n") * 0.05).cast("long")
    hi_rank = F.ceil(F.col("n") * 0.95).cast("long")
    bounds = (
        ranked.withColumn("lo_rank", lo_rank)
        .withColumn("hi_rank", hi_rank)
        .filter(
            (F.col("rnk") == F.col("lo_rank"))
            | (F.col("rnk") == F.col("hi_rank"))
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("rnk") == F.col("lo_rank"), F.col("value"))
            ).alias("p05"),
            F.max(
                F.when(F.col("rnk") == F.col("hi_rank"), F.col("value"))
            ).alias("p95"),
        )
    )
    return (
        e.join(F.broadcast(bounds), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.greatest(F.least(F.col("value"), F.col("p95")), F.col("p05"))
            .alias("value_clipped"),
            "p05",
            "p95",
        )
    )


ORACLE_WINSORIZE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rnk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
), bounds AS (
  SELECT event_type,
         MIN(CASE WHEN rnk = CAST(ceil(n * 0.05) AS BIGINT)
                  THEN value END) AS p05,
         MAX(CASE WHEN rnk = CAST(ceil(n * 0.95) AS BIGINT)
                  THEN value END) AS p95
  FROM ranked
  WHERE rnk = CAST(ceil(n * 0.05) AS BIGINT)
     OR rnk = CAST(ceil(n * 0.95) AS BIGINT)
  GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       greatest(least(value, p95), p05) AS value_clipped, p05, p95
FROM events e JOIN bounds b ON e.event_type = b.event_type
WHERE value IS NOT NULL
"""

COMPACT_TARGET_CHARS = 50_000


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning — the small-files fix a 100 TB lake runs
    nightly: treat each document as a file of size n_chars, pack them
    in doc_id order into ~50 KB output groups by bucketing the running
    cumulative size, and report each group's file count and bytes.

    The cumulative sum is integer (exact); the bucket id is
    floor((cumsum − size) / target), i.e. a file starts a new group when
    the bytes before it cross the boundary — the greedy first-fit rule.
    One global-order window over (source) partitions: grouping is done
    per source partition so no single-task global sort exists.
    Compaction is an ORDERED operation: files without an id have no
    defined pack position (many NULL keys in one partition make the
    cumsum order-nondeterministic — found by the combined nulls+skew
    sweep), so they are dropped identically on both engines.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = d.select("source", "doc_id", F.col("n_chars").cast("long").alias("sz"))
    planned = sized.withColumn("cum", F.sum("sz").over(w)).withColumn(
        "grp",
        F.floor(
            (F.col("cum") - F.col("sz")) / F.lit(COMPACT_TARGET_CHARS)
        ).cast("long"),
    )
    return (
        planned.groupBy("source", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("sz").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


ORACLE_COMPACTION_PLAN = f"""
WITH planned AS (
  SELECT source, doc_id, n_chars AS sz,
         CAST(floor(
           CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_chars
                AS DOUBLE) / {COMPACT_TARGET_CHARS}) AS BIGINT) AS grp
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT source, grp, COUNT(*) AS n_files,
       CAST(SUM(sz) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM planned
GROUP BY source, grp
"""


CMS_W = 256  # count-min width (power of two → md5 mask)
CMS_D = 3    # count-min depth (independent hash rows)
CMS_TOP = 20


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a count-min sketch audit: the exact top-20
    corpus tokens next to their CMS estimates (d=3 rows × w=256 md5
    buckets, same position scheme as the bloom operator) and the
    resulting overcount.

    The sketch is the mergeable fixed-size structure you keep per
    partition at 100 TB (d·w counters regardless of vocab size,
    map-side combinable); the overcount column makes its error model
    observable. CMS never undercounts — pinned by construction here and
    by the oracle, which replays the identical buckets in SQL.
    """
    from ..operators.bloom import _position

    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(CMS_TOP)
    out = top
    est = None
    for s in range(CMS_D):
        counter = (
            counts.select(
                _position(F.col("token"), s, CMS_W).alias("b"),
                F.col("n"),
            )
            .groupBy("b")
            .agg(F.sum("n").cast("bigint").alias(f"c{s}"))
        )
        out = out.withColumn("b", _position(F.col("token"), s, CMS_W)).join(
            F.broadcast(counter), "b"
        ).drop("b")
        c = F.col(f"c{s}")
        est = c if est is None else F.least(est, c)
    return out.select(
        "token",
        "n",
        est.alias("cms_est"),
        (est - F.col("n")).alias("overcount"),
    ).orderBy(F.col("n").desc(), "token")


def _oracle_heavy_hitters() -> str:
    from ..operators.bloom import bloom_positions_sql

    counters = ",\n".join(
        f"ctr{s} AS (SELECT {bloom_positions_sql('token', s, CMS_W)} AS b,"
        f" CAST(SUM(n) AS BIGINT) AS c{s} FROM counts GROUP BY 1)"
        for s in range(CMS_D)
    )
    joins = "\n".join(
        f"JOIN ctr{s} ON ctr{s}.b = "
        f"{bloom_positions_sql('top.token', s, CMS_W)}"
        for s in range(CMS_D)
    )
    least = "least(" + ", ".join(f"c{s}" for s in range(CMS_D)) + ")"
    return f"""
WITH counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents)
  GROUP BY token
), top AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {CMS_TOP}
),
{counters}
SELECT top.token, top.n, {least} AS cms_est,
       {least} - top.n AS overcount
FROM top
{joins}
ORDER BY top.n DESC, top.token
"""


def q_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch MERGE — the frequency twin of q_hll_union's HLL
    max-merge: each source builds its own d×w counter table, the global
    sketch is the register-wise SUM across sources (sum is associative,
    so the merged sketch is bit-identical to a direct build), and the
    exact top-20 corpus tokens are estimated from the MERGED sketch. At
    100 TB each partition/source keeps d·w counters, the rollup
    shuffles d·w rows per source, and raw tokens are never re-scanned
    for the merge. The oracle replays both levels."""
    from ..operators.bloom import _position

    d = load(spark, sf_dir, "documents")
    # consumed by the global counts AND all d per-source counters, with
    # no exchange reuse between them — cut the vocabulary-sized
    # aggregate with an eager checkpoint so the corpus explodes once and
    # no cache outlives the query
    per_src = (
        d.select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    counts = per_src.groupBy("token").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(CMS_TOP)
    out = top
    est = None
    for s in range(CMS_D):
        src_counter = (
            per_src.select(
                "source",
                _position(F.col("token"), s, CMS_W).alias("b"),
                "n",
            )
            .groupBy("source", "b")
            .agg(F.sum("n").cast("bigint").alias("c"))
        )
        merged = src_counter.groupBy("b").agg(
            F.sum("c").cast("bigint").alias(f"c{s}")
        )
        out = out.withColumn(
            "b", _position(F.col("token"), s, CMS_W)
        ).join(F.broadcast(merged), "b").drop("b")
        c = F.col(f"c{s}")
        est = c if est is None else F.least(est, c)
    return out.select(
        "token",
        "n",
        est.alias("cms_est"),
        (est - F.col("n")).alias("overcount"),
    ).orderBy(F.col("n").desc(), "token")


def _oracle_cms_merge() -> str:
    from ..operators.bloom import bloom_positions_sql

    counters = ",\n".join(
        f"ctr{s} AS (SELECT b, CAST(SUM(c) AS BIGINT) AS c{s} FROM ("
        f"SELECT source, {bloom_positions_sql('token', s, CMS_W)} AS b,"
        f" CAST(SUM(n) AS BIGINT) AS c FROM srccounts GROUP BY 1, 2) u"
        f" GROUP BY b)"
        for s in range(CMS_D)
    )
    joins = "\n".join(
        f"JOIN ctr{s} ON ctr{s}.b = "
        f"{bloom_positions_sql('top.token', s, CMS_W)}"
        for s in range(CMS_D)
    )
    least = "least(" + ", ".join(f"c{s}" for s in range(CMS_D)) + ")"
    return f"""
WITH srccounts AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token
        FROM documents)
  GROUP BY source, token
), counts AS (
  SELECT token, CAST(SUM(n) AS BIGINT) AS n FROM srccounts GROUP BY token
), top AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {CMS_TOP}
),
{counters}
SELECT top.token, top.n, {least} AS cms_est,
       {least} - top.n AS overcount
FROM top
{joins}
ORDER BY top.n DESC, top.token
"""


def q_cms_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by count-min INNER PRODUCT (Cormode &
    Muthukrishnan 2005 §4.2) — the planner statistic that decides
    broadcast vs shuffle before running the join: |events ⋈ orders on
    user=cust| = Σ_k e_k·o_k, estimated as min over hash rows of
    Σ_b cms_e[b]·cms_o[b]. The estimate never undershoots (every
    CMS row overcounts), so a planner using it errs toward shuffle —
    the safe direction. Exact value rides along for the error column;
    everything is bigint arithmetic (deterministic).

    100 TB shape: each side reduces to d·w counters (map-side
    combinable; d·w rows shuffled per side, independent of row count);
    the exact baseline is a per-key count join that scales with
    DISTINCT keys, not rows. NULL keys never join — excluded from both
    the sketch and the exact count on both sides."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ne"))
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("no"))
    )
    from ..operators.bloom import _position

    exact = (
        e.join(o, "k")
        .agg(F.sum(F.col("ne") * F.col("no")).cast("bigint").alias("x"))
        .select(F.coalesce("x", F.lit(0)).alias("exact_pairs"))
    )
    est = None
    out = exact
    for s in range(CMS_D):
        ce = e.groupBy(_position(F.col("k"), s, CMS_W).alias("b")).agg(
            F.sum("ne").cast("bigint").alias("ce")
        )
        co = o.groupBy(_position(F.col("k"), s, CMS_W).alias("b")).agg(
            F.sum("no").cast("bigint").alias("co")
        )
        dot = (
            ce.join(co, "b")
            .agg(
                F.sum(F.col("ce") * F.col("co")).cast("bigint").alias("d")
            )
            .select(F.coalesce("d", F.lit(0)).alias(f"d{s}"))
        )
        out = out.crossJoin(F.broadcast(dot))  # 1-row frames
        c = F.col(f"d{s}")
        est = c if est is None else F.least(est, c)
    return out.select(
        "exact_pairs",
        est.alias("cms_est"),
        (est - F.col("exact_pairs")).alias("overcount"),
        sround(
            F.when(
                F.col("exact_pairs") > 0,
                (est - F.col("exact_pairs")).cast("double")
                / F.col("exact_pairs").cast("double"),
            ),
            6,
        ).alias("rel_overcount"),
    )


def _oracle_cms_join_estimate() -> str:
    from ..operators.bloom import bloom_positions_sql

    dots = ",\n".join(
        f"dot{s} AS (SELECT COALESCE(SUM(ce.c * co.c), 0) AS d{s} FROM ("
        f"SELECT {bloom_positions_sql('k', s, CMS_W)} AS b,"
        f" CAST(SUM(ne) AS BIGINT) AS c FROM e GROUP BY 1) ce JOIN ("
        f"SELECT {bloom_positions_sql('k', s, CMS_W)} AS b,"
        f" CAST(SUM(no) AS BIGINT) AS c FROM o GROUP BY 1) co"
        f" ON ce.b = co.b)"
        for s in range(CMS_D)
    )
    least = "least(" + ", ".join(f"d{s}" for s in range(CMS_D)) + ")"
    return f"""
WITH e AS (
  SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS ne FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
), o AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS no FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY 1
), exact AS (
  SELECT COALESCE(SUM(e.ne * o.no), 0) AS exact_pairs
  FROM e JOIN o ON e.k = o.k
),
{dots}
SELECT CAST(exact_pairs AS BIGINT) AS exact_pairs,
       CAST({least} AS BIGINT) AS cms_est,
       CAST({least} - exact_pairs AS BIGINT) AS overcount,
       {sround_sql(
           "CASE WHEN exact_pairs > 0 THEN "
           "CAST(" + least + " - exact_pairs AS DOUBLE)"
           " / CAST(exact_pairs AS DOUBLE) END", 6)} AS rel_overcount
FROM exact, {", ".join(f"dot{s}" for s in range(CMS_D))}
"""


MEDIAN_BUCKET_W = 1000.0  # value-range grid for the selection pass


def q_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median of l_extendedprice by distributed selection, not a
    global sort: bucket-count the column on a fixed value grid, find the
    bucket holding rank ⌈n/2⌉ from the (tiny) cumulative bucket table,
    then resolve the exact element with a TakeOrdered limited to that
    single bucket's rows.

    This is the textbook two-pass selection algorithm: pass 1 is a
    map-side-combinable histogram (bucket count is set by the value
    range, not the row count); pass 2 scans only ~1/buckets of the data
    and its limit is the in-bucket rank. No step sorts more than one
    bucket. The approx sketch (q_approx_percentile) is the cheap cousin;
    this is what you run when the number must be exact.
    """
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    bucket = F.floor(F.col("v") / F.lit(MEDIAN_BUCKET_W)).cast("long")
    hist = li.groupBy(bucket.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    n_df = hist.agg(F.sum("c").cast("bigint").alias("n"))
    cum = (
        hist.withColumn(
            "before", F.coalesce(F.sum("c").over(wb), F.lit(0).cast("bigint"))
        )
        .crossJoin(F.broadcast(n_df))
        .withColumn("k", F.floor((F.col("n") + 1) / 2).cast("bigint"))
    )
    target = cum.filter(
        (F.col("before") < F.col("k"))
        & (F.col("before") + F.col("c") >= F.col("k"))
    ).select("b", "before", "k", "n")
    # resolve within the single target bucket: the (k - before)-th
    # smallest value of that bucket. The limit is driven by a join, so
    # express it as a rank inside the bucket (bucket rows ≈ n/buckets).
    in_bucket = li.withColumn("b", bucket).join(
        F.broadcast(target), "b"
    )
    wv = Window.partitionBy("b").orderBy("v")
    return (
        in_bucket.withColumn("rn", F.row_number().over(wv).cast("bigint"))
        .filter(F.col("rn") == F.col("k") - F.col("before"))
        .select("n", "k", F.col("v").alias("median"))
    )


ORACLE_EXACT_MEDIAN = """
WITH s AS (
  SELECT l_extendedprice AS v,
         CAST(row_number() OVER (ORDER BY l_extendedprice) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM lineitem
)
SELECT n, CAST(FLOOR((n + 1) / 2) AS BIGINT) AS k, v AS median
FROM s WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
"""


def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer→supplier order graph — the
    first profile you run on any graph before choosing partitioning
    (power-law tails are what make naive graph shuffles fall over).
    Two linear aggs: distinct edges → out-degree per node → node count
    per degree."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            F.col("l_suppkey").cast("bigint").alias("dst"),
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy("degree")
    )


ORACLE_DEGREE_DIST = """
WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                  CAST(l_suppkey AS BIGINT) AS dst
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e GROUP BY src)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree ORDER BY degree
"""


def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the foreign-key health check a lake
    runs after every ingest: orphan counts for each fact→dim edge
    (orders→customer, lineitem→orders/part/supplier). Each check is one
    LEFT ANTI join (broadcastable dim side or shuffle-hash on the key)
    aggregated to a single count; the union of four tiny frames is the
    report."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    p = load(spark, sf_dir, "part")
    su = load(spark, sf_dir, "supplier")

    def orphans(fact, key, dim, dim_key, edge):
        return (
            fact.join(dim, fact[key] == dim[dim_key], "left_anti")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orphans"))
            .select(F.lit(edge).alias("edge"), "n_orphans")
        )

    return (
        orphans(o, "o_custkey", c, "c_custkey", "orders->customer")
        .unionByName(
            orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        )
        .unionByName(
            orphans(li, "l_partkey", p, "p_partkey", "lineitem->part")
        )
        .unionByName(
            orphans(li, "l_suppkey", su, "s_suppkey", "lineitem->supplier")
        )
        .orderBy("edge")
    )


ORACLE_REF_INTEGRITY = """
SELECT 'orders->customer' AS edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM orders WHERE NOT EXISTS
  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
UNION ALL
SELECT 'lineitem->orders', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE NOT EXISTS
  (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
ORDER BY edge
"""


def q_dup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI report — what exact dedup would save, per source:
    duplicate rows (n−1 per sha-group) and the chars they waste. This is
    the query that justifies (or kills) running the dedup pass at all.
    One hash-groupBy on (source, sha256), then a per-source rollup —
    two linear shuffles."""
    d = load(spark, sf_dir, "documents")
    groups = (
        d.groupBy("source", F.sha2("text", 256).alias("h"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("n_chars").cast("bigint").alias("chars"),
        )
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.sum(F.col("n") - 1).cast("bigint").alias("dup_docs"),
            F.sum((F.col("n") - 1) * F.col("chars"))
            .cast("bigint")
            .alias("wasted_chars"),
        )
        .orderBy(F.col("wasted_chars").desc(), "source")
    )


ORACLE_DUP_IMPACT = """
WITH groups AS (
  SELECT source, sha256(text) AS h, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source, h)
SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(SUM(n - 1) AS BIGINT) AS dup_docs,
       CAST(SUM((n - 1) * chars) AS BIGINT) AS wasted_chars
FROM groups GROUP BY source
ORDER BY wasted_chars DESC, source
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the fraud/synthetic-
    data smell test a data-quality pass runs over any money column.
    First digit comes from the INTEGER part rendered as a string
    (bigint→string is engine-portable; double→string is not), counts
    are exact, and the ratio is one IEEE division of exact bigints —
    no rounding discipline needed. One scan, one 9-row agg."""
    o = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    )
    counts = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    total = o.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("total").cast("double")
             ).alias("ratio"),
        )
        .orderBy("digit")
    )


ORACLE_BENFORD = """
WITH counts AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY digit),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders)
SELECT digit, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS ratio
FROM counts CROSS JOIN total ORDER BY digit
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source outlier screen (median/MAD, the
    Hampel-identifier rule): classic z-scores break when the outliers
    themselves inflate the mean/stddev; median ± 3·MAD does not. Both
    statistics use the DISCRETE lower median (rank ⌈n/2⌉ element — the
    q_exact_median convention, no interpolation), so every comparison
    is exact integer arithmetic; the only double is the reported rate.

    Plan: two partitioned window passes over the slim (source, n_chars)
    projection — rank to locate the median element, a partition MAX to
    broadcast it within the window (no join on the nullable source
    key), same again for MAD — then one groupBy. Windows are
    PARTITIONED by source; nothing global. n_chars/doc_id NULLs are
    dropped on both sides (engines order NULLs oppositely)."""
    from pyspark.sql import Window

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull() & F.col("doc_id").isNotNull())
        .select("source", "doc_id", F.col("n_chars").alias("v"))
    )
    wsrc = Window.partitionBy("source")
    w1 = wsrc.orderBy("v", "doc_id")
    t = (
        d.withColumn("rn", F.row_number().over(w1))
        .withColumn("n", F.count(F.lit(1)).over(wsrc))
        .withColumn(
            "med",
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") / 2).cast("int"),
                    F.col("v"),
                )
            ).over(wsrc),
        )
        .withColumn("dev", F.abs(F.col("v") - F.col("med")))
    )
    w2 = wsrc.orderBy("dev", "doc_id")
    t2 = (
        t.withColumn("rn2", F.row_number().over(w2))
        .withColumn(
            "mad",
            F.max(
                F.when(
                    F.col("rn2") == F.ceil(F.col("n") / 2).cast("int"),
                    F.col("dev"),
                )
            ).over(wsrc),
        )
    )
    out = F.col("dev") > 3 * F.col("mad")
    return t2.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("med").cast("bigint").alias("median_chars"),
        F.max("mad").cast("bigint").alias("mad_chars"),
        F.sum(F.when(out, 1).otherwise(0)).cast("bigint").alias(
            "n_outliers"
        ),
        sround(
            F.sum(F.when(out, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("outlier_rate"),
    )


ORACLE_ROBUST_OUTLIERS = f"""
WITH d AS (
  SELECT source, doc_id, n_chars AS v FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
), t AS (
  SELECT source, doc_id, v,
         row_number() OVER (PARTITION BY source ORDER BY v, doc_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
), m AS (
  SELECT *, MAX(CASE WHEN rn = CAST(ceil(n / 2.0) AS INT) THEN v END)
              OVER (PARTITION BY source) AS med
  FROM t
), dv AS (
  SELECT source, doc_id, v, n, med, abs(v - med) AS dev FROM m
), r2 AS (
  SELECT *, row_number() OVER (PARTITION BY source ORDER BY dev, doc_id)
              AS rn2
  FROM dv
), m2 AS (
  SELECT *, MAX(CASE WHEN rn2 = CAST(ceil(n / 2.0) AS INT) THEN dev END)
              OVER (PARTITION BY source) AS mad
  FROM r2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(med) AS BIGINT) AS median_chars,
       CAST(MAX(mad) AS BIGINT) AS mad_chars,
       CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       {sround_sql(
           "CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END)"
           " AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 4)}
         AS outlier_rate
FROM m2 GROUP BY source
"""


KMV_K = 64


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source overlap by KMV (bottom-k / k-minimum-values)
    sketches — the ORDER-STATISTIC sibling of q_hll_overlap's register
    sketch, and the one that gives Jaccard directly: per source keep the
    K smallest 60-bit token hashes; for a pair, the K smallest of the
    two sketches' union IS the union's KMV sketch (closure under union
    is the whole point), distinct-union ≈ (K-1)·2^60 / h_(K), Jaccard ≈
    |both-sources ∩ merged-k| / K, intersection = J · union. Sources
    whose merged sketch has fewer than K hashes fall back to exact
    counts (the estimator's own exact regime).

    Scale shape: one distinct-(source, hash) aggregation, a bottom-K
    window PARTITIONED by source over that deduped set, then all pair
    math on ≤ 2K rows per pair — sketches travel, raw tokens don't. At
    100 TB the per-source window input is the distinct hash set; the
    production dial is a pre-filter h < t from a coarse per-source count
    (any t keeping ≥ K survivors is lossless for bottom-K)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    tok = (
        d.select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
        "bigint"
    )
    hs = tok.select("source", h.alias("h")).distinct()
    w = Window.partitionBy("source").orderBy("h")
    botk = (
        hs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    s = hs.select("source").distinct()
    pairs = (
        s.select(F.col("source").alias("src_a"))
        .crossJoin(F.broadcast(s.select(F.col("source").alias("src_b"))))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    merged = (
        pairs.join(
            botk.select(F.col("source").alias("src_a"), "h"), "src_a"
        )
        .unionByName(
            pairs.join(
                botk.select(F.col("source").alias("src_b"), "h"), "src_b"
            ).select("src_a", "src_b", "h")
        )
        .groupBy("src_a", "src_b", "h")
        .agg(F.count("*").alias("cnt"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("h")
    wall = Window.partitionBy("src_a", "src_b")
    mr = merged.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n_m", F.count("*").over(wall)
    )
    agg = mr.groupBy("src_a", "src_b").agg(
        F.max("n_m").alias("n_m"),
        F.max(
            F.when(
                F.col("rn") == F.least(F.lit(KMV_K), F.col("n_m")),
                F.col("h"),
            )
        ).alias("h_l"),
        F.sum(
            F.when((F.col("rn") <= KMV_K) & (F.col("cnt") == 2), 1)
            .otherwise(0)
        ).alias("common"),
    )
    l_col = F.least(F.lit(KMV_K), F.col("n_m")).cast("double")
    union_raw = F.when(
        F.col("n_m") < KMV_K, F.col("n_m").cast("double")
    ).otherwise(
        (F.lit(float(KMV_K)) - 1.0)
        * 1152921504606846976.0
        / F.col("h_l").cast("double")
    )
    jacc_raw = F.col("common").cast("double") / l_col
    return agg.select(
        "src_a",
        "src_b",
        sround(union_raw, 2).alias("union_est"),
        sround(jacc_raw, 4).alias("jaccard_est"),
        sround(jacc_raw * union_raw, 2).alias("inter_est"),
    ).orderBy("src_a", "src_b")


def _oracle_kmv_overlap() -> str:
    from ._util import sround_sql

    k = KMV_K
    union_raw = (
        f"CASE WHEN n_m < {k} THEN CAST(n_m AS DOUBLE) "
        f"ELSE ({float(k)} - 1.0) * 1152921504606846976.0 "
        f"/ CAST(h_l AS DOUBLE) END"
    )
    jacc_raw = f"CAST(common AS DOUBLE) / CAST(LEAST({k}, n_m) AS DOUBLE)"
    return f"""
WITH tok AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
), hs AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM tok WHERE tok <> ''
), botk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hs) t WHERE rn <= {k}
), s AS (
  SELECT DISTINCT source FROM hs
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM s a JOIN s b ON a.source < b.source
), mu AS (
  SELECT src_a, src_b, h, COUNT(*) AS cnt FROM (
    SELECT p.src_a, p.src_b, kk.h
    FROM pairs p JOIN botk kk ON kk.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, kk.h
    FROM pairs p JOIN botk kk ON kk.source = p.src_b
  ) u GROUP BY src_a, src_b, h
), mr AS (
  SELECT src_a, src_b, h, cnt,
         row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY src_a, src_b) AS n_m
  FROM mu
), agg AS (
  SELECT src_a, src_b, MAX(n_m) AS n_m,
         MAX(CASE WHEN rn = LEAST({k}, n_m) THEN h END) AS h_l,
         SUM(CASE WHEN rn <= {k} AND cnt = 2 THEN 1 ELSE 0 END) AS common
  FROM mr GROUP BY src_a, src_b
)
SELECT src_a, src_b,
       {sround_sql(union_raw, 2)} AS union_est,
       {sround_sql(jacc_raw, 4)} AS jaccard_est,
       {sround_sql(f"({jacc_raw}) * ({union_raw})", 2)} AS inter_est
FROM agg ORDER BY src_a, src_b
"""


QUERIES = {
    "q_kmv_overlap": q_kmv_overlap,
    "q_benford": q_benford,
    "q_ref_integrity": q_ref_integrity,
    "q_degree_dist": q_degree_dist,
    "q_dup_impact": q_dup_impact,
    "q_approx_distinct": q_approx_distinct,
    "q_hll_union": q_hll_union,
    "q_windowed_distinct": q_windowed_distinct,
    "q_stickiness": q_stickiness,
    "q_approx_percentile": q_approx_percentile,
    "q_zorder": q_zorder,
    "q_zone_map": q_zone_map,
    "q_key_skew_audit": q_key_skew_audit,
    "q_profile": q_profile,
    "q_pagerank": q_pagerank,
    "q_bfs_hops": q_bfs_hops,
    "q_link_predict": q_link_predict,
    "q_hll_overlap": q_hll_overlap,
    "q_label_prop": q_label_prop,
    "q_hits": q_hits,
    "q_kcore": q_kcore,
    "q_bloom_join": q_bloom_join,
    "q_stratified_sample": q_stratified_sample,
    "q_weighted_sample": q_weighted_sample,
    "q_weighted_sample_stratified": q_weighted_sample_stratified,
    "q_bootstrap_ci": q_bootstrap_ci,
    "q_modularity": q_modularity,
    "q_winsorize": q_winsorize,
    "q_robust_outliers": q_robust_outliers,
    "q_cms_join_estimate": q_cms_join_estimate,
    "q_compaction_plan": q_compaction_plan,
    "q_heavy_hitters": q_heavy_hitters,
    "q_cms_merge": q_cms_merge,
    "q_exact_median": q_exact_median,
}

ORACLES = {
    "q_benford": ORACLE_BENFORD,
    "q_ref_integrity": ORACLE_REF_INTEGRITY,
    "q_degree_dist": ORACLE_DEGREE_DIST,
    "q_dup_impact": ORACLE_DUP_IMPACT,
    "q_approx_distinct": ORACLE_APPROX_DISTINCT,
    "q_hll_union": _oracle_hll_union(),
    "q_windowed_distinct": ORACLE_WINDOWED_DISTINCT,
    "q_stickiness": _oracle_stickiness(),
    "q_approx_percentile": ORACLE_APPROX_PERCENTILE,
    "q_zorder": _oracle_zorder(),
    "q_zone_map": _oracle_zone_map(),
    "q_key_skew_audit": ORACLE_KEY_SKEW_AUDIT,
    "q_profile": _oracle_profile(),
    "q_pagerank": _oracle_pagerank(),
    "q_bfs_hops": _oracle_bfs_hops(),
    "q_link_predict": _oracle_link_predict(),
    "q_hll_overlap": _oracle_hll_overlap(),
    "q_kmv_overlap": _oracle_kmv_overlap(),
    "q_label_prop": _oracle_label_prop(),
    "q_hits": _oracle_hits(),
    "q_kcore": _oracle_kcore(),
    "q_bloom_join": _oracle_bloom_join(),
    "q_stratified_sample": _oracle_stratified_sample(),
    "q_weighted_sample": _oracle_weighted_sample(),
    "q_weighted_sample_stratified": _oracle_weighted_sample_stratified(),
    "q_bootstrap_ci": _oracle_bootstrap_ci(),
    "q_modularity": _oracle_modularity(),
    "q_winsorize": ORACLE_WINSORIZE,
    "q_robust_outliers": ORACLE_ROBUST_OUTLIERS,
    "q_cms_join_estimate": _oracle_cms_join_estimate(),
    "q_compaction_plan": ORACLE_COMPACTION_PLAN,
    "q_heavy_hitters": _oracle_heavy_hitters(),
    "q_cms_merge": _oracle_cms_merge(),
    "q_exact_median": ORACLE_EXACT_MEDIAN,
}
