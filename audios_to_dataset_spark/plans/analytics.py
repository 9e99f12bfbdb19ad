"""Flagship analytics plans: TPC-H-shaped reports and event funnels.

These are the multi-join/agg pipelines that dominate real warehouse
load; each is oracle-checked with the decimal-sum discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._edges import copurchase_edges
from ._oracle_sql import ORIENTED_TRIANGLES, cc_labels, jaccard_pairs
from ._util import DEC, davg, davg_sql, dsum, dsum_sql, sround, sround_sql


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: top-10 highest-revenue orders for one market
    segment before a cutoff date."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load(spark, sf_dir, "lineitem")
    revenue = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


ORACLE_TOP_ORDERS = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: revenue lost to returns per customer (top 20)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load(spark, sf_dir, "nation")
    revenue = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


ORACLE_RETURNED_ITEMS = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS lost_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey LIMIT 20
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase per user: a user reaches
    a stage only if its first event time follows the previous stage's."""
    e = load(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    reached_click = (
        F.col("t_signup").isNotNull()
        & F.col("t_click").isNotNull()
        & (F.col("t_click") > F.col("t_signup"))
    )
    reached_purchase = reached_click & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") > F.col("t_click")
    )
    return stage.agg(
        F.count(F.when(F.col("t_signup").isNotNull(), 1)).alias("n_signup"),
        F.count(F.when(reached_click, 1)).alias("n_click_after"),
        F.count(F.when(reached_purchase, 1)).alias("n_purchase_after"),
    )


ORACLE_FUNNEL = """
WITH stage AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
       COUNT(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                   AND t_click > t_signup THEN 1 END) AS n_click_after,
       COUNT(CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                   AND t_click > t_signup AND t_purchase IS NOT NULL
                   AND t_purchase > t_click THEN 1 END) AS n_purchase_after
FROM stage
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention: for each user's first-seen day, how many
    users were active again k days later (k ≤ 7)."""
    e = load(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = e.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    k = F.datediff(F.col("day"), F.col("cohort_day")).cast("long")
    return (
        active.join(first_day, "user_id")
        .withColumn("k", k)
        .filter(F.col("k").between(0, 7))
        .groupBy("cohort_day", "k")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


ORACLE_RETENTION = """
WITH first_day AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
  FROM events GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
)
SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE))
            AS BIGINT) AS k,
       COUNT(DISTINCT a.user_id) AS n_active
FROM active a JOIN first_day f ON a.user_id = f.user_id
WHERE date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE))
      BETWEEN 0 AND 7
GROUP BY 1, 2
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the n-gram Jaccard
    pair graph. Spark side is iterative min-label propagation
    (operators.graph); the oracle computes the same fixpoint with a
    recursive CTE. Returns (id, cluster_id = min reachable id)."""
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components
    from .dedup import MAX_SHINGLE_FREQ

    # components are keyed on doc_id: NULL ids can't carry a cluster
    # label (min over NULLs and NULL-group collapse behave differently
    # across engines) — drop id-less docs on both sides (--nulls sweep)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    pairs = ngram_jaccard_pairs(
        d, threshold=0.2, max_shingle_freq=MAX_SHINGLE_FREQ
    ).select("doc_a", "doc_b")
    ids = d.select(F.col("doc_id").alias("id"))
    return connected_components(ids, pairs, src="doc_a", dst="doc_b")


def _dup_cluster_ctes() -> str:
    """CTEs toks .. cc(id, cluster_id) of the n-gram Jaccard near-dup
    clusters, read by the dedup-clusters oracle and by the
    cluster-aware split assigner in plans/curation."""
    from .dedup import NGRAM_THRESHOLD

    docs = "documents WHERE doc_id IS NOT NULL"
    return f"""{jaccard_pairs(docs, NGRAM_THRESHOLD)},
{cc_labels(f"SELECT doc_id AS id FROM {docs}",
           "SELECT doc_a AS a, doc_b AS b FROM jpairs")}"""


def _oracle_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE {_dup_cluster_ctes()}
SELECT id, cluster_id FROM cc
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest order at or
    before the event time (operators.asof union+window trick — one
    shuffle, no range explosion). Oracle is an independent correlated-
    subquery formulation, so the two implementations cross-check."""
    from ..operators.asof import as_of_join

    # as-of semantics need a key and a time on both sides: the
    # union+window trick groups NULL keys together while SQL `=` never
    # matches them, and NULL times order differently — drop unkeyed/
    # unstamped rows identically on both engines (--nulls sweep)
    e = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    joined = as_of_join(
        e, o,
        left_key="user_id", right_key="o_custkey",
        left_time="ts", right_time="o_orderdate",
        right_value_cols=["o_orderdate", "o_orderkey"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.col("asof_o_orderdate").alias("asof_orderdate"),
    )


ORACLE_ASOF_JOIN = """
SELECT e.event_id, e.user_id,
       (SELECT max(o.o_orderkey) FROM orders o
        WHERE o.o_custkey = e.user_id AND o.o_orderdate IS NOT NULL
          AND o.o_orderdate = (SELECT max(o2.o_orderdate) FROM orders o2
                               WHERE o2.o_custkey = e.user_id
                                 AND o2.o_orderdate <= e.ts))
         AS asof_orderkey,
       (SELECT max(o2.o_orderdate) FROM orders o2
        WHERE o2.o_custkey = e.user_id AND o2.o_orderdate <= e.ts)
         AS asof_orderdate
FROM events e
WHERE e.user_id IS NOT NULL AND e.ts IS NOT NULL
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: for each signup event, how many events the same user
    produced within the following hour (bucketed-candidate equi-join —
    no nested loop). Oracle is the direct inequality join DuckDB plans
    as an IEJoin, so the two strategies cross-check."""
    from ..operators.rangejoin import range_join

    e = load(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id"),
        F.col("ts"),
    )
    followers = e.select(
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
        F.col("event_id").alias("f_id"),
    )
    matched = range_join(
        signups, followers,
        left_key="user_id", right_key="f_user",
        left_time="ts", right_time="f_ts",
        lower_us=0, upper_us=3_600_000_000,
    )
    counted = matched.groupBy("signup_id").agg(
        F.count("*").alias("n_following")
    )
    return (
        signups.join(counted, "signup_id", "left")
        .select(
            "signup_id",
            F.coalesce("n_following", F.lit(0)).alias("n_following"),
        )
    )


ORACLE_RANGE_JOIN = """
SELECT s.event_id AS signup_id,
       COUNT(e.event_id) AS n_following
FROM events s LEFT JOIN events e
  ON e.user_id = s.user_id
 AND epoch_us(e.ts) > epoch_us(s.ts)
 AND epoch_us(e.ts) <= epoch_us(s.ts) + 3600000000
WHERE s.event_type = 'signup'
GROUP BY s.event_id
"""


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped: shipping volume between supplier and customer
    nations for 1997 — two broadcast dimension joins hanging off the
    lineitem⋈orders fact join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    volume = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.sn_key)
        .join(F.broadcast(n2), c.c_nationkey == n2.cn_key)
        .groupBy("supp_nation", "cust_nation")
        .agg(F.sum(volume).cast("double").alias("volume"),
             F.count("*").alias("n_items"))
    )


ORACLE_NATION_VOLUME = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS volume,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: share of revenue from 'PROMO%' parts in one
    month (conditional aggregation over a fact⋈dim join)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-06-01")
        & (F.col("l_shipdate") < "1997-07-01")
    )
    p = load(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(28,6)")
    promo_rev = F.when(
        F.col("p_type").startswith("PROMO"), rev
    ).otherwise(F.lit(0).cast("decimal(28,6)"))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        (
            F.sum(promo_rev).cast("double") * 100.0
            / F.sum(rev).cast("double")
        ).alias("promo_pct"),
        F.count("*").alias("n_items"),
    )


ORACLE_PROMO_REVENUE = """
SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,6))
                     ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE) * 100.0
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(28,6))) AS DOUBLE) AS promo_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01'
  AND l_shipdate < TIMESTAMP '1997-07-01'
"""



def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient fact-dimension join as a first-class query: the
    lineitem fact side is salted into 8 buckets and the supplier
    dimension replicated 8x, so one hot supplier key can no longer pin a
    single reducer (operators/skew.salted_join — salts affect placement
    only, never results; the oracle is the plain join). Then the usual
    per-supplier decimal-sum rollup."""
    from ..operators.skew import salted_join
    from ._util import dsum

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    j = salted_join(li, s, "suppkey")
    return j.groupBy("s_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        dsum("l_extendedprice").alias("total_price"),
    )


ORACLE_SKEW_JOIN = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
         AS total_price
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""



def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame after clustering: per near-dup cluster keep one
    canonical document (longest text, doc_id tie-break) and report the
    cluster size — the keep/drop decision that actually shrinks the
    corpus. One window over the cluster assignment."""
    from pyspark.sql import Window

    clusters = q_dedup_clusters(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.length("text").cast("bigint").alias("text_len"),
    )
    j = clusters.join(d, "id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("text_len").desc(), F.col("id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(
                Window.partitionBy("cluster_id")
            ).cast("bigint"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("id").alias("survivor_id"),
            F.col("text_len").alias("survivor_len"),
            "n_members",
        )
    )


def _oracle_dedup_survivors() -> str:
    return f"""
WITH clusters AS ({_oracle_dedup_clusters()}),
j AS (
  SELECT c.id, c.cluster_id, CAST(length(d.text) AS BIGINT) AS text_len
  FROM clusters c JOIN documents d ON d.doc_id = c.id
), r AS (
  SELECT cluster_id, id, text_len,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY text_len DESC, id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS n_members
  FROM j
)
SELECT cluster_id, id AS survivor_id, text_len AS survivor_len, n_members
FROM r WHERE rn = 1
"""



def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-dedup pass as ONE query — what a user actually
    runs before training: (1) exact dedup (sha256, min-id survivor),
    (2) n-gram Jaccard near-dup pairs over the exact survivors (with
    the stop-shingle cap), (3) connected components, (4) one canonical
    doc per cluster (longest text, id tie-break). Returns the kept
    corpus with per-doc exact-copy and cluster counts."""
    from pyspark.sql import Window

    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components
    from .dedup import MAX_SHINGLE_FREQ

    d = load(spark, sf_dir, "documents")
    groups = d.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact_copies"),
    )
    docs = d.join(groups, "doc_id").select(
        "doc_id", "text", "n_exact_copies"
    )
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.2, max_shingle_freq=MAX_SHINGLE_FREQ
    ).select("doc_a", "doc_b")
    ids = docs.select(F.col("doc_id").alias("id"))
    cc = connected_components(ids, pairs, src="doc_a", dst="doc_b")
    j = cc.join(
        docs.select(
            F.col("doc_id").alias("id"),
            F.length("text").cast("bigint").alias("text_len"),
            "n_exact_copies",
        ),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("text_len").desc(), F.col("id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1))
            .over(Window.partitionBy("cluster_id"))
            .cast("bigint"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("id").alias("kept_id"),
            "n_exact_copies",
            "n_members",
            "text_len",
        )
    )


def _oracle_dedup_pipeline() -> str:
    from .dedup import NGRAM_THRESHOLD

    return f"""
WITH RECURSIVE grp AS (
  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact_copies
  FROM documents GROUP BY sha256(text)
), docs AS (
  SELECT d.doc_id, d.text, grp.n_exact_copies
  FROM documents d JOIN grp ON d.doc_id = grp.doc_id
), {jaccard_pairs("docs", NGRAM_THRESHOLD)},
{cc_labels("SELECT doc_id AS id FROM docs",
           "SELECT doc_a AS a, doc_b AS b FROM jpairs")}, j AS (
  SELECT cc.id, cc.cluster_id,
         CAST(length(docs.text) AS BIGINT) AS text_len,
         docs.n_exact_copies
  FROM cc JOIN docs ON docs.doc_id = cc.id
), r AS (
  SELECT id, cluster_id, text_len, n_exact_copies,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY text_len DESC, id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS n_members
  FROM j
)
SELECT id AS kept_id, n_exact_copies, n_members, text_len
FROM r WHERE rn = 1
"""


def q_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: distribution of order counts per customer,
    including never-ordered customers (left join keeps the zero bucket).

    Pure integer arithmetic — no float parity tricks needed. Scale: one
    shuffle on the join/grouping key (custkey), then a tiny second agg
    on the count value; both map-side combinable.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_CUST_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the part co-purchase graph (parts linked
    when they appear in the same order) via degree-oriented wedge
    enumeration — the scale-safe distributed algorithm, not the naive
    three-way self-join. See operators/graph.py:triangle_count for the
    O(m^1.5) bound argument."""
    from ..operators.graph import triangle_count

    return triangle_count(copurchase_edges(load(spark, sf_dir, "lineitem")))


ORACLE_TRIANGLE_COUNT = f"""
WITH {ORIENTED_TRIANGLES}
SELECT (SELECT COUNT(*) FROM e0) AS n_edges,
       (SELECT COUNT(*) FROM deg) AS n_nodes,
       COUNT(*) AS n_triangles
FROM tri
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: revenue from lineitems whose quantity is below
    20% of their part's average quantity (correlated scalar aggregate,
    decorrelated into a groupBy + equi-join).

    The per-part average uses the decimal-sum discipline and the
    comparison is against the *rounded* threshold on both engines, so no
    boundary row can flip. Scale: one shuffle to build per-part averages
    (map-side combinable), then an equi-join on partkey — Catalyst's
    standard decorrelation, no per-row subquery.
    """
    li = load(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        sround(davg("l_quantity") * 0.2, 6).alias("qty_threshold")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            (dsum("l_extendedprice") / 7.0).alias("avg_yearly"),
        )
    )


ORACLE_SMALL_QTY_REVENUE = f"""
WITH t AS (
  SELECT l_partkey,
         {sround_sql(davg_sql('l_quantity') + ' * 0.2', 6)} AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT COUNT(*) AS n_small,
       {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem JOIN t USING (l_partkey)
WHERE l_quantity < qty_threshold
"""


HIGH_ORDER_CUTOFF = 400_000.0


def q_above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: per market segment, customers with an
    above-average account balance who have never placed a high-value
    order (scalar-subquery threshold + left-anti join; the testdata has
    no zero-order customers, so the anti-join target is the filtered
    high-value order set to keep the result non-vacuous).

    The global average is a broadcast scalar; the anti-join shuffles on
    custkey with the order-side filter pushed below it. The balance
    filter compares raw doubles to a decimal-derived threshold that both
    engines compute identically.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > HIGH_ORDER_CUTOFF
    )
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_ABOVE_AVG_CUSTOMERS = f"""
WITH t AS (
  SELECT {davg_sql('c_acctbal')} AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment, COUNT(*) AS n_custs,
       {dsum_sql('c_acctbal')} AS total_bal
FROM customer, t
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_totalprice > {HIGH_ORDER_CUTOFF})
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _moments(df, cols):
    """Exact decimal first/second/cross moments for the given columns —
    one map-side-combinable aggregation, no per-pair passes."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(DEC)).cast("double").alias(f"s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast(DEC))
            .cast("double")
            .alias(f"ss_{c}")
        )
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast(DEC))
                .cast("double")
                .alias(f"sx_{a}_{b}")
            )
    return df.agg(*aggs)


def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns from exact decimal moments — unlike ``corr()``, whose float
    accumulation is partition-order dependent, this is reproducible to
    the bit across engines and runs.

    One aggregation computes every moment (14 decimal sums) in a single
    pass over the scan; the 6 correlations are scalar arithmetic on the
    1-row result. The single-pass-moments shape is how you compute a
    correlation matrix over 100 TB without 6 separate jobs.
    """
    li = load(spark, sf_dir, "lineitem")
    m = _moments(li, CORR_COLS)
    nd = F.col("n").cast("double")
    pair_structs = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            cov = nd * F.col(f"sx_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            va = nd * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
            vb = nd * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
            pair_structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    sround(cov / (F.sqrt(va) * F.sqrt(vb)), 9).alias("corr"),
                )
            )
    # one explode over the 1-row moment frame → 6 rows, single job
    return (
        m.select(F.explode(F.array(*pair_structs)).alias("r"))
        .select("r.col_a", "r.col_b", "r.corr")
        .orderBy("col_a", "col_b")
    )


def _oracle_correlation() -> str:
    moments = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for c in CORR_COLS:
        moments.append(f"{dsum_sql(c)} AS s_{c}")
        moments.append(f"{dsum_sql(f'{c} * {c}')} AS ss_{c}")
    pairs = []
    for i, a in enumerate(CORR_COLS):
        for b in CORR_COLS[i + 1:]:
            moments.append(f"{dsum_sql(f'{a} * {b}')} AS sx_{a}_{b}")
            expr = (
                f"(CAST(n AS DOUBLE) * sx_{a}_{b} - s_{a} * s_{b})"
                f" / (sqrt(CAST(n AS DOUBLE) * ss_{a} - s_{a} * s_{a})"
                f" * sqrt(CAST(n AS DOUBLE) * ss_{b} - s_{b} * s_{b}))"
            )
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                f" {sround_sql(expr, 9)} AS corr FROM m"
            )
    sel = "\nUNION ALL\n".join(pairs)
    return (
        "WITH m AS (SELECT " + ", ".join(moments) + " FROM lineitem)\n"
        + sel + "\nORDER BY col_a, col_b"
    )


def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple linear regression (price ~ quantity) per
    return flag from the same exact-moment discipline: slope =
    (n·Sxy − Sx·Sy)/(n·Sxx − Sx²), intercept = (Sy − slope·Sx)/n.
    The distributed "fit a line to a trillion rows" pattern — one
    grouped aggregation, scalar math after."""
    li = load(spark, sf_dir, "lineitem")
    x, y = "l_quantity", "l_extendedprice"
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(x).cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col(y).cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col(x) * F.col(x)).cast(DEC)).cast("double").alias("sxx"),
        F.sum((F.col(x) * F.col(y)).cast(DEC)).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return g.select(
        "l_returnflag",
        "n",
        sround(slope, 9).alias("slope"),
        sround((F.col("sy") - slope * F.col("sx")) / nd, 9).alias(
            "intercept"
        ),
    ).orderBy("l_returnflag")


ORACLE_LINREG = f"""
WITH g AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         {dsum_sql('l_quantity')} AS sx,
         {dsum_sql('l_extendedprice')} AS sy,
         {dsum_sql('l_quantity * l_quantity')} AS sxx,
         {dsum_sql('l_quantity * l_extendedprice')} AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {sround_sql(
           '(CAST(n AS DOUBLE) * sxy - sx * sy)'
           ' / (CAST(n AS DOUBLE) * sxx - sx * sx)', 9)} AS slope,
       {sround_sql(
           '(sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)'
           ' / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)'
           ' / CAST(n AS DOUBLE)', 9)} AS intercept
FROM g ORDER BY l_returnflag
"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly decimal-sum revenue,
    previous month via lag, growth ratio — the standard reporting
    comparison. The lag window runs over the *aggregated* month frame
    (dozens of rows even for decades of data), so its single partition
    is a non-issue; the heavy work is the map-side-combinable monthly
    rollup."""
    from pyspark.sql import Window

    # an undated order belongs to no month, and the lag chain's NULL
    # position differs between engines — drop on both sides
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(dsum("o_totalprice").alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        prev.alias("prev_revenue"),
        sround((F.col("revenue") - prev) / prev, 9).alias("growth"),
    ).orderBy("month")


ORACLE_PERIOD_OVER_PERIOD = f"""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         {dsum_sql('o_totalprice')} AS revenue
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
)
SELECT month, revenue,
       lag(revenue) OVER (ORDER BY month) AS prev_revenue,
       {sround_sql(
           '(revenue - lag(revenue) OVER (ORDER BY month))'
           ' / lag(revenue) OVER (ORDER BY month)', 9)} AS growth
FROM monthly ORDER BY month
"""


SKYLINE_BUCKET_W = 500.0  # acctbal bucket width for the pruning grid


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline): customers not strictly dominated on
    (account balance, order count) — no other customer has BOTH a
    higher balance and more orders.

    Scale-safe two-level formulation instead of the O(N²) dominance
    join: per distinct balance compute the max order count, grid the
    balances into fixed-width buckets, take a suffix-max across the
    (tiny, data-independent) bucket table, and resolve strictly-greater
    balances within each bucket with a per-bucket window. A point
    survives iff its count ≥ the max count over all strictly higher
    balances. Only the bucket-level suffix-max window is global — over
    dozens of rows regardless of data volume.
    """
    from pyspark.sql import Window

    # a customer with unknown balance has no position on the
    # (balance, orders) plane — drop NULL balances on both sides
    # (--nulls sweep; NULL x also breaks the bucket grid)
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
    )
    o = load(spark, sf_dir, "orders")
    pts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").cast("bigint").alias("y"))
        .select("c_custkey", F.col("c_acctbal").alias("x"), "y")
    )
    per_x = pts.groupBy("x").agg(F.max("y").alias("ymax"))
    bucket = F.floor(F.col("x") / F.lit(SKYLINE_BUCKET_W)).cast("long")
    per_x = per_x.withColumn("b", bucket)
    bucket_max = per_x.groupBy("b").agg(F.max("ymax").alias("bmax"))
    # suffix max over buckets strictly above b (tiny frame)
    wb = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_sfx = bucket_max.withColumn("above", F.max("bmax").over(wb))
    # within-bucket running max over strictly greater distinct balances
    wx = (
        Window.partitionBy("b")
        .orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = (
        per_x.withColumn("run", F.max("ymax").over(wx))
        .join(F.broadcast(bucket_sfx.select("b", "above")), "b")
        .select(
            "x",
            F.greatest(
                F.coalesce(F.col("run"), F.lit(-1).cast("bigint")),
                F.coalesce(F.col("above"), F.lit(-1).cast("bigint")),
            ).alias("m"),
        )
    )
    return (
        pts.join(m, "x")
        .filter(F.col("y") >= F.col("m"))
        .select(
            "c_custkey", F.col("x").alias("acctbal"),
            F.col("y").alias("n_orders"),
        )
        .orderBy("acctbal", "c_custkey")
    )


ORACLE_SKYLINE = """
WITH pts AS (
  SELECT c_custkey, c_acctbal AS x,
         CAST(COUNT(o_orderkey) AS BIGINT) AS y
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  WHERE c_acctbal IS NOT NULL
  GROUP BY c_custkey, c_acctbal
)
SELECT p.c_custkey, p.x AS acctbal, p.y AS n_orders
FROM pts p
WHERE NOT EXISTS (SELECT 1 FROM pts q WHERE q.x > p.x AND q.y > p.y)
ORDER BY acctbal, c_custkey
"""


# Order matters: the driver's correctness gate covers the first 50
# declared queries — the north-star operators (clusters, survivors,
# time-series joins) lead; TPC-H report shapes follow.
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: for each signup cohort (first-seen day) and age
    k (days since signup, ≤ 7), the cumulative per-user value accrued —
    the growth-accounting read-out next to q_retention's activity
    curve. Decimal sums keep the cumulative exact; the cumulative
    window partitions by cohort (never global)."""
    e = load(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    daily = (
        e.join(first_day, "user_id")
        .withColumn(
            "k",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day"))
            .cast("long"),
        )
        .filter(F.col("k").between(0, 7))
        .groupBy("cohort_day", "k")
        .agg(
            F.sum(F.col("value").cast(DEC)).alias("day_value"),
            F.countDistinct("user_id").cast("bigint").alias("n_active"),
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cohort_size = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    ).groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    return (
        daily.withColumn(
            "cum_value", F.sum("day_value").over(w).cast("double")
        )
        .join(cohort_size, "cohort_day")
        .select(
            "cohort_day",
            "k",
            "n_active",
            (
                F.col("cum_value")
                / F.col("cohort_users").cast("double")
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_day", "k")
    )


ORACLE_COHORT_LTV = """
WITH first_day AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
  FROM events GROUP BY user_id),
daily AS (
  SELECT cohort_day,
         CAST(date_diff('day', CAST(cohort_day AS DATE),
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
           AS k,
         SUM(CAST(value AS DECIMAL(28,6))) AS day_value,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
  FROM events e JOIN first_day f ON e.user_id = f.user_id
  WHERE date_diff('day', CAST(cohort_day AS DATE),
                  CAST(date_trunc('day', ts) AS DATE)) BETWEEN 0 AND 7
  GROUP BY 1, 2),
cohort_size AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_users
  FROM first_day GROUP BY cohort_day)
SELECT CAST(d.cohort_day AS TIMESTAMP) AS cohort_day, k, n_active,
       CAST(SUM(day_value) OVER (PARTITION BY d.cohort_day ORDER BY k
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         / CAST(cohort_users AS DOUBLE) AS ltv_per_user
FROM daily d JOIN cohort_size c ON d.cohort_day = c.cohort_day
ORDER BY cohort_day, k
"""


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: the top-20 part pairs most often bought in
    the same order (support counts — the candidate-generation pass of
    apriori/FP-growth). The self-join keys on l_orderkey, so the fact
    shuffles ONCE and pair explosion is bounded by per-order basket
    size (≈7 items in TPC-H-shaped data → ≤21 pairs per order), keeping
    the blowup constant-factor at any corpus scale."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .orderBy(F.col("support").desc(), "pa", "pb")
        .limit(20)
    )


ORACLE_FREQUENT_PAIRS = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey FROM lineitem)
SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       CAST(COUNT(*) AS BIGINT) AS support
FROM li a JOIN li b ON a.ok = b.ok AND a.l_partkey < b.l_partkey
GROUP BY pa, pb ORDER BY support DESC, pa, pb LIMIT 20
"""



def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient distribution on the part
    co-purchase graph — q_triangle_count's wedge walk extended to
    per-node triangle counts (each closed wedge credits all three
    corners), then cc(v) = 2·T(v) / (d(v)·(d(v)−1)) bucketed into
    deciles. Same degree-oriented O(m^1.5) enumeration as
    q_triangle_count (operators/graph.oriented_triangles) — never a three-way
    self-join — plus one explode(3 corners) and two wordcount-shaped
    groupBys. The per-node division is one correctly-rounded double
    op quantized by sround before the decimal sum."""
    from ..operators.graph import oriented_triangles

    deg, tri = oriented_triangles(
        copurchase_edges(load(spark, sf_dir, "lineitem"))
    )
    tpn = (
        tri.select(
            F.explode(F.array("s", "wu", "wv")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    per_node = deg.join(tpn, "node", "left").select(
        "node",
        "d",
        F.coalesce("t", F.lit(0)).cast("bigint").alias("t"),
    )
    cc = F.when(
        F.col("d") >= 2,
        (2.0 * F.col("t").cast("double"))
        / (F.col("d").cast("double") * (F.col("d") - 1).cast("double")),
    ).otherwise(F.lit(0.0))
    bucketed = per_node.select(
        F.least(F.floor(cc * 10).cast("bigint"), F.lit(9).cast("bigint"))
        .alias("bucket"),
        sround(cc, 12).alias("ccq"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.col("ccq").cast("decimal(28,12)"))
            .cast("double")
            .alias("sum_cc"),
        )
        .orderBy("bucket")
    )


ORACLE_CLUSTERING_COEFF = f"""
WITH {ORIENTED_TRIANGLES},
tpn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT s AS node FROM tri
        UNION ALL SELECT wu FROM tri
        UNION ALL SELECT wv FROM tri)
  GROUP BY node),
per_node AS (
  SELECT deg.node, deg.d,
         CAST(COALESCE(tpn.t, 0) AS BIGINT) AS t
  FROM deg LEFT JOIN tpn ON tpn.node = deg.node),
cc AS (
  SELECT CASE WHEN d >= 2 THEN
           (2.0 * CAST(t AS DOUBLE))
             / (CAST(d AS DOUBLE) * CAST(d - 1 AS DOUBLE))
         ELSE 0.0 END AS c
  FROM per_node)
SELECT LEAST(CAST(floor(c * 10) AS BIGINT), CAST(9 AS BIGINT)) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(CAST({sround_sql('c', 12)} AS DECIMAL(28,12))) AS DOUBLE)
         AS sum_cc
FROM cc GROUP BY 1 ORDER BY 1
"""

QUERIES = {
    "q_frequent_pairs": q_frequent_pairs,
    "q_cohort_ltv": q_cohort_ltv,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_survivors": q_dedup_survivors,
    "q_dedup_pipeline": q_dedup_pipeline,
    "q_skew_join": q_skew_join,
    "q_asof_join": q_asof_join,
    "q_range_join": q_range_join,
    "q_nation_volume": q_nation_volume,
    "q_promo_revenue": q_promo_revenue,
    "q_top_orders": q_top_orders,
    "q_returned_items": q_returned_items,
    "q_funnel": q_funnel,
    "q_retention": q_retention,
    "q_cust_distribution": q_cust_distribution,
    "q_triangle_count": q_triangle_count,
    "q_clustering_coeff": q_clustering_coeff,
    "q_small_qty_revenue": q_small_qty_revenue,
    "q_above_avg_customers": q_above_avg_customers,
    "q_correlation": q_correlation,
    "q_linreg": q_linreg,
    "q_period_over_period": q_period_over_period,
    "q_skyline": q_skyline,
}

ORACLES = {
    "q_frequent_pairs": ORACLE_FREQUENT_PAIRS,
    "q_cohort_ltv": ORACLE_COHORT_LTV,
    "q_dedup_survivors": _oracle_dedup_survivors(),
    "q_dedup_pipeline": _oracle_dedup_pipeline(),
    "q_skew_join": ORACLE_SKEW_JOIN,
    "q_nation_volume": ORACLE_NATION_VOLUME,
    "q_promo_revenue": ORACLE_PROMO_REVENUE,
    "q_range_join": ORACLE_RANGE_JOIN,
    "q_asof_join": ORACLE_ASOF_JOIN,
    "q_top_orders": ORACLE_TOP_ORDERS,
    "q_returned_items": ORACLE_RETURNED_ITEMS,
    "q_funnel": ORACLE_FUNNEL,
    "q_retention": ORACLE_RETENTION,
    "q_dedup_clusters": _oracle_dedup_clusters(),
    "q_cust_distribution": ORACLE_CUST_DISTRIBUTION,
    "q_triangle_count": ORACLE_TRIANGLE_COUNT,
    "q_clustering_coeff": ORACLE_CLUSTERING_COEFF,
    "q_small_qty_revenue": ORACLE_SMALL_QTY_REVENUE,
    "q_above_avg_customers": ORACLE_ABOVE_AVG_CUSTOMERS,
    "q_correlation": _oracle_correlation(),
    "q_linreg": ORACLE_LINREG,
    "q_period_over_period": ORACLE_PERIOD_OVER_PERIOD,
    "q_skyline": ORACLE_SKYLINE,
}


# --------------------------------------------------------------------------
# round-10 addition: RFM segmentation

US_PER_DAY_RFM = 86_400_000_000
RFM_R_DAYS = (30, 90, 365)  # recency band edges (days since last order)
RFM_F_ORDERS = (10, 5, 2)  # frequency band edges (order count, desc)
RFM_M_SPEND = (300_000.0, 100_000.0, 25_000.0)  # monetary edges (desc)


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation on FIXED
    bands — the classic customer-value grid, with data-independent
    band edges instead of quantiles so the whole segmentation is one
    combinable groupBy per customer plus one on the segment code (the
    q_woe_iv fixed-band argument; the quantile flavor is
    q_window_ntile's capability). Band 1 is best on every axis.

    Recency is exact integer days against the filtered stream's own
    horizon; spend is a decimal sum, so band comparisons see the same
    double on both engines. Output: segment code, customer count,
    decimal-mean spend.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull()
                & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.expr(f"unix_micros(o_orderdate) div {US_PER_DAY_RFM}")
            .alias("day"),
            "o_totalprice",
        )
    )
    horizon = o.agg(F.max("day").alias("h_day"))
    per_c = (
        o.groupBy("o_custkey")
        .agg(
            F.max("day").alias("last_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("spend"),
        )
        .crossJoin(F.broadcast(horizon))
    )
    rec = F.col("h_day") - F.col("last_day")
    r_b = (F.when(rec <= RFM_R_DAYS[0], 1)
           .when(rec <= RFM_R_DAYS[1], 2)
           .when(rec <= RFM_R_DAYS[2], 3).otherwise(4))
    f_b = (F.when(F.col("n_orders") >= RFM_F_ORDERS[0], 1)
           .when(F.col("n_orders") >= RFM_F_ORDERS[1], 2)
           .when(F.col("n_orders") >= RFM_F_ORDERS[2], 3).otherwise(4))
    m_b = (F.when(F.col("spend") >= RFM_M_SPEND[0], 1)
           .when(F.col("spend") >= RFM_M_SPEND[1], 2)
           .when(F.col("spend") >= RFM_M_SPEND[2], 3).otherwise(4))
    seg = F.concat(F.lit("R"), r_b.cast("string"),
                   F.lit("F"), f_b.cast("string"),
                   F.lit("M"), m_b.cast("string"))
    return (
        per_c.groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            sround(
                F.sum(F.col("spend").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)), 6
            ).alias("avg_spend"),
        )
        .orderBy("segment")
    )


ORACLE_RFM = f"""
WITH o AS (
  SELECT o_custkey,
         epoch_us(o_orderdate) // {US_PER_DAY_RFM} AS day, o_totalprice
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
), h AS (SELECT MAX(day) AS h_day FROM o),
per_c AS (
  SELECT o_custkey, MAX(day) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         COALESCE({dsum_sql("o_totalprice")}, 0.0) AS spend
  FROM o GROUP BY 1
), banded AS (
  SELECT 'R' ||
    CASE WHEN h_day - last_day <= {RFM_R_DAYS[0]} THEN 1
         WHEN h_day - last_day <= {RFM_R_DAYS[1]} THEN 2
         WHEN h_day - last_day <= {RFM_R_DAYS[2]} THEN 3 ELSE 4 END ||
    'F' ||
    CASE WHEN n_orders >= {RFM_F_ORDERS[0]} THEN 1
         WHEN n_orders >= {RFM_F_ORDERS[1]} THEN 2
         WHEN n_orders >= {RFM_F_ORDERS[2]} THEN 3 ELSE 4 END ||
    'M' ||
    CASE WHEN spend >= {RFM_M_SPEND[0]} THEN 1
         WHEN spend >= {RFM_M_SPEND[1]} THEN 2
         WHEN spend >= {RFM_M_SPEND[2]} THEN 3 ELSE 4 END AS segment,
    spend
  FROM per_c CROSS JOIN h
)
SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sround_sql(
           "CAST(SUM(CAST(spend AS DECIMAL(28,6))) AS DOUBLE)"
           " / COUNT(*)", 6)} AS avg_spend
FROM banded
GROUP BY segment
ORDER BY segment
"""

QUERIES["q_rfm"] = q_rfm
ORACLES["q_rfm"] = ORACLE_RFM
