"""Second batch of TPC-H-shaped plans: Q4/Q6/Q8/Q9/Q16/Q19 adapted to the
testdata schema (no partsupp/commitdate/shipmode columns, so each query
keeps the canonical TPC-H plan SHAPE — the join graph, the predicate
style, the agg — with predicates rewritten onto available columns).

Why these shapes matter at 100 TB: Q6 is the pure scan+filter+agg whose
entire cost is the parquet scan (pushdown or die); Q4 is a semi-join that
must NOT materialize the join; Q8 is a two-fact-region share with a
conditional aggregate; Q9 is the widest join tree (5 tables) where join
ORDER dominates; Q16 is a distinct-agg after an equi-join bridge; Q19 is
the disjunctive-predicate join that tests OR-pushdown into the scan.

All money aggregates use the decimal-sum discipline (``_util.dsum``) so
Spark and DuckDB produce bit-identical doubles regardless of shuffle
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ._util import DEC, dsum_sql, sround, sround_sql


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped forecast-revenue delta: one scan, three pushable
    predicates, a single global decimal sum. The whole query should
    collapse to a parquet scan with PushedFilters + partial/final agg —
    no shuffle wider than one row."""
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast(DEC)
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


ORACLE_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_priority_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped order-priority check: count orders per priority
    that have at least one returned lineitem, in one quarter. The
    existence test is a LEFT SEMI join — Spark must not materialize
    order×lineitem; the semi join short-circuits per key."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_PRIORITY_WAIT = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped market share: within orders from ASIA customers,
    the yearly revenue share supplied by NATION_7. Conditional decimal
    sums give the numerator and denominator in ONE aggregation pass; the
    share is a stable 6-decimal round. nation/region broadcast."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_n = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_n = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    nation_rev = F.when(F.col("sn_name") == "NATION_7", rev).otherwise(
        F.lit(0).cast(DEC)
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_n), c.c_nationkey == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_n), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.sum(nation_rev).cast("double").alias("nation_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
    )
    share = F.col("nation_revenue") / F.col("total_revenue")
    return agg.select(
        "yr",
        "nation_revenue",
        "total_revenue",
        sround(share, 6).alias("mkt_share"),
    ).orderBy("yr")


_SHARE = "(nation_revenue / total_revenue)"

ORACLE_MARKET_SHARE = f"""
WITH agg AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         {dsum_sql("CASE WHEN sn.n_name = 'NATION_7' "
                   "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
           AS nation_revenue,
         {dsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  GROUP BY yr)
SELECT yr, nation_revenue, total_revenue,
       {sround_sql(_SHARE, 6)} AS mkt_share
FROM agg ORDER BY yr
"""


def q_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product profit: for parts whose name contains
    'red', profit = revenue − retail cost, grouped by supplier nation ×
    order year. Five-table join tree; part is filtered BEFORE the join so
    the selective predicate prunes the fact scan via the join, and
    nation broadcasts."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("nation", F.col("yr").desc())
    )


ORACLE_PROFIT = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
       {dsum_sql("l_extendedprice * (1 - l_discount)"
                 " - p_retailprice * l_quantity")} AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
GROUP BY n_name, yr ORDER BY n_name, yr DESC
"""


def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped supplier variety: how many distinct suppliers can
    deliver each (brand, type, size) combination, excluding one brand —
    bridged through lineitem (the testdata has no partsupp). The
    distinct-agg dedups (brand,type,size,suppkey) BEFORE counting, which
    Spark plans as a two-phase expand+agg — no row explosion survives
    the first shuffle."""
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(20)
    )


ORACLE_SUPPLIER_VARIETY = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20
"""


def q_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive discounted revenue: an OR of three
    (brand, size-range, quantity-range) conjunctions evaluated across
    the lineitem⋈part equi-join. The equi-key join stays a hash join;
    the disjunction is a post-join filter — the classic test that the
    planner does NOT fall back to a nested-loop join."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


ORACLE_DISJUNCTIVE_FILTER = f"""
SELECT {dsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration report (the Q20-adjacent risk query the
    testdata schema supports without partsupp): for each part, the
    dominant supplier's share of total shipped quantity, top-20 by
    share with a `dominant` (>50%) flag — always non-empty at any SF,
    so the differential check never degenerates to comparing empty
    sets. Decimal sums per
    (part, supplier), then one window partitioned by part — share-of-
    total without any global sort, top-20 by share."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty).alias("sq")
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("l_partkey")
    ranked = per_ps.select(
        "l_partkey",
        "l_suppkey",
        "sq",
        F.sum("sq").over(wp).alias("total_q"),
        F.row_number()
        .over(
            Window.partitionBy("l_partkey").orderBy(
                F.col("sq").desc(), "l_suppkey"
            )
        )
        .alias("rk"),
    )
    share = F.col("sq").cast("double") / F.col("total_q").cast("double")
    return (
        ranked.filter(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("top_suppkey"),
            sround(share, 6).alias("share"),
        )
        .withColumn("dominant", F.col("share") > 0.5)
        .orderBy(F.col("share").desc(), "partkey")
        .limit(20)
    )


_CONC_SHARE = "CAST(sq AS DOUBLE) / CAST(total_q AS DOUBLE)"

ORACLE_SUPPLIER_CONCENTRATION = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sq
  FROM lineitem GROUP BY l_partkey, l_suppkey),
ranked AS (
  SELECT l_partkey, l_suppkey, sq,
         SUM(sq) OVER (PARTITION BY l_partkey) AS total_q,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY sq DESC, l_suppkey) AS rk
  FROM per_ps)
SELECT l_partkey AS partkey, l_suppkey AS top_suppkey,
       {sround_sql(_CONC_SHARE, 6)} AS share,
       {sround_sql(_CONC_SHARE, 6)} > 0.5 AS dominant
FROM ranked
WHERE rk = 1
ORDER BY share DESC, partkey LIMIT 20
"""


def q_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: per market segment, stats over the gaps
    (days) between a customer's consecutive orders — the recency/
    frequency signal behind churn models. The lag window partitions by
    customer (one shuffle on the dimension key); day diffs are exact
    integers; the mean divides two exact bigints."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = (
        o.select(
            "o_custkey",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).cast("bigint").alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(c, gaps.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            (
                F.sum("gap_days").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_PURCHASE_INTERVALS = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS DATE),
              CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
  FROM orders)
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS mean_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps JOIN customer ON o_custkey = c_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile: revenue share by calendar month pooled
    across all years — the demand-curve read-out planners use for
    capacity. Decimal month sums; the grand total is derived from the
    SAME 12-row aggregate (no second fact scan) and broadcast back for
    one exact share division."""
    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").cast("long").alias("mth")
    ).agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"))
    total = monthly.agg(F.sum("rev").alias("total_rev"))
    return (
        monthly.crossJoin(F.broadcast(total))
        .select(
            "mth",
            F.col("rev").cast("double").alias("revenue"),
            sround(
                F.col("rev").cast("double")
                / F.col("total_rev").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("mth")
    )


ORACLE_SEASONALITY = f"""
WITH monthly AS (
  SELECT CAST(month(o_orderdate) AS BIGINT) AS mth,
         SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS rev
  FROM orders GROUP BY mth),
total AS (SELECT SUM(rev) AS total_rev FROM monthly)
SELECT mth, CAST(rev AS DOUBLE) AS revenue,
       {sround_sql("CAST(rev AS DOUBLE) / CAST(total_rev AS DOUBLE)", 6)}
         AS share
FROM monthly CROSS JOIN total ORDER BY mth
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top supplier: revenue per supplier over one
    quarter (decimal sums), then the supplier(s) whose revenue EQUALS
    the global maximum — the correlated-max view shape, not a top-k
    sort. The 1-row max frame rides a broadcast cross join; equality on
    the decimal-summed doubles is engine-stable by the dsum discipline.

    100 TB shape: one pushed-filter scan + (suppkey) partial/final agg;
    nothing wider than the supplier dimension ever shuffles."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    DEC
                )
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(sup, rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(28,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_sole_offender(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped double-correlated existence test — the hardest
    decorrelation shape in the suite: suppliers whose returned line is
    the ONLY return in a multi-supplier finished order (EXISTS another
    supplier on the order, NOT EXISTS another supplier with a return).
    The testdata lacks commit/receipt dates, so "kept waiting" becomes
    "sole returner" — the plan shape (two correlated subqueries over
    the same fact table, one semi + one anti, then a top-k) is Q21's
    exactly. Catalyst must decorrelate both into shuffle semi/anti
    joins on l_orderkey — no per-row subquery execution survives at
    100 TB. Deterministic top-20: numwait DESC with the unique s_name
    as tie-break."""
    # r13 optimization (guide §2.3 aggregate-before-you-shuffle): the
    # correlated EXISTS / NOT EXISTS decorrelated into a semi + an anti
    # join, each moving a full lineitem projection (broadcast at bench
    # scale, where the old plan broadcast the FACT table twice —
    # `git show bf09572:plans/r13/q_sole_offender_before.txt`;
    # sort-merge at 100 TB, i.e. two extra lineitem-scale
    # shuffles). Both predicates are per-ORDER facts, so ONE per-order
    # aggregate replaces them:
    #   EXISTS l2 (same order, l2.suppkey <> l1.suppkey)
    #     ⇔ COUNT(DISTINCT l_suppkey) >= 2 over the order — l1's own
    #       (non-NULL, supplier-joined) suppkey is in the set, so a
    #       second distinct value IS a different supplier; NULL
    #       suppkeys never satisfy <> and COUNT DISTINCT ignores them.
    #   NOT EXISTS l3 (same order, returned, different supplier)
    #     ⇔ COUNT(DISTINCT CASE WHEN returnflag='R' THEN l_suppkey END)
    #       = 1 — l1 itself is returned so the set always contains
    #       l1.suppkey; a second member is exactly an offending l3
    #       (NULL-suppkey returns are invisible to both forms).
    # Row multiplicity is unchanged (the aggregate joins 1:1 on
    # l_orderkey), so numwait is the same integer per supplier;
    # verified row+hash-identical vs the UNCHANGED correlated oracle.
    for t in ("supplier", "lineitem", "orders"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"_q21_{t}")
    return spark.sql(
        """
        WITH per_order AS (
          SELECT l_orderkey,
                 COUNT(DISTINCT l_suppkey) AS n_supp,
                 COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                                     THEN l_suppkey END) AS n_ret_supp
          FROM _q21_lineitem
          GROUP BY l_orderkey)
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM _q21_supplier, _q21_lineitem l1, _q21_orders, per_order p
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND p.l_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND p.n_supp >= 2
          AND p.n_ret_supp = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
        """
    )


ORACLE_SOLE_OFFENDER = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


QUERIES = {
    "q_sole_offender": q_sole_offender,
    "q_forecast_revenue": q_forecast_revenue,
    "q_priority_wait": q_priority_wait,
    "q_market_share": q_market_share,
    "q_profit": q_profit,
    "q_supplier_variety": q_supplier_variety,
    "q_disjunctive_filter": q_disjunctive_filter,
    "q_supplier_concentration": q_supplier_concentration,
    "q_purchase_intervals": q_purchase_intervals,
    "q_seasonality": q_seasonality,
    "q_top_supplier": q_top_supplier,
}

ORACLES = {
    "q_sole_offender": ORACLE_SOLE_OFFENDER,
    "q_forecast_revenue": ORACLE_FORECAST_REVENUE,
    "q_priority_wait": ORACLE_PRIORITY_WAIT,
    "q_market_share": ORACLE_MARKET_SHARE,
    "q_profit": ORACLE_PROFIT,
    "q_supplier_variety": ORACLE_SUPPLIER_VARIETY,
    "q_disjunctive_filter": ORACLE_DISJUNCTIVE_FILTER,
    "q_supplier_concentration": ORACLE_SUPPLIER_CONCENTRATION,
    "q_purchase_intervals": ORACLE_PURCHASE_INTERVALS,
    "q_seasonality": ORACLE_SEASONALITY,
    "q_top_supplier": ORACLE_TOP_SUPPLIER,
}
