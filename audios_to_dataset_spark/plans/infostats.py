"""Information-theoretic / statistical-test / decontamination operators
(round 10 extension): chi-squared independence + Cramér's V, mutual
information + entropies, Spearman rank correlation, winsorized means,
degree assortativity, Zipf rank-frequency slope, train/eval n-gram
decontamination, and boilerplate-prefix auditing.

No reference analog (the reference is batch audio-file ingest,
``/root/reference/src/main.rs:118-140``; it computes no statistics
beyond WAV header fields) — this is engine-capability surface for the
training-data-curation layer, like ``plans/evalmetrics``.

Exactness discipline (CLAUDE.md): all counts are exact integers; every
double aggregate is a decimal sum of per-row contributions; ``ln``/
``sqrt`` run on bit-identical inputs (ln quantized via sround 9 — the
q_psi precedent — before any cross-row sum); divisions are guarded and
identical IEEE trees on both engines.

Scale notes (100 TB design point):
- chi2 / MI reduce the corpus to a (lang × source) contingency table
  with ONE map-side-combinable groupBy; everything after runs on the
  tiny cell table with broadcast margins.
- Spearman / winsorize use HISTOGRAM ranks: per-group value counts
  (l_quantity has ~50 distinct values, l_discount ~11), with the
  cumulative window over the per-group DISTINCT-VALUE spine — never a
  per-row rank sort. Average tie ranks come from (before, count) pairs.
- Decontamination joins the train shingle set against the DISTINCT
  eval shingle set, so join fan-out per train shingle is exactly one —
  output ≤ train shingle rows by construction, no hot-key blowup.
- Zipf's only window runs over the top-ZIPF_K (256-row) frequency
  table produced by a distributed TakeOrdered, never the raw vocab.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import dedup as D
from ._oracle_sql import shingles, tokens
from ._util import sround, sround_sql

TOTAL = "~~total~~"  # total-row label; sorts after all data values
DECON_N = 8  # word n-gram width for train/eval decontamination
ZIPF_K = 256  # rank-frequency spine size (fixed, data-independent)
PREFIX_K = 32  # normalized boilerplate prefix length


# --------------------------------------------------------------------------
# contingency base (documents lang × source)

def _contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )


_CELLS_SQL = """
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY 1, 2
"""


def _margins(cells: DataFrame):
    rows_t = cells.groupBy("lang").agg(
        F.sum("n_obs").cast("bigint").alias("n_row")
    )
    cols_t = cells.groupBy("source").agg(
        F.sum("n_obs").cast("bigint").alias("n_col")
    )
    tot = cells.agg(
        F.coalesce(F.sum("n_obs"), F.lit(0)).cast("bigint").alias("n_tot"),
        F.count_distinct(F.col("lang")).cast("bigint").alias("r"),
        F.count_distinct(F.col("source")).cast("bigint").alias("c"),
    )
    return rows_t, cols_t, tot


_MARGINS_SQL = """
rows_t AS (
  SELECT lang, CAST(SUM(n_obs) AS BIGINT) AS n_row FROM cells GROUP BY 1
), cols_t AS (
  SELECT source, CAST(SUM(n_obs) AS BIGINT) AS n_col FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS n_tot,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS c
  FROM cells
)"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between ``lang`` and
    ``source`` over documents, with Cramér's V effect size — the
    dataset-composition audit ("is language balanced across sources?").

    The cell spine is DENSIFIED to the full r×c grid (ADVICE r10): the
    contingency groupBy never emits O=0 cells, so the grid is rebuilt
    as rows_t × cols_t (a Cross BNLJ over two tiny margin tables) with
    the observed counts LEFT-joined on — an empty cell contributes
    (0−E)²/E = E exactly, matching the textbook statistic instead of
    understating chi2 whenever the grid has holes.

    Per-cell rows carry the observed count and the quantized
    contribution (O−E)²/E (sround 9 — E is an identical IEEE
    mul/div tree on both engines); the ``~~total~~`` row carries the
    decimal-summed chi2, dof = (r−1)(c−1), and
    V = sqrt(chi2 / (N·min(r−1, c−1))) (sqrt is correctly-rounded IEEE,
    exact on identical input). One groupBy builds the contingency
    table; margins are broadcast — no window, no sort anywhere.
    """
    cells = _contingency(spark, sf_dir)
    rows_t, cols_t, tot = _margins(cells)
    dense = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .join(cells, ["lang", "source"], "left")
        .select(
            "lang", "source",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
            .alias("n_obs"),
            "n_row", "n_col",
        )
    )
    e = (
        F.col("n_row").cast("double")
        * F.col("n_col").cast("double")
        / F.col("n_tot").cast("double")
    )
    obs = F.col("n_obs").cast("double")
    per_cell = (
        dense.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_obs",
            sround((obs - e) * (obs - e) / e, 9).alias("contrib"),
        )
    )
    chi2 = per_cell.agg(
        F.sum(F.col("contrib").cast("decimal(28,9)"))
        .cast("double")
        .alias("chi2")
    )
    minrc = F.least(F.col("r") - 1, F.col("c") - 1)
    total = (
        chi2.crossJoin(F.broadcast(tot))
        .select(
            F.lit(TOTAL).alias("lang"),
            F.lit(TOTAL).alias("source"),
            F.col("n_tot").alias("n_obs"),
            F.lit(None).cast("double").alias("contrib"),
            "chi2",
            (
                F.greatest(F.col("r") - 1, F.lit(0))
                * F.greatest(F.col("c") - 1, F.lit(0))
            ).cast("bigint").alias("dof"),
            F.when(
                (F.col("n_tot") > 0)
                & (minrc > 0)
                & F.col("chi2").isNotNull(),
                sround(
                    F.sqrt(
                        F.col("chi2")
                        / (
                            F.col("n_tot").cast("double")
                            * minrc.cast("double")
                        )
                    ),
                    9,
                ),
            ).alias("cramers_v"),
        )
    )
    per_cell_out = per_cell.select(
        "lang",
        "source",
        "n_obs",
        "contrib",
        F.lit(None).cast("double").alias("chi2"),
        F.lit(None).cast("bigint").alias("dof"),
        F.lit(None).cast("double").alias("cramers_v"),
    )
    return per_cell_out.unionByName(total).orderBy("lang", "source")


_E_SQL = (
    "(CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)"
    " / CAST(n_tot AS DOUBLE))"
)

ORACLE_CHI2_INDEPENDENCE = f"""
WITH cells AS ({_CELLS_SQL}), {_MARGINS_SQL},
dense AS (
  SELECT rows_t.lang, cols_t.source,
         CAST(COALESCE(cells.n_obs, 0) AS BIGINT) AS n_obs,
         n_row, n_col
  FROM rows_t CROSS JOIN cols_t
  LEFT JOIN cells
    ON cells.lang = rows_t.lang AND cells.source = cols_t.source
),
per_cell AS (
  SELECT lang, source, n_obs,
         {sround_sql(
             "((CAST(n_obs AS DOUBLE) - " + _E_SQL + ")"
             " * (CAST(n_obs AS DOUBLE) - " + _E_SQL + ")) / " + _E_SQL,
             9)} AS contrib
  FROM dense
  CROSS JOIN tot
), chi AS (
  SELECT CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) AS chi2
  FROM per_cell
)
SELECT lang, source, n_obs, contrib,
       CAST(NULL AS DOUBLE) AS chi2, CAST(NULL AS BIGINT) AS dof,
       CAST(NULL AS DOUBLE) AS cramers_v
FROM per_cell
UNION ALL
SELECT '{TOTAL}', '{TOTAL}', n_tot, CAST(NULL AS DOUBLE), chi2,
       CAST(greatest(r - 1, 0) * greatest(c - 1, 0) AS BIGINT) AS dof,
       CASE WHEN n_tot > 0 AND least(r - 1, c - 1) > 0
                 AND chi2 IS NOT NULL
       THEN {sround_sql(
           "sqrt(chi2 / (CAST(n_tot AS DOUBLE)"
           " * CAST(least(r - 1, c - 1) AS DOUBLE)))", 9)}
       ELSE NULL END AS cramers_v
FROM chi CROSS JOIN tot
ORDER BY lang, source
"""


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats over documents, with
    marginal entropies and normalized MI — the redundancy audit between
    two categorical columns ("does source determine language?").

    Per-cell contribution p_xy·ln(p_xy/(p_x·p_y)) is quantized
    (sround 9; ln is within 1 ulp across engines — the q_psi
    precedent) and summed in the decimal domain; the marginal
    entropies −Σ p·ln p are built the same way from the margin tables.
    NMI = MI / min(H_lang, H_source), guarded when a marginal entropy
    is zero (single-category column). Same contingency-table shape as
    q_chi2_independence: one groupBy + broadcast margins, no window.
    """
    cells = _contingency(spark, sf_dir)
    rows_t, cols_t, tot = _margins(cells)
    nd = F.col("n_tot").cast("double")
    pxy = F.col("n_obs").cast("double") / nd
    px = F.col("n_row").cast("double") / nd
    py = F.col("n_col").cast("double") / nd
    per_cell = (
        cells.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_obs",
            sround(pxy * F.log(pxy / (px * py)), 9).alias("contrib"),
        )
    )
    mi = per_cell.agg(
        F.sum(F.col("contrib").cast("decimal(28,9)"))
        .cast("double")
        .alias("mi")
    )
    h_lang = (
        rows_t.crossJoin(F.broadcast(tot))
        .select(sround(-(px) * F.log(px), 9).alias("hc"))
        .agg(
            F.sum(F.col("hc").cast("decimal(28,9)"))
            .cast("double")
            .alias("h_lang")
        )
    )
    h_source = (
        cols_t.crossJoin(F.broadcast(tot))
        .select(sround(-(py) * F.log(py), 9).alias("hc"))
        .agg(
            F.sum(F.col("hc").cast("decimal(28,9)"))
            .cast("double")
            .alias("h_source")
        )
    )
    hmin = F.least(F.col("h_lang"), F.col("h_source"))
    total = (
        mi.crossJoin(F.broadcast(h_lang))
        .crossJoin(F.broadcast(h_source))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(TOTAL).alias("lang"),
            F.lit(TOTAL).alias("source"),
            F.col("n_tot").alias("n_obs"),
            F.lit(None).cast("double").alias("contrib"),
            "mi",
            "h_lang",
            "h_source",
            F.when(
                F.col("mi").isNotNull() & (hmin > 0),
                sround(F.col("mi") / hmin, 9),
            ).alias("nmi"),
        )
    )
    per_cell_out = per_cell.select(
        "lang",
        "source",
        "n_obs",
        "contrib",
        F.lit(None).cast("double").alias("mi"),
        F.lit(None).cast("double").alias("h_lang"),
        F.lit(None).cast("double").alias("h_source"),
        F.lit(None).cast("double").alias("nmi"),
    )
    return per_cell_out.unionByName(total).orderBy("lang", "source")


_PXY_SQL = "(CAST(n_obs AS DOUBLE) / CAST(n_tot AS DOUBLE))"
_PX_SQL = "(CAST(n_row AS DOUBLE) / CAST(n_tot AS DOUBLE))"
_PY_SQL = "(CAST(n_col AS DOUBLE) / CAST(n_tot AS DOUBLE))"

ORACLE_MUTUAL_INFORMATION = f"""
WITH cells AS ({_CELLS_SQL}), {_MARGINS_SQL},
per_cell AS (
  SELECT cells.lang, cells.source, n_obs,
         {sround_sql(
             _PXY_SQL + " * ln(" + _PXY_SQL + " / (" + _PX_SQL
             + " * " + _PY_SQL + "))", 9)} AS contrib
  FROM cells
  JOIN rows_t USING (lang)
  JOIN cols_t USING (source)
  CROSS JOIN tot
), mi_t AS (
  SELECT CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE) AS mi
  FROM per_cell
), hl AS (
  SELECT CAST(SUM(CAST(hc AS DECIMAL(28,9))) AS DOUBLE) AS h_lang
  FROM (SELECT {sround_sql(
      "-" + _PX_SQL + " * ln(" + _PX_SQL + ")", 9)} AS hc
        FROM rows_t CROSS JOIN tot) t
), hs AS (
  SELECT CAST(SUM(CAST(hc AS DECIMAL(28,9))) AS DOUBLE) AS h_source
  FROM (SELECT {sround_sql(
      "-" + _PY_SQL + " * ln(" + _PY_SQL + ")", 9)} AS hc
        FROM cols_t CROSS JOIN tot) t
)
SELECT lang, source, n_obs, contrib,
       CAST(NULL AS DOUBLE) AS mi, CAST(NULL AS DOUBLE) AS h_lang,
       CAST(NULL AS DOUBLE) AS h_source, CAST(NULL AS DOUBLE) AS nmi
FROM per_cell
UNION ALL
SELECT '{TOTAL}', '{TOTAL}', n_tot, CAST(NULL AS DOUBLE),
       mi, h_lang, h_source,
       CASE WHEN mi IS NOT NULL AND least(h_lang, h_source) > 0
       THEN {sround_sql("mi / least(h_lang, h_source)", 9)}
       ELSE NULL END AS nmi
FROM mi_t CROSS JOIN hl CROSS JOIN hs CROSS JOIN tot
ORDER BY lang, source
"""


# --------------------------------------------------------------------------
# histogram-rank statistics over lineitem


def _qty_disc_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_discount").isNotNull()
    )
    return li.groupBy("l_returnflag", "l_quantity", "l_discount").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cell")
    )


_QTY_DISC_CELLS_SQL = """
  SELECT l_returnflag, l_quantity, l_discount,
         CAST(COUNT(*) AS BIGINT) AS n_cell
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
        AND l_discount IS NOT NULL
  GROUP BY 1, 2, 3
"""


def _avg_rank(value_col: str, cells: DataFrame) -> DataFrame:
    """Per (flag, value): the AVERAGE tie rank computed from the value
    histogram — before + (cnt+1)/2 — with the cumulative window over
    the per-flag DISTINCT-VALUE spine (≤ ~50 rows), never raw rows."""
    h = cells.groupBy("l_returnflag", value_col).agg(
        F.sum("n_cell").cast("bigint").alias("cv")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("cv").over(w), F.lit(0).cast("bigint"))
    return h.select(
        "l_returnflag",
        value_col,
        (
            before.cast("double")
            + (F.col("cv").cast("double") + 1.0) / 2.0
        ).alias(f"r_{value_col}"),
    )


def _avg_rank_sql(value_col: str) -> str:
    return f"""
  SELECT l_returnflag, {value_col},
         CAST(COALESCE(SUM(cv) OVER (PARTITION BY l_returnflag
                ORDER BY {value_col}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS DOUBLE)
           + (CAST(cv AS DOUBLE) + 1.0) / 2.0 AS r_{value_col}
  FROM (SELECT l_returnflag, {value_col},
               CAST(SUM(n_cell) AS BIGINT) AS cv
        FROM cells GROUP BY 1, 2) h
"""


def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_discount per
    l_returnflag — the monotone-association check run on HISTOGRAM
    ranks: ranks come from per-value (before, count) pairs on the
    distinct-value spine (≤ ~50 quantities × ~11 discounts per flag),
    so no per-row sort ever happens; the Pearson-on-ranks sums weight
    each (qty, disc) cell by its count and run in the decimal domain.

    Tie ranks are the standard average ranks, which are halves —
    exactly representable doubles; cell products stay under 2^53 at
    every tested SF, so the decimal sums are exact and rho is an
    identical IEEE tree on both engines (sround 9, den > 0 guarded).
    """
    cells = _qty_disc_cells(spark, sf_dir)
    rq = _avg_rank("l_quantity", cells)
    rd = _avg_rank("l_discount", cells)
    j = cells.join(
        F.broadcast(rq), ["l_returnflag", "l_quantity"]
    ).join(F.broadcast(rd), ["l_returnflag", "l_discount"])
    ncd = F.col("n_cell").cast("double")
    x = F.col("r_l_quantity")
    y = F.col("r_l_discount")
    dec = "decimal(38,6)"
    s = j.groupBy("l_returnflag").agg(
        F.sum("n_cell").cast("bigint").alias("n"),
        F.sum((ncd * x).cast(dec)).cast("double").alias("sx"),
        F.sum((ncd * y).cast(dec)).cast("double").alias("sy"),
        F.sum((ncd * x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((ncd * x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((ncd * y * y).cast(dec)).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        F.when(
            denx * deny > 0, sround(num / F.sqrt(denx * deny), 9)
        ).alias("spearman_rho"),
    ).orderBy("l_returnflag")


ORACLE_SPEARMAN = f"""
WITH cells AS ({_QTY_DISC_CELLS_SQL}),
rq AS ({_avg_rank_sql("l_quantity")}),
rd AS ({_avg_rank_sql("l_discount")}),
j AS (
  SELECT cells.l_returnflag, n_cell, r_l_quantity AS x, r_l_discount AS y
  FROM cells
  JOIN rq ON rq.l_returnflag = cells.l_returnflag
         AND rq.l_quantity = cells.l_quantity
  JOIN rd ON rd.l_returnflag = cells.l_returnflag
         AND rd.l_discount = cells.l_discount
), s AS (
  SELECT l_returnflag, CAST(SUM(n_cell) AS BIGINT) AS n,
    CAST(SUM(CAST(CAST(n_cell AS DOUBLE) * x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(CAST(n_cell AS DOUBLE) * y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(CAST(n_cell AS DOUBLE) * x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(CAST(n_cell AS DOUBLE) * x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(CAST(n_cell AS DOUBLE) * y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM j GROUP BY 1
)
SELECT l_returnflag, n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n AS DOUBLE) * syy - sy * sy) > 0
       THEN {sround_sql(
           "(CAST(n AS DOUBLE) * sxy - sx * sy)"
           " / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)"
           " * (CAST(n AS DOUBLE) * syy - sy * sy))", 9)}
       ELSE NULL END AS spearman_rho
FROM s ORDER BY l_returnflag
"""


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of l_quantity per l_returnflag at the exact
    p10/p90 — outlier-robust per-group statistics computed entirely on
    the value HISTOGRAM: the quantile walk (cum ≥ ⌈q·n⌉, ceil as
    integer DIV) runs its window over the per-flag distinct-value
    spine (~50 rows), and the winsorized mean is the count-weighted
    decimal sum of values clamped to [p10, p90]. The q_exact_median
    bucket argument at group granularity: no step ever sorts raw rows.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isNotNull() & F.col("l_quantity").isNotNull()
    )
    h = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).cast("bigint").alias("cv")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = h.groupBy("l_returnflag").agg(
        F.sum("cv").cast("bigint").alias("n")
    )
    cum = (
        h.join(F.broadcast(tot), "l_returnflag")
        .withColumn(
            "cumv",
            F.coalesce(F.sum("cv").over(w), F.lit(0).cast("bigint"))
            + F.col("cv"),
        )
        .withColumn("k10", F.expr("(n + 9) DIV 10"))
        .withColumn("k90", F.expr("(9 * n + 9) DIV 10"))
    )
    quant = cum.groupBy("l_returnflag", "n").agg(
        F.min(
            F.when(F.col("cumv") >= F.col("k10"), F.col("l_quantity"))
        ).alias("p10"),
        F.min(
            F.when(F.col("cumv") >= F.col("k90"), F.col("l_quantity"))
        ).alias("p90"),
    )
    clamped = F.when(F.col("l_quantity") < F.col("p10"), F.col("p10")).when(
        F.col("l_quantity") > F.col("p90"), F.col("p90")
    ).otherwise(F.col("l_quantity"))
    out = (
        h.join(F.broadcast(quant), "l_returnflag")
        .groupBy("l_returnflag", "n", "p10", "p90")
        .agg(
            F.sum(
                (F.col("cv").cast("double") * clamped).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("wsum")
        )
        .select(
            "l_returnflag",
            "n",
            "p10",
            "p90",
            sround(F.col("wsum") / F.col("n").cast("double"), 9).alias(
                "wmean"
            ),
        )
    )
    return out.orderBy("l_returnflag")


ORACLE_WINSORIZE = f"""
WITH h AS (
  SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS cv
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT l_returnflag, CAST(SUM(cv) AS BIGINT) AS n FROM h GROUP BY 1
), cum AS (
  SELECT h.l_returnflag, l_quantity, cv, n,
         COALESCE(SUM(cv) OVER (PARTITION BY h.l_returnflag
             ORDER BY l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv
           AS cumv,
         (n + 9) // 10 AS k10, (9 * n + 9) // 10 AS k90
  FROM h JOIN tot ON h.l_returnflag = tot.l_returnflag
), quant AS (
  SELECT l_returnflag, n,
         MIN(CASE WHEN cumv >= k10 THEN l_quantity END) AS p10,
         MIN(CASE WHEN cumv >= k90 THEN l_quantity END) AS p90
  FROM cum GROUP BY 1, 2
)
SELECT h.l_returnflag, n, p10, p90,
       {sround_sql(
           "CAST(SUM(CAST(CAST(cv AS DOUBLE)"
           " * (CASE WHEN l_quantity < p10 THEN p10"
           " WHEN l_quantity > p90 THEN p90 ELSE l_quantity END)"
           " AS DECIMAL(38,6))) AS DOUBLE) / CAST(n AS DOUBLE)", 9)}
         AS wmean
FROM h JOIN quant ON h.l_returnflag = quant.l_returnflag
GROUP BY 1, 2, 3, 4
ORDER BY h.l_returnflag
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier bipartite graph
    (distinct (o_custkey, l_suppkey) edges via orders ⋈ lineitem):
    Pearson correlation across EDGES between the two endpoint degrees —
    the "do busy customers buy from busy suppliers?" graph-structure
    scalar.

    Edge building is one equi-join + distinct (shuffles on the order
    key / edge pair); degrees are two map-side-combinable groupBys
    joined back on their own keys; the correlation sums are decimal.
    Degree products stay far under 2^53, so every double is exact and
    the final expression is an identical IEEE tree (den > 0 guarded).
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey").isNotNull()
    ).select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    dc = edges.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg_c")
    )
    ds = edges.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg_s")
    )
    j = edges.join(dc, "o_custkey").join(ds, "l_suppkey")
    x = F.col("deg_c").cast("double")
    y = F.col("deg_s").cast("double")
    dec = "decimal(38,6)"
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
    )
    nd = F.col("n_edges").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n_edges",
        F.when(
            denx * deny > 0, sround(num / F.sqrt(denx * deny), 9)
        ).alias("assortativity"),
    )


ORACLE_DEGREE_ASSORTATIVITY = f"""
WITH edges AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
), dc AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS deg_c
  FROM edges GROUP BY 1
), ds AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS deg_s
  FROM edges GROUP BY 1
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
    CAST(SUM(CAST(CAST(deg_c AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(CAST(deg_s AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(CAST(deg_c AS DOUBLE) * CAST(deg_s AS DOUBLE)
         AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(CAST(deg_c AS DOUBLE) * CAST(deg_c AS DOUBLE)
         AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(CAST(deg_s AS DOUBLE) * CAST(deg_s AS DOUBLE)
         AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM edges
  JOIN dc USING (o_custkey)
  JOIN ds USING (l_suppkey)
)
SELECT n_edges,
       CASE WHEN (CAST(n_edges AS DOUBLE) * sxx - sx * sx)
                 * (CAST(n_edges AS DOUBLE) * syy - sy * sy) > 0
       THEN {sround_sql(
           "(CAST(n_edges AS DOUBLE) * sxy - sx * sy)"
           " / sqrt((CAST(n_edges AS DOUBLE) * sxx - sx * sx)"
           " * (CAST(n_edges AS DOUBLE) * syy - sy * sy))", 9)}
       ELSE NULL END AS assortativity
FROM s
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope: OLS fit of ln(count) against
    ln(rank) over the top-ZIPF_K corpus terms — the companion scalar
    to q_heaps_law (vocabulary growth) for corpus-naturalness checks.

    Word counts are one map-side-combinable groupBy; the top-256 table
    comes from a distributed TakeOrdered under the TOTAL order
    (count DESC, word ASC), and the only window (rank assignment) runs
    over those 256 rows — a fixed spine, never the raw vocabulary. ln
    values are quantized per term (sround 9, the q_psi precedent);
    the OLS sums run in the decimal domain over the quantized values.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    words = F.explode(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != ""
        )
    ).alias("w")
    counts = d.select(words).groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("w")).limit(ZIPF_K)
    wr = Window.orderBy(F.col("cnt").desc(), F.col("w"))
    ranked = top.select(
        "w",
        "cnt",
        F.row_number().over(wr).cast("bigint").alias("rank"),
    )
    x = sround(F.log(F.col("rank").cast("double")), 9)
    y = sround(F.log(F.col("cnt").cast("double")), 9)
    pts = ranked.select(x.alias("x"), y.alias("y"))
    dec = "decimal(38,9)"
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n_terms").cast("double")
    den = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return s.select(
        "n_terms",
        F.when(den > 0, sround(slope, 9)).alias("zipf_slope"),
        F.when(
            den > 0,
            sround((F.col("sy") - slope * F.col("sx")) / nd, 9),
        ).alias("zipf_intercept"),
    )


ORACLE_ZIPF_SLOPE = f"""
WITH counts AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_filter(
             regexp_split_to_array(lower(text), '[^a-z]+'),
             t -> t <> '')) AS w
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
  ) t
  GROUP BY 1
), top AS (
  SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT {ZIPF_K}
), ranked AS (
  SELECT w, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank
  FROM top
), pts AS (
  SELECT {sround_sql("ln(CAST(rank AS DOUBLE))", 9)} AS x,
         {sround_sql("ln(CAST(cnt AS DOUBLE))", 9)} AS y
  FROM ranked
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
    CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(x * y AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT n_terms,
  CASE WHEN CAST(n_terms AS DOUBLE) * sxx - sx * sx > 0
  THEN {sround_sql(
      "(CAST(n_terms AS DOUBLE) * sxy - sx * sy)"
      " / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)", 9)}
  ELSE NULL END AS zipf_slope,
  CASE WHEN CAST(n_terms AS DOUBLE) * sxx - sx * sx > 0
  THEN {sround_sql(
      "(sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)"
      " / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)"
      " / CAST(n_terms AS DOUBLE)", 9)}
  ELSE NULL END AS zipf_intercept
FROM s
"""


# --------------------------------------------------------------------------
# train/eval split hygiene


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train documents sharing any word
    DECON_N-gram with the eval split (doc_id % 10 = 7 — the
    deterministic hash-split convention of q_hash_split). The classic
    n-gram-overlap detector every LLM pipeline runs before training.

    Shape: distinct per-doc shingles on the train side join the
    DISTINCT eval shingle SET — fan-out per train shingle is exactly
    one, so the join output is bounded by the train shingle count (no
    hot-shingle blowup; contrast ngram_jaccard_pairs, which needs a
    frequency cap for its doc×doc self-join). Reports per contaminated
    train doc: its shingle count, overlapping-shingle count, and the
    contamination ratio.
    """
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    sh = D.shingles(docs, n=DECON_N)
    train_sh = sh.filter(F.col("id") % 10 != 7)
    eval_set = sh.filter(F.col("id") % 10 == 7).select("shingle").distinct()
    # r13 (guide §2.3/§2.4 — one pass instead of three): the old shape
    # ran the shingle explode THREE times (n_sh groupBy, hits join,
    # eval side) and aggregated train shingles twice (by id for the
    # count, by shingle→id for the hits). Marking eval membership with
    # a LEFT join and computing both counts in ONE groupBy(id) drops a
    # full corpus-side explode pass and an exchange. Row-identical:
    # eval_set is distinct so the left join multiplies nothing,
    # count(*) over preserved rows is the old n_shingles, count(_hit)
    # counts exactly the old inner-join matches, and n_hits >= 1
    # restores the inner-join's contaminated-docs-only semantics. The
    # eval side is NOT broadcast-hinted: this split is a tenth of the
    # corpus (unlike q_decontaminate_ngram's benchmark suite), so the
    # planner must stay free to pick a shuffle join at real scale.
    per_doc = (
        train_sh.join(
            eval_set.withColumn("_hit", F.lit(1)), "shingle", "left"
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.count("_hit").cast("bigint").alias("n_hits"),
        )
        .filter(F.col("n_hits") >= 1)
    )
    return per_doc.select(
        F.col("id").alias("doc_id"),
        "n_shingles",
        "n_hits",
        sround(
            F.col("n_hits").cast("double")
            / F.col("n_shingles").cast("double"),
            9,
        ).alias("contamination"),
    ).orderBy("doc_id")


ORACLE_DECONTAMINATE = f"""
WITH toks AS (
  {tokens("documents WHERE doc_id IS NOT NULL AND text IS NOT NULL")}
), sh AS (
  {shingles("toks", DECON_N)}
), train_sh AS (
  SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 7
), eval_set AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 7
), n_sh AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
  FROM train_sh GROUP BY 1
), hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM train_sh JOIN eval_set USING (s) GROUP BY 1
)
SELECT doc_id, n_shingles, n_hits,
       {sround_sql(
           "CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE)", 9)}
         AS contamination
FROM hits JOIN n_sh USING (doc_id)
ORDER BY doc_id
"""


def q_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template audit: normalized PREFIX_K-char document
    prefixes shared by ≥ 2 documents, with doc/source/lang spread —
    the cheap detector for scraped template families (cookie banners,
    license headers) that near-dup pipelines handle poorly because the
    SUFFIX varies. One map-side-combinable groupBy on the prefix; the
    normalization (lower + strip non-alnum) matches exact_dedup's rule
    (operators/dedup.normalized_text) so the two audits compose.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    prefix = F.substring(D.normalized_text(), 1, PREFIX_K)
    return (
        d.select(
            prefix.alias("prefix"), "doc_id", "source", "lang"
        )
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("prefix")
    )


ORACLE_BOILERPLATE_PREFIXES = f"""
SELECT substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
              1, {PREFIX_K}) AS prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       MIN(doc_id) AS example_doc
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
GROUP BY 1
HAVING COUNT(*) >= 2
ORDER BY prefix
"""


QUERIES = {
    "q_chi2_independence": q_chi2_independence,
    "q_mutual_information": q_mutual_information,
    "q_spearman": q_spearman,
    "q_winsorized_mean": q_winsorized_mean,
    "q_degree_assortativity": q_degree_assortativity,
    "q_zipf_slope": q_zipf_slope,
    "q_decontaminate": q_decontaminate,
    "q_boilerplate_prefixes": q_boilerplate_prefixes,
}

ORACLES = {
    "q_chi2_independence": ORACLE_CHI2_INDEPENDENCE,
    "q_mutual_information": ORACLE_MUTUAL_INFORMATION,
    "q_spearman": ORACLE_SPEARMAN,
    "q_winsorized_mean": ORACLE_WINSORIZE,
    "q_degree_assortativity": ORACLE_DEGREE_ASSORTATIVITY,
    "q_zipf_slope": ORACLE_ZIPF_SLOPE,
    "q_decontaminate": ORACLE_DECONTAMINATE,
    "q_boilerplate_prefixes": ORACLE_BOILERPLATE_PREFIXES,
}
