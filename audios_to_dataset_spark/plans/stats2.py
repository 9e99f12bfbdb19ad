"""Round-11 statistics wave: Kendall tau-b, Kruskal-Wallis H, one-way
ANOVA F, Cohen's d / Hedges' g, Jensen-Shannon source drift,
permutation entropy, Brier decomposition, macro/micro F1, rank-biased
overlap, Bollinger bands, per-user drawdown, and the binned
Lorenz/Gini concentration curve.

No reference analog (the reference is batch audio-file ingest,
``/root/reference/src/main.rs:118-140``; it computes no statistics
beyond WAV header fields) — engine-capability surface for the
curation/eval/experimentation layer next to ``plans/infostats``,
``plans/expstats``, ``plans/nonparam``, and ``plans/evalmetrics``.

Exactness discipline (CLAUDE.md): counts exact integers; every double
aggregate is a DECIMAL sum of per-row terms (quantized with sround
where the term is not already decimal-exact); ln/sqrt/pow run on
bit-identical inputs; divisions guarded with lazy CASE branches.

Scale notes (100 TB design point):
- Kendall tau-b reduces the corpus to the (l_quantity × l_discount)
  contingency grid (~50×11 cells — value-range-bounded) with ONE
  map-side-combinable groupBy; concordant/discordant pair counts come
  from two cascaded PARTITIONED windows over the densified grid
  (partition by one axis, order by the other), never a pairwise join.
- Kruskal-Wallis uses HISTOGRAM ranks over the distinct-value spine
  (events.value lives on a 0.01 grid — the q_mann_whitney argument);
  raw rows feed one combinable groupBy.
- ANOVA / Cohen's d reduce to per-group moment sums (one combinable
  groupBy, ≤ a handful of groups).
- Jensen-Shannon runs on the (source × lang) contingency table with
  broadcast margins (the q_chi2_independence shape).
- Permutation entropy is two lag windows per user timeline (the
  q_transitions contract) + one combinable groupBy over ≤ 27 ordinal
  patterns.
- Brier / macro-F1 aggregate the CAL_BINS histogram / class² confusion
  cells (the q_ece / q_confusion_matrix shapes).
- Rank overlap ranks only the top-RBO_K rows produced by a distributed
  TakeOrdered (the q_zipf_slope argument); the depth spine is a
  literal 1..K sequence.
- Bollinger / drawdown are per-user ROWS-frame windows over the event
  timeline (partitioned by user — no global sort).
- Lorenz/Gini reduces customers to a FIXED 100-bin spend histogram;
  the cumulative window runs over that spine only (the q_wasserstein
  argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._util import sround, sround_sql
from .nonparam import COHORT_MOMENTS, cohort_moments

TOTAL = "~~total~~"  # total-row label; sorts after all data values
D38 = "decimal(38,6)"
D38_SQL = "DECIMAL(38,6)"
D28_9 = "decimal(28,9)"
D28_9_SQL = "DECIMAL(28,9)"

QUERIES: dict = {}
ORACLES: dict = {}


# --------------------------------------------------------------------------
# one-way ANOVA F (orders.o_totalprice across o_orderpriority groups)

def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of order value across the five
    o_orderpriority groups — the k-group extension of q_welch_t's
    two-cohort comparison (equal-variance model), with eta² effect
    size on the total row.

    Per-group moment sums (n, Σx, Σx²) are DECIMAL-exact (o_totalprice
    has 2 dp; the q_welch_t convention); SSB/SSW come from quantized
    per-group terms re-summed in the decimal domain, so the F statistic
    is an identical IEEE tree on both engines.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
    )
    g = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(D38)).cast("double").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(D38)).cast("double")
        .alias("ss"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s") / nd
    per = g.select(
        "grp", "n", "s", m.alias("mean"),
        sround(nd * m * m, 6).alias("t_b"),          # n_g·m_g²
        sround(F.col("ss") - nd * m * m, 6).alias("t_w"),  # within-SS
    )
    tot = per.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_tot"),
        F.sum(F.col("s").cast(D38)).cast("double").alias("s_tot"),
        F.sum(F.col("t_b").cast(D38)).cast("double").alias("sum_nm2"),
        F.sum(F.col("t_w").cast(D38)).cast("double").alias("ssw"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ntd = F.col("n_tot").cast("double")
    gm = F.col("s_tot") / ntd
    ssb = F.col("sum_nm2") - sround(ntd * gm * gm, 6)
    kd = F.col("k").cast("double")
    fstat = (ssb / (kd - 1.0)) / (F.col("ssw") / (ntd - kd))
    ok = (
        (F.col("k") > 1) & (F.col("n_tot") > F.col("k"))
        & (F.col("ssw") > 0.0)
    )
    total = tot.select(
        F.lit(TOTAL).alias("grp"),
        F.col("n_tot").alias("n"),
        F.when(F.col("n_tot") > 0, sround(gm, 9)).alias("mean"),
        F.when(ok, sround(fstat, 9)).alias("f_stat"),
        F.when(F.col("k") > 1, F.col("k") - 1).cast("bigint").alias("df1"),
        F.when(F.col("n_tot") > F.col("k"), F.col("n_tot") - F.col("k"))
        .cast("bigint").alias("df2"),
        F.when(ok & (ssb + F.col("ssw") > 0.0),
               sround(ssb / (ssb + F.col("ssw")), 9)).alias("eta_sq"),
    )
    per_out = per.select(
        "grp", "n", sround(F.col("mean"), 9).alias("mean"),
        F.lit(None).cast("double").alias("f_stat"),
        F.lit(None).cast("bigint").alias("df1"),
        F.lit(None).cast("bigint").alias("df2"),
        F.lit(None).cast("double").alias("eta_sq"),
    )
    return per_out.unionByName(total).orderBy("grp")


ORACLE_ANOVA_F = f"""
WITH o AS (
  SELECT o_orderpriority AS grp, o_totalprice AS x
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
), g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS {D38_SQL})) AS DOUBLE) AS s,
         CAST(SUM(CAST(x * x AS {D38_SQL})) AS DOUBLE) AS ss
  FROM o GROUP BY 1
), per AS (
  SELECT grp, n, s, s / CAST(n AS DOUBLE) AS mean,
    {sround_sql(
        "CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE))"
        " * (s / CAST(n AS DOUBLE))", 6)} AS t_b,
    {sround_sql(
        "ss - CAST(n AS DOUBLE) * (s / CAST(n AS DOUBLE))"
        " * (s / CAST(n AS DOUBLE))", 6)} AS t_w
  FROM g
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tot,
         CAST(SUM(CAST(s AS {D38_SQL})) AS DOUBLE) AS s_tot,
         CAST(SUM(CAST(t_b AS {D38_SQL})) AS DOUBLE) AS sum_nm2,
         CAST(SUM(CAST(t_w AS {D38_SQL})) AS DOUBLE) AS ssw,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM per
), mid AS (
  SELECT n_tot, s_tot, ssw, k,
         s_tot / CAST(n_tot AS DOUBLE) AS gm,
         sum_nm2 - {sround_sql(
             "CAST(n_tot AS DOUBLE)"
             " * (s_tot / CAST(n_tot AS DOUBLE))"
             " * (s_tot / CAST(n_tot AS DOUBLE))", 6)} AS ssb
  FROM tot
)
SELECT grp, n, {sround_sql("mean", 9)} AS mean,
       CAST(NULL AS DOUBLE) AS f_stat, CAST(NULL AS BIGINT) AS df1,
       CAST(NULL AS BIGINT) AS df2, CAST(NULL AS DOUBLE) AS eta_sq
FROM per
UNION ALL
SELECT '{TOTAL}', n_tot,
       CASE WHEN n_tot > 0 THEN {sround_sql("gm", 9)} END,
       CASE WHEN k > 1 AND n_tot > k AND ssw > 0.0
       THEN {sround_sql(
           "(ssb / (CAST(k AS DOUBLE) - 1.0))"
           " / (ssw / (CAST(n_tot AS DOUBLE) - CAST(k AS DOUBLE)))", 9)}
       END,
       CASE WHEN k > 1 THEN CAST(k - 1 AS BIGINT) END,
       CASE WHEN n_tot > k THEN CAST(n_tot - k AS BIGINT) END,
       CASE WHEN k > 1 AND n_tot > k AND ssw > 0.0
                 AND ssb + ssw > 0.0
       THEN {sround_sql("ssb / (ssb + ssw)", 9)} END
FROM mid
ORDER BY grp
"""

QUERIES["q_anova_f"] = q_anova_f
ORACLES["q_anova_f"] = ORACLE_ANOVA_F


# --------------------------------------------------------------------------
# Cohen's d / Hedges' g (the q_welch_t cohorts, pooled-variance model)

def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g effect sizes between the c_custkey-parity
    order-value cohorts — the magnitude readout that complements
    q_welch_t's significance test (same cohorts, pooled-variance
    model). The moments are nonparam.cohort_moments, as in q_welch_t;
    d = (m1−m0)/s_p with s_p² the pooled sample variance, and
    g = d·(1 − 3/(4N−9)) (small-sample bias correction). One row out.
    """
    mid = cohort_moments(spark, sf_dir)
    n0d2 = F.col("n0").cast("double")
    n1d2 = F.col("n1").cast("double")
    sp2 = (
        (n0d2 - 1.0) * F.col("v0") + (n1d2 - 1.0) * F.col("v1")
    ) / (n0d2 + n1d2 - 2.0)
    nn = F.col("n0") + F.col("n1")
    d = (F.col("m1") - F.col("m0")) / F.sqrt(sp2)
    corr = 1.0 - 3.0 / (4.0 * nn.cast("double") - 9.0)
    ok = (
        F.col("v0").isNotNull() & F.col("v1").isNotNull()
        & (nn > 2)
    )
    return mid.select(
        F.col("n0").alias("n_ctrl"), F.col("n1").alias("n_treat"),
        sround(F.col("m1") - F.col("m0"), 9).alias("mean_diff"),
        F.when(ok & (sp2 > 0.0), sround(F.sqrt(sp2), 9))
        .alias("pooled_sd"),
        F.when(ok & (sp2 > 0.0), sround(d, 9)).alias("cohens_d"),
        F.when(ok & (sp2 > 0.0) & (nn > 2), sround(d * corr, 9))
        .alias("hedges_g"),
    )


_SP2_SQL = (
    "(((CAST(n0 AS DOUBLE) - 1.0) * v0"
    " + (CAST(n1 AS DOUBLE) - 1.0) * v1)"
    " / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2.0))"
)
_D_SQL = f"((m1 - m0) / sqrt{_SP2_SQL})"

ORACLE_COHENS_D = f"""
WITH {COHORT_MOMENTS}
SELECT n0 AS n_ctrl, n1 AS n_treat,
  {sround_sql("m1 - m0", 9)} AS mean_diff,
  CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND n0 + n1 > 2
            AND {_SP2_SQL} > 0.0
  THEN {sround_sql("sqrt" + _SP2_SQL, 9)} END AS pooled_sd,
  CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND n0 + n1 > 2
            AND {_SP2_SQL} > 0.0
  THEN {sround_sql(_D_SQL, 9)} END AS cohens_d,
  CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND n0 + n1 > 2
            AND {_SP2_SQL} > 0.0
  THEN {sround_sql(
      _D_SQL + " * (1.0 - 3.0 / (4.0"
      " * CAST(n0 + n1 AS DOUBLE) - 9.0))", 9)} END AS hedges_g
FROM mid
"""

QUERIES["q_cohens_d"] = q_cohens_d
ORACLES["q_cohens_d"] = ORACLE_COHENS_D

# --------------------------------------------------------------------------
# Kendall tau-b (l_quantity vs l_discount over the contingency grid)

def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between l_quantity and
    l_discount — the concordance-based alternative to q_spearman
    (same column pair), exact under heavy ties.

    The corpus reduces to the (quantity × discount) contingency grid
    (~50×11 cells, value-range-bounded) with ONE map-side-combinable
    groupBy. Concordant/discordant pair counts come from 2-D prefix
    sums over the DENSIFIED grid: a within-row cumulative (partition
    by q, order by d) cascaded into an across-row cumulative
    (partition by d, order by q) — two PARTITIONED windows over ≤550
    rows, never a pairwise join. All pair counts are exact INTEGER
    arithmetic end to end: the tie terms t_x/t_y and n0 compute
    c*(c-1) in DECIMAL(38,0) (HUGEINT oracle-side) and halve with an
    integral `div 2` — never a true division through double, which
    would silently lose precision past c ≈ 9.5e7 (c² > 2^53) on BOTH
    engines at once (ADVICE r11). The only float ops are the final
    sqrt/divide on identical inputs.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_discount").isNotNull()
    )
    cells = li.groupBy(
        F.col("l_quantity").alias("q"), F.col("l_discount").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qs = cells.select("q").distinct()
    ds = cells.select("d").distinct()
    grid = (
        qs.crossJoin(F.broadcast(ds))
        .join(cells, ["q", "d"], "left")
        .select("q", "d",
                F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
    )
    w_lt = (Window.partitionBy("q").orderBy("d")
            .rowsBetween(Window.unboundedPreceding, -1))
    w_gt = (Window.partitionBy("q").orderBy(F.col("d").desc())
            .rowsBetween(Window.unboundedPreceding, -1))
    p = grid.select(
        "q", "d", "n",
        F.coalesce(F.sum("n").over(w_lt), F.lit(0)).cast("bigint")
        .alias("p_lt"),
        F.coalesce(F.sum("n").over(w_gt), F.lit(0)).cast("bigint")
        .alias("p_gt"),
    )
    w_q = (Window.partitionBy("d").orderBy("q")
           .rowsBetween(Window.unboundedPreceding, -1))
    s = p.select(
        "q", "d", "n",
        F.coalesce(F.sum("p_lt").over(w_q), F.lit(0)).cast("bigint")
        .alias("s_con"),
        F.coalesce(F.sum("p_gt").over(w_q), F.lit(0)).cast("bigint")
        .alias("s_dis"),
    )
    pair = s.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(F.col("n") * F.col("s_con")), F.lit(0))
        .cast("bigint").alias("concordant"),
        F.coalesce(F.sum(F.col("n") * F.col("s_dis")), F.lit(0))
        .cast("bigint").alias("discordant"),
    )
    # Tie terms stay in INTEGER arithmetic end to end (ADVICE r11: the
    # old c*(c-1)/2 true division went through double, silently losing
    # precision once a hot cell count c passed ~9.5e7 — c² > 2^53 —
    # identically on both engines, so the differential check could not
    # catch it): per-term product in DECIMAL(38,0) (exact to 1e38),
    # DECIMAL sum, then `div 2` (the sum of even terms is even, so the
    # integral divide is exact).
    def _half_sum_pairs(col: str, out: str):
        return (
            F.expr(
                f"CAST(coalesce(sum(CAST({col} AS DECIMAL(38,0))"
                f" * ({col} - 1)), 0) div 2 AS BIGINT)"
            ).alias(out)
        )

    tq = (
        cells.groupBy("q")
        .agg(F.sum("n").cast("bigint").alias("c"))
        .agg(_half_sum_pairs("c", "t_x"))
    )
    td = (
        cells.groupBy("d")
        .agg(F.sum("n").cast("bigint").alias("c"))
        .agg(_half_sum_pairs("c", "t_y"))
    )
    j = pair.crossJoin(F.broadcast(tq)).crossJoin(F.broadcast(td))
    n0 = F.expr(
        "CAST((CAST(n_rows AS DECIMAL(38,0)) * (n_rows - 1))"
        " div 2 AS BIGINT)"
    )
    den = (
        (n0 - F.col("t_x")).cast("double")
        * (n0 - F.col("t_y")).cast("double")
    )
    return j.select(
        "n_rows", "concordant", "discordant", "t_x", "t_y",
        F.when(
            den > 0.0,
            sround(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.sqrt(den), 9),
        ).alias("tau_b"),
    )


ORACLE_KENDALL_TAU = f"""
WITH li AS (
  SELECT l_quantity AS q, l_discount AS d FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
), cells AS (
  SELECT q, d, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY 1, 2
), grid AS (
  SELECT qs.q, ds.d, CAST(COALESCE(cells.n, 0) AS BIGINT) AS n
  FROM (SELECT DISTINCT q FROM cells) qs
  CROSS JOIN (SELECT DISTINCT d FROM cells) ds
  LEFT JOIN cells ON cells.q = qs.q AND cells.d = ds.d
), p AS (
  SELECT q, d, n,
    CAST(COALESCE(SUM(n) OVER (PARTITION BY q ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS p_lt,
    CAST(COALESCE(SUM(n) OVER (PARTITION BY q ORDER BY d DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS p_gt
  FROM grid
), s AS (
  SELECT q, d, n,
    CAST(COALESCE(SUM(p_lt) OVER (PARTITION BY d ORDER BY q
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS s_con,
    CAST(COALESCE(SUM(p_gt) OVER (PARTITION BY d ORDER BY q
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS s_dis
  FROM p
), pair AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(n * s_con), 0) AS BIGINT) AS concordant,
         CAST(COALESCE(SUM(n * s_dis), 0) AS BIGINT) AS discordant
  FROM s
), tq AS (
  -- integer-exact tie term (HUGEINT product, // integer divide) — the
  -- Spark twin's DECIMAL(38,0) `div 2`
  SELECT CAST(COALESCE(SUM(CAST(c AS HUGEINT) * (c - 1)), 0) // 2
              AS BIGINT) AS t_x
  FROM (SELECT CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY q)
), td AS (
  SELECT CAST(COALESCE(SUM(CAST(c AS HUGEINT) * (c - 1)), 0) // 2
              AS BIGINT) AS t_y
  FROM (SELECT CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY d)
), n0t AS (
  SELECT CAST((CAST(n_rows AS HUGEINT) * (n_rows - 1)) // 2 AS BIGINT)
         AS n0
  FROM pair
)
SELECT n_rows, concordant, discordant, t_x, t_y,
  CASE WHEN CAST(n0 - t_x AS DOUBLE)
            * CAST(n0 - t_y AS DOUBLE) > 0.0
  THEN {sround_sql(
      "CAST(concordant - discordant AS DOUBLE)"
      " / sqrt(CAST(n0 - t_x AS DOUBLE)"
      " * CAST(n0 - t_y AS DOUBLE))", 9)}
  END AS tau_b
FROM pair CROSS JOIN tq CROSS JOIN td CROSS JOIN n0t
"""

QUERIES["q_kendall_tau"] = q_kendall_tau
ORACLES["q_kendall_tau"] = ORACLE_KENDALL_TAU

# --------------------------------------------------------------------------
# Jensen-Shannon source drift (per-source lang mix vs the corpus mix)

_LN2 = 0.6931471805599453  # shared literal; never engine-computed


def q_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's language
    distribution and the corpus-wide language distribution — the
    bounded, symmetric "which source skews the language mix" drift
    score next to q_psi (bin drift) and q_chi2_independence
    (independence test). Reported in nats and normalized to [0,1]
    bits (÷ ln 2, a shared literal).

    Same contingency-table shape as q_chi2_independence: one
    map-side-combinable groupBy to (source × lang) cells, broadcast
    margins, and the DENSIFIED source×lang grid so q-side terms exist
    where a source never saw a language (p=0 → the q·ln(q/m) = q·ln 2
    term still contributes). Each ln term is quantized (sround 9 —
    the q_psi/q_mutual_information precedent) and DECIMAL-summed per
    source.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    src_t = cells.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_src")
    )
    lang_t = cells.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_lang")
    )
    tot = cells.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_tot")
    )
    grid = (
        src_t.crossJoin(F.broadcast(lang_t))
        .join(cells, ["source", "lang"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "n_src",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            "n_lang", "n_tot",
        )
    )
    p = F.col("n").cast("double") / F.col("n_src").cast("double")
    qq = F.col("n_lang").cast("double") / F.col("n_tot").cast("double")
    m = (p + qq) / 2.0
    t1 = F.when(F.col("n") > 0, sround(p * F.log(p / m), 9)).otherwise(
        F.lit(0.0)
    )
    t2 = sround(qq * F.log(qq / m), 9)  # q > 0 on the grid by build
    per_src = grid.select(
        "source", "n_src",
        t1.cast(D28_9).alias("t1"),
        t2.cast(D28_9).alias("t2"),
    ).groupBy("source").agg(
        F.max("n_src").alias("n_docs"),
        F.sum("t1").cast("double").alias("kl_p"),
        F.sum("t2").cast("double").alias("kl_q"),
    )
    jsd = (F.col("kl_p") + F.col("kl_q")) / 2.0
    return per_src.select(
        "source", "n_docs",
        sround(jsd, 9).alias("jsd_nats"),
        sround(jsd / _LN2, 9).alias("jsd_bits"),
    ).orderBy("source")


_P_SQL = "(CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE))"
_Q_SQL = "(CAST(n_lang AS DOUBLE) / CAST(n_tot AS DOUBLE))"
_M_SQL = f"(({_P_SQL} + {_Q_SQL}) / 2.0)"

ORACLE_JENSEN_SHANNON = f"""
WITH d AS (
  SELECT source, lang FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
), cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
), src_t AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_src FROM cells GROUP BY 1
), lang_t AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tot FROM cells
), grid AS (
  SELECT src_t.source, n_src,
         CAST(COALESCE(cells.n, 0) AS BIGINT) AS n, n_lang, n_tot
  FROM src_t CROSS JOIN lang_t
  LEFT JOIN cells
    ON cells.source = src_t.source AND cells.lang = lang_t.lang
  CROSS JOIN tot
), per_src AS (
  SELECT source, MAX(n_src) AS n_docs,
    CAST(SUM(CAST(CASE WHEN n > 0 THEN {sround_sql(
        _P_SQL + " * ln(" + _P_SQL + " / " + _M_SQL + ")", 9)}
      ELSE 0.0 END AS {D28_9_SQL})) AS DOUBLE) AS kl_p,
    CAST(SUM(CAST({sround_sql(
        _Q_SQL + " * ln(" + _Q_SQL + " / " + _M_SQL + ")", 9)}
      AS {D28_9_SQL})) AS DOUBLE) AS kl_q
  FROM grid GROUP BY 1
)
SELECT source, n_docs,
       {sround_sql("(kl_p + kl_q) / 2.0", 9)} AS jsd_nats,
       {sround_sql("((kl_p + kl_q) / 2.0) / " + repr(_LN2), 9)}
         AS jsd_bits
FROM per_src
ORDER BY source
"""

QUERIES["q_jensen_shannon"] = q_jensen_shannon
ORACLES["q_jensen_shannon"] = ORACLE_JENSEN_SHANNON

# --------------------------------------------------------------------------
# Kruskal-Wallis H (events.value across ALL event types, histogram ranks)

def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of events.value across ALL event types —
    the k-group extension of q_mann_whitney's two-cohort rank-sum
    (and the nonparametric twin of q_anova_f), with the standard tie
    correction.

    Ranks are HISTOGRAM ranks over the distinct-value spine
    (events.value lives on a 0.01 grid, so the spine is bounded by the
    value range, not row count — the q_mann_whitney argument): the
    average tie rank is before + (t+1)/2 from the cumulative spine
    window; per-group rank sums run in DECIMAL(38,6) (exact — .5-step
    ranks × integer counts); the tie term Σ(t³−t) is quantized per
    value and DECIMAL-summed. Per-group rows carry (n, mean_rank);
    the ``~~total~~`` row carries H, the tie-corrected H, and df.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    per_vt = e.groupBy(
        F.col("value").alias("v"), F.col("event_type").alias("grp")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    per_v = per_vt.groupBy("v").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    spine = per_v.select(
        "v", "t",
        F.coalesce(F.sum("t").over(wv), F.lit(0).cast("bigint"))
        .alias("before"),
    )
    avgrank = (F.col("before").cast("double")
               + (F.col("t").cast("double") + 1.0) / 2.0)
    ranked = per_vt.join(spine, "v").select(
        "grp", "c",
        (F.col("c").cast("double") * avgrank).cast(D38).alias("r_t"),
    )
    groups = ranked.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("r_t").cast("double").alias("r"),
    )
    td = F.col("t").cast("double")
    ties = spine.agg(
        F.coalesce(
            F.sum(sround(td * td * td - td, 6).cast(D38)),
            F.lit(0).cast(D38),
        ).cast("double").alias("tie")
    )
    per_g = groups.select(
        "grp", "n", "r",
        sround(
            (F.col("r") * F.col("r")) / F.col("n").cast("double"), 6
        ).cast(D38).alias("rr_t"),
    )
    tot = per_g.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_tot"),
        F.sum("rr_t").cast("double").alias("s_rr"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    ).crossJoin(F.broadcast(ties))
    nd = F.col("n_tot").cast("double")
    h = 12.0 / (nd * (nd + 1.0)) * F.col("s_rr") - 3.0 * (nd + 1.0)
    c_tie = 1.0 - F.col("tie") / (nd * nd * nd - nd)
    ok = (F.col("k") > 1) & (F.col("n_tot") > F.col("k"))
    total = tot.select(
        F.lit(TOTAL).alias("event_type"),
        F.col("n_tot").alias("n"),
        F.lit(None).cast("double").alias("mean_rank"),
        F.when(ok, sround(h, 9)).alias("h_stat"),
        F.when(ok & (c_tie > 0.0), sround(h / c_tie, 9)).alias("h_adj"),
        F.when(F.col("k") > 1, F.col("k") - 1).cast("bigint").alias("df"),
    )
    per_out = per_g.select(
        F.col("grp").alias("event_type"), "n",
        sround(F.col("r") / F.col("n").cast("double"), 9)
        .alias("mean_rank"),
        F.lit(None).cast("double").alias("h_stat"),
        F.lit(None).cast("double").alias("h_adj"),
        F.lit(None).cast("bigint").alias("df"),
    )
    return per_out.unionByName(total).orderBy("event_type")


_KW_H_SQL = (
    "(12.0 / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0))"
    " * s_rr - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0))"
)
_KW_CTIE_SQL = (
    "(1.0 - tie / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)"
    " * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE)))"
)

ORACLE_KRUSKAL_WALLIS = f"""
WITH e AS (
  SELECT value AS v, event_type AS grp FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
), per_vt AS (
  SELECT v, grp, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
), per_v AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM per_vt GROUP BY 1
), spine AS (
  SELECT v, t,
         CAST(COALESCE(SUM(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before
  FROM per_v
), ranked AS (
  SELECT grp, c,
    CAST(CAST(c AS DOUBLE) * (CAST(before AS DOUBLE)
         + (CAST(t AS DOUBLE) + 1.0) / 2.0) AS {D38_SQL}) AS r_t
  FROM per_vt JOIN spine USING (v)
), groups AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(r_t) AS DOUBLE) AS r
  FROM ranked GROUP BY 1
), ties AS (
  SELECT CAST(COALESCE(SUM(CAST({sround_sql(
      "CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)"
      " - CAST(t AS DOUBLE)", 6)} AS {D38_SQL})), 0) AS DOUBLE) AS tie
  FROM spine
), per_g AS (
  SELECT grp, n, r,
    CAST({sround_sql("(r * r) / CAST(n AS DOUBLE)", 6)}
         AS {D38_SQL}) AS rr_t
  FROM groups
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tot,
         CAST(SUM(rr_t) AS DOUBLE) AS s_rr,
         CAST(COUNT(*) AS BIGINT) AS k, MAX(tie) AS tie
  FROM per_g CROSS JOIN ties
)
SELECT grp AS event_type, n,
       {sround_sql("r / CAST(n AS DOUBLE)", 9)} AS mean_rank,
       CAST(NULL AS DOUBLE) AS h_stat, CAST(NULL AS DOUBLE) AS h_adj,
       CAST(NULL AS BIGINT) AS df
FROM per_g
UNION ALL
SELECT '{TOTAL}', n_tot, CAST(NULL AS DOUBLE),
       CASE WHEN k > 1 AND n_tot > k
       THEN {sround_sql(_KW_H_SQL, 9)} END,
       CASE WHEN k > 1 AND n_tot > k AND {_KW_CTIE_SQL} > 0.0
       THEN {sround_sql(_KW_H_SQL + " / " + _KW_CTIE_SQL, 9)} END,
       CASE WHEN k > 1 THEN CAST(k - 1 AS BIGINT) END
FROM tot
ORDER BY event_type
"""

QUERIES["q_kruskal_wallis"] = q_kruskal_wallis
ORACLES["q_kruskal_wallis"] = ORACLE_KRUSKAL_WALLIS

# --------------------------------------------------------------------------
# permutation entropy (ordinal 3-patterns over each user's event values)

def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy of the event-value stream: each run of 3
    consecutive values on a user's timeline maps to its ordinal
    pattern (the trichotomy <,=,> of the three pairwise comparisons —
    27 codes, ties get their own patterns), and the entropy of the
    pattern distribution measures how "random" the series is — the
    complexity readout next to q_acf (linear memory) and
    q_entropy_rate (symbol streams).

    Two LEAD windows per user timeline ordered by the total
    (ts, event_id) key (the q_transitions contract — NULL ts/user/
    value rows are dropped first, so "consecutive" means consecutive
    non-NULL samples); pattern counting is one map-side-combinable
    groupBy over ≤27 cells. Entropy terms are quantized (sround 9)
    and DECIMAL-summed; the normalized entropy divides by ln(k
    observed patterns) — both engine-identical. Per-pattern rows
    carry counts/shares; the ``-1`` row carries the entropies.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = e.select(
        F.col("value").alias("v1"),
        F.lead("value", 1).over(w).alias("v2"),
        F.lead("value", 2).over(w).alias("v3"),
    ).filter(F.col("v2").isNotNull() & F.col("v3").isNotNull())

    def _cmp3(a, b):
        return (
            F.when(F.col(a) < F.col(b), 0)
            .when(F.col(a) == F.col(b), 1)
            .otherwise(2)
        )

    pat = tri.select(
        (_cmp3("v1", "v2") * 9 + _cmp3("v1", "v3") * 3
         + _cmp3("v2", "v3")).cast("bigint").alias("pattern")
    )
    counts = pat.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    withp = counts.crossJoin(F.broadcast(tot)).select(
        "pattern", "n", "n_tot", "k",
        (F.col("n").cast("double") / F.col("n_tot").cast("double"))
        .alias("p"),
    )
    ent = withp.select(
        "n_tot", "k",
        sround(F.col("p") * F.log(F.col("p")), 9).cast(D28_9).alias("t"),
    ).groupBy("n_tot", "k").agg(
        (-F.sum("t").cast("double")).alias("h")
    )
    total = ent.select(
        F.lit(-1).cast("bigint").alias("pattern"),
        F.col("n_tot").alias("n"),
        F.lit(None).cast("double").alias("share"),
        sround(F.col("h") + 0.0, 9).alias("entropy"),
        F.when(
            F.col("k") > 1,
            sround(F.col("h") / F.log(F.col("k").cast("double")), 9),
        ).alias("norm_entropy"),
    )
    per = withp.select(
        "pattern", "n", sround(F.col("p"), 9).alias("share"),
        F.lit(None).cast("double").alias("entropy"),
        F.lit(None).cast("double").alias("norm_entropy"),
    )
    out = per.unionByName(total).orderBy("pattern")
    # empty input: counts is empty so no total row would survive the
    # groupBy — re-attach a degenerate total from the scalar aggregate
    empty_total = tot.filter(F.col("n_tot") == 0).select(
        F.lit(-1).cast("bigint").alias("pattern"),
        F.col("n_tot").alias("n"),
        F.lit(None).cast("double").alias("share"),
        F.lit(None).cast("double").alias("entropy"),
        F.lit(None).cast("double").alias("norm_entropy"),
    )
    return out.unionByName(empty_total).orderBy("pattern")


_PE_CMP = (
    "(CASE WHEN {a} < {b} THEN 0 WHEN {a} = {b} THEN 1 ELSE 2 END)"
)

ORACLE_PERMUTATION_ENTROPY = f"""
WITH e AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
), tri AS (
  SELECT value AS v1,
         LEAD(value, 1) OVER w AS v2,
         LEAD(value, 2) OVER w AS v3
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), pat AS (
  SELECT CAST({_PE_CMP.format(a="v1", b="v2")} * 9
             + {_PE_CMP.format(a="v1", b="v3")} * 3
             + {_PE_CMP.format(a="v2", b="v3")} AS BIGINT) AS pattern
  FROM tri WHERE v2 IS NOT NULL AND v3 IS NOT NULL
), counts AS (
  SELECT pattern, CAST(COUNT(*) AS BIGINT) AS n FROM pat GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tot,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM counts
), withp AS (
  SELECT pattern, n, n_tot, k,
         CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE) AS p
  FROM counts CROSS JOIN tot
), ent AS (
  SELECT n_tot, k,
    -CAST(SUM(CAST({sround_sql("p * ln(p)", 9)} AS {D28_9_SQL}))
          AS DOUBLE) AS h
  FROM withp GROUP BY 1, 2
)
SELECT pattern, n, {sround_sql("p", 9)} AS share,
       CAST(NULL AS DOUBLE) AS entropy,
       CAST(NULL AS DOUBLE) AS norm_entropy
FROM withp
UNION ALL
SELECT CAST(-1 AS BIGINT), n_tot, CAST(NULL AS DOUBLE),
       {sround_sql("h + 0.0", 9)},
       CASE WHEN k > 1
       THEN {sround_sql("h / ln(CAST(k AS DOUBLE))", 9)} END
FROM ent
UNION ALL
SELECT CAST(-1 AS BIGINT), n_tot, CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM tot WHERE n_tot = 0
ORDER BY pattern
"""

QUERIES["q_permutation_entropy"] = q_permutation_entropy
ORACLES["q_permutation_entropy"] = ORACLE_PERMUTATION_ENTROPY

# --------------------------------------------------------------------------
# Brier score + Murphy decomposition (the q_ece score/outcome frame)

def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the (binned) Murphy decomposition —
    reliability − resolution + uncertainty — over the q_ece
    score/outcome frame: the proper-scoring-rule companion to ECE
    (reliability ≈ calibration error², resolution ≈ discrimination).

    The raw Brier is the decimal mean of the 6-dp-quantized per-row
    (score − y)² (sround 12 terms); the decomposition aggregates the
    same CAL_BINS histogram as q_ece (one map-side-combinable groupBy)
    with per-bin terms quantized (sround 9) and DECIMAL-summed. The
    binned decomposition identity holds only up to within-bin variance,
    so both sides are reported, never reconciled.
    """
    from .evalmetrics import CAL_BINS, _scored

    s = _scored(spark, sf_dir)
    y = F.when(F.col("pos"), 1.0).otherwise(0.0)
    raw = s.select(
        sround((F.col("score") - y) * (F.col("score") - y), 12)
        .cast("decimal(30,12)").alias("sq")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("sq").cast("double").alias("sq_sum"),
    )
    b = F.least(
        F.floor(F.col("score") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("bigint")
    bins = s.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint")
        .alias("n_pos"),
        F.sum(F.col("score").cast("decimal(28,6)")).cast("double")
        .alias("sum_s"),
    )
    tot = bins.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("nn"),
        F.coalesce(F.sum("n_pos"), F.lit(0)).cast("bigint")
        .alias("nn_pos"),
    )
    nd = F.col("n").cast("double")
    obar_b = F.col("n_pos").cast("double") / nd
    sbar_b = F.col("sum_s") / nd
    obar = F.col("nn_pos").cast("double") / F.col("nn").cast("double")
    terms = bins.crossJoin(F.broadcast(tot)).select(
        sround(nd * (sbar_b - obar_b) * (sbar_b - obar_b), 9)
        .cast(D28_9).alias("rel_t"),
        sround(nd * (obar_b - obar) * (obar_b - obar), 9)
        .cast(D28_9).alias("res_t"),
    ).agg(
        F.sum("rel_t").cast("double").alias("rel_s"),
        F.sum("res_t").cast("double").alias("res_s"),
    )
    out = raw.crossJoin(F.broadcast(terms)).crossJoin(F.broadcast(tot))
    ntd = F.col("n_total").cast("double")
    ob = F.col("nn_pos").cast("double") / F.col("nn").cast("double")
    ok = F.col("n_total") > 0
    return out.select(
        "n_total",
        F.when(ok, sround(F.col("sq_sum") / ntd, 9)).alias("brier"),
        F.when(ok, sround(F.col("rel_s") / ntd, 9)).alias("reliability"),
        F.when(ok, sround(F.col("res_s") / ntd, 9)).alias("resolution"),
        F.when(ok, sround(ob * (1.0 - ob), 9)).alias("uncertainty"),
    )


def _oracle_brier() -> str:
    from .evalmetrics import _SCORED_SQL, CAL_BINS

    obar_b = "(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))"
    sbar_b = "(sum_s / CAST(n AS DOUBLE))"
    obar = "(CAST(nn_pos AS DOUBLE) / CAST(nn AS DOUBLE))"
    return f"""
WITH s AS ({_SCORED_SQL}),
raw AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CAST({sround_sql(
             "(score - CASE WHEN pos THEN 1.0 ELSE 0.0 END)"
             " * (score - CASE WHEN pos THEN 1.0 ELSE 0.0 END)", 12)}
           AS DECIMAL(30,12))) AS DOUBLE) AS sq_sum
  FROM s
), bins AS (
  SELECT LEAST(CAST(floor(score * {CAL_BINS}) AS BIGINT),
               {CAL_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) AS sum_s
  FROM s GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS nn,
         CAST(COALESCE(SUM(n_pos), 0) AS BIGINT) AS nn_pos
  FROM bins
), terms AS (
  SELECT
    CAST(SUM(CAST({sround_sql(
        "CAST(n AS DOUBLE) * (" + sbar_b + " - " + obar_b + ")"
        " * (" + sbar_b + " - " + obar_b + ")", 9)}
      AS {D28_9_SQL})) AS DOUBLE) AS rel_s,
    CAST(SUM(CAST({sround_sql(
        "CAST(n AS DOUBLE) * (" + obar_b + " - " + obar + ")"
        " * (" + obar_b + " - " + obar + ")", 9)}
      AS {D28_9_SQL})) AS DOUBLE) AS res_s
  FROM bins CROSS JOIN tot
)
SELECT n_total,
  CASE WHEN n_total > 0 THEN {sround_sql(
      "sq_sum / CAST(n_total AS DOUBLE)", 9)} END AS brier,
  CASE WHEN n_total > 0 THEN {sround_sql(
      "rel_s / CAST(n_total AS DOUBLE)", 9)} END AS reliability,
  CASE WHEN n_total > 0 THEN {sround_sql(
      "res_s / CAST(n_total AS DOUBLE)", 9)} END AS resolution,
  CASE WHEN n_total > 0 THEN {sround_sql(
      obar + " * (1.0 - " + obar + ")", 9)} END AS uncertainty
FROM raw CROSS JOIN terms CROSS JOIN tot
"""


QUERIES["q_brier_decomposition"] = q_brier_decomposition
ORACLES["q_brier_decomposition"] = _oracle_brier()

# --------------------------------------------------------------------------
# macro / micro / weighted F1 (the q_confusion_matrix cells)

def q_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-, micro-, and support-weighted F1 over the
    q_confusion_matrix cells — the one-row corpus summary of the
    per-class table (same deterministic stand-in classifier:
    vec_id % 3 == 0 rows shift one class up). The sklearn
    zero_division=0 convention applies: a class with no predictions
    scores precision 0, no truth scores recall 0, and F1 is 0 when
    P + R = 0. Per-class doubles are identical IEEE trees; the ≤
    N_CLASSES per-class terms are quantized (sround 9) and
    DECIMAL-summed.
    """
    from .evalmetrics import confusion_cells

    j = confusion_cells(spark, sf_dir)
    p = F.when(
        F.col("n_pred") > 0,
        F.col("tp").cast("double") / F.col("n_pred").cast("double"),
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_true") > 0,
        F.col("tp").cast("double") / F.col("n_true").cast("double"),
    ).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0.0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    per = j.select(
        "n_true", "tp",
        sround(p, 9).cast(D28_9).alias("p_t"),
        sround(r, 9).cast(D28_9).alias("r_t"),
        sround(f1, 9).cast(D28_9).alias("f_t"),
        sround(F.col("n_true").cast("double") * f1, 9).cast(D28_9)
        .alias("wf_t"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.coalesce(F.sum("n_true"), F.lit(0)).cast("bigint").alias("nn"),
        F.coalesce(F.sum("tp"), F.lit(0)).cast("bigint").alias("tps"),
        F.sum("p_t").cast("double").alias("sp"),
        F.sum("r_t").cast("double").alias("sr"),
        F.sum("f_t").cast("double").alias("sf"),
        F.sum("wf_t").cast("double").alias("swf"),
    )
    kd = F.col("n_classes").cast("double")
    return agg.select(
        "n_classes",
        F.when(
            F.col("nn") > 0,
            sround(F.col("tps").cast("double")
                   / F.col("nn").cast("double"), 9),
        ).alias("accuracy"),
        F.when(F.col("n_classes") > 0, sround(F.col("sp") / kd, 9))
        .alias("macro_precision"),
        F.when(F.col("n_classes") > 0, sround(F.col("sr") / kd, 9))
        .alias("macro_recall"),
        F.when(F.col("n_classes") > 0, sround(F.col("sf") / kd, 9))
        .alias("macro_f1"),
        F.when(
            F.col("nn") > 0,
            sround(F.col("swf") / F.col("nn").cast("double"), 9),
        ).alias("weighted_f1"),
    )


def _oracle_macro_f1() -> str:
    from .evalmetrics import CONFUSION_CELLS

    p = ("CASE WHEN n_pred > 0"
         " THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)"
         " ELSE 0.0 END")
    r = ("CASE WHEN n_true > 0"
         " THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)"
         " ELSE 0.0 END")
    f1 = (f"CASE WHEN ({p}) + ({r}) > 0.0"
          f" THEN 2.0 * ({p}) * ({r}) / (({p}) + ({r})) ELSE 0.0 END")
    return f"""
WITH {CONFUSION_CELLS}, per AS (
  SELECT n_true, tp,
    CAST({sround_sql(p, 9)} AS {D28_9_SQL}) AS p_t,
    CAST({sround_sql(r, 9)} AS {D28_9_SQL}) AS r_t,
    CAST({sround_sql(f1, 9)} AS {D28_9_SQL}) AS f_t,
    CAST({sround_sql("CAST(n_true AS DOUBLE) * (" + f1 + ")", 9)}
         AS {D28_9_SQL}) AS wf_t
  FROM j
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(COALESCE(SUM(n_true), 0) AS BIGINT) AS nn,
         CAST(COALESCE(SUM(tp), 0) AS BIGINT) AS tps,
         CAST(SUM(p_t) AS DOUBLE) AS sp,
         CAST(SUM(r_t) AS DOUBLE) AS sr,
         CAST(SUM(f_t) AS DOUBLE) AS sf,
         CAST(SUM(wf_t) AS DOUBLE) AS swf
  FROM per
)
SELECT n_classes,
  CASE WHEN nn > 0 THEN {sround_sql(
      "CAST(tps AS DOUBLE) / CAST(nn AS DOUBLE)", 9)} END AS accuracy,
  CASE WHEN n_classes > 0 THEN {sround_sql(
      "sp / CAST(n_classes AS DOUBLE)", 9)} END AS macro_precision,
  CASE WHEN n_classes > 0 THEN {sround_sql(
      "sr / CAST(n_classes AS DOUBLE)", 9)} END AS macro_recall,
  CASE WHEN n_classes > 0 THEN {sround_sql(
      "sf / CAST(n_classes AS DOUBLE)", 9)} END AS macro_f1,
  CASE WHEN nn > 0 THEN {sround_sql(
      "swf / CAST(nn AS DOUBLE)", 9)} END AS weighted_f1
FROM agg
"""


QUERIES["q_macro_f1"] = q_macro_f1
ORACLES["q_macro_f1"] = _oracle_macro_f1()

# --------------------------------------------------------------------------
# rank-biased overlap between two top-K part rankings

RBO_K = 20  # ranking depth (fixed spine)
RBO_P = 0.9  # RBO persistence
# (1 - p) * p^(d-1) weights, computed ONCE in Python and embedded as
# identical literals in both plans — engine pow() is never exercised.
RBO_WEIGHTS = [(1.0 - RBO_P) * RBO_P ** i for i in range(RBO_K)]


def q_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO, truncated at depth K) between the
    top-K parts BY SHIPPED QUANTITY and BY REVENUE — "do the two
    business rankings agree, weighted toward the top?" — the
    two-ranking comparison that q_ndcg/q_mrr (ranking vs relevance
    labels) don't cover.

    Both rankings come from a distributed TakeOrdered under a TOTAL
    order (measure DESC, p_partkey — the q_zipf_slope argument); the
    overlap-at-depth table is a cumulative count over the LITERAL
    1..K depth spine (x_d = #items whose max(rank_a, rank_b) ≤ d),
    and RBO = Σ (1−p)·p^(d−1)·x_d/d with the weights embedded as
    shared Python-computed literals. Per-depth rows carry the
    agreement curve; the ``-1`` row carries the truncated RBO.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(D38)).cast("double").alias("qty"),
        F.sum(
            (F.col("l_extendedprice") * (1.0 - F.col("l_discount")))
            .cast(D38)
        ).cast("double").alias("rev"),
    )
    wa = Window.orderBy(F.col("qty").desc(), F.col("l_partkey"))
    wb = Window.orderBy(F.col("rev").desc(), F.col("l_partkey"))
    top_a = (
        per_part.orderBy(F.col("qty").desc(), F.col("l_partkey"))
        .limit(RBO_K)
        .select("l_partkey", F.row_number().over(wa).cast("bigint")
                .alias("ra"))
    )
    top_b = (
        per_part.orderBy(F.col("rev").desc(), F.col("l_partkey"))
        .limit(RBO_K)
        .select("l_partkey", F.row_number().over(wb).cast("bigint")
                .alias("rb"))
    )
    both = top_a.join(top_b, "l_partkey").select(
        F.greatest("ra", "rb").alias("m")
    )
    per_m = both.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    spine = spark.range(1, RBO_K + 1).select(F.col("id").alias("d"))
    wd = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = (
        spine.join(per_m, spine.d == per_m.m, "left")
        .select("d", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
        .select(
            "d",
            F.sum("c").over(wd).cast("bigint").alias("n_common"),
        )
    )
    warr = F.array(*[F.lit(w) for w in RBO_WEIGHTS])
    terms = curve.select(
        "d", "n_common",
        sround(
            F.element_at(warr, F.col("d").cast("int"))
            * F.col("n_common").cast("double") / F.col("d").cast("double"),
            12,
        ).cast("decimal(30,12)").alias("t"),
    )
    total = terms.agg(
        F.sum("t").cast("double").alias("rbo_raw")
    ).select(
        F.lit(-1).cast("bigint").alias("d"),
        F.lit(None).cast("bigint").alias("n_common"),
        F.lit(None).cast("double").alias("overlap"),
        sround(F.col("rbo_raw") + 0.0, 9).alias("rbo"),
    )
    per_out = curve.select(
        "d", "n_common",
        sround(
            F.col("n_common").cast("double") / F.col("d").cast("double"),
            9,
        ).alias("overlap"),
        F.lit(None).cast("double").alias("rbo"),
    )
    return per_out.unionByName(total).orderBy("d")


_RBO_W_SQL = "[" + ", ".join(repr(w) for w in RBO_WEIGHTS) + "]"

ORACLE_RANK_OVERLAP = f"""
WITH per_part AS (
  SELECT l_partkey,
    CAST(SUM(CAST(l_quantity AS {D38_SQL})) AS DOUBLE) AS qty,
    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
         AS {D38_SQL})) AS DOUBLE) AS rev
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
), top_a AS (
  SELECT l_partkey,
         CAST(row_number() OVER (ORDER BY qty DESC, l_partkey)
              AS BIGINT) AS ra
  FROM (SELECT * FROM per_part
        ORDER BY qty DESC, l_partkey LIMIT {RBO_K})
), top_b AS (
  SELECT l_partkey,
         CAST(row_number() OVER (ORDER BY rev DESC, l_partkey)
              AS BIGINT) AS rb
  FROM (SELECT * FROM per_part
        ORDER BY rev DESC, l_partkey LIMIT {RBO_K})
), per_m AS (
  SELECT GREATEST(ra, rb) AS m, CAST(COUNT(*) AS BIGINT) AS c
  FROM top_a JOIN top_b USING (l_partkey) GROUP BY 1
), spine AS (
  SELECT UNNEST(range(1, {RBO_K + 1})) AS d
), curve AS (
  SELECT d,
    CAST(SUM(COALESCE(c, 0)) OVER (ORDER BY d
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS BIGINT) AS n_common
  FROM spine LEFT JOIN per_m ON spine.d = per_m.m
), terms AS (
  SELECT d, n_common,
    CAST({sround_sql(
        "(" + _RBO_W_SQL + ")[CAST(d AS INT)]"
        " * CAST(n_common AS DOUBLE) / CAST(d AS DOUBLE)", 12)}
      AS DECIMAL(30,12)) AS t
  FROM curve
)
SELECT d, n_common,
       {sround_sql(
           "CAST(n_common AS DOUBLE) / CAST(d AS DOUBLE)", 9)}
         AS overlap,
       CAST(NULL AS DOUBLE) AS rbo
FROM curve
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       {sround_sql("CAST(SUM(t) AS DOUBLE) + 0.0", 9)}
FROM terms
ORDER BY d
"""

QUERIES["q_rank_overlap"] = q_rank_overlap
ORACLES["q_rank_overlap"] = ORACLE_RANK_OVERLAP

# --------------------------------------------------------------------------
# Bollinger bands (trailing mean ± 2σ per user timeline)

BOLL_W = 5  # trailing window width (rows)
BOLL_KSD = 2.0  # band half-width in standard deviations


def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over each user's event-value timeline: trailing
    BOLL_W-row mean and population σ, and a breakout flag when the
    current value leaves the ±2σ band — the ROLLING anomaly readout
    next to q_anomaly_zscore's global per-type z-score.

    One ROWS-frame window per user timeline under the total
    (ts, event_id) order (NULL ts/user/value rows dropped first — the
    q_transitions contract). Frame sums are DECIMAL-exact
    (events.value is a 0.01 grid, squares are 4 dp); mean/σ/band are
    identical IEEE trees, and the breakout comparison tests a ROUNDED
    margin against zero so no boundary row can flip between engines.
    Bands are emitted only for full windows (n_w = BOLL_W).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-(BOLL_W - 1), Window.currentRow)
    )
    v = F.col("value")
    rolled = e.select(
        "event_id", "user_id", v.alias("v"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_w"),
        F.sum(v.cast("decimal(28,6)")).over(w).cast("double").alias("s"),
        F.sum((v * v).cast("decimal(28,6)")).over(w).cast("double")
        .alias("ss"),
    )
    nd = F.col("n_w").cast("double")
    mean = F.col("s") / nd
    var = F.greatest(F.col("ss") / nd - mean * mean, F.lit(0.0))
    sd = F.sqrt(var)
    full = F.col("n_w") == BOLL_W
    margin = sround(
        F.abs(F.col("v") - mean) - BOLL_KSD * sd, 9
    )
    return rolled.select(
        "event_id", "user_id", "n_w",
        F.when(full, sround(mean, 9)).alias("mean_w"),
        F.when(full, sround(sd, 9)).alias("sd_w"),
        F.when(full, (margin > 0.0).cast("int")).alias("breakout"),
    ).orderBy("event_id")


_BOLL_MEAN = "(s / CAST(n_w AS DOUBLE))"
_BOLL_SD = (
    f"sqrt(GREATEST(ss / CAST(n_w AS DOUBLE)"
    f" - {_BOLL_MEAN} * {_BOLL_MEAN}, 0.0))"
)

ORACLE_BOLLINGER = f"""
WITH e AS (
  SELECT event_id, user_id, ts, value AS v FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
), rolled AS (
  SELECT event_id, user_id, v,
    CAST(COUNT(*) OVER w AS BIGINT) AS n_w,
    CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s,
    CAST(SUM(CAST(v * v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS ss
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {BOLL_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_w,
  CASE WHEN n_w = {BOLL_W}
  THEN {sround_sql(_BOLL_MEAN, 9)} END AS mean_w,
  CASE WHEN n_w = {BOLL_W}
  THEN {sround_sql(_BOLL_SD, 9)} END AS sd_w,
  CASE WHEN n_w = {BOLL_W}
  THEN CAST({sround_sql(
      "abs(v - " + _BOLL_MEAN + ") - " + repr(BOLL_KSD)
      + " * " + _BOLL_SD, 9)} > 0.0 AS INT) END AS breakout
FROM rolled
ORDER BY event_id
"""

QUERIES["q_bollinger"] = q_bollinger
ORACLES["q_bollinger"] = ORACLE_BOLLINGER


# --------------------------------------------------------------------------
# per-user drawdown (running balance vs running peak)

DD_INFLOW = "purchase"  # inflow type; all other types are outflows


def q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's running balance — the
    peak-to-trough risk readout over a signed event stream (synthetic
    sign convention: 'purchase' values flow in, every other type flows
    out; the OPERATOR is the running-peak-minus-balance pattern).

    Two cascaded windows per user timeline under the total
    (ts, event_id) order: a DECIMAL running sum (exact, so the running
    peak and every drawdown are decimal-exact too) and a running MAX
    over it; one combinable groupBy collapses to per-user
    (final, peak, max_drawdown). No global sort anywhere.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    signed = F.when(
        F.col("event_type") == DD_INFLOW, F.col("value")
    ).otherwise(-F.col("value"))
    wc = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = e.select(
        "user_id", "ts", "event_id",
        F.sum(signed.cast("decimal(28,6)")).over(wc).alias("bal"),
    )
    wb = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peaked = bal.select(
        "user_id", "bal",
        F.max("bal").over(wb).alias("peak"),
    )
    per_user = peaked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.max(F.col("peak") - F.col("bal")).cast("double") + 0.0)
        .alias("max_drawdown"),
        (F.max("peak").cast("double") + 0.0).alias("peak_balance"),
    )
    final = e.groupBy("user_id").agg(
        (F.sum(signed.cast("decimal(28,6)")).cast("double") + 0.0)
        .alias("final_balance")
    )
    return per_user.join(final, "user_id").select(
        "user_id", "n_events", "final_balance", "peak_balance",
        "max_drawdown",
    ).orderBy("user_id")


ORACLE_DRAWDOWN = f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = '{DD_INFLOW}' THEN value
              ELSE -value END AS sv
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
), bal AS (
  SELECT user_id, ts, event_id,
    SUM(CAST(sv AS DECIMAL(28,6))) OVER w AS bal
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), peaked AS (
  SELECT user_id, bal,
    MAX(bal) OVER w2 AS peak
  FROM bal
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(peak - bal) AS DOUBLE) + 0.0 AS max_drawdown,
         CAST(MAX(peak) AS DOUBLE) + 0.0 AS peak_balance
  FROM peaked GROUP BY 1
), final AS (
  SELECT user_id,
         CAST(SUM(CAST(sv AS DECIMAL(28,6))) AS DOUBLE) + 0.0
           AS final_balance
  FROM e GROUP BY 1
)
SELECT user_id, n_events, final_balance, peak_balance, max_drawdown
FROM per_user JOIN final USING (user_id)
ORDER BY user_id
"""

QUERIES["q_drawdown"] = q_drawdown
ORACLES["q_drawdown"] = ORACLE_DRAWDOWN

# --------------------------------------------------------------------------
# Lorenz curve + binned Gini of customer spend concentration

LORENZ_BINS = 100  # fixed histogram resolution


def q_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of per-customer total spend with the
    binned (trapezoid) Gini coefficient — "what share of revenue do
    the bottom X% of customers carry?" — the concentration readout
    next to q_supplier_concentration (per-part dominance) and
    q_heavy_hitters.

    Customers reduce to a FIXED LORENZ_BINS histogram over the spend
    range (min/max from a broadcast 1-row aggregate); the cumulative
    windows and the lag for the trapezoid rule run over the LITERAL
    0..99 bin spine only (the q_wasserstein argument) — raw rows are
    never totally ordered. All spend sums are DECIMAL-exact; the
    shares and the Gini terms are quantized (sround) and
    DECIMAL-summed. The Gini is the BINNED approximation (exact for
    the binned distribution, a lower bound of the exact statistic) —
    the convention is documented, not reconciled.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(D38)).cast("double")
        .alias("spend")
    )
    stats = spend.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.min("spend").alias("lo"),
        F.max("spend").alias("hi"),
        F.sum(F.col("spend").cast(D38)).cast("double").alias("s_tot"),
    )
    binned = spend.crossJoin(F.broadcast(stats)).select(
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.floor(
                    (F.col("spend") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * LORENZ_BINS
                ),
                F.lit(LORENZ_BINS - 1),
            ),
        ).otherwise(F.lit(0)).cast("bigint").alias("bin"),
        "spend",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("spend").cast(D38)).alias("s"),
    )
    spine = spark.range(0, LORENZ_BINS).select(F.col("id").alias("bin"))
    wd = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dense = (
        spine.join(per_bin, "bin", "left")
        .select(
            "bin",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(F.col("s"), F.lit(0).cast(D38)).alias("s"),
        )
        .select(
            "bin", "n",
            F.sum("n").over(wd).cast("bigint").alias("cum_n"),
            F.sum("s").over(wd).alias("cum_s"),
        )
    )
    curve = dense.crossJoin(F.broadcast(stats)).select(
        "bin", "n",
        F.when(
            F.col("n_cust") > 0,
            sround(
                F.col("cum_n").cast("double")
                / F.col("n_cust").cast("double"), 9),
        ).alias("cum_pop_share"),
        F.when(
            F.col("s_tot") > 0.0,
            sround(F.col("cum_s").cast("double") / F.col("s_tot"), 9),
        ).alias("cum_spend_share"),
    )
    wl = Window.orderBy("bin")
    terms = curve.select(
        "n", "cum_pop_share", "cum_spend_share",
        F.coalesce(F.lag("cum_spend_share", 1).over(wl), F.lit(0.0))
        .alias("l_prev"),
        F.coalesce(F.lag("cum_pop_share", 1).over(wl), F.lit(0.0))
        .alias("p_prev"),
    ).select(
        sround(
            (F.col("cum_pop_share") - F.col("p_prev"))
            * (F.col("cum_spend_share") + F.col("l_prev")), 12
        ).cast("decimal(30,12)").alias("t")
    )
    total = terms.agg(F.sum("t").cast("double").alias("area")).select(
        F.lit(-1).cast("bigint").alias("bin"),
        F.lit(None).cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("cum_pop_share"),
        F.lit(None).cast("double").alias("cum_spend_share"),
        F.when(
            F.col("area").isNotNull(),
            sround(1.0 - F.col("area"), 9),
        ).alias("gini"),
    )
    per_out = curve.select(
        "bin", "n", "cum_pop_share", "cum_spend_share",
        F.lit(None).cast("double").alias("gini"),
    )
    return per_out.unionByName(total).orderBy("bin")


_LZ_BIN_SQL = f"""CASE WHEN hi > lo
  THEN CAST(LEAST(floor((spend - lo) / (hi - lo) * {LORENZ_BINS}),
                  {LORENZ_BINS - 1}) AS BIGINT)
  ELSE 0 END"""

ORACLE_LORENZ_GINI = f"""
WITH spend AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS {D38_SQL})) AS DOUBLE) AS spend
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cust, MIN(spend) AS lo,
         MAX(spend) AS hi,
         CAST(SUM(CAST(spend AS {D38_SQL})) AS DOUBLE) AS s_tot
  FROM spend
), per_bin AS (
  SELECT {_LZ_BIN_SQL} AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(spend AS {D38_SQL})) AS s
  FROM spend CROSS JOIN stats GROUP BY 1
), spine AS (
  SELECT UNNEST(range(0, {LORENZ_BINS})) AS bin
), dense AS (
  SELECT bin,
    CAST(SUM(COALESCE(n, 0)) OVER w AS BIGINT) AS cum_n,
    COALESCE(n, 0) AS n,
    SUM(COALESCE(s, CAST(0 AS {D38_SQL}))) OVER w AS cum_s
  FROM spine LEFT JOIN per_bin USING (bin)
  WINDOW w AS (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), curve AS (
  SELECT bin, n,
    CASE WHEN n_cust > 0 THEN {sround_sql(
        "CAST(cum_n AS DOUBLE) / CAST(n_cust AS DOUBLE)", 9)}
    END AS cum_pop_share,
    CASE WHEN s_tot > 0.0 THEN {sround_sql(
        "CAST(cum_s AS DOUBLE) / s_tot", 9)}
    END AS cum_spend_share
  FROM dense CROSS JOIN stats
), terms AS (
  SELECT CAST({sround_sql(
      "(cum_pop_share - COALESCE(LAG(cum_pop_share, 1) OVER wo, 0.0))"
      " * (cum_spend_share"
      "    + COALESCE(LAG(cum_spend_share, 1) OVER wo, 0.0))", 12)}
    AS DECIMAL(30,12)) AS t
  FROM curve
  WINDOW wo AS (ORDER BY bin)
)
SELECT bin, n, cum_pop_share, cum_spend_share,
       CAST(NULL AS DOUBLE) AS gini
FROM curve
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE),
       CASE WHEN SUM(t) IS NOT NULL
       THEN {sround_sql("1.0 - CAST(SUM(t) AS DOUBLE)", 9)} END
FROM terms
ORDER BY bin
"""

QUERIES["q_lorenz_gini"] = q_lorenz_gini
ORACLES["q_lorenz_gini"] = ORACLE_LORENZ_GINI

# --------------------------------------------------------------------------
# Hill tail-index estimator (heavy-tail audit of customer spend)

HILL_KS = (16, 32, 64, 128)  # tail sizes reported (fixed spine)


def q_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail exponent of per-customer
    spend, at fixed tail sizes k — "how heavy-tailed is revenue
    concentration?", the parametric companion to q_lorenz_gini's
    curve: alpha(k) = k / Σ_{i≤k} (ln x_(i) − ln x_(k+1)) over the
    descending order statistics.

    Only the top max(HILL_KS)+1 spends are ever ordered — a
    distributed TakeOrdered under the TOTAL (spend DESC, custkey)
    order, then rank/cumulative windows over that ≤129-row frame (the
    q_zipf_slope argument). ln terms are quantized per row (sround 9,
    the q_psi precedent) and cumulated in the decimal domain; each k
    row joins the literal k-spine against the rank frame, so a tail
    shorter than k+1 customers simply emits no row for that k. The
    estimator is DEFINED on the quantized lns (identical trees both
    engines).
    """
    kmax = max(HILL_KS)
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(D38)).cast("double")
        .alias("spend")
    ).filter(F.col("spend") > 0.0)
    top = spend.orderBy(
        F.col("spend").desc(), F.col("o_custkey")
    ).limit(kmax + 1)
    wr = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    lns = top.select(
        "spend",
        F.row_number().over(wr).cast("bigint").alias("r"),
        sround(F.log("spend"), 9).alias("lx"),
    )
    wc = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = lns.select(
        "r", "lx", "spend",
        F.sum(F.col("lx").cast(D28_9)).over(wc).cast("double")
        .alias("cum_lx"),
    )
    ks = spark.range(0, len(HILL_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in HILL_KS]),
            (F.col("id") + 1).cast("int"),
        ).cast("bigint").alias("k")
    )
    at_k = cum.join(ks, cum.r == ks.k).select("k", "cum_lx")
    at_k1 = cum.join(ks, cum.r == ks.k + 1).select(
        F.col("k").alias("k2"), F.col("lx").alias("lx_k1"),
        F.col("spend").alias("x_k1"),
    )
    j = at_k.join(at_k1, at_k.k == at_k1.k2)
    kd = F.col("k").cast("double")
    den = F.col("cum_lx") - kd * F.col("lx_k1")
    return j.select(
        "k",
        sround(F.col("x_k1"), 6).alias("x_k1"),
        F.when(den > 0.0, sround(kd / den, 9)).alias("hill_alpha"),
    ).orderBy("k")


_HILL_KS_SQL = "[" + ", ".join(str(k) for k in HILL_KS) + "]"

ORACLE_TAIL_INDEX = f"""
WITH spend AS (
  SELECT o_custkey,
    CAST(SUM(CAST(o_totalprice AS {D38_SQL})) AS DOUBLE) AS spend
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), top AS (
  SELECT * FROM spend WHERE spend > 0.0
  ORDER BY spend DESC, o_custkey LIMIT {max(HILL_KS) + 1}
), lns AS (
  SELECT spend,
    CAST(row_number() OVER (ORDER BY spend DESC, o_custkey)
         AS BIGINT) AS r,
    {sround_sql("ln(spend)", 9)} AS lx
  FROM top
), cum AS (
  SELECT r, lx, spend,
    CAST(SUM(CAST(lx AS {D28_9_SQL})) OVER (ORDER BY r
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS DOUBLE) AS cum_lx
  FROM lns
), ks AS (
  SELECT CAST(UNNEST({_HILL_KS_SQL}) AS BIGINT) AS k
), at_k AS (
  SELECT k, cum_lx FROM cum JOIN ks ON cum.r = ks.k
), at_k1 AS (
  SELECT k, lx AS lx_k1, spend AS x_k1
  FROM cum JOIN ks ON cum.r = ks.k + 1
)
SELECT k, {sround_sql("x_k1", 6)} AS x_k1,
  CASE WHEN cum_lx - CAST(k AS DOUBLE) * lx_k1 > 0.0
  THEN {sround_sql(
      "CAST(k AS DOUBLE) / (cum_lx - CAST(k AS DOUBLE) * lx_k1)", 9)}
  END AS hill_alpha
FROM at_k JOIN at_k1 USING (k)
ORDER BY k
"""

QUERIES["q_tail_index"] = q_tail_index
ORACLES["q_tail_index"] = ORACLE_TAIL_INDEX
