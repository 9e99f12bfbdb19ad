"""Survival / risk-statistics operators + fuzzy-blocking dedup
(round 10): Kaplan-Meier product-limit survival with Nelson-Aalen
cumulative hazard, the two-cohort log-rank test, weight-of-evidence /
information-value scorecard binning, Benjamini-Hochberg FDR over
per-segment G-tests, first-order Markov entropy rate, and the classic
sorted-neighborhood blocked edit-distance near-dup pass.

No reference analog (the reference is batch audio-file ingest,
``/root/reference/src/main.rs:118-140``; it computes no lifecycle or
hypothesis statistics) — engine-capability surface for the
training-data-curation layer, like ``plans/evalmetrics`` and
``plans/infostats``.

Exactness discipline (CLAUDE.md): integer-day time math (epoch-µs
``div`` 86 400 000 000, never float date arithmetic); every ``ln`` /
``exp`` input is a bit-identical IEEE tree on both engines; per-term
values are quantized (sround 9) BEFORE any cross-row sum, and sums run
in DECIMAL(28,9) (the q_psi / q_mutual_information precedent).

Scale notes (100 TB design point):
- KM / log-rank reduce the raw order stream to a per-day-gap
  (events, censored) spine with ONE map-side-combinable groupBy; the
  product-limit window runs over that spine, whose size is bounded by
  the observation horizon in days, not by data volume.
- WOE/IV bins are fixed-width price bands (data-independent key), so
  the whole scorecard is one combinable groupBy + broadcast totals.
- BH-FDR's rank/cummin windows run over the segment spine (five rows);
  the G-tests themselves reduce to a (segment × status) contingency
  table first.
- Entropy rate reuses the q_transitions pair contract (lag window per
  user timeline) and then works entirely on the transition-count table
  with broadcast margins.
- Sorted-neighborhood dedup is the Hernández-Stolfo merge/purge shape:
  block on (lang, normalized 16-char prefix), order within block, and
  compare each row only to its next SN_WINDOW neighbors via an exploded
  equi-join — fan-out per row is a constant, never block-quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import dedup as D
from ._util import sround, sround_sql

TOTAL = "~~total~~"  # total-row label; sorts after all data values
US_PER_DAY = 86_400_000_000
WOE_BIN_W = 50_000.0  # fixed price-band width for the scorecard bins
WOE_SMOOTH = 0.5  # Laplace smoothing added per class per bin
BH_ALPHA = 0.05  # FDR level for the reject flag
SN_WINDOW = 3  # sorted-neighborhood comparison window
SN_BLOCK_K = 16  # normalized-prefix block key length
SN_CMP_LEN = 96  # normalized-prefix length the edit distance runs on
SN_EDIT_MAX = 12  # near-dup acceptance threshold


# --------------------------------------------------------------------------
# shared interval builder (customer reorder gaps, right-censored at the
# stream's own horizon — the "filtered stream's own max" rule from the
# streaming oracles)

def _day_idx(col: str) -> F.Column:
    return F.expr(f"unix_micros({col}) div {US_PER_DAY}")


_DAY_SQL = f"epoch_us(o_orderdate) // {US_PER_DAY}"


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival of customer reorder
    intervals, with the Nelson-Aalen cumulative hazard — the
    churn-analysis primitive ("what fraction of customers have NOT
    reordered within t days?").

    Each order opens one interval: to the customer's next order
    (event) or to the dataset horizon = max order day (right-censored).
    The spine is the distinct integer day-gap with (d, c) counts;
    n_risk(t) = N − Σ_{t'<t}(d+c). S(t) = Π(1 − d/n) is computed as
    exp of the DECIMAL(28,9) running sum of sround-9-quantized
    ln(1 − d/n) terms (exact, order-independent); H(t) is the running
    sum of quantized d/n. If some t exhausts the risk set (d = n) the
    zero-seen flag pins survival to exactly 0.0 from there on instead
    of ln(0). Only event rows (d > 0) are emitted, per convention.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull()
                & F.col("o_orderdate").isNotNull())
        .select("o_custkey", _day_idx("o_orderdate").alias("day_idx"),
                "o_orderkey")
    )
    horizon = o.agg(F.max("day_idx").alias("h_day"))
    w = Window.partitionBy("o_custkey").orderBy("day_idx", "o_orderkey")
    iv = (
        o.withColumn("nxt", F.lead("day_idx").over(w))
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.coalesce(F.col("nxt"), F.col("h_day")) - F.col("day_idx"))
            .cast("bigint").alias("t_days"),
            F.col("nxt").isNotNull().alias("ev"),
        )
    )
    sp = iv.groupBy("t_days").agg(
        F.sum(F.when(F.col("ev"), 1).otherwise(0)).cast("bigint")
        .alias("n_events"),
        F.sum(F.when(F.col("ev"), 0).otherwise(1)).cast("bigint")
        .alias("n_censored"),
    )
    tot = iv.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))
    wt = Window.orderBy("t_days")
    cum_prev = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(wt.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    base = (
        sp.crossJoin(F.broadcast(tot))
        .withColumn("n_risk", (F.col("n_tot") - cum_prev).cast("bigint"))
    )
    frac = (F.col("n_events").cast("double")
            / F.col("n_risk").cast("double"))
    terms = base.select(
        "t_days", "n_risk", "n_events", "n_censored",
        F.when(F.col("n_events") < F.col("n_risk"),
               sround(F.log(F.lit(1.0) - frac), 9)).alias("ln_t"),
        sround(frac, 9).alias("hz_t"),
    )
    wc = wt.rowsBetween(Window.unboundedPreceding, 0)
    zero_seen = F.max(
        F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0)
    ).over(wc)
    cum_ln = (F.sum(F.col("ln_t").cast("decimal(28,9)")).over(wc)
              .cast("double"))
    cum_hz = (F.sum(F.col("hz_t").cast("decimal(28,9)")).over(wc)
              .cast("double") + F.lit(0.0))
    return (
        terms.select(
            "t_days", "n_risk", "n_events", "n_censored",
            F.when(zero_seen == 1, F.lit(0.0))
            .otherwise(sround(F.exp(cum_ln), 9)).alias("survival"),
            cum_hz.alias("cum_hazard"),
        )
        .filter(F.col("n_events") > 0)
        .orderBy("t_days")
    )


_IV_SQL = f"""
o AS (
  SELECT o_custkey, {_DAY_SQL} AS day_idx, o_orderkey
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
), h AS (SELECT MAX(day_idx) AS h_day FROM o),
seq AS (
  SELECT o_custkey, day_idx,
         lead(day_idx) OVER (PARTITION BY o_custkey
                             ORDER BY day_idx, o_orderkey) AS nxt
  FROM o
), iv AS (
  SELECT CAST(COALESCE(nxt, (SELECT h_day FROM h)) - day_idx AS BIGINT)
           AS t_days,
         (nxt IS NOT NULL) AS ev
  FROM seq
)"""

ORACLE_KAPLAN_MEIER = f"""
WITH {_IV_SQL},
sp AS (
  SELECT t_days,
         CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
  FROM iv GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM iv),
base AS (
  SELECT t_days, n_events, n_censored,
         CAST(n_tot - COALESCE(SUM(n_events + n_censored) OVER
           (ORDER BY t_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM sp CROSS JOIN tot
), terms AS (
  SELECT t_days, n_risk, n_events, n_censored,
    CASE WHEN n_events < n_risk THEN {sround_sql(
        "ln(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))", 9)}
    END AS ln_t,
    {sround_sql(
        "CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)", 9)} AS hz_t
  FROM base
), accum AS (
  SELECT t_days, n_risk, n_events, n_censored,
    MAX(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) OVER w AS zero_seen,
    CAST(SUM(CAST(ln_t AS DECIMAL(28,9))) OVER w AS DOUBLE) AS cum_ln,
    CAST(SUM(CAST(hz_t AS DECIMAL(28,9))) OVER w AS DOUBLE) + 0.0
      AS cum_hazard
  FROM terms
  WINDOW w AS (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT t_days, n_risk, n_events, n_censored,
       CASE WHEN zero_seen = 1 THEN 0.0
            ELSE {sround_sql("exp(cum_ln)", 9)} END AS survival,
       cum_hazard
FROM accum WHERE n_events > 0 ORDER BY t_days
"""


def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cohort log-rank test: does the BUILDING market segment
    reorder on a different survival curve than everyone else? The A/B
    primitive for time-to-event outcomes (model-rollout retention).

    Cohort 1 = customers with c_mktsegment = 'BUILDING' (NULL segment
    → cohort 0, deterministic on both engines). Shared day-gap spine
    with per-cohort (d, c); per-cohort risk sets from cumulative
    counts; at each event time the expected cohort-1 events
    E1 += d·n1/n and hypergeometric variance
    V += (d·n1/n)·(n2/n)·((n−d)/(n−1)) are quantized (sround 9) and
    DECIMAL-summed; chi2 = (O1−E1)²/V (1 dof — the statistic is
    reported, no closed-form p without erf). One row out.
    """
    c = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0).alias("grp"),
        )
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull()
                & F.col("o_orderdate").isNotNull())
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_custkey", "grp",
                _day_idx("o_orderdate").alias("day_idx"), "o_orderkey")
    )
    horizon = o.agg(F.max("day_idx").alias("h_day"))
    w = Window.partitionBy("o_custkey").orderBy("day_idx", "o_orderkey")
    iv = (
        o.withColumn("nxt", F.lead("day_idx").over(w))
        .crossJoin(F.broadcast(horizon))
        .select(
            "grp",
            (F.coalesce(F.col("nxt"), F.col("h_day")) - F.col("day_idx"))
            .cast("bigint").alias("t_days"),
            F.col("nxt").isNotNull().alias("ev"),
        )
    )
    one = F.lit(1)
    sp = iv.groupBy("t_days").agg(
        F.sum(F.when(F.col("ev") & (F.col("grp") == 1), one).otherwise(0))
        .cast("bigint").alias("d1"),
        F.sum(F.when((~F.col("ev")) & (F.col("grp") == 1), one).otherwise(0))
        .cast("bigint").alias("c1"),
        F.sum(F.when(F.col("ev") & (F.col("grp") == 0), one).otherwise(0))
        .cast("bigint").alias("d2"),
        F.sum(F.when((~F.col("ev")) & (F.col("grp") == 0), one).otherwise(0))
        .cast("bigint").alias("c2"),
    )
    tot = iv.agg(
        F.coalesce(F.sum(F.when(F.col("grp") == 1, one).otherwise(0)),
                   F.lit(0)).cast("bigint").alias("n1_tot"),
        F.coalesce(F.sum(F.when(F.col("grp") == 0, one).otherwise(0)),
                   F.lit(0)).cast("bigint").alias("n2_tot"),
    )
    wt = Window.orderBy("t_days")
    wp = wt.rowsBetween(Window.unboundedPreceding, -1)
    base = (
        sp.crossJoin(F.broadcast(tot))
        .select(
            "t_days", "d1", "d2",
            (F.col("n1_tot")
             - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(wp),
                          F.lit(0))).cast("bigint").alias("n1"),
            (F.col("n2_tot")
             - F.coalesce(F.sum(F.col("d2") + F.col("c2")).over(wp),
                          F.lit(0))).cast("bigint").alias("n2"),
        )
        .withColumn("d", (F.col("d1") + F.col("d2")).cast("bigint"))
        .withColumn("n", (F.col("n1") + F.col("n2")).cast("bigint"))
        .filter(F.col("d") > 0)
    )
    e1t = (F.col("d").cast("double") * F.col("n1").cast("double")
           / F.col("n").cast("double"))
    vt = (
        e1t
        * (F.col("n2").cast("double") / F.col("n").cast("double"))
        * ((F.col("n") - F.col("d")).cast("double")
           / (F.col("n") - F.lit(1)).cast("double"))
    )
    terms = base.select(
        "d1",
        sround(e1t, 9).alias("e1_t"),
        F.when(F.col("n") > 1, sround(vt, 9)).alias("v_t"),
    )
    agg = terms.agg(
        F.coalesce(F.sum("d1"), F.lit(0)).cast("bigint").alias("o1"),
        F.sum(F.col("e1_t").cast("decimal(28,9)")).cast("double")
        .alias("e1"),
        F.sum(F.col("v_t").cast("decimal(28,9)")).cast("double")
        .alias("v"),
    )
    diff = F.col("o1").cast("double") - F.col("e1")
    return agg.select(
        "o1", "e1", "v",
        F.when(F.col("v") > 0.0,
               sround((diff * diff) / F.col("v"), 9)).alias("chi2"),
    )


ORACLE_LOGRANK = f"""
WITH o AS (
  SELECT o_custkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
         {_DAY_SQL} AS day_idx, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
), h AS (SELECT MAX(day_idx) AS h_day FROM o),
seq AS (
  SELECT grp, day_idx,
         lead(day_idx) OVER (PARTITION BY o_custkey
                             ORDER BY day_idx, o_orderkey) AS nxt
  FROM o
), iv AS (
  SELECT grp,
         CAST(COALESCE(nxt, (SELECT h_day FROM h)) - day_idx AS BIGINT)
           AS t_days,
         (nxt IS NOT NULL) AS ev
  FROM seq
), sp AS (
  SELECT t_days,
    CAST(SUM(CASE WHEN ev AND grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
    CAST(SUM(CASE WHEN NOT ev AND grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS c1,
    CAST(SUM(CASE WHEN ev AND grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
    CAST(SUM(CASE WHEN NOT ev AND grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS c2
  FROM iv GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n1_tot,
         CAST(COALESCE(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n2_tot
  FROM iv
), base AS (
  SELECT t_days, d1, d2,
    CAST(n1_tot - COALESCE(SUM(d1 + c1) OVER wp, 0) AS BIGINT) AS n1,
    CAST(n2_tot - COALESCE(SUM(d2 + c2) OVER wp, 0) AS BIGINT) AS n2
  FROM sp CROSS JOIN tot
  WINDOW wp AS (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), wide AS (
  SELECT t_days, d1, n1, n2,
         CAST(d1 + d2 AS BIGINT) AS d, CAST(n1 + n2 AS BIGINT) AS n
  FROM base
), terms AS (
  SELECT d1,
    {sround_sql(
        "CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)", 9)}
      AS e1_t,
    CASE WHEN n > 1 THEN {sround_sql(
        "CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)"
        " * (CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))", 9)}
    END AS v_t
  FROM wide WHERE d > 0
), agg AS (
  SELECT CAST(COALESCE(SUM(d1), 0) AS BIGINT) AS o1,
         CAST(SUM(CAST(e1_t AS DECIMAL(28,9))) AS DOUBLE) AS e1,
         CAST(SUM(CAST(v_t AS DECIMAL(28,9))) AS DOUBLE) AS v
  FROM terms
)
SELECT o1, e1, v,
       CASE WHEN v > 0.0 THEN {sround_sql(
           "((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)) / v",
           9)}
       END AS chi2
FROM agg
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value scorecard over fixed
    price bands: event = order status 'F' — the standard
    feature-screening step before training a classifier ("how
    predictive is total price of fulfillment status?").

    Bins are fixed-width (floor(o_totalprice / 50 000)) — a
    data-independent key, so the whole scorecard is one combinable
    groupBy. Laplace-smoothed shares gs = (g+0.5)/(G+0.5k) (k = bins
    present); woe = ln(gs/bs) quantized sround 9; per-bin IV
    contribution (gs−bs)·woe quantized then DECIMAL-summed into the
    ``~~total~~`` row. Bin labels are zero-padded so the total row
    sorts last on both engines.
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
        & F.col("o_orderstatus").isNotNull()
    )
    bins = (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(WOE_BIN_W))
            .cast("bigint").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
            .cast("bigint").alias("n_good"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("bigint").alias("n_bad"),
        )
    )
    tot = bins.agg(
        F.coalesce(F.sum("n_orders"), F.lit(0)).cast("bigint")
        .alias("t_n"),
        F.coalesce(F.sum("n_good"), F.lit(0)).cast("bigint").alias("t_g"),
        F.coalesce(F.sum("n_bad"), F.lit(0)).cast("bigint").alias("t_b"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    gs = ((F.col("n_good").cast("double") + F.lit(WOE_SMOOTH))
          / (F.col("t_g").cast("double")
             + F.lit(WOE_SMOOTH) * F.col("k").cast("double")))
    bs = ((F.col("n_bad").cast("double") + F.lit(WOE_SMOOTH))
          / (F.col("t_b").cast("double")
             + F.lit(WOE_SMOOTH) * F.col("k").cast("double")))
    scored = (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin_id", "n_orders", "n_good", "n_bad",
            gs.alias("gs"), bs.alias("bs"),
            sround(F.log(gs / bs), 9).alias("woe"),
        )
        .withColumn("iv",
                    sround((F.col("gs") - F.col("bs")) * F.col("woe"), 9))
    )
    per_bin = scored.select(
        F.lpad(F.col("bin_id").cast("string"), 4, "0").alias("bin"),
        "n_orders", "n_good", "n_bad", "woe", "iv",
    )
    total = (
        scored.agg(
            F.sum(F.col("iv").cast("decimal(28,9)")).cast("double")
            .alias("iv_tot")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(TOTAL).alias("bin"),
            F.col("t_n").alias("n_orders"),
            F.col("t_g").alias("n_good"),
            F.col("t_b").alias("n_bad"),
            F.lit(None).cast("double").alias("woe"),
            F.col("iv_tot").alias("iv"),
        )
    )
    return per_bin.unionByName(total).orderBy("bin")


_GS_SQL = (
    f"((CAST(n_good AS DOUBLE) + {WOE_SMOOTH}) / (CAST(t_g AS DOUBLE)"
    f" + {WOE_SMOOTH} * CAST(k AS DOUBLE)))"
)
_BS_SQL = (
    f"((CAST(n_bad AS DOUBLE) + {WOE_SMOOTH}) / (CAST(t_b AS DOUBLE)"
    f" + {WOE_SMOOTH} * CAST(k AS DOUBLE)))"
)

ORACLE_WOE_IV = f"""
WITH bins AS (
  SELECT CAST(floor(o_totalprice / {WOE_BIN_W}) AS BIGINT) AS bin_id,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_good,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bad
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n_orders), 0) AS BIGINT) AS t_n,
         CAST(COALESCE(SUM(n_good), 0) AS BIGINT) AS t_g,
         CAST(COALESCE(SUM(n_bad), 0) AS BIGINT) AS t_b,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM bins
), scored AS (
  SELECT bin_id, n_orders, n_good, n_bad,
         {_GS_SQL} AS gs, {_BS_SQL} AS bs,
         {sround_sql("ln(" + _GS_SQL + " / " + _BS_SQL + ")", 9)} AS woe
  FROM bins CROSS JOIN tot
), contrib AS (
  SELECT *, {sround_sql("(gs - bs) * woe", 9)} AS iv FROM scored
)
SELECT lpad(CAST(bin_id AS VARCHAR), 4, '0') AS bin,
       n_orders, n_good, n_bad, woe, iv
FROM contrib
UNION ALL
SELECT '{TOTAL}', t_n, t_g, t_b, CAST(NULL AS DOUBLE),
       (SELECT CAST(SUM(CAST(iv AS DECIMAL(28,9))) AS DOUBLE)
        FROM contrib)
FROM tot
ORDER BY bin
"""


def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over per-market-segment G-tests of the
    order-status distribution against the global mix — the
    many-hypotheses screening step (drift tests per slice, one
    adjusted decision per slice).

    Per-(segment, status) observed counts vs E = T_s·S_st/T give
    G_s = 2·Σ O·ln(O/E) (quantized terms, DECIMAL-summed; absent
    cells contribute exactly 0). Status has 3 levels → 2 dof, where
    the chi-square survival is EXACTLY exp(−G/2) — no erf needed.
    BH: rank p ascending (segment tie-break), raw = p·m/rank,
    adjusted = running min from the largest rank down, clamped to 1.
    Both windows run over the five-row segment spine.
    """
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isNotNull()
    ).select("c_custkey", F.col("c_mktsegment").alias("segment"))
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderstatus").isNotNull()
    ).select("o_custkey", "o_orderstatus")
    cells = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("segment", "o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    seg_t = cells.groupBy("segment").agg(
        F.sum("n_obs").cast("bigint").alias("t_seg")
    )
    st_t = cells.groupBy("o_orderstatus").agg(
        F.sum("n_obs").cast("bigint").alias("t_st")
    )
    tot = cells.agg(
        F.coalesce(F.sum("n_obs"), F.lit(0)).cast("bigint").alias("t_all")
    )
    e = (F.col("t_seg").cast("double") * F.col("t_st").cast("double")
         / F.col("t_all").cast("double"))
    terms = (
        cells.join(F.broadcast(seg_t), "segment")
        .join(F.broadcast(st_t), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment", "t_seg",
            sround(F.lit(2.0) * F.col("n_obs").cast("double")
                   * F.log(F.col("n_obs").cast("double") / e), 9)
            .alias("g_t"),
        )
    )
    per_seg = terms.groupBy("segment").agg(
        F.max("t_seg").alias("n_orders"),
        (F.sum(F.col("g_t").cast("decimal(28,9)")).cast("double")
         + F.lit(0.0)).alias("g_stat"),
    )
    m = per_seg.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ranked = (
        per_seg.crossJoin(F.broadcast(m))
        .withColumn("p_value",
                    sround(F.exp(F.col("g_stat") * F.lit(-0.5)), 9))
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy("p_value", "segment")),
        )
        .withColumn(
            "raw",
            F.col("p_value") * F.col("m").cast("double")
            / F.col("rnk").cast("double"),
        )
    )
    wrev = (
        Window.orderBy(F.col("p_value").desc(), F.col("segment").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranked.withColumn(
            "p_adj", sround(F.least(F.min("raw").over(wrev), F.lit(1.0)), 9)
        )
        .select(
            "segment", "n_orders", "g_stat", "p_value", "p_adj",
            F.when(F.col("p_adj") <= BH_ALPHA, 1).otherwise(0)
            .cast("int").alias("reject"),
        )
        .orderBy("segment")
    )


_E_BH_SQL = (
    "(CAST(t_seg AS DOUBLE) * CAST(t_st AS DOUBLE)"
    " / CAST(t_all AS DOUBLE))"
)

ORACLE_BH_FDR = f"""
WITH cells AS (
  SELECT c_mktsegment AS segment, o_orderstatus,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
    AND c_mktsegment IS NOT NULL
  GROUP BY 1, 2
), seg_t AS (
  SELECT segment, CAST(SUM(n_obs) AS BIGINT) AS t_seg
  FROM cells GROUP BY 1
), st_t AS (
  SELECT o_orderstatus, CAST(SUM(n_obs) AS BIGINT) AS t_st
  FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS t_all FROM cells
), terms AS (
  SELECT segment, t_seg,
         {sround_sql(
             "2.0 * CAST(n_obs AS DOUBLE)"
             " * ln(CAST(n_obs AS DOUBLE) / " + _E_BH_SQL + ")", 9)}
           AS g_t
  FROM cells
  JOIN seg_t USING (segment)
  JOIN st_t USING (o_orderstatus)
  CROSS JOIN tot
), per_seg AS (
  SELECT segment, MAX(t_seg) AS n_orders,
         CAST(SUM(CAST(g_t AS DECIMAL(28,9))) AS DOUBLE) + 0.0 AS g_stat
  FROM terms GROUP BY 1
), m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM per_seg),
ranked AS (
  SELECT segment, n_orders, g_stat,
         {sround_sql("exp(g_stat * -0.5)", 9)} AS p_value
  FROM per_seg
), rr AS (
  SELECT *,
         row_number() OVER (ORDER BY p_value, segment) AS rnk
  FROM ranked
), adj AS (
  SELECT segment, n_orders, g_stat, p_value,
         p_value * CAST((SELECT m FROM m) AS DOUBLE)
           / CAST(rnk AS DOUBLE) AS raw
  FROM rr
)
SELECT segment, n_orders, g_stat, p_value,
       {sround_sql(
           "least(MIN(raw) OVER (ORDER BY p_value DESC, segment DESC"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)", 9)}
         AS p_adj,
       CAST(CASE WHEN {sround_sql(
           "least(MIN(raw) OVER (ORDER BY p_value DESC, segment DESC"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)", 9)}
           <= {BH_ALPHA} THEN 1 ELSE 0 END AS INTEGER) AS reject
FROM adj
ORDER BY segment
"""


def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov entropy rate of the per-user event-type
    process: per-state conditional entropy H(next | cur) in nats, plus
    the ``~~total~~`` row carrying the stationary-weighted rate
    Σ (n_s/N)·H_s — how predictable user behavior is (the sequence-
    compressibility bound next to q_transitions' raw matrix).

    Pairs reuse q_transitions' contract (lag over the (ts, event_id)
    user timeline; NULL-ts rows dropped, NULL predecessors dropped).
    All entropy terms −p·ln p are quantized (sround 9) and
    DECIMAL-summed; everything after the pair groupBy runs on the
    transition-count table with broadcast margins.
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("from_type"),
                 F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_st"))
    )
    margins = pairs.groupBy("from_type").agg(
        F.sum("n_st").cast("bigint").alias("n_s")
    )
    tot = pairs.agg(
        F.coalesce(F.sum("n_st"), F.lit(0)).cast("bigint").alias("n_all")
    )
    p = F.col("n_st").cast("double") / F.col("n_s").cast("double")
    per_state = (
        pairs.join(F.broadcast(margins), "from_type")
        .select("from_type", "n_s",
                sround(-p * F.log(p), 9).alias("h_t"))
        .groupBy("from_type")
        .agg(
            F.max("n_s").alias("n_pairs"),
            F.sum(F.col("h_t").cast("decimal(28,9)")).cast("double")
            .alias("h_nats"),
        )
    )
    rate = (
        per_state.crossJoin(F.broadcast(tot))
        .select(
            sround(
                (F.col("n_pairs").cast("double")
                 / F.col("n_all").cast("double")) * F.col("h_nats"), 9
            ).alias("r_t")
        )
        .agg(F.sum(F.col("r_t").cast("decimal(28,9)")).cast("double")
             .alias("rate"))
    )
    total = rate.crossJoin(F.broadcast(tot)).select(
        F.lit(TOTAL).alias("from_type"),
        F.col("n_all").alias("n_pairs"),
        F.col("rate").alias("h_nats"),
    )
    return per_state.unionByName(total).orderBy("from_type")


_P_SQL = "(CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))"

ORACLE_ENTROPY_RATE = f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events WHERE ts IS NOT NULL
), c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_st
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY 1, 2
), marg AS (
  SELECT from_type, CAST(SUM(n_st) AS BIGINT) AS n_s FROM c GROUP BY 1
), tot AS (
  SELECT CAST(COALESCE(SUM(n_st), 0) AS BIGINT) AS n_all FROM c
), per_state AS (
  SELECT from_type, MAX(n_s) AS n_pairs,
         CAST(SUM(CAST({sround_sql(
             "-" + _P_SQL + " * ln(" + _P_SQL + ")", 9)}
           AS DECIMAL(28,9))) AS DOUBLE) AS h_nats
  FROM c JOIN marg USING (from_type)
  GROUP BY 1
), rate AS (
  SELECT CAST(SUM(CAST({sround_sql(
      "(CAST(n_pairs AS DOUBLE) / CAST(n_all AS DOUBLE)) * h_nats", 9)}
    AS DECIMAL(28,9))) AS DOUBLE) AS rate
  FROM per_state CROSS JOIN tot
)
SELECT from_type, n_pairs, h_nats FROM per_state
UNION ALL
SELECT '{TOTAL}', n_all, rate FROM rate CROSS JOIN tot
ORDER BY from_type
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocked edit-distance near-dup pass
    (Hernández-Stolfo merge/purge): block documents on
    (lang, 16-char normalized prefix), order each block by
    (normalized text, doc_id), and compare every row against only its
    next SN_WINDOW neighbors — Levenshtein ≤ SN_EDIT_MAX on the
    96-char normalized prefix emits a near-dup pair.

    The neighbor probe is an exploded EQUI-join on
    (lang, block, rank+offset) — fan-out per row is the constant
    SN_WINDOW, never block-quadratic, and the per-block window is
    partitioned by the block key (no global sort). Normalization
    reuses exact-dedup's rule (operators/dedup.normalized_text) so the
    fuzzy pass composes with q_dedup_exact / q_boilerplate_prefixes.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        & F.col("lang").isNotNull()
    )
    b = d.select(
        "doc_id", "lang",
        F.substring(D.normalized_text(), 1, SN_CMP_LEN).alias("norm"),
    ).withColumn("blk", F.substring("norm", 1, SN_BLOCK_K))
    wb = Window.partitionBy("lang", "blk").orderBy("norm", "doc_id")
    r = b.withColumn("rn", F.row_number().over(wb))
    probes = (
        r.select(
            F.col("doc_id").alias("doc_a"), F.col("lang").alias("l_a"),
            F.col("blk").alias("b_a"), F.col("norm").alias("n_a"),
            "rn",
            F.explode(F.array([F.lit(i) for i in
                               range(1, SN_WINDOW + 1)])).alias("off"),
        )
        .select("doc_a", "l_a", "b_a", "n_a",
                (F.col("rn") + F.col("off")).alias("rn_t"))
    )
    pairs = probes.join(
        r,
        (F.col("l_a") == F.col("lang")) & (F.col("b_a") == F.col("blk"))
        & (F.col("rn_t") == F.col("rn")),
    )
    return (
        pairs.select(
            "doc_a", F.col("doc_id").alias("doc_b"),
            F.levenshtein(F.col("n_a"), F.col("norm")).cast("bigint")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= SN_EDIT_MAX)
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SORTED_NEIGHBORHOOD = f"""
WITH n AS (
  SELECT doc_id, lang,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {SN_CMP_LEN}) AS norm
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
), b AS (
  SELECT doc_id, lang, norm, substr(norm, 1, {SN_BLOCK_K}) AS blk,
         row_number() OVER (PARTITION BY lang, substr(norm, 1, {SN_BLOCK_K})
                            ORDER BY norm, doc_id) AS rn
  FROM n
)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(levenshtein(a.norm, c.norm) AS BIGINT) AS edit_dist
FROM b a JOIN b c
  ON a.lang = c.lang AND a.blk = c.blk
 AND c.rn BETWEEN a.rn + 1 AND a.rn + {SN_WINDOW}
WHERE levenshtein(a.norm, c.norm) <= {SN_EDIT_MAX}
ORDER BY doc_a, doc_b
"""


QUERIES = {
    "q_kaplan_meier": q_kaplan_meier,
    "q_logrank": q_logrank,
    "q_woe_iv": q_woe_iv,
    "q_bh_fdr": q_bh_fdr,
    "q_entropy_rate": q_entropy_rate,
    "q_sorted_neighborhood": q_sorted_neighborhood,
}

ORACLES = {
    "q_kaplan_meier": ORACLE_KAPLAN_MEIER,
    "q_logrank": ORACLE_LOGRANK,
    "q_woe_iv": ORACLE_WOE_IV,
    "q_bh_fdr": ORACLE_BH_FDR,
    "q_entropy_rate": ORACLE_ENTROPY_RATE,
    "q_sorted_neighborhood": ORACLE_SORTED_NEIGHBORHOOD,
}
