"""Experiment-health / distribution-shift operators (round 10, second
wave): 1-D Wasserstein (earth-mover) distance between score cohorts,
lagged cross-correlation between two event-type time series,
standardized-mean-difference covariate balance, and CUPED variance
reduction.

No reference analog (the reference is batch audio-file ingest,
``/root/reference/src/main.rs:118-140``) — engine-capability surface
for the training-data-curation / experimentation layer next to
``plans/evalmetrics`` (PSI, KS drift) and ``plans/infostats``.

Exactness discipline (CLAUDE.md): counts and scaled-integer sums are
exact (products of 10^6-scaled per-user metrics run in DECIMAL(38,0),
the q_matryoshka na·nb precedent); every double expression is an
identical IEEE tree on both engines; per-term quantization (sround 9)
before any cross-row DECIMAL(28,9) sum.

Scale notes (100 TB design point):
- Wasserstein reduces both cohorts to the FIXED 100-bin score
  histogram with one combinable groupBy; the CDF window runs over that
  spine only (the q_lift_curve argument).
- Cross-correlation's spine is the dense hour grid between the
  stream's min and max hour — bounded by the observation window in
  hours, not by data volume; the lag fan-out is a 13-row broadcast.
- SMD and CUPED reduce to per-customer / per-user aggregates (one
  combinable groupBy each) and then to a single moment row; no window
  anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._util import sround, sround_sql
from .evalmetrics import _SCORED_SQL, _scored
from .nonparam import two_group_moments, two_group_moments_sql

W_BINS = 100  # fixed Wasserstein CDF resolution (score in [0, 1])
XCORR_K = 6  # max lag in hours, both directions
US_PER_HOUR = 3_600_000_000
XCORR_A = "click"
XCORR_B = "purchase"
CUPED_SCALE = 1_000_000.0  # per-user metric -> 10^6-scaled integer


def q_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between the vec_id-
    parity score cohorts over the fixed 100-bin spine — the
    drift metric that, unlike PSI/KS, weighs HOW FAR mass moved:
    W1 = Σ_bins |CDF_ref − CDF_cur| · binwidth.

    Histogram counts are exact integers on the fixed spine (both
    engines fill the SAME empty bins); running CDFs are exact integer
    cumulative counts divided once per bin; the per-bin gap
    contribution is quantized (sround 9) and DECIMAL-summed into the
    bin = −1 total row (the q_psi shape).
    """
    s = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * W_BINS), F.lit(W_BINS - 1)
    ).cast("bigint")
    counts = s.groupBy(b.alias("bin")).agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint").alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint").alias("n_cur"),
    )
    spine = spark.range(0, W_BINS).select(F.col("id").alias("bin"))
    filled = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
    )
    tot = filled.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = filled.crossJoin(F.broadcast(tot)).select(
        "bin", "n_ref", "n_cur", "t_ref", "t_cur",
        F.sum("n_ref").over(w).cast("bigint").alias("c_ref"),
        F.sum("n_cur").over(w).cast("bigint").alias("c_cur"),
    )
    cdf_ref = F.col("c_ref").cast("double") / F.col("t_ref").cast("double")
    cdf_cur = F.col("c_cur").cast("double") / F.col("t_cur").cast("double")
    ok = (F.col("t_ref") > 0) & (F.col("t_cur") > 0)
    per_bin = cum.select(
        "bin", "n_ref", "n_cur",
        F.when(F.col("t_ref") > 0, sround(cdf_ref, 9)).alias("cdf_ref"),
        F.when(F.col("t_cur") > 0, sround(cdf_cur, 9)).alias("cdf_cur"),
        F.when(ok,
               sround(F.abs(cdf_ref - cdf_cur) * (1.0 / W_BINS), 9))
        .alias("contrib"),
    )
    total = per_bin.agg(
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
        F.sum(F.col("contrib").cast("decimal(28,9)")).cast("double")
        .alias("contrib"),
    ).select(
        F.lit(-1).cast("bigint").alias("bin"), "n_ref", "n_cur",
        F.lit(None).cast("double").alias("cdf_ref"),
        F.lit(None).cast("double").alias("cdf_cur"),
        "contrib",
    )
    return per_bin.unionByName(total).orderBy("bin")


_CDF_R = "(CAST(c_ref AS DOUBLE) / CAST(t_ref AS DOUBLE))"
_CDF_C = "(CAST(c_cur AS DOUBLE) / CAST(t_cur AS DOUBLE))"

ORACLE_WASSERSTEIN = f"""
WITH s AS ({_SCORED_SQL}),
counts AS (
  SELECT LEAST(CAST(floor(score * {W_BINS}) AS BIGINT),
               {W_BINS - 1}) AS bin,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cur
  FROM s GROUP BY 1
), filled AS (
  SELECT g.bin, CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
         CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
  FROM (SELECT CAST(j AS BIGINT) AS bin
        FROM generate_series(0, {W_BINS - 1}) t(j)) g
  LEFT JOIN counts ON counts.bin = g.bin
), tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM filled
), cum AS (
  SELECT bin, n_ref, n_cur, t_ref, t_cur,
         CAST(SUM(n_ref) OVER w AS BIGINT) AS c_ref,
         CAST(SUM(n_cur) OVER w AS BIGINT) AS c_cur
  FROM filled CROSS JOIN tot
  WINDOW w AS (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), per_bin AS (
  SELECT bin, n_ref, n_cur,
    CASE WHEN t_ref > 0 THEN {sround_sql(_CDF_R, 9)} END AS cdf_ref,
    CASE WHEN t_cur > 0 THEN {sround_sql(_CDF_C, 9)} END AS cdf_cur,
    CASE WHEN t_ref > 0 AND t_cur > 0 THEN {sround_sql(
        "abs(" + _CDF_R + " - " + _CDF_C + ") * " + str(1.0 / W_BINS), 9)}
    END AS contrib
  FROM cum
)
SELECT bin, n_ref, n_cur, cdf_ref, cdf_cur, contrib FROM per_bin
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_ref) AS BIGINT),
       CAST(SUM(n_cur) AS BIGINT), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE),
       CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE)
FROM per_bin
ORDER BY bin
"""


def q_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged Pearson cross-correlation between the hourly 'click' and
    'purchase' event-count series at lags −6..+6 hours — the
    lead/lag-discovery step of behavioral analysis ("do purchases
    follow clicks, and by how long?").

    Both series are materialized on the DENSE hour grid between the
    filtered stream's own min and max hour (missing hours count 0 on
    both engines — an inner join on observed hours would silently
    change the estimator). Per-lag moment sums run over exact integer
    counts (products in DECIMAL(38,0), overflow-proof); the final
    Pearson r is one identical IEEE tree per lag. The lag fan-out is a
    13-row broadcast; the grid is bounded by the observation window in
    hours, never by data volume.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isin(XCORR_A, XCORR_B)
    )
    counts = (
        e.groupBy(
            F.expr(f"unix_micros(ts) div {US_PER_HOUR}").alias("h")
        )
        .agg(
            F.sum(F.when(F.col("event_type") == XCORR_A, 1).otherwise(0))
            .cast("bigint").alias("a"),
            F.sum(F.when(F.col("event_type") == XCORR_B, 1).otherwise(0))
            .cast("bigint").alias("b"),
        )
    )
    rng = counts.agg(F.min("h").alias("min_h"), F.max("h").alias("max_h"))
    spine = rng.select(
        F.explode(F.sequence(F.col("min_h"), F.col("max_h"))).alias("h")
    )
    s = spine.join(counts, "h", "left").select(
        "h",
        F.coalesce("a", F.lit(0)).cast("bigint").alias("a"),
        F.coalesce("b", F.lit(0)).cast("bigint").alias("b"),
    )
    lags = spark.range(-XCORR_K, XCORR_K + 1).select(
        F.col("id").alias("lag")
    )
    left = (
        s.crossJoin(F.broadcast(lags))
        .select("lag", "a", (F.col("h") + F.col("lag")).alias("h2"))
    )
    right = s.select(F.col("h").alias("h2"), F.col("b").alias("b2"))
    d19 = "decimal(19,0)"
    j = left.join(right, "h2")
    per_lag = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("a").cast("bigint").alias("sx"),
        F.sum("b2").cast("bigint").alias("sy"),
        F.sum(F.col("a").cast(d19) * F.col("b2").cast(d19)).alias("sxy"),
        F.sum(F.col("a").cast(d19) * F.col("a").cast(d19)).alias("sxx"),
        F.sum(F.col("b2").cast(d19) * F.col("b2").cast(d19)).alias("syy"),
    )
    nd = F.col("n_hours").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    d1 = nd * sxx - sx * sx
    d2 = nd * syy - sy * sy
    return per_lag.select(
        "lag", "n_hours",
        F.when((d1 > 0.0) & (d2 > 0.0),
               sround(num / F.sqrt(d1 * d2), 9)).alias("r"),
    ).orderBy("lag")


ORACLE_XCORR = f"""
WITH e AS (
  SELECT epoch_us(ts) // {US_PER_HOUR} AS h, event_type
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('{XCORR_A}', '{XCORR_B}')
), counts AS (
  SELECT h,
    CAST(SUM(CASE WHEN event_type = '{XCORR_A}' THEN 1 ELSE 0 END)
         AS BIGINT) AS a,
    CAST(SUM(CASE WHEN event_type = '{XCORR_B}' THEN 1 ELSE 0 END)
         AS BIGINT) AS b
  FROM e GROUP BY 1
), rng AS (SELECT MIN(h) AS min_h, MAX(h) AS max_h FROM counts),
spine AS (
  SELECT unnest(generate_series(min_h, max_h)) AS h FROM rng
), s AS (
  SELECT spine.h, CAST(COALESCE(a, 0) AS BIGINT) AS a,
         CAST(COALESCE(b, 0) AS BIGINT) AS b
  FROM spine LEFT JOIN counts ON counts.h = spine.h
), lags AS (
  SELECT CAST(unnest(generate_series(-{XCORR_K}, {XCORR_K})) AS BIGINT)
    AS lag
), j AS (
  SELECT lag, s1.a, s2.b AS b2
  FROM s s1 CROSS JOIN lags JOIN s s2 ON s2.h = s1.h + lag
), per_lag AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(a) AS BIGINT) AS sx, CAST(SUM(b2) AS BIGINT) AS sy,
         SUM(CAST(a AS DECIMAL(19,0)) * CAST(b2 AS DECIMAL(19,0)))
           AS sxy,
         SUM(CAST(a AS DECIMAL(19,0)) * CAST(a AS DECIMAL(19,0)))
           AS sxx,
         SUM(CAST(b2 AS DECIMAL(19,0)) * CAST(b2 AS DECIMAL(19,0)))
           AS syy
  FROM j GROUP BY 1
)
SELECT lag, n_hours,
  CASE WHEN CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
        AND CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
  THEN {sround_sql(
      "(CAST(n_hours AS DOUBLE) * CAST(sxy AS DOUBLE)"
      " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
      " / sqrt((CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)"
      " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
      " * (CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)"
      " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 9)}
  END AS r
FROM per_lag
ORDER BY lag
"""


def q_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean difference (unpooled Cohen's d denominator)
    of three customer covariates between the c_custkey-parity
    treatment/control split — the experiment-health check that
    randomization actually balanced the cohorts (|SMD| < 0.1 rule).

    Covariates: account balance, order count, max order price — all
    ≤ 2 decimal places with bounded squares, so x and x² sum EXACTLY
    in DECIMAL(38,6) (squares stay < 2^53, bit-identical doubles).
    SMD = (m₁−m₀)/√((v₁+v₀)/2) from the moment sums; one combinable
    groupBy over the unpivoted covariate rows
    (nonparam.two_group_moments), no window.
    """
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_custkey").isNotNull()
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.max("o_totalprice").alias("maxp"),
        )
    )
    base = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            (F.col("c_custkey") % 2).cast("int").alias("grp"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("double")
            .alias("n_orders"),
            F.coalesce(F.col("maxp"), F.lit(0.0)).cast("double")
            .alias("max_price"),
        )
    )
    rows = (
        base.select(F.lit("acctbal").alias("covariate"), "grp",
                    F.col("acctbal").alias("x"))
        .filter(F.col("x").isNotNull())
        .unionByName(
            base.select(F.lit("n_orders").alias("covariate"), "grp",
                        F.col("n_orders").alias("x")))
        .unionByName(
            base.select(F.lit("max_price").alias("covariate"), "grp",
                        F.col("max_price").alias("x")))
    )
    return two_group_moments(rows, "covariate").select(
        "covariate",
        F.col("n1").alias("n_treat"),
        F.col("n0").alias("n_ctrl"),
        sround(F.col("m1"), 9).alias("mean_treat"),
        sround(F.col("m0"), 9).alias("mean_ctrl"),
        F.when(
            F.col("v0").isNotNull() & F.col("v1").isNotNull()
            & (F.col("v0") + F.col("v1") > 0.0),
            sround((F.col("m1") - F.col("m0"))
                   / F.sqrt((F.col("v1") + F.col("v0")) / 2.0), 9),
        ).alias("smd"),
    ).orderBy("covariate")


ORACLE_SMD_BALANCE = f"""
WITH o AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt,
         MAX(o_totalprice) AS maxp
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
), base AS (
  SELECT CAST(c_custkey % 2 AS INTEGER) AS grp,
         CAST(c_acctbal AS DOUBLE) AS acctbal,
         CAST(COALESCE(cnt, 0) AS DOUBLE) AS n_orders,
         CAST(COALESCE(maxp, 0.0) AS DOUBLE) AS max_price
  FROM customer LEFT JOIN o ON c_custkey = o_custkey
  WHERE c_custkey IS NOT NULL
), rows_u AS (
  SELECT 'acctbal' AS covariate, grp, acctbal AS x FROM base
  WHERE acctbal IS NOT NULL
  UNION ALL
  SELECT 'n_orders', grp, n_orders FROM base
  UNION ALL
  SELECT 'max_price', grp, max_price FROM base
), {two_group_moments_sql("rows_u", "covariate")}
SELECT covariate, n1 AS n_treat, n0 AS n_ctrl,
       {sround_sql("m1", 9)} AS mean_treat,
       {sround_sql("m0", 9)} AS mean_ctrl,
       CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND v0 + v1 > 0.0
       THEN {sround_sql("(m1 - m0) / sqrt((v1 + v0) / 2.0)", 9)}
       END AS smd
FROM mid
ORDER BY covariate
"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction: per-user pre-period activity X (value
    sum before the stream's time midpoint) as the control variate for
    the post-period metric Y — θ = cov(X,Y)/var(X), adjusted variance
    var(Y) − cov²/var(X), reduction ratio ρ². The experiment-
    sensitivity planner ("how much smaller can the A/B test be?").

    Per-user sums are DECIMAL-exact then scaled to 10^6 integers
    (round of an identical double is identical), so every moment sum
    runs on exact integers — products in DECIMAL(38,0), overflow-proof
    (the q_matryoshka na·nb precedent). One row out; one combinable
    groupBy over users; no window.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "user_id", F.expr("unix_micros(ts)").alias("t_us"), "value"
    )
    rng = e.agg(
        F.min("t_us").alias("min_us"), F.max("t_us").alias("max_us")
    ).select(F.expr("(min_us + max_us) div 2").alias("mid_us"))
    d28 = "decimal(28,6)"
    per_user = (
        e.crossJoin(F.broadcast(rng))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("t_us") < F.col("mid_us"), F.col("value"))
                  .otherwise(0.0).cast(d28)).cast("double").alias("x"),
            F.sum(F.when(F.col("t_us") >= F.col("mid_us"), F.col("value"))
                  .otherwise(0.0).cast(d28)).cast("double").alias("y"),
        )
        .select(
            F.round(F.col("x") * CUPED_SCALE).cast("bigint").alias("kx"),
            F.round(F.col("y") * CUPED_SCALE).cast("bigint").alias("ky"),
        )
    )
    d19 = "decimal(19,0)"
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("kx").cast("bigint").alias("skx"),
        F.sum("ky").cast("bigint").alias("sky"),
        F.sum(F.col("kx").cast(d19) * F.col("ky").cast(d19)).alias("sxy"),
        F.sum(F.col("kx").cast(d19) * F.col("kx").cast(d19)).alias("sxx"),
        F.sum(F.col("ky").cast(d19) * F.col("ky").cast(d19)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sc, sc2 = F.lit(CUPED_SCALE), F.lit(CUPED_SCALE * CUPED_SCALE)
    sx = F.col("skx").cast("double") / sc
    sy = F.col("sky").cast("double") / sc
    sxy = F.col("sxy").cast("double") / sc2
    sxx = F.col("sxx").cast("double") / sc2
    syy = F.col("syy").cast("double") / sc2
    cxy = (sxy - sx * sy / nd) / (nd - 1.0)
    vx = (sxx - sx * sx / nd) / (nd - 1.0)
    vy = (syy - sy * sy / nd) / (nd - 1.0)
    mid = mom.select(
        "n",
        F.when(F.col("n") > 1, cxy).alias("cxy"),
        F.when(F.col("n") > 1, vx).alias("vx"),
        F.when(F.col("n") > 1, vy).alias("vy"),
    )
    okx = F.col("vx").isNotNull() & (F.col("vx") > 0.0)
    return mid.select(
        F.col("n").alias("n_users"),
        F.when(okx, sround(F.col("cxy") / F.col("vx"), 9)).alias("theta"),
        F.when(F.col("vy").isNotNull(), sround(F.col("vy"), 9))
        .alias("var_y"),
        F.when(okx & F.col("vy").isNotNull(),
               sround(F.col("vy")
                      - (F.col("cxy") * F.col("cxy")) / F.col("vx"), 9))
        .alias("var_adj"),
        F.when(okx & F.col("vy").isNotNull() & (F.col("vy") > 0.0),
               sround((F.col("cxy") * F.col("cxy"))
                      / (F.col("vx") * F.col("vy")), 9))
        .alias("reduction"),
    )


ORACLE_CUPED = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS t_us, value
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
), rng AS (
  SELECT (MIN(t_us) + MAX(t_us)) // 2 AS mid_us FROM e
), per_user AS (
  SELECT CAST(round(CAST(SUM(CAST(CASE WHEN t_us < mid_us THEN value
                ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
              * {CUPED_SCALE}) AS BIGINT) AS kx,
         CAST(round(CAST(SUM(CAST(CASE WHEN t_us >= mid_us THEN value
                ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
              * {CUPED_SCALE}) AS BIGINT) AS ky
  FROM e CROSS JOIN rng
  GROUP BY user_id
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(kx) AS BIGINT) AS skx,
         CAST(SUM(ky) AS BIGINT) AS sky,
         SUM(CAST(kx AS DECIMAL(19,0)) * CAST(ky AS DECIMAL(19,0)))
           AS sxy,
         SUM(CAST(kx AS DECIMAL(19,0)) * CAST(kx AS DECIMAL(19,0)))
           AS sxx,
         SUM(CAST(ky AS DECIMAL(19,0)) * CAST(ky AS DECIMAL(19,0)))
           AS syy
  FROM per_user
), mid AS (
  SELECT n,
    CASE WHEN n > 1 THEN
      (CAST(sxy AS DOUBLE) / {CUPED_SCALE * CUPED_SCALE}
       - (CAST(skx AS DOUBLE) / {CUPED_SCALE})
         * (CAST(sky AS DOUBLE) / {CUPED_SCALE}) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) END AS cxy,
    CASE WHEN n > 1 THEN
      (CAST(sxx AS DOUBLE) / {CUPED_SCALE * CUPED_SCALE}
       - (CAST(skx AS DOUBLE) / {CUPED_SCALE})
         * (CAST(skx AS DOUBLE) / {CUPED_SCALE}) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) END AS vx,
    CASE WHEN n > 1 THEN
      (CAST(syy AS DOUBLE) / {CUPED_SCALE * CUPED_SCALE}
       - (CAST(sky AS DOUBLE) / {CUPED_SCALE})
         * (CAST(sky AS DOUBLE) / {CUPED_SCALE}) / CAST(n AS DOUBLE))
      / (CAST(n AS DOUBLE) - 1.0) END AS vy
  FROM mom
)
SELECT n AS n_users,
  CASE WHEN vx IS NOT NULL AND vx > 0.0
  THEN {sround_sql("cxy / vx", 9)} END AS theta,
  CASE WHEN vy IS NOT NULL THEN {sround_sql("vy", 9)} END AS var_y,
  CASE WHEN vx IS NOT NULL AND vx > 0.0 AND vy IS NOT NULL
  THEN {sround_sql("vy - (cxy * cxy) / vx", 9)} END AS var_adj,
  CASE WHEN vx IS NOT NULL AND vx > 0.0 AND vy IS NOT NULL AND vy > 0.0
  THEN {sround_sql("(cxy * cxy) / (vx * vy)", 9)} END AS reduction
FROM mid
"""


QUERIES = {
    "q_wasserstein": q_wasserstein,
    "q_xcorr": q_xcorr,
    "q_smd_balance": q_smd_balance,
    "q_cuped": q_cuped,
}

ORACLES = {
    "q_wasserstein": ORACLE_WASSERSTEIN,
    "q_xcorr": ORACLE_XCORR,
    "q_smd_balance": ORACLE_SMD_BALANCE,
    "q_cuped": ORACLE_CUPED,
}
