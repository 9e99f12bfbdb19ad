"""Nonparametric / robust statistics + marketing attribution
(round 10, third wave): Theil-Sen robust trend over the daily revenue
series, the Mann-Whitney rank-sum test, Welch's unequal-variance
t-test, and last-touch revenue attribution over user event timelines.

No reference analog (the reference is batch audio-file ingest,
``/root/reference/src/main.rs:118-140``) — engine-capability surface
for the analytics/experimentation layer next to ``plans/expstats``
(SMD, CUPED) and ``plans/survival`` (log-rank, BH-FDR).

Exactness discipline (CLAUDE.md): revenue sums are decimal
(``dsum``/``dsum_sql``); rank sums run on exact .5-step average ranks
in DECIMAL(38,6); every double expression is an identical IEEE tree;
per-term quantization before cross-row DECIMAL sums.

Scale notes (100 TB design point):
- Theil-Sen reduces orders to the DAILY revenue spine (bounded by the
  observation horizon); the pairwise-slope set is horizon², still
  data-volume-independent, and the exact median uses the
  q_exact_median two-pass selection — a map-side-combinable slope
  histogram plus one single-bucket resolve; no step sorts more than
  one bucket.
- Mann-Whitney uses HISTOGRAM ranks over the distinct-value spine
  (events.value lives on a 0.01 grid, so the spine is bounded by the
  value range, not the row count — the q_auc argument). Average tie
  ranks come from (before, count), never a per-row rank sort.
- Welch reduces to six moment sums (one combinable groupBy).
- Attribution is one lag-style window per user timeline (the
  q_transitions contract) + one combinable groupBy on the channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._util import dsum, dsum_sql, sround, sround_sql

US_PER_DAY = 86_400_000_000
TS_BUCKET_W = 64.0  # slope-histogram bucket width (revenue/day units)
MW_A = "click"  # Mann-Whitney cohort 1
MW_B = "purchase"  # Mann-Whitney cohort 2
ATTR_WINDOW_US = 86_400_000_000  # 24 h last-touch lookback
ATTR_CHANNELS = ("click", "view")


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue: the (lower)
    median of all pairwise slopes (rev_j − rev_i)/(day_j − day_i) —
    the outlier-proof alternative to the q_linreg OLS slope (a single
    flash-sale day cannot move it).

    Days reduce to the decimal-exact daily revenue spine; the pair set
    (horizon² / 2, data-volume-independent) is generated by a
    broadcast cross join + i<j filter; the EXACT median slope uses the
    q_exact_median two-pass selection: a map-side-combinable histogram
    on the fixed-width slope grid, the rank-⌈n/2⌉ bucket from the
    cumulative bucket table, then a rank-in-bucket resolve that sorts
    only that bucket (window partitioned by the bucket key). Lower
    median by the q_exact_median convention (k = ⌊(n+1)/2⌋).
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    daily = (
        o.groupBy(
            F.expr(f"unix_micros(o_orderdate) div {US_PER_DAY}")
            .alias("day")
        )
        .agg(dsum("o_totalprice").alias("rev"))
    )
    d2 = daily.select(F.col("day").alias("day2"), F.col("rev").alias("rev2"))
    slope = (F.col("rev2") - F.col("rev")) / (
        F.col("day2") - F.col("day")
    ).cast("double")
    # the WHEN guard keeps codegen from evaluating the division on
    # day2 == day rows if Catalyst fuses the projection into the
    # cross-join before the filter (ANSI DIVIDE_BY_ZERO otherwise)
    pairs = (
        daily.crossJoin(F.broadcast(d2))
        .filter(F.col("day2") > F.col("day"))
        .select(F.when(F.col("day2") > F.col("day"), slope).alias("s"))
    )
    bucket = F.floor(F.col("s") / F.lit(TS_BUCKET_W)).cast("bigint")
    hist = pairs.groupBy(bucket.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    n_df = hist.agg(F.sum("c").cast("bigint").alias("n_pairs"))
    days_df = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    cum = (
        hist.withColumn(
            "before",
            F.coalesce(F.sum("c").over(wb), F.lit(0).cast("bigint")),
        )
        .crossJoin(F.broadcast(n_df))
        .withColumn("k", F.floor((F.col("n_pairs") + 1) / 2).cast("bigint"))
    )
    target = cum.filter(
        (F.col("before") < F.col("k"))
        & (F.col("before") + F.col("c") >= F.col("k"))
    ).select("b", "before", "k", "n_pairs")
    win = Window.partitionBy("b").orderBy("s")
    resolved = (
        pairs.withColumn("b", bucket)
        .join(F.broadcast(target), "b")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == F.col("k") - F.col("before"))
    )
    return resolved.crossJoin(F.broadcast(days_df)).select(
        "n_days", "n_pairs", sround(F.col("s"), 9).alias("slope"),
    )


_SLOPE_SQL = "((rev2 - rev) / CAST(day2 - day AS DOUBLE))"

ORACLE_THEIL_SEN = f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // {US_PER_DAY} AS day,
         {dsum_sql("o_totalprice")} AS rev
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1
), pairs AS (
  SELECT {_SLOPE_SQL} AS s
  FROM daily a(day, rev) CROSS JOIN daily b(day2, rev2)
  WHERE day2 > day
), hist AS (
  SELECT CAST(floor(s / {TS_BUCKET_W}) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs GROUP BY 1
), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs FROM hist),
days_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
cum AS (
  SELECT b, c,
         CAST(COALESCE(SUM(c) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before,
         CAST(floor((n_pairs + 1) / 2) AS BIGINT) AS k, n_pairs
  FROM hist CROSS JOIN n
), target AS (
  SELECT b, before, k, n_pairs FROM cum
  WHERE before < k AND before + c >= k
), resolved AS (
  SELECT s, target.before, target.k, target.n_pairs,
         row_number() OVER (ORDER BY s) AS rn
  FROM pairs JOIN target
    ON CAST(floor(s / {TS_BUCKET_W}) AS BIGINT) = target.b
)
SELECT n_days, n_pairs, {sround_sql("s", 9)} AS slope
FROM resolved CROSS JOIN days_t
WHERE rn = k - before
"""


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum U test between the 'click' and 'purchase'
    event-value distributions — the nonparametric A/B readout when the
    metric is skewed and a t-test's mean is the wrong summary. No
    continuity correction; normal approximation with the standard tie
    correction.

    Ranks are HISTOGRAM ranks: per distinct value (events.value lives
    on a 0.01 grid, so the spine is value-range-bounded), the average
    tie rank is before + (t+1)/2 from the cumulative spine window;
    R1 sums c1·avgrank in DECIMAL(38,6) (exact — .5-step ranks,
    integer counts). Tie term Σ(t³−t) is quantized per value and
    DECIMAL-summed. One row out.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin(MW_A, MW_B)
    )
    per_v = e.groupBy(F.col("value").alias("v")).agg(
        F.sum(F.when(F.col("event_type") == MW_A, 1).otherwise(0))
        .cast("bigint").alias("c1"),
        F.sum(F.when(F.col("event_type") == MW_B, 1).otherwise(0))
        .cast("bigint").alias("c2"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    t = (F.col("c1") + F.col("c2")).cast("bigint")
    spine = per_v.select(
        "v", "c1", "c2", t.alias("t"),
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wv),
                   F.lit(0).cast("bigint")).alias("before"),
    )
    avgrank = (F.col("before").cast("double")
               + (F.col("t").cast("double") + 1.0) / 2.0)
    td = F.col("t").cast("double")
    terms = spine.select(
        "c1", "c2",
        (F.col("c1").cast("double") * avgrank).cast("decimal(38,6)")
        .alias("r1_t"),
        sround(td * td * td - td, 6).cast("decimal(38,6)").alias("tie_t"),
    )
    agg = terms.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.sum("c2"), F.lit(0)).cast("bigint").alias("n2"),
        F.sum("r1_t").cast("double").alias("r1"),
        F.sum("tie_t").cast("double").alias("tie"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1 = F.col("r1") - (n1d * (n1d + 1.0)) / 2.0
    mu = n1d * n2d / 2.0
    var = (n1d * n2d / 12.0) * (
        (nd + 1.0) - F.col("tie") / (nd * (nd - 1.0))
    )
    mid = agg.select(
        "n1", "n2", u1.alias("u1_raw"),
        F.when((F.col("n1") + F.col("n2")) > 1, var).alias("var_u"),
    )
    return mid.select(
        "n1", "n2",
        sround(F.col("u1_raw"), 6).alias("u1"),
        F.when(
            F.col("var_u").isNotNull() & (F.col("var_u") > 0.0),
            sround((F.col("u1_raw")
                    - (F.col("n1").cast("double")
                       * F.col("n2").cast("double") / 2.0))
                   / F.sqrt(F.col("var_u")), 9),
        ).alias("z"),
    )


ORACLE_MANN_WHITNEY = f"""
WITH e AS (
  SELECT value AS v, event_type FROM events
  WHERE value IS NOT NULL AND event_type IN ('{MW_A}', '{MW_B}')
), per_v AS (
  SELECT v,
    CAST(SUM(CASE WHEN event_type = '{MW_A}' THEN 1 ELSE 0 END)
         AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN event_type = '{MW_B}' THEN 1 ELSE 0 END)
         AS BIGINT) AS c2
  FROM e GROUP BY 1
), spine AS (
  SELECT v, c1, c2, CAST(c1 + c2 AS BIGINT) AS t,
         CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS before
  FROM per_v
), terms AS (
  SELECT c1, c2,
    CAST(CAST(c1 AS DOUBLE) * (CAST(before AS DOUBLE)
         + (CAST(t AS DOUBLE) + 1.0) / 2.0) AS DECIMAL(38,6)) AS r1_t,
    CAST({sround_sql(
        "CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)"
        " - CAST(t AS DOUBLE)", 6)} AS DECIMAL(38,6)) AS tie_t
  FROM spine
), agg AS (
  SELECT CAST(COALESCE(SUM(c1), 0) AS BIGINT) AS n1,
         CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS n2,
         CAST(SUM(r1_t) AS DOUBLE) AS r1,
         CAST(SUM(tie_t) AS DOUBLE) AS tie
  FROM terms
), mid AS (
  SELECT n1, n2,
    r1 - (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0)) / 2.0
      AS u1_raw,
    CASE WHEN n1 + n2 > 1 THEN
      (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
      * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
         - tie / (CAST(n1 + n2 AS DOUBLE)
                  * (CAST(n1 + n2 AS DOUBLE) - 1.0)))
    END AS var_u
  FROM agg
)
SELECT n1, n2, {sround_sql("u1_raw", 6)} AS u1,
  CASE WHEN var_u IS NOT NULL AND var_u > 0.0
  THEN {sround_sql(
      "(u1_raw - (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0))"
      " / sqrt(var_u)", 9)}
  END AS z
FROM mid
"""


def two_group_moments(rows: DataFrame, *keys: str) -> DataFrame:
    """Per ``keys`` group of ``rows`` (keys..., grp, x), one row (keys...,
    n0, n1, m0, m1, v0, v1): the count, mean and sample variance of x in
    cohorts grp = 0 (control) and grp = 1 (treatment). x and x² are
    summed in DECIMAL(38,6), exact for values of at most 2 decimal
    places with bounded squares; a variance is NULL below two rows.
    :func:`two_group_moments_sql` is the oracle twin."""
    d38 = "decimal(38,6)"
    stats = rows.groupBy(*keys, "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("double")
        .alias("ss"),
    )
    piv = stats.groupBy(*keys).agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("grp") == 0, F.col("ss"))).alias("ss0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("grp") == 1, F.col("ss"))).alias("ss1"),
    )
    n0d, n1d = F.col("n0").cast("double"), F.col("n1").cast("double")
    m0, m1 = F.col("s0") / n0d, F.col("s1") / n1d
    v0 = (F.col("ss0") - (F.col("s0") * F.col("s0")) / n0d) / (n0d - 1.0)
    v1 = (F.col("ss1") - (F.col("s1") * F.col("s1")) / n1d) / (n1d - 1.0)
    return piv.select(
        *keys, "n0", "n1", m0.alias("m0"), m1.alias("m1"),
        F.when(F.col("n0") > 1, v0).alias("v0"),
        F.when(F.col("n1") > 1, v1).alias("v1"),
    )


def two_group_moments_sql(src: str, *keys: str) -> str:
    """CTEs stats, piv and mid(keys..., n0, n1, m0, m1, v0, v1) over the
    relation ``src`` (keys..., grp, x): the twin of two_group_moments."""
    k = "".join(f"{c}, " for c in keys)
    by = f" GROUP BY {', '.join(keys)}" if keys else ""
    return f"""stats AS (
  SELECT {k}grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS ss
  FROM {src} GROUP BY {k}grp
), piv AS (
  SELECT {k}MAX(CASE WHEN grp = 0 THEN n END) AS n0,
         MAX(CASE WHEN grp = 0 THEN s END) AS s0,
         MAX(CASE WHEN grp = 0 THEN ss END) AS ss0,
         MAX(CASE WHEN grp = 1 THEN n END) AS n1,
         MAX(CASE WHEN grp = 1 THEN s END) AS s1,
         MAX(CASE WHEN grp = 1 THEN ss END) AS ss1
  FROM stats{by}
), mid AS (
  SELECT {k}n0, n1,
    s0 / CAST(n0 AS DOUBLE) AS m0, s1 / CAST(n1 AS DOUBLE) AS m1,
    CASE WHEN n0 > 1 THEN (ss0 - (s0 * s0) / CAST(n0 AS DOUBLE))
                          / (CAST(n0 AS DOUBLE) - 1.0) END AS v0,
    CASE WHEN n1 > 1 THEN (ss1 - (s1 * s1) / CAST(n1 AS DOUBLE))
                          / (CAST(n1 AS DOUBLE) - 1.0) END AS v1
  FROM piv
)"""


def cohort_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (n0, n1, m0, m1, v0, v1): :func:`two_group_moments` of
    o_totalprice in the c_custkey-parity cohorts, the shared input of
    q_welch_t and q_cohens_d (plans/stats2). ``COHORT_MOMENTS`` is the
    oracle twin."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull()
    ).select(
        (F.col("o_custkey") % 2).cast("int").alias("grp"),
        F.col("o_totalprice").alias("x"),
    )
    return two_group_moments(o)


# CTEs o .. mid(n0, n1, m0, m1, v0, v1): the twin of cohort_moments
COHORT_MOMENTS = """o AS (
  SELECT CAST(o_custkey % 2 AS INTEGER) AS grp, o_totalprice AS x
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
), """ + two_group_moments_sql("o")


def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of order value between the
    c_custkey-parity cohorts, with the Welch-Satterthwaite degrees of
    freedom — the continuous-metric experiment readout next to
    q_ab_test's two-proportion z (conversion) and q_mann_whitney
    (rank-sum). The moments come from :func:`cohort_moments`; the t
    and df expressions are identical IEEE trees. One row out.
    """
    mid = cohort_moments(spark, sf_dir)
    a = F.col("v1") / F.col("n1").cast("double")
    b = F.col("v0") / F.col("n0").cast("double")
    se2 = a + b
    dfree = (se2 * se2) / (
        (a * a) / (F.col("n1").cast("double") - 1.0)
        + (b * b) / (F.col("n0").cast("double") - 1.0)
    )
    ok = (F.col("v0").isNotNull() & F.col("v1").isNotNull())
    return mid.select(
        F.col("n1").alias("n_treat"), F.col("n0").alias("n_ctrl"),
        sround(F.col("m1") - F.col("m0"), 9).alias("mean_diff"),
        F.when(ok & (se2 > 0.0),
               sround((F.col("m1") - F.col("m0")) / F.sqrt(se2), 9))
        .alias("t_stat"),
        F.when(ok & (se2 > 0.0), sround(dfree, 9)).alias("df"),
    )


_A_SQL = "(v1 / CAST(n1 AS DOUBLE))"
_B_SQL = "(v0 / CAST(n0 AS DOUBLE))"
_SE2_SQL = f"({_A_SQL} + {_B_SQL})"

ORACLE_WELCH_T = f"""
WITH {COHORT_MOMENTS}
SELECT n1 AS n_treat, n0 AS n_ctrl,
  {sround_sql("m1 - m0", 9)} AS mean_diff,
  CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND {_SE2_SQL} > 0.0
  THEN {sround_sql("(m1 - m0) / sqrt" + _SE2_SQL, 9)} END AS t_stat,
  CASE WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND {_SE2_SQL} > 0.0
  THEN {sround_sql(
      "(" + _SE2_SQL + " * " + _SE2_SQL + ")"
      " / ((" + _A_SQL + " * " + _A_SQL + ") / (CAST(n1 AS DOUBLE) - 1.0)"
      " + (" + _B_SQL + " * " + _B_SQL + ") / (CAST(n0 AS DOUBLE) - 1.0))",
      9)} END AS df
FROM mid
"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase's value is
    credited to the most recent PRIOR click/view on the same user
    timeline within a 24 h lookback; purchases with no qualifying
    touch are 'direct' — the marketing-analytics primitive next to
    q_funnel's step counts.

    The touch lookup is two IGNORE-NULLS last_value windows over the
    (ts, event_id) user timeline (same frame + same condition → both
    columns come from the same last matching row); everything after is
    one combinable groupBy on the channel with decimal revenue sums.
    NULL-ts rows are dropped on both sides (the q_transitions
    contract); purchases with NULL value are excluded from the
    readout; channel rows keep NULL values (they carry no revenue).
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_chan = F.col("event_type").isin(*ATTR_CHANNELS)
    touched = e.select(
        "event_type", "value", F.expr("unix_micros(ts)").alias("t_us"),
        F.last(F.when(is_chan, F.expr("unix_micros(ts)")),
               ignorenulls=True).over(w).alias("ch_us"),
        F.last(F.when(is_chan, F.col("event_type")),
               ignorenulls=True).over(w).alias("ch_type"),
    )
    conv = touched.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    channel = F.when(
        F.col("ch_us").isNotNull()
        & (F.col("ch_us") >= F.col("t_us") - ATTR_WINDOW_US),
        F.col("ch_type"),
    ).otherwise("direct")
    return (
        conv.groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conv"),
            dsum("value").alias("revenue"),
        )
        .orderBy("channel")
    )


_CHAN_LIST = ", ".join(f"'{c}'" for c in ATTR_CHANNELS)

ORACLE_ATTRIBUTION = f"""
WITH e AS (
  SELECT event_type, value, epoch_us(ts) AS t_us, user_id, event_id, ts
  FROM events WHERE ts IS NOT NULL
), touched AS (
  SELECT event_type, value, t_us,
    last_value(CASE WHEN event_type IN ({_CHAN_LIST}) THEN t_us END
               IGNORE NULLS) OVER w AS ch_us,
    last_value(CASE WHEN event_type IN ({_CHAN_LIST}) THEN event_type END
               IGNORE NULLS) OVER w AS ch_type
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conv AS (
  SELECT CASE WHEN ch_us IS NOT NULL
               AND ch_us >= t_us - {ATTR_WINDOW_US}
         THEN ch_type ELSE 'direct' END AS channel, value
  FROM touched
  WHERE event_type = 'purchase' AND value IS NOT NULL
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conv,
       {dsum_sql("value")} AS revenue
FROM conv
GROUP BY channel
ORDER BY channel
"""


QUERIES = {
    "q_theil_sen": q_theil_sen,
    "q_mann_whitney": q_mann_whitney,
    "q_welch_t": q_welch_t,
    "q_attribution": q_attribution,
}

ORACLES = {
    "q_theil_sen": ORACLE_THEIL_SEN,
    "q_mann_whitney": ORACLE_MANN_WHITNEY,
    "q_welch_t": ORACLE_WELCH_T,
    "q_attribution": ORACLE_ATTRIBUTION,
}
