"""Deterministic distributed sketches (HyperLogLog-style approx distinct).

At 100 TB an exact ``count(distinct user_id)`` shuffles every distinct
value; a register sketch shuffles at most ``m`` rows per group. Spark's
built-in ``approx_count_distinct`` is HLL++ too, but its hash is
engine-internal, so it cannot be differentially tested. This
implementation derives registers from md5 — reproducible in any engine
with md5 and 64-bit integer ops — so the DuckDB oracle replays the exact
same registers and estimate (see ``plans/sketches.py``).

Algorithm (classic HLL, Flajolet et al. 2007, public):

- 60-bit hash ``h`` = first 15 hex chars of ``md5(value)``;
- register index ``j = h mod m`` (m a power of two);
- remaining ``W = 60 - log2(m)`` bits ``b = h div m``;
- rank ``rho = W - bit_length(b) + 1`` (position of the highest set bit
  from the left, 1-based; ``b = 0`` → ``W + 1``);
- register value ``M_j = max(rho)``; estimate
  ``alpha_m * m^2 / sum_j 2^(-M_j)``.

Everything up to the final division is integer arithmetic:
``bit_length`` is computed JVM-side as ``bit_count(smear(b))`` (smearing
propagates the top bit into every lower position with 6 shift-or steps),
and the indicator sum is kept as the integer ``sum(2^(P - M_j))`` with
``P = W + 1`` so both engines divide the same two numbers. The map-side
partial aggregation means each group contributes at most ``m`` rows to
the shuffle regardless of input size — the whole point of the sketch.

No analog exists in the reference (its only aggregation is the schema
union, /root/reference/src/main.rs:166-176); this is an
engine-capability extension for the training-data pipeline north star.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_BITS = 60  # 15 hex chars of md5 — fits a signed 64-bit int
HLL_M = 64  # registers per sketch


def hll_alpha(m: int) -> float:
    """Standard bias-correction constant for m >= 128; the small-m
    constants for m in {16, 32, 64} per the HLL paper."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _bit_length(col: Column) -> Column:
    """bit_length(b) for 0 <= b < 2^62, JVM-side: smear the highest set
    bit downward, then popcount. bit_length(0) = 0."""
    x = col
    for s in (1, 2, 4, 8, 16, 32):
        x = x.bitwiseOR(F.shiftright(x, s))
    return F.bit_count(x).cast("int")


def hll_reg_rho_cols(
    value_col: str, m: int = HLL_M
) -> tuple[Column, Column]:
    """The (reg, rho) projection columns for one value — exposed so
    streaming plans can apply a watermark between the projection and the
    register groupBy."""
    if m & (m - 1) or m < 2:
        raise ValueError(f"m must be a power of two >= 2, got {m}")
    w = HASH_BITS - int(math.log2(m))
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # m is a power of two: register = low bits, remainder = high bits —
    # pure integer shifts/masks (h / m would round through a double).
    log2m = int(math.log2(m))
    reg = h.bitwiseAND(F.lit(m - 1)).cast("int")
    b = F.shiftright(h, log2m)
    rho = (F.lit(w) - _bit_length(b) + F.lit(1)).cast("int")
    return reg, rho


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    m: int = HLL_M,
) -> DataFrame:
    """Per-group register table: (group_cols..., reg int, m_j int).

    One narrow projection + one groupBy — partial aggregation caps the
    shuffle at ``m`` rows per group per input partition.
    """
    reg, rho = hll_reg_rho_cols(value_col, m)
    return (
        df.select(*group_cols, reg.alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    group_cols: list[str],
    m: int = HLL_M,
) -> DataFrame:
    """Estimate from an existing (group_cols..., reg, m_j) register table
    — the second half of :func:`hll_estimate`, split out so MERGED
    register tables (sketch union across partitions/sources) estimate
    through the identical arithmetic."""
    w = HASH_BITS - int(math.log2(m))
    p = w + 1  # max possible rho (b = 0)
    numer = float(hll_alpha(m) * m * m * (2**p))
    z_seen = F.sum(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({p} - m_j AS INT))")
    )
    hit = F.count(F.lit(1)).cast("long")
    z_int = z_seen + (F.lit(m).cast("long") - hit) * F.lit(2**p).cast("long")
    return regs.groupBy(*group_cols).agg(
        hit.alias("registers_hit"),
        (F.lit(numer) / z_int.cast("double")).alias("hll_estimate"),
    )


def hll_estimate(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    m: int = HLL_M,
) -> DataFrame:
    """(group_cols..., registers_hit long, hll_estimate double).

    The indicator sum stays integer (``sum(shiftleft(1, P - m_j))`` plus
    ``2^P`` per never-touched register), so the only floating-point step
    is one final division — bit-identical across engines.
    """
    regs = hll_registers(df, value_col, group_cols, m)
    return hll_estimate_from_registers(regs, group_cols, m)


def hll_regs_sql(
    table_expr: str,
    value_sql: str,
    group_sql: list[str],
    m: int = HLL_M,
) -> str:
    """DuckDB twin of hll_registers: the (group..., reg, m_j) SELECT."""
    w = HASH_BITS - int(math.log2(m))
    g = ", ".join(group_sql)
    h = f"(('0x' || substr(md5(CAST({value_sql} AS VARCHAR)), 1, 15))::BIGINT)"
    b = f"({h} >> {int(math.log2(m))})"
    x = b
    for s in (1, 2, 4, 8, 16, 32):
        x = f"({x} | ({x} >> {s}))"
    rho = f"({w} - bit_count({x}) + 1)"
    return f"""SELECT {g}, ({h} % {m}) AS reg, MAX({rho}) AS m_j
  FROM {table_expr}
  GROUP BY {g}, reg"""


def hll_final_sql(group_sql: list[str], m: int = HLL_M) -> str:
    """DuckDB twin of hll_estimate_from_registers: the estimate SELECT
    over a relation named ``regs`` with (group..., reg, m_j)."""
    w = HASH_BITS - int(math.log2(m))
    p = w + 1
    numer = repr(float(hll_alpha(m) * m * m * (2**p)))
    g = ", ".join(group_sql)
    return f"""SELECT {g},
       CAST(COUNT(*) AS BIGINT) AS registers_hit,
       {numer} / CAST(SUM(CAST(1 AS BIGINT) << ({p} - m_j))
                      + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << {p})
                      AS DOUBLE) AS hll_estimate
FROM regs
GROUP BY {g}"""


def hll_sql(table_expr: str, value_sql: str, group_sql: list[str]) -> str:
    """DuckDB twin of hll_estimate at ``HLL_M`` registers — the exact
    same integer pipeline."""
    return f"""
WITH regs AS (
  {hll_regs_sql(table_expr, value_sql, group_sql, HLL_M)}
)
{hll_final_sql(group_sql, HLL_M)}
"""


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[int],  # integer percents, e.g. [50, 95]
) -> DataFrame:
    """Mergeable fixed-bin histogram quantile sketch.

    Exact distributed quantiles need a full sort; this sketch reduces a
    group to ``bins`` counters (map-side combinable, trivially mergeable
    across partitions/days), then reads each requested percentile as the
    upper edge of the first bin whose cumulative count reaches
    ``ceil(q% * n)`` — error bounded by the bin width. All counting and
    thresholding is integer arithmetic; the only doubles are the binning
    division and the final edge multiply, both scalar and replayed
    exactly by the oracle (plans/sketches.py).
    """
    width = (hi - lo) / bins
    x = F.col(value_col).cast("double")
    b = F.floor((x - lo) / width).cast("long")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))
    counts = (
        df.select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy(*group_cols))
    )
    aggs = [F.max("total").cast("long").alias("n_rows")]
    for q in quantiles:
        # ceil(q% * total) in pure integers: (q*total + 99) div 100
        thr = F.expr(f"({q} * total + 99) div 100")
        hit_bin = F.min(F.when(F.col("cum") >= thr, F.col("bin")))
        aggs.append(
            ((hit_bin + 1).cast("double") * F.lit(width) + F.lit(lo)).alias(
                f"p{q}_est"
            )
        )
    return cum.groupBy(*group_cols).agg(*aggs)


def histogram_quantiles_sql(
    table_expr: str,
    value_sql: str,
    group_sql: list[str],
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[int],
) -> str:
    """DuckDB twin of histogram_quantiles."""
    width = (hi - lo) / bins
    g = ", ".join(group_sql)
    b = (
        f"least(greatest(CAST(floor((CAST({value_sql} AS DOUBLE) - {lo!r})"
        f" / {width!r}) AS BIGINT), 0), {bins - 1})"
    )
    qcols = ",\n       ".join(
        f"(CAST(MIN(CASE WHEN cum >= (({q} * total + 99) // 100)"
        f" THEN bin END) + 1 AS DOUBLE) * {width!r} + {lo!r}) AS p{q}_est"
        for q in quantiles
    )
    return f"""
WITH counts AS (
  SELECT {g}, {b} AS bin, CAST(COUNT(*) AS BIGINT) AS n
  FROM {table_expr} GROUP BY {g}, bin
), cum AS (
  SELECT {g}, bin, n,
         SUM(n) OVER (PARTITION BY {g} ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY {g}) AS total
  FROM counts
)
SELECT {g}, CAST(MAX(total) AS BIGINT) AS n_rows,
       {qcols}
FROM cum GROUP BY {g}
"""
