"""Model-evaluation metrics over scored/labelled data (round 9) —
the eval half of a training pipeline: after curation and training, the
same engine scores and grades held-out data at corpus scale. Every
metric here is computed from AGGREGATED counts (histograms /
confusion cells), never from a global sort of raw rows — the shape
that survives 100 TB — and every arithmetic step is exact-integer or
correctly-rounded IEEE, so the DuckDB twins are bit-identical.

The "classifier" under evaluation is a deterministic stand-in
(anchor-cosine score, label-with-hash-noise predictions — same
convention as q_label_noise/q_ab_test): the OPERATORS are the
aggregation patterns, which is what the engine ships.

No reference analog (the reference is strictly an ingest tool); this
is engine-capability surface like plans/relational2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._util import sround, sround_sql

SCORE_DP = 6  # score quantization (decimal places) — bounds AUC bins
N_CLASSES = 10  # embeddings.label domain
CAL_BINS = 10


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, pos, score): score = (cos(e, e1) + 1) / 2
    quantized to SCORE_DP, where e1 is the first basis vector — so
    cos = e[0] / ||e||. pos = odd label. Every op (/, sqrt, +, round)
    is a correctly-rounded IEEE double on both engines."""
    em = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & F.col("label").isNotNull()
    )
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x))
    return (
        em.select(
            "vec_id",
            F.col("label").cast("bigint").alias("label"),
            e.alias("e"),
            nrm.alias("nrm"),
        )
        .filter(F.col("nrm") > 0)
        .select(
            "vec_id",
            "label",
            (F.col("label") % 2 == 1).alias("pos"),
            sround(
                (F.element_at("e", 1) / F.col("nrm") + 1.0) / 2.0,
                SCORE_DP,
            ).alias("score"),
        )
    )


_SCORED_SQL = f"""
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         label % 2 = 1 AS pos,
         {sround_sql(
             "(e[1] / sqrt(list_sum(list_transform(e, x -> x * x)))"
             " + 1.0) / 2.0", SCORE_DP)} AS score
  FROM (SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
        WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
          AND label IS NOT NULL)
  WHERE sqrt(list_sum(list_transform(e, x -> x * x))) > 0
"""


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC from the SCORE HISTOGRAM — the
    rank-sum (Mann-Whitney U) evaluation computed without ever
    totally ordering raw rows: scores quantize to SCORE_DP decimals,
    one groupBy(score) builds (pos_n, neg_n) per distinct score, and
    the tie-aware U doubles to stay integer:
    U2 = Σ_s pos_s · (2·neg_below(s) + neg_s);  AUC = U2 / (2·P·N).
    The only window runs over DISTINCT quantized scores — bounded by
    10^SCORE_DP + 1 rows by construction, not by data volume (the
    q_skyline bucket-grid argument), so the global-sort cost of naive
    AUC never appears. Integer U2 makes the result engine-exact."""
    s = _scored(spark, sf_dir)
    hist = s.groupBy("score").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("pos_n"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("neg_n"),
    )
    w = (
        Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = hist.select(
        "pos_n",
        "neg_n",
        F.coalesce(F.sum("neg_n").over(w), F.lit(0))
        .cast("bigint")
        .alias("neg_below"),
    )
    return contrib.agg(
        F.sum("pos_n").cast("bigint").alias("n_pos"),
        F.sum("neg_n").cast("bigint").alias("n_neg"),
        F.sum(
            F.col("pos_n") * (2 * F.col("neg_below") + F.col("neg_n"))
        )
        .cast("bigint")
        .alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / (2.0 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


ORACLE_AUC = f"""
WITH s AS ({_SCORED_SQL}),
hist AS (
  SELECT score,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_n
  FROM s GROUP BY score
), contrib AS (
  SELECT pos_n, neg_n,
         CAST(COALESCE(SUM(neg_n) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS neg_below
  FROM hist
)
SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos,
       CAST(SUM(neg_n) AS BIGINT) AS n_neg,
       CAST(SUM(pos_n * (2 * neg_below + neg_n)) AS BIGINT) AS u2,
       CAST(SUM(pos_n * (2 * neg_below + neg_n)) AS DOUBLE)
         / (2.0 * SUM(pos_n) * SUM(neg_n)) AS auc
FROM contrib
"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier decomposition inputs: fixed-width
    score bins (width 1/CAL_BINS — scale-free, no global quantiles),
    per bin the count, observed positive rate, mean score, and the
    bin's Brier contribution Σ(score − y)². Everything reduces to one
    map-side-combinable groupBy; sums stay exact because the
    quantized score is a 6-decimal rational (Σscore and Σscore² are
    exact in the decimal domain; (score − y)² expands to
    score² − 2·y·score + y with y ∈ {{0,1}})."""
    s = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("bigint")
    y = F.when(F.col("pos"), 1).otherwise(0)
    n = F.count(F.lit(1)).cast("bigint")
    sum_s = F.sum(F.col("score").cast("decimal(28,6)"))
    sum_s2 = F.sum(
        (F.col("score") * F.col("score")).cast("decimal(28,12)")
    )
    n_pos = F.sum(y).cast("bigint")
    return (
        s.groupBy(b.alias("bin"))
        .agg(
            n.alias("n"),
            n_pos.alias("n_pos"),
            (n_pos.cast("double") / n.cast("double")).alias("pos_rate"),
            (sum_s.cast("double") / n.cast("double")).alias(
                "mean_score"
            ),
            (
                sum_s2.cast("double")
                - 2.0 * F.sum(F.when(F.col("pos"), F.col("score"))
                              .otherwise(F.lit(0.0))
                              .cast("decimal(28,6)")).cast("double")
                + n_pos.cast("double")
            ).alias("brier_sum"),
        )
        .orderBy("bin")
    )


ORACLE_CALIBRATION_BINS = f"""
WITH s AS ({_SCORED_SQL})
SELECT LEAST(CAST(floor(score * {CAL_BINS}) AS BIGINT),
             {CAL_BINS - 1}) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS pos_rate,
       CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS mean_score,
       CAST(SUM(CAST(score * score AS DECIMAL(28,12))) AS DOUBLE)
         - 2.0 * CAST(SUM(CAST(CASE WHEN pos THEN score ELSE 0.0 END
                               AS DECIMAL(28,6))) AS DOUBLE)
         + CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
         AS brier_sum
FROM s GROUP BY 1 ORDER BY 1
"""


def confusion_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cls, n_true, n_pred, tp) per class: the confusion-matrix cells
    of the deterministic stand-in classifier, which predicts the true
    label except on vec_id % 3 == 0 rows, shifted one class up (the
    q_label_noise corruption model). Two tiny aggregations over (true,
    pred) cells: shuffle width is classes², whatever the corpus size.
    Shared by q_confusion_matrix and q_macro_f1 (plans/stats2);
    ``CONFUSION_CELLS`` is the oracle twin."""
    em = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("label").isNotNull()
    )
    t = F.col("label").cast("bigint")
    pred = F.when(
        F.col("vec_id") % 3 == 0, (t + 1) % N_CLASSES
    ).otherwise(t)
    cells = em.select(
        t.alias("true_label"), pred.alias("pred_label")
    ).groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tp = (
        cells.filter(F.col("true_label") == F.col("pred_label"))
        .select(F.col("true_label").alias("cls"), F.col("n").alias("tp"))
    )
    true_tot = cells.groupBy(
        F.col("true_label").alias("cls")
    ).agg(F.sum("n").cast("bigint").alias("n_true"))
    pred_tot = cells.groupBy(
        F.col("pred_label").alias("cls")
    ).agg(F.sum("n").cast("bigint").alias("n_pred"))
    return (
        true_tot.join(pred_tot, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias(
                "n_true"
            ),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias(
                "n_pred"
            ),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )


def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 from a confusion matrix —
    the multi-class eval readout over :func:`confusion_cells`. Expected
    recall is ~2/3 and the metric arithmetic (exact counts → one double
    division each; F1 = 2PR/(P+R)) is fully engine-exact."""
    j = confusion_cells(spark, sf_dir)
    prec = F.col("tp").cast("double") / F.col("n_pred").cast("double")
    rec = F.col("tp").cast("double") / F.col("n_true").cast("double")
    return j.select(
        "cls",
        "n_true",
        "n_pred",
        "tp",
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(F.col("tp") == 0, F.lit(0.0))
        .otherwise(2.0 * prec * rec / (prec + rec))
        .alias("f1"),
    ).orderBy("cls")


# CTEs cells .. j(cls, n_true, n_pred, tp): the twin of confusion_cells
CONFUSION_CELLS = f"""cells AS (
  SELECT CAST(label AS BIGINT) AS true_label,
         CASE WHEN vec_id % 3 = 0
              THEN (CAST(label AS BIGINT) + 1) % {N_CLASSES}
              ELSE CAST(label AS BIGINT) END AS pred_label,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings
  WHERE vec_id IS NOT NULL AND label IS NOT NULL
  GROUP BY 1, 2
), tp AS (
  SELECT true_label AS cls, n AS tp FROM cells
  WHERE true_label = pred_label
), tt AS (
  SELECT true_label AS cls, CAST(SUM(n) AS BIGINT) AS n_true
  FROM cells GROUP BY 1
), pt AS (
  SELECT pred_label AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
  FROM cells GROUP BY 1
), j AS (
  SELECT COALESCE(tt.cls, pt.cls) AS cls,
         CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
         CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
         CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp
  FROM tt FULL JOIN pt ON tt.cls = pt.cls
  LEFT JOIN tp ON COALESCE(tt.cls, pt.cls) = tp.cls
)"""

ORACLE_CONFUSION_MATRIX = f"""
WITH {CONFUSION_CELLS}
SELECT cls, n_true, n_pred, tp,
       CAST(tp AS DOUBLE) / n_pred AS precision,
       CAST(tp AS DOUBLE) / n_true AS recall,
       CASE WHEN tp = 0 THEN 0.0
            ELSE 2.0 * (CAST(tp AS DOUBLE) / n_pred)
                     * (CAST(tp AS DOUBLE) / n_true)
                 / ((CAST(tp AS DOUBLE) / n_pred)
                    + (CAST(tp AS DOUBLE) / n_true)) END AS f1
FROM j ORDER BY cls
"""


QUERIES = {
    "q_auc": q_auc,
    "q_calibration_bins": q_calibration_bins,
    "q_confusion_matrix": q_confusion_matrix,
}

ORACLES = {
    "q_auc": ORACLE_AUC,
    "q_calibration_bins": ORACLE_CALIBRATION_BINS,
    "q_confusion_matrix": ORACLE_CONFUSION_MATRIX,
}


# ---------------------------------------------------------------------
# Ranking / retrieval metrics (round-9 extension): NDCG@K, MRR, MAP@K,
# and Cohen's kappa — the retrieval-eval half of the metrics family.
# The ranked list is per-LABEL (a partitioned window over ~|labels|
# parallel groups, never a global sort), and the rank-position weights
# 1/log2(r+1) are shared 12-decimal string literals generated from the
# definition once at import and embedded in BOTH engines' plans — log2
# is not correctly-rounded IEEE, so evaluating it independently per
# engine could diverge in the last ulp; a shared literal cannot.
# ---------------------------------------------------------------------

import math as _math
from decimal import Decimal as _Dec

RANK_K = 20

# w_r = 1/log2(r+1), rounded to 12 decimals (exact decimal strings)
_W: list[str] = [
    str(_Dec(repr(round((1.0 / _math.log2(r + 1)) * 1e12) / 1e12)))
    for r in range(1, RANK_K + 1)
]
# cum_k = w_1 + … + w_k (exact decimal sums of the rounded weights)
_CUM: list[str] = []
_acc = _Dec(0)
for _w in _W:
    _acc += _Dec(_w)
    _CUM.append(str(_acc))

_REL = "vec_id % 3 <> 0"  # deterministic relevance marker


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label ranked lists: rank by (score desc, vec_id asc) — a
    TOTAL order (vec_id unique), so the rank is engine- and
    partition-invariant; rel is the deterministic marker."""
    s = _scored(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return s.select(
        "label",
        "vec_id",
        (F.col("vec_id") % 3 != 0).alias("rel"),
        F.row_number().over(w).cast("bigint").alias("rnk"),
    )


_RANKED_SQL = f"""
  SELECT label, vec_id, {_REL} AS rel,
         CAST(row_number() OVER (PARTITION BY label
                ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rnk
  FROM ({_SCORED_SQL})
"""

_W_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN CAST('{w}' AS DECIMAL(28,12))"
    for r, w in enumerate(_W)
) + " END"

_CUM_CASE = "CASE LEAST(n_rel, " + str(RANK_K) + ") " + " ".join(
    f"WHEN {k + 1} THEN CAST('{c}' AS DECIMAL(28,12))"
    for k, c in enumerate(_CUM)
) + " END"


def _dec_lit(s: str):
    return F.expr(f"CAST('{s}' AS DECIMAL(28,12))")


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@K per label: DCG sums the shared literal weight at each
    relevant rank ≤ K (exact decimal sum); IDCG looks up the literal
    cumulative weight at min(n_rel, K). Both lookups are O(1) literal
    tables, the per-label window is the only shuffle beyond one
    groupBy, and every float op is a single correctly-rounded division
    of small-magnitude decimals — engine-exact without sround."""
    r = _ranked(spark, sf_dir)
    warr = F.array(*[_dec_lit(w) for w in _W])
    zero = F.expr("CAST('0' AS DECIMAL(28,12))")
    per = r.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel"),
        F.sum(
            F.when(
                F.col("rel") & (F.col("rnk") <= RANK_K),
                F.element_at(warr, F.col("rnk").cast("int")),
            ).otherwise(zero)
        ).alias("dcg_d"),
    )
    cumarr = F.array(*[_dec_lit(c) for c in _CUM])
    idcg = F.when(
        F.col("n_rel") > 0,
        F.element_at(
            cumarr, F.least(F.col("n_rel"), F.lit(RANK_K)).cast("int")
        ),
    )
    return per.select(
        "label",
        "n",
        "n_rel",
        F.col("dcg_d").cast("double").alias("dcg"),
        idcg.cast("double").alias("idcg"),
        F.when(
            F.col("n_rel") > 0,
            F.col("dcg_d").cast("double") / idcg.cast("double"),
        ).alias("ndcg"),
    ).orderBy("label")


ORACLE_NDCG = f"""
WITH r AS ({_RANKED_SQL}),
per AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         SUM(CASE WHEN rel AND rnk <= {RANK_K} THEN {_W_CASE}
                  ELSE CAST('0' AS DECIMAL(28,12)) END) AS dcg_d
  FROM r GROUP BY label
)
SELECT label, n, n_rel,
       CAST(dcg_d AS DOUBLE) AS dcg,
       CASE WHEN n_rel > 0 THEN CAST({_CUM_CASE} AS DOUBLE) END AS idcg,
       CASE WHEN n_rel > 0 THEN
         CAST(dcg_d AS DOUBLE) / CAST({_CUM_CASE} AS DOUBLE)
       END AS ndcg
FROM per ORDER BY label
"""


def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank inputs per label: the first relevant rank
    (a MIN over the ranked rows — map-side combinable) and its
    reciprocal; labels with no relevant item keep NULL rr by the
    explicit guard on both engines."""
    r = _ranked(spark, sf_dir)
    per = r.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel"),
        F.min(F.when(F.col("rel"), F.col("rnk")))
        .cast("bigint")
        .alias("first_rel_rank"),
    )
    return per.select(
        "label",
        "n",
        "n_rel",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.lit(1.0) / F.col("first_rel_rank").cast("double"),
        ).alias("rr"),
    ).orderBy("label")


ORACLE_MRR = f"""
WITH r AS ({_RANKED_SQL})
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
       CAST(MIN(CASE WHEN rel THEN rnk END) AS BIGINT) AS first_rel_rank,
       CASE WHEN MIN(CASE WHEN rel THEN rnk END) IS NOT NULL THEN
         1.0 / CAST(CAST(MIN(CASE WHEN rel THEN rnk END) AS BIGINT)
                    AS DOUBLE)
       END AS rr
FROM r GROUP BY label ORDER BY label
"""


def q_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@K inputs per label: average precision truncated at K.
    precision@i = (running count of relevant through rank i) / i is a
    small rational computed as one correctly-rounded double division,
    quantized (sround 12) and summed in the decimal domain; AP divides
    by min(n_rel, K) with an explicit zero guard. Two windows per
    label partition (rank + running count), then one groupBy."""
    r = _ranked(spark, sf_dir)
    w = Window.partitionBy("label").orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cr = r.select(
        "label",
        "rel",
        "rnk",
        F.sum(F.when(F.col("rel"), 1).otherwise(0)).over(w).alias("cumrel"),
    )
    term = sround(
        F.col("cumrel").cast("double") / F.col("rnk").cast("double"), 12
    )
    per = cr.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel"),
        F.sum(
            F.when(
                F.col("rel") & (F.col("rnk") <= RANK_K),
                term.cast("decimal(28,12)"),
            ).otherwise(F.expr("CAST('0' AS DECIMAL(28,12))"))
        ).alias("ap_num"),
    )
    denom = F.least(F.col("n_rel"), F.lit(RANK_K))
    return per.select(
        "label",
        "n",
        "n_rel",
        F.col("ap_num").cast("double").alias("ap_num"),
        F.when(
            denom > 0,
            F.col("ap_num").cast("double") / denom.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("ap"),
    ).orderBy("label")


ORACLE_MAP_AT_K = f"""
WITH r AS ({_RANKED_SQL}),
cr AS (
  SELECT label, rel, rnk,
         SUM(CASE WHEN rel THEN 1 ELSE 0 END)
           OVER (PARTITION BY label ORDER BY rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumrel
  FROM r
), per AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         SUM(CASE WHEN rel AND rnk <= {RANK_K} THEN
               CAST({sround_sql(
                   "CAST(cumrel AS DOUBLE) / CAST(rnk AS DOUBLE)", 12)}
                    AS DECIMAL(28,12))
             ELSE CAST('0' AS DECIMAL(28,12)) END) AS ap_num
  FROM cr GROUP BY label
)
SELECT label, n, n_rel,
       CAST(ap_num AS DOUBLE) AS ap_num,
       CASE WHEN LEAST(n_rel, {RANK_K}) > 0 THEN
         CAST(ap_num AS DOUBLE)
           / CAST(LEAST(n_rel, {RANK_K}) AS DOUBLE)
       ELSE 0.0 END AS ap
FROM per ORDER BY label
"""


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic stand-in annotators
    (the q_confusion_matrix corruption model at two different moduli):
    agreement po and chance agreement pe from exact integer counts —
    the marginal product sum stays exact in the decimal domain so the
    100 TB row count cannot overflow — then two correctly-rounded
    double divisions. One groupBy(classes²) + two tiny marginal aggs."""
    em = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("label").isNotNull()
    )
    t = F.col("label").cast("bigint")
    pa = F.when(F.col("vec_id") % 3 == 0, (t + 1) % N_CLASSES).otherwise(t)
    pb = F.when(F.col("vec_id") % 5 == 0, (t + 2) % N_CLASSES).otherwise(t)
    cells = em.select(pa.alias("pa"), pb.alias("pb")).groupBy(
        "pa", "pb"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("pa") == F.col("pb"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    ma = cells.groupBy(F.col("pa").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("na")
    )
    mb = cells.groupBy(F.col("pb").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("nb")
    )
    prod = (
        ma.join(mb, "cls", "inner")
        .agg(
            F.sum(
                (F.col("na") * F.col("nb")).cast("decimal(38,0)")
            ).alias("prod_sum")
        )
    )
    j = tot.crossJoin(F.broadcast(prod))
    nd = F.col("n_total").cast("double")
    po = F.col("n_agree").cast("double") / nd
    pe = F.col("prod_sum").cast("double") / (nd * nd)
    return j.select(
        "n_total",
        "n_agree",
        po.alias("po"),
        pe.alias("pe"),
        F.when(pe < 1.0, (po - pe) / (1.0 - pe)).alias("kappa"),
    )


ORACLE_COHEN_KAPPA = f"""
WITH cells AS (
  SELECT CASE WHEN vec_id % 3 = 0
              THEN (CAST(label AS BIGINT) + 1) % {N_CLASSES}
              ELSE CAST(label AS BIGINT) END AS pa,
         CASE WHEN vec_id % 5 = 0
              THEN (CAST(label AS BIGINT) + 2) % {N_CLASSES}
              ELSE CAST(label AS BIGINT) END AS pb,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings
  WHERE vec_id IS NOT NULL AND label IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN pa = pb THEN n ELSE 0 END) AS BIGINT)
           AS n_agree
  FROM cells
), ma AS (SELECT pa AS cls, CAST(SUM(n) AS BIGINT) AS na
          FROM cells GROUP BY 1),
mb AS (SELECT pb AS cls, CAST(SUM(n) AS BIGINT) AS nb
       FROM cells GROUP BY 1),
prod AS (
  SELECT SUM(CAST(na * nb AS DECIMAL(38,0))) AS prod_sum
  FROM ma JOIN mb USING (cls)
)
SELECT n_total, n_agree,
       CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE) AS po,
       CAST(prod_sum AS DOUBLE)
         / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) AS pe,
       CASE WHEN CAST(prod_sum AS DOUBLE)
                   / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))
                 < 1.0 THEN
         (CAST(n_agree AS DOUBLE) / CAST(n_total AS DOUBLE)
          - CAST(prod_sum AS DOUBLE)
              / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)))
         / (1.0 - CAST(prod_sum AS DOUBLE)
                    / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)))
       END AS kappa
FROM tot CROSS JOIN prod
"""


QUERIES["q_ndcg"] = q_ndcg
QUERIES["q_mrr"] = q_mrr
QUERIES["q_map_at_k"] = q_map_at_k
QUERIES["q_cohen_kappa"] = q_cohen_kappa
ORACLES["q_ndcg"] = ORACLE_NDCG
ORACLES["q_mrr"] = ORACLE_MRR
ORACLES["q_map_at_k"] = ORACLE_MAP_AT_K
ORACLES["q_cohen_kappa"] = ORACLE_COHEN_KAPPA


def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware average precision (PR-AUC) from the same quantized
    score histogram as q_auc — AP = Σ_i (R_i − R_{i−1})·P_i over
    DISTINCT descending score thresholds, i.e. Σ_i pos_n_i·prec_i / P.
    The cumulative TP/FP window runs over ≤ 10^SCORE_DP + 1 histogram
    rows (never raw data); prec_i is one correctly-rounded double
    division quantized to 12 decimals, and pos_n_i·prec_i stays EXACT
    as DECIMAL(13,12) × count (34 digits, under both engines' 38-digit
    cap) so the sum is order-independent."""
    s = _scored(spark, sf_dir)
    hist = s.groupBy("score").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("pos_n"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("neg_n"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "pos_n",
        F.sum("pos_n").over(w).cast("bigint").alias("tp"),
        F.sum("neg_n").over(w).cast("bigint").alias("fp"),
    )
    prec = sround(
        F.col("tp").cast("double")
        / (F.col("tp") + F.col("fp")).cast("double"),
        12,
    )
    terms = cum.select(
        "pos_n",
        "tp",
        "fp",
        (prec.cast("decimal(13,12)") * F.col("pos_n")).alias("term"),
    )
    agg = terms.agg(
        F.max("tp").alias("n_pos"),
        F.max("fp").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_thresholds"),
        F.sum("term").alias("ap_num"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "n_thresholds",
        F.when(
            F.col("n_pos") > 0,
            F.col("ap_num").cast("double")
            / F.col("n_pos").cast("double"),
        ).alias("pr_auc"),
    )


ORACLE_PR_AUC = f"""
WITH s AS ({_SCORED_SQL}),
hist AS (
  SELECT score,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos_n,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg_n
  FROM s GROUP BY score
), cum AS (
  SELECT pos_n,
         CAST(SUM(pos_n) OVER w AS BIGINT) AS tp,
         CAST(SUM(neg_n) OVER w AS BIGINT) AS fp
  FROM hist
  WINDOW w AS (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), terms AS (
  SELECT pos_n, tp, fp,
         CAST({sround_sql(
             "CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)", 12)}
              AS DECIMAL(13,12)) * pos_n AS term
  FROM cum
)
SELECT CAST(MAX(tp) AS BIGINT) AS n_pos,
       CAST(MAX(fp) AS BIGINT) AS n_neg,
       CAST(COUNT(*) AS BIGINT) AS n_thresholds,
       CASE WHEN MAX(tp) > 0 THEN
         CAST(SUM(term) AS DOUBLE) / CAST(MAX(tp) AS DOUBLE)
       END AS pr_auc
FROM terms
"""


def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — FULLY exact in the decimal domain:
    per fixed-width bin, |pos_rate − mean_score|·n/N algebraically
    equals |n_pos − Σscore| / N, and Σscore is an exact DECIMAL(28,6)
    of the 6-dp quantized scores, so the only float op is the final
    division. MCE (max per-bin gap) takes one quantized division per
    bin. One map-side-combinable groupBy over CAL_BINS cells."""
    s = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("bigint")
    y = F.when(F.col("pos"), 1).otherwise(0)
    bins = s.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("n_pos"),
        F.sum(F.col("score").cast("decimal(28,6)")).alias("sum_s"),
    )
    diff = F.abs(
        F.col("n_pos").cast("decimal(28,6)") - F.col("sum_s")
    )
    gap = sround(
        diff.cast("double") / F.col("n").cast("double"), 12
    )
    agg = bins.select("n", "n_pos", diff.alias("diff"), gap.alias("gap")).agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("diff").alias("diff_sum"),
        F.max("gap").alias("mce"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    return agg.select(
        "n_total",
        "n_bins",
        F.when(
            F.col("n_total") > 0,
            F.col("diff_sum").cast("double")
            / F.col("n_total").cast("double"),
        ).alias("ece"),
        "mce",
    )


ORACLE_ECE = f"""
WITH s AS ({_SCORED_SQL}),
bins AS (
  SELECT LEAST(CAST(floor(score * {CAL_BINS}) AS BIGINT),
               {CAL_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         SUM(CAST(score AS DECIMAL(28,6))) AS sum_s
  FROM s GROUP BY 1
), d AS (
  SELECT n, n_pos,
         ABS(CAST(n_pos AS DECIMAL(28,6)) - sum_s) AS diff,
         {sround_sql(
             "CAST(ABS(CAST(n_pos AS DECIMAL(28,6)) - sum_s) AS DOUBLE)"
             " / CAST(n AS DOUBLE)", 12)} AS gap
  FROM bins
)
SELECT CAST(SUM(n) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       CASE WHEN SUM(n) > 0 THEN
         CAST(SUM(diff) AS DOUBLE) / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE)
       END AS ece,
       MAX(gap) AS mce
FROM d
"""


QUERIES["q_pr_auc"] = q_pr_auc
QUERIES["q_ece"] = q_ece
ORACLES["q_pr_auc"] = ORACLE_PR_AUC
ORACLES["q_ece"] = ORACLE_ECE


PSI_SMOOTH = 0.5  # per-bin additive smoothing (standard PSI practice)


def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two score cohorts (vec_id
    parity as the deterministic reference/current split) — the
    deployment drift check: PSI = Σ_bins (p − q)·ln(p/q) over the
    CAL_BINS fixed-width bins with 0.5 additive smoothing so empty
    bins stay finite. The fixed bin spine (spark.range / generate_
    series) guarantees both engines smooth the SAME empty bins; the
    per-bin contribution is quantized (sround 9 — ln is within 1 ulp
    across engines, the q_weighted_sample precedent) and summed in
    the decimal domain; a bin = −1 TOTAL row carries the scalar.
    One groupBy(bins) + broadcast totals — no window, no sort."""
    s = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("bigint")
    counts = s.groupBy(b.alias("bin")).agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    spine = spark.range(0, CAL_BINS).select(F.col("id").alias("bin"))
    filled = (
        spine.join(F.broadcast(counts), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("bigint").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
        )
    )
    tot = filled.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
    )
    j = filled.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref").cast("double") + PSI_SMOOTH) / (
        F.col("t_ref").cast("double") + PSI_SMOOTH * CAL_BINS
    )
    q = (F.col("n_cur").cast("double") + PSI_SMOOTH) / (
        F.col("t_cur").cast("double") + PSI_SMOOTH * CAL_BINS
    )
    contrib = sround((p - q) * F.log(p / q), 9)
    per_bin = j.select(
        "bin",
        "n_ref",
        "n_cur",
        contrib.alias("contrib"),
    )
    total = per_bin.agg(
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
        F.sum(F.col("contrib").cast("decimal(28,9)"))
        .cast("double")
        .alias("contrib"),
    ).select(F.lit(-1).cast("bigint").alias("bin"), "n_ref", "n_cur",
             "contrib")
    return per_bin.unionByName(total).orderBy("bin")


ORACLE_PSI = f"""
WITH s AS ({_SCORED_SQL}),
counts AS (
  SELECT LEAST(CAST(floor(score * {CAL_BINS}) AS BIGINT),
               {CAL_BINS - 1}) AS bin,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_cur
  FROM s GROUP BY 1
), filled AS (
  SELECT g.bin, CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
         CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur
  FROM (SELECT CAST(j AS BIGINT) AS bin
        FROM generate_series(0, {CAL_BINS - 1}) t(j)) g
  LEFT JOIN counts ON counts.bin = g.bin
), tot AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
         CAST(SUM(n_cur) AS BIGINT) AS t_cur
  FROM filled
), per_bin AS (
  SELECT bin, n_ref, n_cur,
         {sround_sql(
             "((CAST(n_ref AS DOUBLE) + " + str(PSI_SMOOTH) + ")"
             f" / (CAST(t_ref AS DOUBLE) + {PSI_SMOOTH * CAL_BINS})"
             " - (CAST(n_cur AS DOUBLE) + " + str(PSI_SMOOTH) + ")"
             f" / (CAST(t_cur AS DOUBLE) + {PSI_SMOOTH * CAL_BINS}))"
             " * ln(((CAST(n_ref AS DOUBLE) + " + str(PSI_SMOOTH) + ")"
             f" / (CAST(t_ref AS DOUBLE) + {PSI_SMOOTH * CAL_BINS}))"
             " / ((CAST(n_cur AS DOUBLE) + " + str(PSI_SMOOTH) + ")"
             f" / (CAST(t_cur AS DOUBLE) + {PSI_SMOOTH * CAL_BINS})))",
             9)} AS contrib
  FROM filled CROSS JOIN tot
)
SELECT bin, n_ref, n_cur, contrib FROM per_bin
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(SUM(n_ref) AS BIGINT),
       CAST(SUM(n_cur) AS BIGINT),
       CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE)
FROM per_bin
ORDER BY bin
"""


QUERIES["q_psi"] = q_psi
ORACLES["q_psi"] = ORACLE_PSI


def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table over the CAL_BINS fixed-width
    score bins, highest bin first — the targeting readout (what
    fraction of positives do the top-X% scored rows capture, and at
    what lift over random). Everything derives from exact integer
    counts on the fixed spine; gain, population share, and lift are
    single correctly-rounded divisions quantized by sround. The
    cumulative window runs over the ≤ CAL_BINS spine rows (the
    q_heaps_law argument), never over raw data."""
    s = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * CAL_BINS), F.lit(CAL_BINS - 1)
    ).cast("bigint")
    counts = s.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    spine = spark.range(0, CAL_BINS).select(F.col("id").alias("bin"))
    filled = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.coalesce("n_pos", F.lit(0)).cast("bigint").alias("n_pos"),
    )
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = filled.agg(
        F.sum("n").cast("bigint").alias("t_n"),
        F.sum("n_pos").cast("bigint").alias("t_pos"),
    )
    cum = filled.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
    ).crossJoin(F.broadcast(tot))
    pop_share = F.col("cum_n").cast("double") / F.col("t_n").cast("double")
    gain = F.col("cum_pos").cast("double") / F.col("t_pos").cast("double")
    return cum.select(
        "bin",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.when(F.col("t_n") > 0, sround(pop_share, 9)).alias("pop_share"),
        F.when(F.col("t_pos") > 0, sround(gain, 9)).alias("gain"),
        F.when(
            (F.col("t_pos") > 0) & (F.col("cum_n") > 0),
            sround(gain / pop_share, 9),
        ).alias("lift"),
    ).orderBy(F.col("bin").desc())


ORACLE_LIFT_CURVE = f"""
WITH s AS ({_SCORED_SQL}),
counts AS (
  SELECT LEAST(CAST(floor(score * {CAL_BINS}) AS BIGINT),
               {CAL_BINS - 1}) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM s GROUP BY 1
), filled AS (
  SELECT g.bin, CAST(COALESCE(n, 0) AS BIGINT) AS n,
         CAST(COALESCE(n_pos, 0) AS BIGINT) AS n_pos
  FROM (SELECT CAST(j AS BIGINT) AS bin
        FROM generate_series(0, {CAL_BINS - 1}) t(j)) g
  LEFT JOIN counts ON counts.bin = g.bin
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS t_n,
         CAST(SUM(n_pos) AS BIGINT) AS t_pos
  FROM filled
), cum AS (
  SELECT bin, n, n_pos,
         CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos
  FROM filled
  WINDOW w AS (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT bin, n, n_pos, cum_n, cum_pos,
       CASE WHEN t_n > 0 THEN {sround_sql(
           "CAST(cum_n AS DOUBLE) / CAST(t_n AS DOUBLE)", 9)}
       END AS pop_share,
       CASE WHEN t_pos > 0 THEN {sround_sql(
           "CAST(cum_pos AS DOUBLE) / CAST(t_pos AS DOUBLE)", 9)}
       END AS gain,
       CASE WHEN t_pos > 0 AND cum_n > 0 THEN {sround_sql(
           "(CAST(cum_pos AS DOUBLE) / CAST(t_pos AS DOUBLE))"
           " / (CAST(cum_n AS DOUBLE) / CAST(t_n AS DOUBLE))", 9)}
       END AS lift
FROM cum CROSS JOIN tot
ORDER BY bin DESC
"""


QUERIES["q_lift_curve"] = q_lift_curve
ORACLES["q_lift_curve"] = ORACLE_LIFT_CURVE


# --------------------------------------------------------------------------
# round-10 additions: Matthews correlation + decision-stump split gain

def q_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the threshold-0.5 classifier
    (pred = score >= 0.5 vs pos = odd label) — the single-scalar
    binary-eval summary that, unlike accuracy/F1, stays honest under
    class imbalance. The four confusion cells are exact integer counts
    from one combinable aggregation; MCC = (TP·TN − FP·FN)/√((TP+FP)
    (TP+FN)(TN+FP)(TN+FN)) is one identical IEEE tree (products in
    double — both engines compute the same doubles), NULL when any
    marginal is empty. One row out, no window, no join.
    """
    s = _scored(spark, sf_dir)
    pred = F.col("score") >= 0.5
    cells = s.agg(
        F.sum(F.when(pred & F.col("pos"), 1).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when(pred & ~F.col("pos"), 1).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when((~pred) & F.col("pos"), 1).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when((~pred) & ~F.col("pos"), 1).otherwise(0))
        .cast("bigint").alias("tn"),
    )
    tpd, fpd = F.col("tp").cast("double"), F.col("fp").cast("double")
    fnd, tnd = F.col("fn").cast("double"), F.col("tn").cast("double")
    den = (tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd)
    return cells.select(
        "tp", "fp", "fn", "tn",
        F.when(den > 0.0,
               sround((tpd * tnd - fpd * fnd) / F.sqrt(den), 9))
        .alias("mcc"),
    )


ORACLE_MCC = f"""
WITH s AS ({_SCORED_SQL}),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN score >= 0.5 AND pos THEN 1 ELSE 0 END)
         AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN score >= 0.5 AND NOT pos THEN 1 ELSE 0 END)
         AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN score < 0.5 AND pos THEN 1 ELSE 0 END)
         AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN score < 0.5 AND NOT pos THEN 1 ELSE 0 END)
         AS BIGINT) AS tn
  FROM s
)
SELECT tp, fp, fn, tn,
  CASE WHEN (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
            * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
            * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
            * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)) > 0.0
  THEN {sround_sql(
      "(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)"
      " - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))"
      " / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))"
      " * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))"
      " * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))"
      " * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)))", 9)}
  END AS mcc
FROM cells
"""

QUERIES["q_mcc"] = q_mcc
ORACLES["q_mcc"] = ORACLE_MCC


SPLIT_BINS = 100  # decision-stump threshold resolution on score


def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search: the score threshold with maximum
    binary information gain for the odd-label class — the
    feature-usefulness probe ("is this score worth a tree split?")
    next to q_woe_iv's monotone-binning IV.

    Class counts reduce to the FIXED 100-bin score histogram; the
    left/right partition at every threshold comes from one cumulative
    window over that spine; per-threshold gain H(parent) − Σ w·H(side)
    is quantized (sround 9, so the argmax compares exact decimals) and
    degenerate splits (empty side) are NULL. The winner is the
    smallest bin among gain ties (ORDER BY bin LIMIT 1 on the ≤100-row
    tie set). One row out; empty input yields zero rows (max gain NULL
    matches nothing under strict equality on both engines).
    """
    s = _scored(spark, sf_dir)
    b = F.least(
        F.floor(F.col("score") * SPLIT_BINS), F.lit(SPLIT_BINS - 1)
    ).cast("bigint")
    counts = s.groupBy(b.alias("bin")).agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint")
        .alias("n_neg"),
    )
    spine = spark.range(0, SPLIT_BINS).select(F.col("id").alias("bin"))
    filled = spine.join(F.broadcast(counts), "bin", "left").select(
        "bin",
        F.coalesce("n_pos", F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce("n_neg", F.lit(0)).cast("bigint").alias("n_neg"),
    )
    tot = filled.agg(
        F.sum("n_pos").cast("bigint").alias("t_pos"),
        F.sum("n_neg").cast("bigint").alias("t_neg"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = filled.crossJoin(F.broadcast(tot)).select(
        "bin", "t_pos", "t_neg",
        F.sum("n_pos").over(w).cast("bigint").alias("lp"),
        F.sum("n_neg").over(w).cast("bigint").alias("ln_"),
    )

    def _h(p):
        return F.when(
            (p > 0.0) & (p < 1.0),
            -(p * F.log(p) + (F.lit(1.0) - p) * F.log(F.lit(1.0) - p)),
        ).otherwise(0.0)

    n_l = (F.col("lp") + F.col("ln_")).cast("double")
    n_r = ((F.col("t_pos") - F.col("lp"))
           + (F.col("t_neg") - F.col("ln_"))).cast("double")
    n_t = (F.col("t_pos") + F.col("t_neg")).cast("double")
    p_par = F.col("t_pos").cast("double") / n_t
    p_l = F.col("lp").cast("double") / n_l
    p_r = (F.col("t_pos") - F.col("lp")).cast("double") / n_r
    gain = _h(p_par) - (n_l / n_t) * _h(p_l) - (n_r / n_t) * _h(p_r)
    gains = cum.select(
        "bin",
        (F.col("lp") + F.col("ln_")).cast("bigint").alias("n_left"),
        ((F.col("t_pos") - F.col("lp"))
         + (F.col("t_neg") - F.col("ln_"))).cast("bigint")
        .alias("n_right"),
        F.when((n_l > 0.0) & (n_r > 0.0), sround(gain, 9)).alias("gain"),
    )
    best = gains.agg(F.max("gain").alias("g"))
    return (
        gains.crossJoin(F.broadcast(best))
        .filter(F.col("gain") == F.col("g"))
        .select(
            F.col("bin").alias("split_bin"),
            sround((F.col("bin") + 1).cast("double")
                   / float(SPLIT_BINS), 9).alias("threshold"),
            "gain", "n_left", "n_right",
        )
        .orderBy("split_bin")
        .limit(1)
    )


_HP = ("CASE WHEN {p} > 0.0 AND {p} < 1.0 THEN -(({p}) * ln({p})"
       " + (1.0 - ({p})) * ln(1.0 - ({p}))) ELSE 0.0 END")
_PPAR = "(CAST(t_pos AS DOUBLE) / CAST(t_pos + t_neg AS DOUBLE))"
_PL = "(CAST(lp AS DOUBLE) / CAST(lp + ln_ AS DOUBLE))"
_PR = ("(CAST(t_pos - lp AS DOUBLE)"
       " / CAST((t_pos - lp) + (t_neg - ln_) AS DOUBLE))")
_GAIN = (
    _HP.format(p=_PPAR)
    + " - (CAST(lp + ln_ AS DOUBLE) / CAST(t_pos + t_neg AS DOUBLE)) * "
    + _HP.format(p=_PL)
    + " - (CAST((t_pos - lp) + (t_neg - ln_) AS DOUBLE)"
    " / CAST(t_pos + t_neg AS DOUBLE)) * "
    + _HP.format(p=_PR)
)

ORACLE_BEST_SPLIT = f"""
WITH s AS ({_SCORED_SQL}),
counts AS (
  SELECT LEAST(CAST(floor(score * {SPLIT_BINS}) AS BIGINT),
               {SPLIT_BINS - 1}) AS bin,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM s GROUP BY 1
), filled AS (
  SELECT g.bin, CAST(COALESCE(n_pos, 0) AS BIGINT) AS n_pos,
         CAST(COALESCE(n_neg, 0) AS BIGINT) AS n_neg
  FROM (SELECT CAST(j AS BIGINT) AS bin
        FROM generate_series(0, {SPLIT_BINS - 1}) t(j)) g
  LEFT JOIN counts ON counts.bin = g.bin
), tot AS (
  SELECT CAST(SUM(n_pos) AS BIGINT) AS t_pos,
         CAST(SUM(n_neg) AS BIGINT) AS t_neg
  FROM filled
), cum AS (
  SELECT bin, t_pos, t_neg,
         CAST(SUM(n_pos) OVER w AS BIGINT) AS lp,
         CAST(SUM(n_neg) OVER w AS BIGINT) AS ln_
  FROM filled CROSS JOIN tot
  WINDOW w AS (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), gains AS (
  SELECT bin, CAST(lp + ln_ AS BIGINT) AS n_left,
         CAST((t_pos - lp) + (t_neg - ln_) AS BIGINT) AS n_right,
         CASE WHEN CAST(lp + ln_ AS DOUBLE) > 0.0
               AND CAST((t_pos - lp) + (t_neg - ln_) AS DOUBLE) > 0.0
         THEN {sround_sql(_GAIN, 9)} END AS gain
  FROM cum
), best AS (SELECT MAX(gain) AS g FROM gains)
SELECT bin AS split_bin,
       {sround_sql(f"CAST(bin + 1 AS DOUBLE) / {float(SPLIT_BINS)}", 9)}
         AS threshold,
       gain, n_left, n_right
FROM gains CROSS JOIN best
WHERE gain = g
ORDER BY split_bin
LIMIT 1
"""

QUERIES["q_best_split"] = q_best_split
ORACLES["q_best_split"] = ORACLE_BEST_SPLIT
