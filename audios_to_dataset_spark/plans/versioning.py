"""Dataset versioning plans: upsert merge and snapshot diff.

A curated training dataset is rebuilt incrementally: new shards arrive,
records get corrected, and each release must be diffable against the
last. Two primitives cover it, both pure DataFrame ops:

- ``q_upsert_latest``: latest-wins merge of a base table with an
  updates stream — unionByName + one window dedup on the key, ordered
  by version. One shuffle on the key; no driver state.
- ``q_snapshot_diff``: full-outer join of two snapshots on the key,
  classifying added / removed / changed / unchanged via content
  fingerprints — the release-audit report.

The reference's nearest notion is its first-wins metadata dedup
(/root/reference/src/main.rs:178-193); these are the engine-capability
generalizations (latest-wins + diff) a live corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._oracle_sql import bands, minhash_agree, shingles, signature, tokens
from ._util import dsum, sround

# Synthetic-but-deterministic update set: every 7th order gets a
# "correction" bumping its price by 10% and advancing its version.
UPD_MOD = 7


def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins upsert: base orders (version 0) merged with the
    correction batch (version 1); for each key keep the highest
    (version, then price as tie-break) row. The window dedup is the
    distributed MERGE INTO equivalent — one hash shuffle on the key."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("version"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % UPD_MOD == 0)
        .select(
            F.col("o_orderkey").cast("bigint").alias("k"),
            (F.col("o_totalprice") * 1.1).alias("price"),
            F.lit(1).alias("version"),
        )
    )
    merged = base.unionByName(updates)
    w = Window.partitionBy("k").orderBy(
        F.col("version").desc(), F.col("price").desc()
    )
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "price", F.col("version").cast("int").alias("version"))
    )


ORACLE_UPSERT_LATEST = f"""
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price,
         0 AS version
  FROM orders
), upd AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice * 1.1 AS price,
         1 AS version
  FROM orders WHERE o_orderkey % {UPD_MOD} = 0
), u AS (
  SELECT * FROM base UNION ALL SELECT * FROM upd
), r AS (
  SELECT k, price, version,
         row_number() OVER (PARTITION BY k
                            ORDER BY version DESC, price DESC) AS rn
  FROM u
)
SELECT k, price, CAST(version AS INT) AS version FROM r WHERE rn = 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release audit: diff snapshot A (all orders) against snapshot B
    (orders with the same correction applied and low-priority rows
    dropped), reporting added/removed/changed/unchanged per key via an
    md5 fingerprint of the content columns."""
    o = load(spark, sf_dir, "orders")

    def fp(price, status):
        # canonicalize the price as integer ten-thousandths — identical
        # string in every engine (float formatting is not portable)
        return F.md5(
            F.concat_ws(
                "|", F.round(price * 10000).cast("bigint").cast("string"),
                status,
            )
        )

    a = o.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        fp(F.col("o_totalprice"), F.col("o_orderstatus")).alias("fp_a"),
    )
    b_src = o.filter(F.col("o_orderpriority") != "5-LOW")
    b = b_src.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        fp(
            F.when(
                F.col("o_orderkey") % UPD_MOD == 0,
                F.col("o_totalprice") * 1.1,
            ).otherwise(F.col("o_totalprice")),
            F.col("o_orderstatus"),
        ).alias("fp_b"),
    ).unionByName(
        # brand-new records in release B (key space disjoint from A)
        o.filter(F.col("o_orderkey") % 13 == 0).select(
            (F.col("o_orderkey").cast("bigint") + 100_000_000).alias("k"),
            fp(F.col("o_totalprice"), F.lit("NEW")).alias("fp_b"),
        )
    )
    j = a.join(b, "k", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") == F.col("fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# concat_ws on BOTH sides: Spark's concat_ws SKIPS NULL parts, and a
# plain || chain would NULL the whole fingerprint and misclassify the
# row as added/removed (--nulls sweep)
ORACLE_SNAPSHOT_DIFF = f"""
WITH a AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         md5(concat_ws('|',
             CAST(CAST(round(o_totalprice * 10000) AS BIGINT) AS VARCHAR),
             o_orderstatus)) AS fp_a
  FROM orders
), b AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         md5(concat_ws('|',
             CAST(CAST(round(
                    (CASE WHEN o_orderkey % {UPD_MOD} = 0
                          THEN o_totalprice * 1.1
                          ELSE o_totalprice END) * 10000) AS BIGINT)
                  AS VARCHAR), o_orderstatus)) AS fp_b
  FROM orders WHERE o_orderpriority <> '5-LOW'
  UNION ALL
  SELECT CAST(o_orderkey AS BIGINT) + 100000000 AS k,
         md5(concat_ws('|',
             CAST(CAST(round(o_totalprice * 10000) AS BIGINT) AS VARCHAR),
             'NEW')) AS fp_b
  FROM orders WHERE o_orderkey % 13 = 0
)
SELECT CASE WHEN fp_a IS NULL THEN 'added'
            WHEN fp_b IS NULL THEN 'removed'
            WHEN fp_a = fp_b THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n
FROM a FULL OUTER JOIN b USING (k)
GROUP BY 1
"""


def q_version_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-retention GC report: three stacked versions per modified
    key (base, +10%, +20%); policy keeps the newest 2 per key; report
    rows and price-weight per (version, kept/evicted) class — both
    what GC reclaims and what survives. The rank windows partition by key —
    the MERGE/VACUUM planning shape, one shuffle."""
    o = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("bigint").alias("k")
    versions = None
    for v, mult in ((0, 1.0), (1, 1.1), (2, 1.2)):
        part = o.filter(
            (F.lit(v) == 0) | (F.col("o_orderkey") % UPD_MOD == 0)
        ).select(
            k, (F.col("o_totalprice") * mult).alias("price"),
            F.lit(v).cast("bigint").alias("version"),
        )
        versions = part if versions is None else versions.unionByName(part)
    w = Window.partitionBy("k").orderBy(F.col("version").desc())
    ranked = versions.withColumn("vr", F.row_number().over(w))
    return (
        ranked.groupBy(
            "version", (F.col("vr") <= 2).alias("kept")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("price").cast("decimal(28,6)"))
            .cast("double")
            .alias("price_weight"),
        )
        .orderBy("version", "kept")
    )


ORACLE_VERSION_RETENTION = f"""
WITH versions AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice * 1.0 AS price,
         CAST(0 AS BIGINT) AS version FROM orders
  UNION ALL
  SELECT CAST(o_orderkey AS BIGINT), o_totalprice * 1.1,
         CAST(1 AS BIGINT) FROM orders WHERE o_orderkey % {{m}} = 0
  UNION ALL
  SELECT CAST(o_orderkey AS BIGINT), o_totalprice * 1.2,
         CAST(2 AS BIGINT) FROM orders WHERE o_orderkey % {{m}} = 0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY version DESC)
         AS vr
  FROM versions)
SELECT version, (vr <= 2) AS kept, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DOUBLE)
         AS price_weight
FROM ranked
GROUP BY version, kept ORDER BY version, kept
""".format(m=UPD_MOD)


NOVELTY_SPLIT = 250


def q_ingest_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest novelty: for every document in the NEW batch
    (doc_id >= 250), did yesterday's corpus (doc_id < 250) already
    near-contain it? Cross-set MinHash-LSH banding (the q_contamination
    discipline — one shuffle per side, never N×M), then the per-doc
    DECISION: has_prior_dup flag and the best signature-agreement
    estimate among prior-corpus candidates (-1.0 when novel). This is
    the nightly dedup gate of a continuously-crawled corpus: the prior
    side's signatures are precomputed once per release; each new batch
    pays only its own signature pass plus the band equi-join."""
    from .dedup import NUM_HASHES
    from ..operators import dedup as D

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < NOVELTY_SPLIT)
    batch = d.filter(F.col("doc_id") >= NOVELTY_SPLIT)
    sa = D.minhash_signatures(corpus)
    sb = D.minhash_signatures(batch)
    est = F.col("agree").cast("double") / float(NUM_HASHES)
    best = (
        D.minhash_agreement(D.cross_lsh_candidates(sa, sb), sa, sb)
        .groupBy(F.col("doc_b").alias("id_b"))
        .agg(F.max(est).alias("best_est"))
    )
    return (
        batch.select("doc_id")
        .join(best, batch.doc_id == best.id_b, "left")
        .select(
            "doc_id",
            F.when(F.col("id_b").isNull(), 0).otherwise(1).alias(
                "has_prior_dup"
            ),
            F.coalesce("best_est", F.lit(-1.0)).alias("best_est"),
        )
    )


def _oracle_ingest_novelty() -> str:
    from .dedup import NGRAM_N, NUM_HASHES

    return f"""
WITH toksA AS (
  {tokens(f"documents WHERE doc_id < {NOVELTY_SPLIT}")}
), toksB AS (
  {tokens(f"documents WHERE doc_id >= {NOVELTY_SPLIT}")}
), shA AS (
  {shingles("toksA", NGRAM_N)}
), shB AS (
  {shingles("toksB", NGRAM_N)}
), sigA AS (
  {signature("shA")}
), sigB AS (
  {signature("shB")}
), bandsA AS (
{bands("sigA")}
), bandsB AS (
{bands("sigB")}
), cand AS (
  SELECT DISTINCT ba.doc_id AS id_a, bb.doc_id AS id_b
  FROM bandsA ba
  JOIN bandsB bb ON ba.band = bb.band AND ba.band_key = bb.band_key
), best AS (
  SELECT id_b, MAX(CAST(({minhash_agree("a", "b")}) AS DOUBLE)
                   / {float(NUM_HASHES)!r})
           AS best_est
  FROM cand
  JOIN sigA a ON a.doc_id = cand.id_a
  JOIN sigB b ON b.doc_id = cand.id_b
  GROUP BY id_b
)
SELECT d.doc_id,
       CASE WHEN best.id_b IS NULL THEN 0 ELSE 1 END AS has_prior_dup,
       COALESCE(best.best_est, -1.0) AS best_est
FROM documents d LEFT JOIN best ON best.id_b = d.doc_id
WHERE d.doc_id >= {NOVELTY_SPLIT}
"""


CDC_INSERT_OFFSET = 10_000_000


def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply — the third versioning primitive next to
    latest-wins upsert and snapshot diff: a change batch with explicit
    op codes (I = insert, U = update, D = delete tombstone) applied to
    a base snapshot in ONE full-outer join, the lakehouse MERGE
    statement expressed as a plan (Delta/Iceberg MERGE INTO semantics:
    matched+U → new values, matched+D → drop, unmatched-by-base I/U →
    insert, unmatched-by-batch → carry base row). Deterministic
    synthetic batch derived from the orders table (op by key residue;
    inserts shifted past the key space); price updates add an exact
    power-free constant (+10.0 is exact in binary double at these
    magnitudes, so both engines agree bit-for-bit).

    100 TB shape: one shuffle on the merge key for the full-outer join
    (or a broadcast when the change batch is small — AQE decides);
    keyless rows can't merge and are dropped identically on both
    sides."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
    )
    base = o.filter(F.pmod("k", F.lit(4)) != 0)
    op = (
        F.when(F.pmod("k", F.lit(9)) < 3, "U")
        .when(F.pmod("k", F.lit(9)) < 6, "D")
        .otherwise("I")
    )
    batch = (
        o.filter(F.pmod("k", F.lit(3)) == 0)
        .select("k", "status", "price", op.alias("op"))
        .select(
            F.when(F.col("op") == "I", F.col("k") + CDC_INSERT_OFFSET)
            .otherwise(F.col("k"))
            .alias("k"),
            F.col("status").alias("b_status"),
            (F.col("price") + 10.0).alias("b_price"),
            "op",
        )
    )
    m = base.join(batch, "k", "full_outer")
    return (
        m.filter((F.col("op").isNull()) | (F.col("op") != "D"))
        .select(
            F.col("k").alias("orderkey"),
            F.coalesce(
                F.when(F.col("op").isin("U", "I"), F.col("b_status")),
                F.col("status"),
            ).alias("status"),
            F.coalesce(
                F.when(F.col("op").isin("U", "I"), F.col("b_price")),
                F.col("price"),
            ).alias("price"),
        )
    )


ORACLE_CDC_MERGE = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         o_totalprice AS price
  FROM orders WHERE o_orderkey IS NOT NULL
), base AS (
  SELECT * FROM o WHERE k % 4 <> 0
), batch AS (
  SELECT CASE WHEN op = 'I' THEN k + {CDC_INSERT_OFFSET} ELSE k END
           AS k,
         status AS b_status, price + 10.0 AS b_price, op
  FROM (
    SELECT k, status, price,
           CASE WHEN k % 9 < 3 THEN 'U'
                WHEN k % 9 < 6 THEN 'D'
                ELSE 'I' END AS op
    FROM o WHERE k % 3 = 0) t
), m AS (
  SELECT COALESCE(base.k, batch.k) AS k, base.status, base.price,
         batch.b_status, batch.b_price, batch.op
  FROM base FULL OUTER JOIN batch ON base.k = batch.k
)
SELECT k AS orderkey,
       COALESCE(CASE WHEN op IN ('U', 'I') THEN b_status END, status)
         AS status,
       COALESCE(CASE WHEN op IN ('U', 'I') THEN b_price END, price)
         AS price
FROM m WHERE op IS NULL OR op <> 'D'
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance — the materialized-view
    counterpart of q_cdc_merge: a per-customer (count, revenue) view is
    maintained by applying only the CHANGE BATCH's delta (I: +1/+price;
    U: count unchanged, revenue + the exact +10.0 correction; D:
    -1/-old price) onto the base view, never rescanning the base fact
    table. The oracle recomputes the view DIRECTLY from the merged
    snapshot, so the check proves delta-path == full-recompute — the
    invariant every incremental pipeline must hold. Decimal sums make
    both paths order-insensitive and exact; groups whose count reaches
    0 drop out of the view on both, and a group whose surviving orders
    are all NULL-priced reports revenue 0 (the additive identity the
    delta path keeps it at; the oracle COALESCEs its SUM to match).

    100 TB shape: the delta aggregation touches only the batch (one
    groupBy on the view key), and the merge is one full-outer join on
    that key — view maintenance cost is O(batch), not O(base)."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderkey").isNotNull()
            & F.col("o_custkey").isNotNull()
        )
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").cast("bigint").alias("cust"),
            F.col("o_totalprice").alias("price"),
        )
    )
    base = o.filter(F.pmod("k", F.lit(4)) != 0)
    base_view = base.groupBy("cust").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(F.col("price")).alias("rev")
    )
    op = (
        F.when(F.pmod("k", F.lit(9)) < 3, "U")
        .when(F.pmod("k", F.lit(9)) < 6, "D")
        .otherwise("I")
    )
    batch = o.filter(F.pmod("k", F.lit(3)) == 0).select(
        "k", "cust", "price", op.alias("op")
    )
    # Per-row delta. U and D rows in the batch only act when the key
    # exists in the base (k % 4 != 0) — same matched-row semantics as
    # q_cdc_merge's full-outer; an unmatched U inserts (its delta is
    # the full new row), an unmatched D is a no-op.
    in_base = F.pmod("k", F.lit(4)) != 0
    d_cnt = (
        F.when(F.col("op") == "I", 1)
        .when((F.col("op") == "D") & in_base, -1)
        .when((F.col("op") == "U") & ~in_base, 1)
        .otherwise(0)
    )
    d_rev = (
        F.when(F.col("op") == "I", F.col("price") + 10.0)
        .when((F.col("op") == "D") & in_base, -F.col("price"))
        # a NULL old price contributes nothing to either view, so the
        # matched-update delta is +10.0 only when the price is real
        # (new - old = NULL - NULL = no change otherwise; --nulls sweep)
        .when(
            (F.col("op") == "U") & in_base & F.col("price").isNotNull(),
            F.lit(10.0),
        )
        .when((F.col("op") == "U") & ~in_base, F.col("price") + 10.0)
        .otherwise(F.lit(0.0))
    )
    delta = batch.groupBy("cust").agg(
        F.sum(d_cnt).alias("d_cnt"), dsum(d_rev).alias("d_rev")
    )
    merged = base_view.join(delta, "cust", "full_outer").select(
        "cust",
        (F.coalesce("cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        sround(
            F.coalesce("rev", F.lit(0.0))
            + F.coalesce("d_rev", F.lit(0.0)),
            2,
        ).alias("revenue"),
    )
    return merged.filter(F.col("n_orders") > 0).select(
        F.col("cust").alias("custkey"), "n_orders", "revenue"
    )


def _oracle_incremental_agg() -> str:
    """Direct recompute over the merged snapshot — deliberately NOT the
    delta path, so the differential check proves the two agree."""
    from ._util import dsum_sql, sround_sql

    return f"""
WITH o AS (
  SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS cust,
         o_totalprice AS price
  FROM orders
  WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
), base AS (
  SELECT * FROM o WHERE k % 4 <> 0
), batch AS (
  SELECT CASE WHEN op = 'I' THEN k + {CDC_INSERT_OFFSET} ELSE k END AS k,
         cust, price + 10.0 AS b_price, op
  FROM (
    SELECT k, cust, price,
           CASE WHEN k % 9 < 3 THEN 'U'
                WHEN k % 9 < 6 THEN 'D'
                ELSE 'I' END AS op
    FROM o WHERE k % 3 = 0) t
), m AS (
  SELECT COALESCE(base.k, batch.k) AS k,
         COALESCE(CASE WHEN op IN ('U', 'I') THEN batch.cust END,
                  base.cust) AS cust,
         COALESCE(CASE WHEN op IN ('U', 'I') THEN b_price END,
                  base.price) AS price,
         op
  FROM base FULL OUTER JOIN batch ON base.k = batch.k
), snap AS (
  SELECT * FROM m WHERE op IS NULL OR op <> 'D'
)
SELECT cust AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sround_sql(f"COALESCE({dsum_sql('price')}, 0.0)", 2)} AS revenue
FROM snap GROUP BY cust
"""


QUERIES = {
    "q_incremental_agg": q_incremental_agg,
    "q_cdc_merge": q_cdc_merge,
    "q_upsert_latest": q_upsert_latest,
    "q_snapshot_diff": q_snapshot_diff,
    "q_version_retention": q_version_retention,
    "q_ingest_novelty": q_ingest_novelty,
}

ORACLES = {
    "q_cdc_merge": ORACLE_CDC_MERGE,
    "q_incremental_agg": _oracle_incremental_agg(),
    "q_upsert_latest": ORACLE_UPSERT_LATEST,
    "q_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "q_version_retention": ORACLE_VERSION_RETENTION,
    "q_ingest_novelty": _oracle_ingest_novelty(),
}
