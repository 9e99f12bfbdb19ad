"""The curation pipeline as ONE oracle-checked query: per-stage corpus
counts through exact dedup → near dedup → quality gate → source cap —
the funnel report every data-curation run publishes, and the end-to-end
differential check of `curate.py`'s plan composition (the CLI's e2e
test checks behavior; this checks VALUES against a DuckDB replay of
all four stages chained)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..curate import (
    exact_dedup,
    near_dedup,
    quality_gate,
    source_cap,
)
from ._oracle_sql import minhash_agree
from ._util import sround, sround_sql
from .dedup import MINHASH_CTES, NUM_HASHES

EST_THRESHOLD = 0.5
CAP = 10


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts of the full curation pass
    (curate.py stages, parameters pinned: MinHash agreement ≥ 0.5
    drops the younger doc; top-half quality per lang; cap 10/source).
    The pipeline's output is a set of doc ids and every stage
    fingerprints text, so id-less and text-less docs are dropped at
    intake on both sides (--nulls sweep: a NULL id would win
    first-wins windows in Spark but never match the oracle's min-id
    join, and sha256(NULL) groups in Spark but never equi-joins in
    SQL)."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    stages = [("0_input", docs)]
    d1 = exact_dedup(docs)
    stages.append(("1_exact_dedup", d1))
    d2 = near_dedup(d1, EST_THRESHOLD)
    stages.append(("2_near_dedup", d2))
    d3 = quality_gate(d2)
    stages.append(("3_quality_gate", d3))
    d4 = source_cap(d3, CAP)
    stages.append(("4_source_cap", d4))
    out = None
    for name, df in stages:
        c = df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        out = c if out is None else out.unionByName(c)
    return out.orderBy("stage")


def _oracle_curation_funnel() -> str:
    # near-dedup survivor rule replayed on the minhash signature CTEs:
    # doc_b (the younger of a candidate pair) drops when >= half the
    # signature components agree with its lower-id partner.
    need = int(EST_THRESHOLD * NUM_HASHES)
    return f"""
WITH {MINHASH_CTES}, d1 AS (
  SELECT d.* FROM (SELECT * FROM documents
                   WHERE doc_id IS NOT NULL AND text IS NOT NULL) d
  JOIN (SELECT sha256(text) AS h, MIN(doc_id) AS keep
        FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        GROUP BY sha256(text)) k
    ON sha256(d.text) = k.h AND d.doc_id = k.keep
), drops AS (
  SELECT DISTINCT cand.doc_b AS doc_id
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b
  WHERE ({minhash_agree("sa", "sb")}) >= {need}
), d2 AS (
  SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM drops)
), scored AS (
  SELECT *,
         CAST(len(list_distinct(list_filter(
                string_split(lower(text), ' '), t -> t <> ''))) AS DOUBLE)
           / CAST(greatest(len(list_filter(
                string_split(lower(text), ' '), t -> t <> '')), 1)
                  AS DOUBLE) AS _q
  FROM d2
), gated AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY lang
                ORDER BY _q DESC, doc_id) AS _rk,
              COUNT(*) OVER (PARTITION BY lang) AS _n
    FROM scored) x
  WHERE _rk * 2 <= _n
), d4 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS _crn
    FROM gated) y
  WHERE _crn <= {CAP}
)
SELECT stage, n_docs FROM (
  SELECT '0_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
  UNION ALL
  SELECT '1_exact_dedup', CAST(COUNT(*) AS BIGINT) FROM d1
  UNION ALL
  SELECT '2_near_dedup', CAST(COUNT(*) AS BIGINT) FROM d2
  UNION ALL
  SELECT '3_quality_gate', CAST(COUNT(*) AS BIGINT) FROM gated
  UNION ALL
  SELECT '4_source_cap', CAST(COUNT(*) AS BIGINT) FROM d4
) s ORDER BY stage
"""


SHUFFLE_SHARDS = 16


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle: every document gets a
    (shard, pos) address from an md5 of its id — the corpus-wide
    pseudo-random permutation a training run then reads sequentially.
    ``shard = hash % k`` routes rows; ``pos`` is a row_number within the
    shard ordered by (hash, doc_id), so the epoch order is fixed across
    runs, engines, and input partitionings — no RNG anywhere.

    Scale (100 TB): this IS the shuffle-write shape — one hash-partition
    exchange on the shard key plus a per-shard sort of corpus/k rows;
    the window is PARTITIONED BY shard, never global, and k scales with
    the cluster (k ≈ corpus_bytes / target_shard_bytes). Contrast
    q_window_bucket, whose total order is reference-mandated."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    hv = F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select(
            "doc_id",
            h.alias("h"),
            F.pmod(hv, F.lit(SHUFFLE_SHARDS)).cast("int").alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


def _oracle_global_shuffle() -> str:
    h = "md5('shuf:' || CAST(doc_id AS VARCHAR))"
    hv = f"(('0x' || substr({h}, 1, 15))::BIGINT)"
    return f"""
WITH a AS (
  SELECT doc_id, {h} AS h,
         CAST({hv} % {SHUFFLE_SHARDS} AS INT) AS shard
  FROM documents)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM a
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary table a curation run
    publishes alongside the shards: doc/char/word-token counts, exact
    duplicate rate (md5 text identity), and the majority language with
    its share. One groupBy per statistic family over the same scan;
    exact integer arithmetic until the two final ratio divisions.

    100 TB shape: two map-side-combinable aggregations keyed on the
    (low-cardinality) source — the distinct-text count shuffles md5
    digests, never text payloads — plus a per-source top-1 window over
    the tiny (source, lang) rollup."""
    from pyspark.sql import Window

    from .textops import WORD_RE

    d = load(spark, sf_dir, "documents")
    base = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text").cast("long")).alias("n_chars"),
        F.sum(
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0)
            ).cast("long")
        ).alias("n_word_tokens"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )
    lang_counts = d.groupBy("source", "lang").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("source").orderBy(F.col("n").desc(), "lang")
    top = (
        lang_counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("n").alias("n_top_lang"),
        )
    )
    return base.join(top, "source").select(
        "source",
        "n_docs",
        "n_chars",
        "n_word_tokens",
        (
            (F.col("n_docs") - F.col("n_distinct")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
        "top_lang",
        (
            F.col("n_top_lang").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("top_lang_share"),
    )


def _oracle_dataset_card() -> str:
    from .textops import WORD_RE

    return f"""
WITH base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         CAST(SUM(len(regexp_extract_all(lower(text), '{WORD_RE}')))
              AS BIGINT) AS n_word_tokens,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
  FROM documents GROUP BY source
), lc AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
), top AS (
  SELECT source, lang AS top_lang, n AS n_top_lang FROM (
    SELECT source, lang, n,
           row_number() OVER (PARTITION BY source
                              ORDER BY n DESC, lang) AS rn
    FROM lc) t WHERE rn = 1
)
SELECT source, n_docs, n_chars, n_word_tokens,
       CAST(n_docs - n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS dup_rate,
       top_lang,
       CAST(n_top_lang AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS top_lang_share
FROM base JOIN top USING (source)
"""


K_ANON = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit — the re-identification screen run
    before releasing a dataset: treat (lang, source, 100-char length
    band) as the quasi-identifier; any row whose QI group has fewer
    than k=5 members is re-identifiable-risky. Reports, per source,
    group count, the smallest group, and the share of rows at risk.
    Exact integers until the final ratio.

    100 TB shape: two map-side-combinable groupBys, the second over the
    tiny QI-group table."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("bigint").alias("band"),
    ).agg(F.count("*").alias("n"))
    risky = F.sum(
        F.when(F.col("n") < K_ANON, F.col("n")).otherwise(F.lit(0))
    )
    return g.groupBy("source").agg(
        F.count("*").alias("n_groups"),
        F.sum("n").alias("n_rows"),
        F.min("n").alias("min_group_size"),
        risky.alias("n_risky_rows"),
        (risky.cast("double") / F.sum("n").cast("double")).alias(
            "risk_rate"
        ),
    )


ORACLE_K_ANONYMITY = f"""
WITH g AS (
  SELECT lang, source,
         CAST(floor(n_chars / 100.0) AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2, 3
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       CAST(SUM(CASE WHEN n < {K_ANON} THEN n ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n) AS DOUBLE) AS risk_rate
FROM g GROUP BY source
"""


L_DIVERSITY = 2


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's companion (Machanavajjhala et
    al. 2007): a QI group can be large yet still leak the SENSITIVE
    attribute if every member shares it. QI = (source, 100-char length
    band), sensitive = lang; a group with fewer than l=2 distinct
    languages discloses its members' language outright. Reports, per
    source, the low-diversity group count and the share of rows at
    risk. Exact integers until the final ratio.

    100 TB shape: one (QI, sensitive) distinct-count groupBy, then a
    rollup over the tiny group table."""
    d = load(spark, sf_dir, "documents")
    g = d.groupBy(
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("bigint").alias("band"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("lang").alias("n_langs"),
    )
    risky_rows = F.sum(
        F.when(F.col("n_langs") < L_DIVERSITY, F.col("n")).otherwise(
            F.lit(0)
        )
    )
    return g.groupBy("source").agg(
        F.count("*").alias("n_groups"),
        F.sum("n").alias("n_rows"),
        F.sum(
            F.when(F.col("n_langs") < L_DIVERSITY, 1).otherwise(0)
        ).alias("n_low_div_groups"),
        risky_rows.alias("n_risky_rows"),
        (risky_rows.cast("double") / F.sum("n").cast("double")).alias(
            "risk_rate"
        ),
    )


ORACLE_L_DIVERSITY = f"""
WITH g AS (
  SELECT source, CAST(floor(n_chars / 100.0) AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents GROUP BY 1, 2
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n_langs < {L_DIVERSITY} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_div_groups,
       CAST(SUM(CASE WHEN n_langs < {L_DIVERSITY} THEN n ELSE 0 END)
            AS BIGINT) AS n_risky_rows,
       CAST(SUM(CASE WHEN n_langs < {L_DIVERSITY} THEN n ELSE 0 END)
            AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS risk_rate
FROM g GROUP BY source
"""


# t-closeness (Li, Li & Venkatasubramanian 2007): a QI group passes
# only if its sensitive-attribute distribution stays within distance t
# of the GLOBAL distribution. Distance = total variation, computed on
# exact integers: TV = sum_l |n_gl*N - N_l*n_g| / (2*n_g*N), with the
# absent-language terms folded in closed form (sum over absent l of
# N_l*n_g = n_g*N - sum over present l of N_l*n_g), so no group x lang
# cartesian is ever built. Threshold t = 0.6 compared integer-exactly:
# TV > 0.6  <=>  5*num_present > n_g*N (after folding).
T_CLOSENESS_NUM = 5  # TV > 0.6 <=> 5*s > n_g*N; see derivation above


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third privacy leg after k-anonymity and
    l-diversity: a big, diverse QI group still leaks when its sensitive
    distribution DIFFERS from the corpus (e.g. one source+length band
    is 90% one language while the corpus is uniform). QI = (source,
    100-char band), sensitive = lang (NULL folded to a sentinel so both
    engines bucket it identically). All counts exact integers; the
    threshold test is integer-only; doubles appear just in the reported
    rounded ratios. BIGINT products stay safe to ~3e9 rows; past that
    swap the two products to DECIMAL(38,0) — noted, not needed here.

    100 TB shape: one (QI, lang) groupBy, two partitioned window sums
    over that small rollup, one broadcast 1-row total — no join on
    nullable keys, no cartesian."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    g3 = d.groupBy(
        "source",
        F.floor(F.col("n_chars") / 100.0).cast("bigint").alias("band"),
        F.coalesce("lang", F.lit("__null__")).alias("lang"),
    ).agg(F.count("*").cast("bigint").alias("n_gl"))
    w_g = Window.partitionBy("source", "band")
    w_l = Window.partitionBy("lang")
    tot = d.agg(F.count("*").cast("bigint").alias("n_tot"))
    t = (
        g3.withColumn("n_g", F.sum("n_gl").over(w_g))
        .withColumn("n_l", F.sum("n_gl").over(w_l))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term",
            F.abs(F.col("n_gl") * F.col("n_tot")
                  - F.col("n_l") * F.col("n_g"))
            - F.col("n_l") * F.col("n_g"),
        )
    )
    grp = t.groupBy("source", "band").agg(
        F.max("n_g").alias("n_g"),
        F.max("n_tot").alias("n_tot"),
        F.sum("term").alias("s"),
    )
    viol = F.col("s") * T_CLOSENESS_NUM > F.col("n_g") * F.col("n_tot")
    tv = (
        (F.col("s") + F.col("n_g") * F.col("n_tot")).cast("double")
        / (2.0 * (F.col("n_g") * F.col("n_tot")).cast("double"))
    )
    return grp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        sround(F.max(tv), 4).alias("max_tv"),
        F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias(
            "n_far_groups"
        ),
        sround(
            F.sum(F.when(viol, F.col("n_g")).otherwise(0)).cast("double")
            / F.sum("n_g").cast("double"),
            4,
        ).alias("risk_rate"),
    )


ORACLE_T_CLOSENESS = f"""
WITH g3 AS (
  SELECT source, CAST(floor(n_chars / 100.0) AS BIGINT) AS band,
         COALESCE(lang, '__null__') AS lang,
         CAST(COUNT(*) AS BIGINT) AS n_gl
  FROM documents GROUP BY 1, 2, 3
), t AS (
  SELECT source, band, n_gl,
         SUM(n_gl) OVER (PARTITION BY source, band) AS n_g,
         SUM(n_gl) OVER (PARTITION BY lang) AS n_l,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_tot
  FROM g3
), grp AS (
  SELECT source, band, MAX(n_g) AS n_g, MAX(n_tot) AS n_tot,
         SUM(abs(n_gl * n_tot - n_l * n_g) - n_l * n_g) AS s
  FROM t GROUP BY source, band
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_groups,
       {sround_sql("MAX(CAST(s + n_g * n_tot AS DOUBLE)"
                   " / (2.0 * CAST(n_g * n_tot AS DOUBLE)))", 4)}
         AS max_tv,
       CAST(SUM(CASE WHEN s * {T_CLOSENESS_NUM} > n_g * n_tot
                THEN 1 ELSE 0 END) AS BIGINT) AS n_far_groups,
       {sround_sql("CAST(SUM(CASE WHEN s * " + str(T_CLOSENESS_NUM)
                   + " > n_g * n_tot THEN n_g ELSE 0 END) AS DOUBLE)"
                   " / CAST(SUM(n_g) AS DOUBLE)", 4)} AS risk_rate
FROM grp GROUP BY source
"""


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster-aware train/val/test assignment — the PREVENTIVE
    twin of q_split_leakage's audit: split membership is decided by an
    md5 bucket of the near-dup CLUSTER id (connected components over
    the n-gram Jaccard pair graph, same fixpoint as q_dedup_clusters),
    so every member of a dup cluster lands in the same split by
    construction and no near-duplicate can straddle train/test. 80/10/10
    by hash bucket — deterministic across runs, engines, partitionings.

    Scale shape: the split decision adds ONE hash projection on top of
    the component labels; the cost is the CC fixpoint the dedup
    pipeline already pays, so cluster-safe splits are free at 100 TB."""
    from .analytics import q_dedup_clusters

    cc = q_dedup_clusters(spark, sf_dir)
    h = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("split:"),
                        F.col("cluster_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(100),
    )
    return cc.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.when(h < 80, "train")
        .when(h < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


def _oracle_split_assign() -> str:
    from .analytics import _dup_cluster_ctes

    return f"""
WITH RECURSIVE {_dup_cluster_ctes()}, hv AS (
  SELECT id, cluster_id,
         ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)),
                         1, 15))::BIGINT % 100 AS h
  FROM cc
)
SELECT id AS doc_id, cluster_id,
       CASE WHEN h < 80 THEN 'train'
            WHEN h < 90 THEN 'val'
            ELSE 'test' END AS split
FROM hv
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the first dedup pass every
    web-crawl training pipeline runs BEFORE any content hashing (the
    same page arrives as http/https, cased hosts, default ports,
    fragments, utm_* tracking params, unsorted query strings, and
    trailing slashes). Five messy variants per logical page are
    synthesized from doc_id; the canonicalizer — entirely JVM-side
    regexp/array expressions, no UDF — must collapse them: lowercase
    scheme+host, strip the scheme's default port, drop the fragment,
    strip utm_* params, byte-sort the surviving params, trim the
    trailing path slash. Output is the per-canonical-URL dup report
    with the min-doc_id keeper (the same first-wins rule as the
    reference's metadata dedup, src/main.rs:618). At 100 TB this is
    one map-side expression + one count groupBy — the cheapest dedup
    stage there is, which is why crawls run it first."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") % 37).cast("string")
    p = (F.col("doc_id") % 11).cast("string")
    v = F.col("doc_id") % 5
    base = F.concat(F.lit("example"), g, F.lit(".com"))
    path = F.concat(F.lit("/path"), p)
    raw = (
        F.when(v == 0, F.concat(F.lit("https://"), base, path))
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://"), F.upper(base), path, F.lit("#frag")
            ),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("https://"), base, F.lit(":443"), path,
                F.lit("?utm_source=x"),
            ),
        )
        .when(
            v == 3,
            F.concat(
                F.lit("https://"), base, path, F.lit("/?b=2&a=1")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), base, F.lit(":80"), path,
                F.lit("?a=1&utm_campaign=y&b=2"),
            )
        )
    )
    u = d.withColumn("url", raw)
    nofrag = F.regexp_replace(F.col("url"), "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, "^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(nofrag, "://([^/?#]+)", 1))
    host = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.expr("substring(hostport, 1, length(hostport) - 3)"),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.expr("substring(hostport, 1, length(hostport) - 4)"),
    ).otherwise(hostport)
    pathq = F.regexp_extract(nofrag, "://[^/?#]+([^?#]*)", 1)
    cpath = F.regexp_replace(pathq, "/$", "")
    query = F.regexp_extract(nofrag, "\\?([^#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        cpath,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(
            F.lit("")
        ),
    )
    return (
        u.select("doc_id", "url")
        .withColumn("hostport", hostport)
        .withColumn("canonical_url", canon)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


ORACLE_URL_DEDUP = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 37 AS VARCHAR) AS g,
         CAST(doc_id % 11 AS VARCHAR) AS p,
         doc_id % 5 AS v
  FROM documents
), u AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://example' || g || '.com/path' || p
      WHEN 1 THEN 'HTTPS://' || upper('example' || g || '.com')
                  || '/path' || p || '#frag'
      WHEN 2 THEN 'https://example' || g || '.com:443/path' || p
                  || '?utm_source=x'
      WHEN 3 THEN 'https://example' || g || '.com/path' || p || '/?b=2&a=1'
      ELSE 'http://example' || g || '.com:80/path' || p
           || '?a=1&utm_campaign=y&b=2'
    END AS url
  FROM d
), parts AS (
  SELECT doc_id, url,
         regexp_replace(url, '#.*$', '') AS nofrag
  FROM u
), ext AS (
  SELECT doc_id, url,
         lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
         lower(regexp_extract(nofrag, '://([^/?#]+)', 1)) AS hostport,
         regexp_extract(nofrag, '://[^/?#]+([^?#]*)', 1) AS pathq,
         regexp_extract(nofrag, '\\?([^#]*)', 1) AS query
  FROM parts
), canon AS (
  SELECT doc_id, url,
         scheme || '://'
         || CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
                 THEN substring(hostport, 1, length(hostport) - 3)
                 WHEN scheme = 'https' AND hostport LIKE '%:443'
                 THEN substring(hostport, 1, length(hostport) - 4)
                 ELSE hostport END
         || regexp_replace(pathq, '/$', '')
         || CASE WHEN pl != '' THEN '?' || pl ELSE '' END
           AS canonical_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> x != '' AND NOT starts_with(x, 'utm_'))), '&')
             AS pl
    FROM ext) t
)
SELECT canonical_url, COUNT(*) AS n_docs,
       COUNT(DISTINCT url) AS n_variants,
       MIN(doc_id) AS keeper_doc_id
FROM canon GROUP BY 1 ORDER BY 1
"""


def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII prevalence audit per source — the measurement pass that
    precedes q_text_redact's scrub: class-specific detectors (email,
    IPv4, phone) counted per document and rolled up per source, the
    report a release review reads before a corpus ships. Detector
    hits are guaranteed by construction: each doc gets a
    deterministic PII suffix by ``doc_id % 4`` (email / IPv4 / phone
    / none) appended to its REAL text, so the detectors run over
    organic content plus a known-answer payload and the oracle
    recomputes exact hit counts. All three detectors are one
    regexp_count each inside the same codegen stage — at 100 TB this
    is a single map pass plus a tiny per-source rollup."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    ids = F.col("doc_id").cast("string")
    suffix = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" contact user"), ids, F.lit("@example.com")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("."),
                (F.col("doc_id") % 13).cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" call +1-555-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    t = F.concat(F.col("text"), suffix)
    email = F.regexp_count(
        t, F.lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    )
    ipv4 = F.regexp_count(t, F.lit("\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"))
    phone = F.regexp_count(t, F.lit("\\+\\d[\\d-]{7,}\\d"))
    return (
        d.select("source", email.alias("e"), ipv4.alias("i"),
                 phone.alias("p"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("e") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_email"),
            F.sum(F.when(F.col("i") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_ip"),
            F.sum(F.when(F.col("p") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_phone"),
            F.sum(F.col("e") + F.col("i") + F.col("p"))
            .cast("bigint")
            .alias("total_hits"),
        )
        .orderBy("source")
    )


ORACLE_PII_AUDIT = """
WITH t AS (
  SELECT source,
         text || CASE
           WHEN doc_id % 4 = 0 THEN ' contact user'
                || CAST(doc_id AS VARCHAR) || '@example.com'
           WHEN doc_id % 4 = 1 THEN ' host 10.'
                || CAST(doc_id % 256 AS VARCHAR) || '.'
                || CAST(doc_id % 7 AS VARCHAR) || '.'
                || CAST(doc_id % 13 AS VARCHAR)
           WHEN doc_id % 4 = 2 THEN ' call +1-555-'
                || CAST(1000 + doc_id % 9000 AS VARCHAR)
           ELSE ''
         END AS txt
  FROM documents
), hits AS (
  SELECT source,
    len(regexp_extract_all(txt,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS e,
    len(regexp_extract_all(txt,
        '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS i,
    len(regexp_extract_all(txt, '\\+\\d[\\d-]{7,}\\d')) AS p
  FROM t
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_email,
       CAST(SUM(CASE WHEN i > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_ip,
       CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_phone,
       CAST(SUM(e + i + p) AS BIGINT) AS total_hits
FROM hits GROUP BY source ORDER BY source
"""


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rule_exprs(
    text,
    toks,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop: int = 2,
) -> dict:
    """The Gopher rule set (Rae et al. 2021 app. A) as named column
    expressions — the SINGLE definition shared by the audited
    ``q_gopher_rules`` query and the shipping ``curate.gopher_gate``
    pipeline stage, so an edit to either side cannot silently de-sync
    the gate from the DuckDB-checked rules. ``text`` is the raw text
    column, ``toks`` its non-empty whitespace tokens. All comparisons
    integer-cross-multiplied (no float thresholds)."""
    n = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_alpha = F.size(
        F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)), stops
        )
    ).cast("long")
    n_hash = (
        F.length(text) - F.length(F.replace(text, F.lit("#")))
    ).cast("long")
    n_ell = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
    ).cast("long")
    sym = n_hash + n_ell
    return {
        "n": n,
        "sum_len": sum_len,
        "n_stop": n_stop,
        "wc_ok": (n >= min_words) & (n <= max_words),
        "wlen_ok": (3 * n <= sum_len) & (sum_len <= 10 * n),
        "sym_ok": 10 * sym < n,
        "alpha_ok": 5 * n_alpha >= 4 * n,
        "stop_ok": n_stop >= min_stop,
    }


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule set (Rae et al. 2021, app. A —
    the published heuristics most LLM corpora start from), audited
    rule-by-rule per document: word-count band [50, 100k], mean word
    length band [3, 10], symbol-to-word ratio (# / ellipsis) < 0.1,
    >= 80% of words alphabetic, and >= 2 distinct stop words from the
    canonical 8. The bullet-/ellipsis-line rules are omitted: this
    corpus is single-line (no newlines in documents.text), so they
    pass vacuously and pin nothing. Every comparison is
    integer-cross-multiplied (3n <= sum_len <= 10n, 5·alpha >= 4·n,
    10·symbols < n), so no float threshold can flip a boundary doc
    between engines; mean word length is emitted rounded as evidence.

    Scale shape: one codegen projection over tokens — no shuffle, no
    UDF; the filter a 100 TB curation pass runs first."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    toks = F.filter(
        F.split(F.col("text"), " "), lambda x: F.length(x) > 0
    )
    d = d.select("doc_id", toks.alias("toks"), "text")
    r = gopher_rule_exprs(F.col("text"), F.col("toks"))
    return d.select(
        "doc_id",
        r["n"].alias("n_words"),
        (F.round(r["sum_len"] / r["n"], 6) + F.lit(0.0)).alias(
            "mean_wlen"
        ),
        r["n_stop"].alias("n_stopwords"),
        r["wc_ok"].alias("wc_ok"),
        r["wlen_ok"].alias("wlen_ok"),
        r["sym_ok"].alias("sym_ok"),
        r["alpha_ok"].alias("alpha_ok"),
        r["stop_ok"].alias("stop_ok"),
        (
            r["wc_ok"] & r["wlen_ok"] & r["sym_ok"] & r["alpha_ok"]
            & r["stop_ok"]
        ).alias("keep"),
    )


ORACLE_GOPHER_RULES = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0)
           AS toks,
         text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n,
         CAST(COALESCE(list_sum(
             list_transform(toks, x -> length(x))), 0) AS BIGINT)
           AS sum_len,
         CAST(len(list_filter(
             toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
           AS n_alpha,
         CAST(len(list_intersect(
             list_distinct(list_transform(toks, x -> lower(x))),
             {list(GOPHER_STOPS)!r})) AS BIGINT) AS n_stop,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           AS n_hash,
         CAST((length(text) - length(replace(text, '...', ''))) // 3
           AS BIGINT) AS n_ell
  FROM d
)
SELECT doc_id,
       n AS n_words,
       round(CAST(sum_len AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0
         AS mean_wlen,
       n_stop AS n_stopwords,
       (n >= 50 AND n <= 100000) AS wc_ok,
       (3 * n <= sum_len AND sum_len <= 10 * n) AS wlen_ok,
       (10 * (n_hash + n_ell) < n) AS sym_ok,
       (5 * n_alpha >= 4 * n) AS alpha_ok,
       (n_stop >= 2) AS stop_ok,
       ((n >= 50 AND n <= 100000)
        AND (3 * n <= sum_len AND sum_len <= 10 * n)
        AND (10 * (n_hash + n_ell) < n)
        AND (5 * n_alpha >= 4 * n)
        AND (n_stop >= 2)) AS keep
FROM m
"""


CODE_SYMBOLS = ("{", "}", ";", "(", ")", "=", "<", ">", "[", "]")


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection per document — the pretrain-pipeline
    router that decides whether a doc goes to the code pile, the prose
    pile, or the bin. Signals (all exact integers): count of the ten
    structural code symbols, digit count, and presence of
    statement-shaped punctuation; the verdict flags use integer
    cross-multiplication (20·n_sym >= n_chars is the 5% band), so no
    float threshold can flip a boundary doc between engines.

    Scale: one codegen projection over the text column — no shuffle,
    no UDF; symbol counts are length-difference expressions the JVM
    vectorizes. The same shape as q_gopher_rules and runs beside it in
    a single curation pass."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    n = F.length("text").cast("long")
    n_sym = sum(
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(c)))
        ).cast("long")
        for c in CODE_SYMBOLS
    )
    n_digit = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    ).cast("long")
    sym_heavy = (20 * n_sym >= n) & (n > 0)
    stmt_shape = (
        F.col("text").contains(";")
        & F.col("text").contains("(")
        & F.col("text").contains(")")
    )
    digit_heavy = (5 * n_digit >= n) & (n > 0)
    return d.select(
        "doc_id",
        n.alias("n_chars"),
        n_sym.alias("n_code_sym"),
        n_digit.alias("n_digits"),
        sym_heavy.alias("sym_heavy"),
        digit_heavy.alias("digit_heavy"),
        stmt_shape.alias("stmt_shape"),
        (sym_heavy & stmt_shape).alias("is_codeish"),
    )


def _oracle_code_detect() -> str:
    sym_terms = " + ".join(
        "CAST(length(text) - length(replace(text, '{}', ''))"
        " AS BIGINT)".format(c.replace("'", "''"))
        for c in CODE_SYMBOLS
    )
    return f"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n,
         {sym_terms} AS n_sym,
         CAST(length(text) -
              length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit,
         (contains(text, ';') AND contains(text, '(')
          AND contains(text, ')')) AS stmt_shape
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
)
SELECT doc_id,
       n AS n_chars,
       n_sym AS n_code_sym,
       n_digit AS n_digits,
       (20 * n_sym >= n AND n > 0) AS sym_heavy,
       (5 * n_digit >= n AND n > 0) AS digit_heavy,
       stmt_shape,
       ((20 * n_sym >= n AND n > 0) AND stmt_shape) AS is_codeish
FROM m
ORDER BY doc_id
"""


BOILERPLATE_PREFIX_LEN = 16


def q_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection by shared document PREFIX — the
    cheap first pass curation pipelines run before fuzzy dedup: docs
    opening with the same first N characters (cookie banners, license
    headers, scraped templates) cluster on one exact key. Emits every
    prefix bucket with >= 2 docs, its doc/source spread and the total
    characters it covers, hottest first.

    Exact-match grouping means ONE hash shuffle on a 16-char key (no
    pair joins, no windows); at 100 TB this is the same shape as
    wordcount and the natural pre-filter feeding q_dedup_minhash_lsh's
    candidate stage. All aggregates exact bigints."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.length("text") >= BOILERPLATE_PREFIX_LEN)
    )
    p = F.substring(F.lower("text"), 1, BOILERPLATE_PREFIX_LEN)
    return (
        d.groupBy(p.alias("prefix"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
            F.sum("n_chars").cast("long").alias("chars_affected"),
        )
        .filter(F.col("n_docs") >= 2)
    )


ORACLE_BOILERPLATE_PREFIX = f"""
SELECT substr(lower(text), 1, {BOILERPLATE_PREFIX_LEN}) AS prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       MIN(doc_id) AS first_doc,
       CAST(SUM(n_chars) AS BIGINT) AS chars_affected
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
  AND length(text) >= {BOILERPLATE_PREFIX_LEN}
GROUP BY 1
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, prefix
"""


QUERIES = {
    "q_split_assign": q_split_assign,
    "q_code_detect": q_code_detect,
    "q_boilerplate_prefix": q_boilerplate_prefix,
    "q_url_dedup": q_url_dedup,
    "q_pii_audit": q_pii_audit,
    "q_curation_funnel": q_curation_funnel,
    "q_global_shuffle": q_global_shuffle,
    "q_dataset_card": q_dataset_card,
    "q_k_anonymity": q_k_anonymity,
    "q_l_diversity": q_l_diversity,
    "q_t_closeness": q_t_closeness,
    "q_gopher_rules": q_gopher_rules,
}

ORACLES = {
    "q_split_assign": _oracle_split_assign(),
    "q_url_dedup": ORACLE_URL_DEDUP,
    "q_pii_audit": ORACLE_PII_AUDIT,
    "q_curation_funnel": _oracle_curation_funnel(),
    "q_global_shuffle": _oracle_global_shuffle(),
    "q_dataset_card": _oracle_dataset_card(),
    "q_k_anonymity": ORACLE_K_ANONYMITY,
    "q_l_diversity": ORACLE_L_DIVERSITY,
    "q_t_closeness": ORACLE_T_CLOSENESS,
    "q_gopher_rules": ORACLE_GOPHER_RULES,
    "q_code_detect": _oracle_code_detect(),
    "q_boilerplate_prefix": ORACLE_BOILERPLATE_PREFIX,
}
