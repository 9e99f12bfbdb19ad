"""Document-curation pipeline CLI — the LLM-data twin of the audio ETL:

    python -m audios_to_dataset_spark.curate \\
        --input /data/documents.parquet --output /data/shards \\
        --seq-len 512 --source-cap 100000

Stages (each one a declared, oracle-checked query shape — see
plans/dedup.py, plans/textops.py, plans/textops2.py):

1. exact dedup      — sha256 content groups, min-id survivor
2. near dedup       — MinHash(16)+LSH(4×4) candidates; a doc is dropped
                      when ≥ ``--est-threshold`` of its sketch agrees
                      with a LOWER-id doc (the one-pass survivor rule;
                      full connected-component clustering is the
                      ``q_dedup_clusters``/``q_dedup_survivors`` path)
3. quality gate     — keep the top half per language by distinct-token
                      ratio (integer rank·2 ≤ n cutoff, q_quality_filter)
4. source cap       — ≤ ``--source-cap`` docs per source, md5 lottery
5. weighted sample  — optional ``--sample-k`` length-weighted draw
                      without replacement (q_weighted_sample's
                      Efraimidis-Spirakis race, md5-seeded)
6. sequence packing — concat-and-chunk seq_id per language at
                      ``--seq-len`` whitespace tokens
7. sharded write    — parquet partitioned by lang (dynamic overwrite)

Every stage is JVM-side (one pandas-free plan end to end); stage counts
print as one JSON report line for pipeline monitoring.

Scale notes: the near-dedup shuffle keys are band hashes (uniform), the
cap/pack windows partition by source/lang, and the final write is
partitioned — nothing funnels through a single task at 100 TB.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup as D



def _tokens():
    return F.split(F.lower("text"), " ")


def exact_dedup(docs: DataFrame) -> DataFrame:
    h = F.sha2("text", 256)
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        docs.withColumn("h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("h", "_rn")
    )


def near_dedup(docs: DataFrame, est_threshold: float) -> DataFrame:
    sigs = D.minhash_signatures(docs)
    pairs = D.lsh_candidate_pairs(sigs)
    est = F.col("agree").cast("double") / float(D.NUM_HASHES)
    # doc_a < doc_b by construction: doc_b is the younger duplicate
    drops = (
        D.minhash_agreement(pairs, sigs, sigs)
        .filter(est >= est_threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return docs.join(drops, "doc_id", "left_anti")


def gopher_gate(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop: int = 2,
) -> DataFrame:
    """The Gopher rule set (Rae et al. 2021 app. A) as a pipeline
    stage — the same integer-cross-multiplied rules q_gopher_rules
    audits (word-count band, mean word length in [3, 10], symbol-to-
    word < 0.1, ≥ 80% alphabetic words, ≥ ``min_stop`` distinct stop
    words), here applied as a filter. ``min_stop`` is a dial because
    corpora without natural English function words (like the synthetic
    test tables) would otherwise empty out; production keeps the
    published 2.

    The rule columns come from ``plans.curation.gopher_rule_exprs`` —
    the same expressions the DuckDB-audited ``q_gopher_rules`` query
    emits — so the shipping gate cannot de-sync from the audited set."""
    from .plans.curation import gopher_rule_exprs

    toks = F.filter(_tokens(), lambda t: t != "")
    r = gopher_rule_exprs(
        F.col("text"), toks,
        min_words=min_words, max_words=max_words, min_stop=min_stop,
    )
    keep = (
        r["wc_ok"] & r["wlen_ok"] & r["sym_ok"] & r["alpha_ok"]
        & r["stop_ok"]
    )
    return docs.filter(keep)


def quality_gate(docs: DataFrame) -> DataFrame:
    toks = F.filter(_tokens(), lambda t: t != "")
    quality = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double")
    )
    scored = docs.withColumn("_q", quality)
    w = Window.partitionBy("lang").orderBy(
        F.col("_q").desc(), "doc_id"
    )
    n = Window.partitionBy("lang")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(n))
        .filter(F.col("_rk") * 2 <= F.col("_n"))
        .drop("_q", "_rk", "_n")
    )


def source_cap(docs: DataFrame, cap: int) -> DataFrame:
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_sample(docs: DataFrame, k: int) -> DataFrame:
    """Length-weighted k-doc sample without replacement — the
    Efraimidis-Spirakis exponential race of ``q_weighted_sample``
    (plans/sketches.py), productionized: longer documents are
    proportionally likelier, the draw is md5-seeded (reproducible), and
    the race runs on a slim (doc_id, key) projection with
    orderBy+limit → TakeOrderedAndProject before a semi-join brings the
    full rows back — the wide columns never enter the top-k."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**60))
    w = F.greatest(
        F.coalesce(F.col("n_chars"), F.length("text")), F.lit(1)
    ).cast("double")
    key = (-F.log(u)) / w
    slim = (
        docs.select("doc_id", key.alias("_key"))
        .orderBy("_key", "doc_id")
        .limit(k)
    )
    return docs.join(slim.select("doc_id"), "doc_id", "left_semi")


def pack_sequences(docs: DataFrame, seq_len: int) -> DataFrame:
    n_tok = F.size(_tokens()).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    return (
        docs.withColumn("n_tok", n_tok)
        .withColumn(
            "seq_id",
            ((F.sum("n_tok").over(w) - F.col("n_tok")) / seq_len).cast(
                "bigint"
            ),
        )
        .withColumn("cum_tok", cum)
    )


def run_curation(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    seq_len: int = 512,
    cap: int = 100_000,
    est_threshold: float = 0.5,
    sample_k: int = 0,
    gopher_min_stop: int | None = None,
) -> dict:
    docs = spark.read.parquet(input_path)
    report = {"input": docs.count()}
    docs = exact_dedup(docs)
    report["after_exact_dedup"] = docs.count()
    docs = near_dedup(docs, est_threshold)
    report["after_near_dedup"] = docs.count()
    if gopher_min_stop is not None:
        docs = gopher_gate(docs, min_stop=gopher_min_stop)
        report["after_gopher_gate"] = docs.count()
    docs = quality_gate(docs)
    report["after_quality_gate"] = docs.count()
    docs = source_cap(docs, cap)
    report["after_source_cap"] = docs.count()
    if sample_k > 0:
        docs = weighted_sample(docs, sample_k)
        report["after_weighted_sample"] = docs.count()
    packed = pack_sequences(docs, seq_len)
    (
        packed.write.mode("overwrite")
        .partitionBy("lang")
        .parquet(output_dir)
    )
    report["sequences"] = (
        packed.groupBy("lang", "seq_id").count().count()
    )
    report["output"] = output_dir
    return report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="audios_to_dataset_spark.curate",
        description="Curate a document corpus into packed training shards.",
    )
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--output", required=True, help="output shard dir")
    p.add_argument("--seq-len", type=int, default=512)
    p.add_argument("--source-cap", type=int, default=100_000)
    p.add_argument(
        "--est-threshold",
        type=float,
        default=0.5,
        help="MinHash agreement fraction above which the younger doc drops",
    )
    p.add_argument(
        "--sample-k",
        type=int,
        default=0,
        help="if > 0, keep a length-weighted k-doc sample (Efraimidis-"
        "Spirakis, md5-seeded) after the source cap",
    )
    p.add_argument(
        "--gopher-min-stop",
        type=int,
        default=None,
        metavar="N",
        help="enable the Gopher rule gate (Rae et al. 2021) before the "
        "percentile quality gate, requiring >= N distinct stop words "
        "(published value: 2)",
    )
    args = p.parse_args(argv)

    from .session import get_session

    spark = get_session("curate")
    report = run_curation(
        spark,
        args.input,
        args.output,
        seq_len=args.seq_len,
        cap=args.source_cap,
        est_threshold=args.est_threshold,
        sample_k=args.sample_k,
        gopher_min_stop=args.gopher_min_stop,
    )
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
