"""Independent implementation cross-check: Spark ML's MinHashLSH
(hash-based, approximate) against our exact n-gram Jaccard operator.

Two unrelated implementations agreeing on the near-dup pair set is
evidence neither is self-consistently wrong — the same role the DuckDB
oracle plays for values, at the algorithm level."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_ml_minhash_agrees_with_exact_jaccard(spark):
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from audios_to_dataset_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )

    # ours: exact word-3-gram Jaccard >= 0.5
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"

    # theirs: HashingTF over the same shingles -> MinHashLSH join.
    # distCol is (1 - approx Jaccard) on the HASHED feature space.
    shingled = docs.select(
        "doc_id",
        F.filter(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.size(F.split(F.lower("text"), " ")) - 2,
                        F.lit(0),
                    ),
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.split(F.lower("text"), " "), i),
                    F.element_at(F.split(F.lower("text"), " "), i + 1),
                    F.element_at(F.split(F.lower("text"), " "), i + 2),
                ),
            ),
            lambda s: s != "",
        ).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18,
        binary=True,
    )
    feat = tf.transform(shingled)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 0.5, distCol="dist")
    theirs = {
        (a, b)
        for a, b in (
            (r.datasetA.doc_id, r.datasetB.doc_id)
            for r in joined.collect()
        )
        if a < b
    }
    # the hashed approximation must recover the large majority of the
    # exact pair set (hash collisions / LSH misses allow a small gap)
    recall = len(exact & theirs) / len(exact)
    assert recall >= 0.8, (recall, len(exact), len(theirs))
