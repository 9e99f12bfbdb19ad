"""Skew primitives + dedup operators on constructed inputs (the testdata
documents are all-unique, so real duplicates are synthesized here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from audios_to_dataset_spark.operators import dedup as D
from audios_to_dataset_spark.operators.skew import salted_join, two_phase_agg


def test_salted_join_matches_plain_join(spark):
    # 90% of big rows share one hot key
    big = spark.createDataFrame(
        [(1 if i < 900 else i % 50, i) for i in range(1000)],
        "k int, v long",
    )
    small = spark.createDataFrame(
        [(i, f"name{i}") for i in range(50)], "k int, name string"
    )
    plain = big.join(small, "k").groupBy("name").count()
    salted = salted_join(big, small, "k").groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, 10), (99, 11)], "k int, v long")
    small = spark.createDataFrame([(1, "a")], "k int, name string")
    rows = {
        r.v: r.name for r in salted_join(big, small, "k", how="left").collect()
    }
    assert rows == {10: "a", 11: None}


def test_two_phase_agg_matches_direct(spark):
    df = spark.createDataFrame(
        [("hot" if i % 10 else f"k{i}", float(i)) for i in range(1000)],
        "k string, v double",
    )
    direct = {
        (r.k): (r.s, r.n, r.mx)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"),
             F.max("v").alias("mx"))
        .collect()
    }
    two = {
        (r.k): (r.s, r.n, r.mx)
        for r in two_phase_agg(
            df, "k",
            {"s": ("v", "sum"), "n": ("v", "count"), "mx": ("v", "max")},
        ).collect()
    }
    assert set(direct) == set(two)
    for k in direct:
        assert direct[k][1] == two[k][1]
        assert direct[k][2] == two[k][2]
        assert abs(direct[k][0] - two[k][0]) < 1e-6


def test_exact_dedup_groups_with_real_duplicates(spark):
    df = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha"), (3, "alpha"), (4, "gamma")],
        "doc_id long, text string",
    )
    got = {
        r.keep_id: r.n_copies
        for r in D.exact_dedup_groups(df).collect()
    }
    assert got == {0: 3, 1: 1, 4: 1}


def test_ngram_jaccard_detects_near_duplicate(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    other = "completely different words having zero overlap with anything"
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, other)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, threshold=0.2).collect()
    }
    assert (0, 1) in pairs and 0.2 <= pairs[(0, 1)] < 1.0
    assert not any(2 in p for p in pairs)


def _four_docs(spark):
    """Two identical docs, a near-dup of them (3 of 38 shingles differ)
    and an unrelated doc."""
    base = " ".join(f"w{i}" for i in range(40))
    return spark.createDataFrame(
        [(0, base), (1, base), (2, base.replace("w7", "x7")),
         (3, "unrelated text entirely here")],
        "doc_id long, text string",
    )


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    sigs = D.minhash_signatures(_four_docs(spark))
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.lsh_candidate_pairs(sigs).collect()
    }
    assert (0, 1) in pairs          # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup collides in ≥1 band
    assert not any(3 in p for p in pairs)


def test_cross_lsh_on_one_corpus_is_the_self_join(spark):
    sigs = D.minhash_signatures(_four_docs(spark))
    cross = D.cross_lsh_candidates(sigs, sigs)
    assert cross.columns == ["doc_a", "doc_b"]
    got = {tuple(r) for r in cross.collect()}
    want = {tuple(r) for r in D.lsh_candidate_pairs(sigs).collect()}
    assert {(a, b) for a, b in got if a < b} == want and (0, 1) in want
    # the cross join also pairs every doc with itself
    assert {(i, i) for i in range(4)} <= got


def test_minhash_agreement_counts_equal_components(spark):
    sigs = D.minhash_signatures(_four_docs(spark))
    pairs = spark.createDataFrame(
        [(0, 1, "same"), (0, 2, "near"), (0, 3, "other")],
        "doc_a long, doc_b long, tag string",
    )
    out = D.minhash_agreement(pairs, sigs, sigs)
    assert out.columns == ["doc_a", "doc_b", "tag", "agree"]
    agree = {r.tag: r.agree for r in out.collect()}
    assert agree["same"] == D.NUM_HASHES
    assert 0 < agree["near"] < D.NUM_HASHES
    assert agree["other"] < agree["near"]


def test_lsh_builds_run_no_job_past_the_signature_cut(spark):
    """The signatures are cut once, inside minhash_signatures: building
    bands, candidates and agreement on top of them runs no Spark job,
    so no second checkpoint hides below the shared operators."""
    sc = spark.sparkContext
    df = _four_docs(spark)

    def build_jobs(group, build):
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def everything():
        sigs = D.minhash_signatures(df)
        D.lsh_bands(sigs, "id")
        pairs = D.lsh_candidate_pairs(sigs)
        D.minhash_agreement(pairs, sigs, sigs)
        D.cross_lsh_candidates(sigs, sigs)

    alone = build_jobs("lsh:signatures", lambda: D.minhash_signatures(df))
    assert alone >= 1  # the eager checkpoint itself
    assert build_jobs("lsh:everything", everything) == alone


def test_simhash_similar_docs_close(spark):
    base = " ".join(f"tok{i}" for i in range(50))
    near = base.replace("tok3", "zzz3")
    far = " ".join(f"other{i}" for i in range(50))
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string"
    )
    fp = {r.id: r.simhash for r in D.simhash16(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fp[0], fp[1]) <= 4
    assert ham(fp[0], fp[2]) >= ham(fp[0], fp[1])


def test_shingle_freq_cap_bounds_candidates(spark):
    """Pathological corpus — one stop-shingle present in EVERY doc —
    must not produce a quadratic candidate set when max_shingle_freq is
    engaged: each retained shingle joins <= cap rows with itself, so the
    candidate-pair count is bounded by cap * n_docs (uncapped, the
    universal shingle alone gives C(n,2) pairs)."""
    from audios_to_dataset_spark.operators.dedup import ngram_jaccard_pairs

    n_docs, cap = 60, 5
    # every doc contains the same leading trigram "x y z"; the remaining
    # tokens are unique per doc, shared only inside small groups of 3
    rows = [
        (i, f"x y z u{i // 3} v{i // 3} w{i} t{i} s{i}")
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # threshold 0 keeps every candidate pair that shares >= 1 retained
    # shingle, so the row count IS the candidate count
    capped = ngram_jaccard_pairs(
        df, threshold=0.0, max_shingle_freq=cap
    ).count()
    assert capped <= cap * n_docs

    uncapped = ngram_jaccard_pairs(df, threshold=0.0).count()
    assert uncapped >= n_docs * (n_docs - 1) // 2  # quadratic blowup
    assert capped < uncapped


def test_dedup_clusters_leaves_no_cache(spark, sf_dir):
    """Building q_dedup_clusters registers nothing in the session's
    CacheManager, so a later build of the same plan cannot read an
    earlier one's cached buckets."""
    from audios_to_dataset_spark.plans.analytics import q_dedup_clusters

    spark.catalog.clearCache()
    q_dedup_clusters(spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name",
    [
        "q_hll_union",
        "q_hll_overlap",
        "q_cms_merge",
        "q_dsir_select",
        "q_dedup_minhash_lsh",
    ],
)
def test_sketch_and_lsh_queries_leave_no_cache(spark, sf_dir, name):
    """Building and collecting a sketch-merge, DSIR or MinHash-LSH query
    registers nothing in the session's CacheManager, so no register
    table, bucket table or signature frame outlives the query."""
    from audios_to_dataset_spark.plans import all_queries

    spark.catalog.clearCache()
    all_queries()[name](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_minhash_mapside_equals_explode_formulation(spark, sf_dir):
    """The map-side signature (array_min over per-doc hash transforms)
    must equal the explode + groupBy(id) + min() formulation bit-for-bit
    — this pins the seed binding inside the HOF lambdas (a two-parameter
    lambda is an (element, index) function to Spark, so a careless
    default-capture silently hashes with the array index as the seed)."""
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.catalog import load
    from audios_to_dataset_spark.operators.dedup import (
        minhash_signatures,
        shingles,
    )

    d = load(spark, sf_dir, "documents")
    got = {
        r.id: tuple(r[f"mh{i}"] for i in range(16))
        for r in minhash_signatures(d).collect()
    }

    sh = shingles(d, distinct=False)
    n_digests = 4
    with_digests = sh.select(
        "id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"_d{s}")
            for s in range(n_digests)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"_d{i // 4}"), (i % 4) * 8 + 1, 8)).alias(
            f"mh{i}"
        )
        for i in range(16)
    ]
    want = {
        r.id: tuple(r[f"mh{i}"] for i in range(16))
        for r in with_digests.groupBy("id").agg(*aggs).collect()
    }
    assert got == want and len(got) > 0


def test_shingle_arrays_match_python_reference(spark):
    """The zip_with shingle construction must equal the obvious Python
    n-gram reference on edge-shaped inputs (short docs, repeated tokens,
    empty tokens from double/leading/trailing spaces, unicode)."""
    from audios_to_dataset_spark.operators.dedup import shingle_arrays

    texts = [
        "",
        "a",
        "a b",
        "a b c",
        "a b c d",
        "  leading double space",
        "trailing space  ",
        "double  space inside",
        "a b c a b c a b c",
        "ünïcode tökens über älles",
        "x",
        " ",
        "one two three four five six seven eight nine ten",
        "same same same same",
    ]
    n = 3
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.id: list(r.grams)
        for r in shingle_arrays(df, n=n).collect()
    }

    def ref(text: str) -> list[str]:
        toks = text.lower().split(" ")
        return [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]

    want = {i: ref(t) for i, t in enumerate(texts)}
    assert got == want


def _tf3(text: str):
    from collections import Counter

    t = text.lower().split(" ")
    return Counter(" ".join(t[i : i + 3]) for i in range(len(t) - 2))


def test_sparse_cosine_matches_python_replay(spark):
    import math

    docs = [
        (0, "the cat sat on the mat today"),
        (1, "the cat sat on the mat today"),
        (2, "a cat sat on the mat today quietly"),
        (3, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.dot, r.cos_sim)
        for r in D.sparse_cosine_pairs(
            df, threshold=0.0, max_df=10
        ).collect()
    }
    tfs = {i: _tf3(t) for i, t in docs}
    exp = {}
    for a in range(4):
        for b in range(a + 1, 4):
            dot = sum(tfs[a][g] * tfs[b][g] for g in tfs[a] if g in tfs[b])
            if dot == 0:
                continue
            na = math.sqrt(sum(v * v for v in tfs[a].values()))
            nb = math.sqrt(sum(v * v for v in tfs[b].values()))
            exp[(a, b)] = (dot, dot / (na * nb))
    assert set(got) == set(exp)
    for k, (dot, cos) in exp.items():
        assert got[k][0] == dot
        assert abs(got[k][1] - cos) < 1e-3


def test_sparse_cosine_df_cap_prunes_stop_grams(spark):
    # "cat sat on ..." grams appear in docs 0/1/2 (df=3); only the
    # "the cat sat" gram is exclusive to the exact-dup pair (df=2), so
    # max_df=2 keeps (0,1) and prunes the (0,2)/(1,2) candidates whose
    # shared grams are all at df=3.
    docs = [
        (0, "the cat sat on the mat today"),
        (1, "the cat sat on the mat today"),
        (2, "a cat sat on the mat today quietly"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.sparse_cosine_pairs(
            df, threshold=0.0, max_df=2
        ).collect()
    }
    assert pairs == {(0, 1)}


def test_minhash_sql_formulation(spark):
    """The r12 SQL-built minhash fold (one parsed aggregate/named_struct
    expression, built for driver-side construction cost) must emit
    bit-identical signatures to the reference F.*-built
    transform+aggregate chain it replaced — same md5 digests, same
    substring windows, same least() fold, including single-token and
    punctuation-heavy docs."""
    from audios_to_dataset_spark.operators.dedup import (
        NUM_HASHES,
        minhash_signatures,
        shingle_arrays,
    )

    rows = [
        (0, " ".join(f"w{i}" for i in range(40))),
        (1, "short doc here"),
        (2, "a b c"),                      # exactly n tokens: 1 shingle
        (3, "punct! heavy, text; with? weird:chars and MORE case"),
        (4, " ".join(f"tok{i % 7}" for i in range(25))),  # repeats
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_digests = 4

    def _digest_struct(g):
        return F.struct(
            *[
                F.md5(F.concat(F.lit(f"{s}:"), g)).alias(f"d{s}")
                for s in range(n_digests)
            ]
        )

    init = F.struct(
        *[F.lit("~").alias(f"m{i}") for i in range(NUM_HASHES)]
    )

    def _merge(acc, x):
        return F.struct(
            *[
                F.least(
                    acc[f"m{i}"],
                    F.substring(x[f"d{i // 4}"], (i % 4) * 8 + 1, 8),
                ).alias(f"m{i}")
                for i in range(NUM_HASHES)
            ]
        )

    arr = shingle_arrays(df).filter(F.size("grams") > 0)
    ref = (
        arr.select("id", F.transform("grams", _digest_struct).alias("digs"))
        .select("id", F.aggregate("digs", init, _merge).alias("_mh"))
        .select(
            "id",
            *[F.col(f"_mh.m{i}").alias(f"mh{i}") for i in range(NUM_HASHES)],
        )
    )
    new = minhash_signatures(df)
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, ref.collect())
    )
