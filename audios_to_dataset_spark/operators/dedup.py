"""Deduplication operator family for training-data pipelines.

Exact, n-gram Jaccard, MinHash+LSH, SimHash — all expressed with JVM-side
built-ins (split/HOFs/md5/explode/joins), no Python UDFs, so every stage
stays inside whole-stage codegen and scales by shuffle on content-derived
keys (never by doc_id ranges, which would skew).

Scale notes (100 TB design point):
- Shingling explodes each doc into ~n_tokens rows; the inverted-index join
  (`shared shingle` self-join) shuffles on the shingle hash — uniformly
  distributed by construction, no salting needed.
- Very frequent shingles create quadratic pair blowup; ``max_shingle_freq``
  drops them (standard LSH practice — a shingle shared by thousands of docs
  carries no dedup signal but dominates the join).
- MinHash is map-side: mh_i = array_min over md5(seed || shingle)
  transforms of the per-doc shingle array — no explode, no shuffle; LSH
  banding then buckets signatures so candidate generation is an equi-join
  on (band_id, band_key) — broadcast-free, skew-safe.

MinHash-LSH has one shape: ``NUM_HASHES`` = 16 components, banded into
16 / ``BAND_SIZE`` = 4 bands of 4 rows. ``minhash_signatures`` cuts its
frame once with an eager ``localCheckpoint`` (every consumer reads it at
least 4 times: once per band, again per agreement side), and every
consumer builds on the three pieces below it: ``lsh_bands`` (the one band
table), ``cross_lsh_candidates`` / ``lsh_candidate_pairs`` (the band
equi-join) and ``minhash_agreement`` (the one equal-component count).

Every operator reads the ``DOC_ID``/``TEXT`` columns of its document
frame; the n-gram, MinHash and sparse-cosine dedups shingle ``NGRAM_N``
words.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans._util import sround

NUM_HASHES = 16  # MinHash components per signature
BAND_SIZE = 4  # signature components per LSH band
NGRAM_N = 3  # words per shingle of the n-gram, MinHash and cosine dedups
MAX_HAMMING = 3  # SimHash bits two near-duplicates may differ in
DOC_ID = "doc_id"  # id column of every document frame
TEXT = "text"  # its text column


def normalized_text() -> Column:
    """Lowercased, alnum-only ``TEXT`` normalization for exact dedup."""
    return F.regexp_replace(F.lower(F.col(TEXT)), "[^a-z0-9]", "")


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: sha256 content hash → (hash, keep_id, n_copies).

    One shuffle on the content hash; min(id) picks the canonical survivor
    deterministically (the reference's first-wins insert_record,
    /root/reference/src/main.rs:178-193, with min-id instead of scan order
    because scan order is not stable on a cluster).
    """
    h = F.sha2(F.col(TEXT).cast("binary"), 256)
    return (
        df.select(F.col(DOC_ID).alias("id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(
    df: DataFrame, n: int = NGRAM_N, distinct: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles: (id, shingle) exploded rows.

    Tokens via whitespace split; shingle = n consecutive tokens joined by
    a single space. Docs shorter than n tokens yield no shingles.

    Built by zip_with-ing the token array against its own shifted slices —
    O(tokens) per row inside codegen. (A per-index element_at(transform …)
    formulation re-evaluates the split per access and goes quadratic; the
    zip_with form measured 15× faster at sf0.1.)
    """
    out = shingle_arrays(df, n).select(
        "id", F.explode("grams").alias("shingle")
    )
    # Callers whose downstream agg is duplicate-insensitive (min-hash) pass
    # distinct=False and save the dedup shuffle entirely.
    return out.distinct() if distinct else out


def shingle_arrays(df: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """Per-doc word n-gram shingle ARRAY: (id, grams) — the un-exploded
    form, for consumers whose aggregate is per-document (min-hash) and can
    therefore stay map-side.

    Tokens via whitespace split; shingle = n consecutive tokens joined by
    a single space. Docs shorter than n tokens yield an empty array.

    Built by zip_with-ing the token array against its own shifted slices —
    O(tokens) per row inside codegen. (A per-index element_at(transform …)
    formulation re-evaluates the split per access and goes quadratic; the
    zip_with form measured 15× faster at sf0.1.)
    """
    slim = df.select(F.col(DOC_ID).alias("id"), F.col(TEXT).alias("_t"))
    # A small parquet file scans as ONE task, serializing the entire
    # shingle+hash projection on one core. Fan the slim (id, text) rows
    # out to the cluster's parallelism first — measured 3.4× on the
    # minhash pipeline at sf0.1.
    target = df.sparkSession.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < target:
        slim = slim.repartition(target)
    base = slim.select("id", F.split(F.lower("_t"), " ").alias("toks"))
    toks = F.col("toks")
    sz = F.size(toks)
    cur = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(sz - j, F.lit(0)))
        cur = F.zip_with(
            cur,
            shifted,
            lambda x, y: F.when(
                x.isNull() | y.isNull(), F.lit(None)
            ).otherwise(F.concat_ws(" ", x, y)),
        )
    grams = F.array_compact(
        F.slice(cur, 1, F.greatest(sz - (n - 1), F.lit(0)))
    )
    return base.select("id", grams.alias("grams"))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All-pairs ``NGRAM_N``-gram Jaccard similarity above ``threshold``.

    Inverted-index self-join: pairs sharing ≥1 shingle get their common
    count; |union| = |A| + |B| - common. Exact integer arithmetic until the
    final division. ``max_shingle_freq`` prunes stop-shingles at scale.

    The grouped-postings formulation below REQUIRES a frequency cap to
    be safe at scale: with ``max_shingle_freq=None`` a hot shingle's
    posting array is unbounded and the map-side i<j pair generation
    builds O(f²) structs inside a single row (ADVICE r12). Every
    declared caller passes 5; pass a cap for any new corpus-scale use.
    """
    # r12 (guide §2.3 "aggregate before you shuffle"): the old
    # inverted-index SELF-JOIN moved the postings table through four
    # P-scale exchanges (freq groupBy, cap semi-join, and both sides of
    # a ⋈ b). Grouping the postings into per-shingle sorted id arrays
    # moves them through ONE exchange; the frequency cap becomes a
    # filter on the grouped row, per-doc counts re-derive from the
    # capped buckets, and candidate pairs are generated MAP-SIDE by
    # exploding i<j combinations of each (cap-bounded) array — exactly
    # one pair per (pair, shared shingle), the same multiset the join
    # produced, so `common`, the counts and every jaccard are
    # bit-identical (same integers). The cap (all declared callers pass
    # max_shingle_freq=5) bounds every array; `f` is an explicit
    # COUNT(*) — NOT size(ids) — because collect_list drops NULL ids
    # while the cap (and its oracle twin's HAVING COUNT(*)) must count
    # them (--nulls sweep).
    sh = shingles(df)
    buckets = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("id")).alias("ids"),
        F.count(F.lit(1)).alias("f"),
    )
    if max_shingle_freq is not None:
        buckets = buckets.filter(F.col("f") <= max_shingle_freq)
    # no .cache(): both consumers below share the grouped exchange
    # through exchange reuse, and a cache would outlive the call
    counts = (
        buckets.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_shingles"))
    )
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    common = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    ca = counts.select(F.col("id").alias("doc_a"), F.col("n_shingles").alias("na"))
    cb = counts.select(F.col("id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    )
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", sround(F.col("jaccard"), 4).alias("jaccard"))
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(id, mh0 .. mh15) MinHash signatures of the ``NGRAM_N``-word
    shingles, cut once with an eager
    ``localCheckpoint``: the signature fold is a long HOF pipeline and
    every consumer reads the frame once per band and once per agreement
    side, so uncut it would recompute 4-10 times (sf0.1, 4 cores,
    build+exec median of q_dedup_minhash_lsh: cache 2.9 s, no cut
    9.4 s, checkpoint 2.8 s). No cache outlives the call."""
    return _signature_fold(df).localCheckpoint(eager=True)


def _signature_fold(df: DataFrame) -> DataFrame:
    """The uncut signatures of ``minhash_signatures``: hash family i is
    the 8-hex-char chunk ``substr(md5((i//4) || ':' || shingle),
    (i%4)*8+1, 8)`` — 4 independent 32-bit hashes per md5 call — and
    mh_i = min over the doc's shingles.

    String-min over fixed-width hex is a valid uniform min-hash and is
    reproducible in any engine with md5 (the DuckDB oracle uses the
    identical formula). The signature is computed ENTIRELY map-side:
    min over a doc's shingles is a per-row aggregate, so mh_i =
    array_min over a hash transform of the per-doc shingle array — no
    exchange at all. To be precise about what this buys: the previous
    explode + groupBy(id) form already combined mins map-side (partial
    aggregation), so its shuffle moved one signature row per document,
    not per shingle — but that is still a full pass of every signature
    through an exchange that the banding step immediately re-shuffles;
    this form deletes that pass (measured: equal warm runtime at sf0.1,
    ~2 s extra one-time codegen for the 16 nested transforms, one fewer
    stage and half the signature bytes shuffled at any scale). min() is
    duplicate-insensitive, so duplicate shingles need no dedup. md5
    cost is k/4 digests per shingle, identical to before.
    """
    arr = shingle_arrays(df).filter(
        F.size("grams") > 0  # docs shorter than NGRAM_N tokens: no signature
    )
    n_digests = (NUM_HASHES + 3) // 4

    # Two array passes total: (1) one transform hashes each shingle into
    # a struct of its k/4 digests (md5 exactly once per shingle per
    # seed); (2) one aggregate folds the digest array into a 16-field
    # struct of running mins ('~' sorts above every hex char, so it is
    # the identity). A per-column formulation (k/4 digest transforms +
    # k substring transforms + k array_mins = 36 interpreted passes per
    # row) measured 3× slower cold and 25% slower warm at sf0.1.
    #
    # r12 (guide §7.3, the multitable_buckets precedent): the fold is
    # ONE parsed SQL expression instead of ~100 py4j-built F.* nodes —
    # the construction cost dominated the build of every minhash
    # consumer (q_dedup_minhash_lsh ~1.1 s of driver time per warm
    # build). named_struct/least/substring/md5/concat parse to the
    # IDENTICAL Catalyst expressions the F.* form built, so signatures
    # are bit-unchanged (pinned by tests/test_skew_and_dedup_ops.py::
    # test_minhash_sql_formulation).
    digest_fields = ", ".join(
        f"'d{s}', md5(concat('{s}:', g))" for s in range(n_digests)
    )
    init_fields = ", ".join(f"'m{i}', '~'" for i in range(NUM_HASHES))
    merge_fields = ", ".join(
        f"'m{i}', least(acc.m{i}, "
        f"substring(x.d{i // 4}, {(i % 4) * 8 + 1}, 8))"
        for i in range(NUM_HASHES)
    )
    packed = arr.select(
        "id",
        F.expr(
            "aggregate("
            f"transform(grams, g -> named_struct({digest_fields})), "
            f"named_struct({init_fields}), "
            f"(acc, x) -> named_struct({merge_fields})"
            ")"
        ).alias("_mh"),
    )
    return packed.select(
        "id",
        *[F.col(f"_mh.m{i}").alias(f"mh{i}") for i in range(NUM_HASHES)],
    )


def lsh_bands(sigs: DataFrame, id_out: str) -> DataFrame:
    """The LSH band table of signatures ``sigs``: one (``id_out``, band,
    band_key) row per signature per band, band_key = md5 of the band's
    ``BAND_SIZE`` components joined by '|'."""
    parts = []
    for b in range(NUM_HASHES // BAND_SIZE):
        cols = [F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)]
        parts.append(
            sigs.select(
                F.col("id").alias(id_out),
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("band_key"),
            )
        )
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def cross_lsh_candidates(sig_a: DataFrame, sig_b: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs whose signatures collide in any
    band, doc_a from ``sig_a`` and doc_b from ``sig_b``: the eval-set
    contamination check (did any training document near-duplicate an
    eval document?) and, on one corpus, ``lsh_candidate_pairs``.

    A pure equi-join on (band, band_key), a uniformly-distributed hash
    key, so A×B scale costs one shuffle of each side's band table, never
    a cross product.
    """
    return (
        lsh_bands(sig_a, "doc_a")
        .join(lsh_bands(sig_b, "doc_b"), ["band", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Distinct doc_a < doc_b candidate pairs of one corpus: the band
    self-join of ``cross_lsh_candidates`` (the filter lands in the join
    condition)."""
    return cross_lsh_candidates(signatures, signatures).filter(
        F.col("doc_a") < F.col("doc_b")
    )


def minhash_agreement(
    pairs: DataFrame, sig_a: DataFrame, sig_b: DataFrame
) -> DataFrame:
    """``pairs`` (doc_a, doc_b, ...) plus ``agree``: how many of the
    ``NUM_HASHES`` components of doc_a's signature in ``sig_a`` equal
    doc_b's in ``sig_b`` (agree / NUM_HASHES estimates their Jaccard).
    Pairs whose doc has no signature drop out."""
    a = sig_a.select(
        F.col("id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    b = sig_b.select(
        F.col("id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(*pairs.columns, agree.alias("agree"))
    )


def simhash_neardup_pairs(fp: DataFrame) -> DataFrame:
    """Bucketed SimHash pair search over :func:`simhash16`'s (id,
    simhash) frame: pairs with Hamming distance ≤ ``MAX_HAMMING`` on the
    16-bit fingerprint, without an all-pairs scan.

    Pigeonhole: split the 16 bits into 4 nibbles; ≤3 differing bits can
    touch at most 3 nibbles, so every qualifying pair shares at least one
    nibble *exactly* — recall is 1 by construction, not probabilistic.
    Candidates come from an equi-join on (nibble_position, nibble_value)
    — a plain shuffle join, no CartesianProduct — then the exact
    bit_count filter keeps true pairs only.

    At 100 TB: the fingerprint table is 2 longs/row; the 4× band fan-out
    and the (band, nib) shuffle are linear, and candidate dedup moves
    only (id_a, id_b, ha, hb) integer tuples.
    """
    slim = fp.select("id", F.col("simhash").alias("h"))
    bands = []
    for p in range(4):
        nib = F.shiftright(F.col("h"), p * 4).bitwiseAND(F.lit(15))
        bands.append(
            slim.select(
                "id", "h", F.lit(p).alias("band"), nib.alias("nib")
            )
        )
    exploded = bands[0]
    for extra in bands[1:]:
        exploded = exploded.unionByName(extra)
    a = exploded.select(
        F.col("id").alias("doc_a"), F.col("h").alias("ha"), "band", "nib"
    )
    b = exploded.select(
        F.col("id").alias("doc_b"), F.col("h").alias("hb"), "band", "nib"
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, ["band", "nib"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


HEX_DIGITS = "0123456789abcdef"


def simhash16(df: DataFrame) -> DataFrame:
    """16-bit SimHash over whitespace tokens.

    Each token votes with the first 4 hex digits of its md5; bit i of the
    fingerprint is the majority vote of bit i across tokens. Pure integer
    arithmetic (strpos/floor/%), identically expressible in SQL engines.
    """
    slim = df.select(F.col(DOC_ID).alias("_id"), F.col(TEXT).alias("_t"))
    target = df.sparkSession.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < target:
        slim = slim.repartition(target)
    toks = F.split(F.lower("_t"), " ")
    n_toks = F.size(toks).cast("long")

    # Two array passes: one transform hashes each token ONCE, one
    # aggregate folds all 16 bit-vote counters in a single traversal.
    # (The previous 16 independent vote_sum aggregates each recomputed
    # md5 per token — 16 digests/token and 16 interpreted passes.)
    # bit i = floor((strpos(HEX, md5(tok)[i//4+1]) - 1) / 2^(i%4)) % 2.
    md5s = F.transform(toks, lambda t: F.md5(t))
    init = F.struct(
        *[F.lit(0).cast("long").alias(f"v{i}") for i in range(16)]
    )

    def _merge(acc, h):
        fields = []
        for i in range(16):
            p = i // 4 + 1
            j = 2 ** (i % 4)
            digit = (
                F.instr(F.lit(HEX_DIGITS), F.substring(h, p, 1)) - 1
            )
            bit = F.floor(digit / F.lit(j)).cast("long") % 2
            fields.append((acc[f"v{i}"] + bit).alias(f"v{i}"))
        return F.struct(*fields)

    packed = slim.select(
        F.col("_id").alias("id"),
        n_toks.alias("n_toks"),
        F.aggregate(md5s, init, _merge).alias("_v"),
    )
    with_votes = packed.select(
        "id",
        "n_toks",
        *[F.col(f"_v.v{i}").alias(f"v{i}") for i in range(16)],
    )
    fp = None
    for i in range(16):
        bit = F.when(
            F.col(f"v{i}") * 2 >= F.col("n_toks"), F.lit(2**i)
        ).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return with_votes.select("id", fp.cast("long").alias("simhash"))


def sparse_cosine_pairs(
    df: DataFrame, threshold: float = 0.3, max_df: int = 5
) -> DataFrame:
    """Weighted all-pairs cosine over ``NGRAM_N``-gram term-FREQUENCY
    vectors.

    The sparse-vector twin of :func:`ngram_jaccard_pairs`: Jaccard sees
    shingle SETS, this scores the multiset — repeated phrases weigh in,
    which is what separates boilerplate-heavy near-dups from one-off
    quote overlap. Public method: Bayardo et al. 2007 (WWW, "Scaling Up
    All Pairs Similarity Search"); the paper's df-ordered prefix filter
    is collapsed to a hard stop-term cap (``max_df``) — a term in more
    docs carries no dedup signal but quadratic join cost.

    Two stages, both shuffle-bounded for 100 TB:

    1. *Candidates*: inverted-index self-join over df-capped postings
       only — bounded quadratic per term, equi-join on the gram.
    2. *Verify*: the FULL postings of candidate pairs re-joined on
       (doc, gram), so the dot product is exact integer arithmetic
       end-to-end; the only doubles are the final sqrt norms and one
       division, rounded via ``sround`` on both engines.

    Reference scope parity: the reference ships no similarity join
    (src/main.rs is scan->join->write); this is part of the
    beyond-reference curation surface.
    """
    from ..plans._util import sround

    sh = shingle_arrays(df)
    # localCheckpoint, not cache(): tf feeds five consumers but a plain
    # cache() here would pin block-manager memory for the session
    # lifetime (nobody can unpersist a lazily-returned plan); the
    # checkpoint RDD is dropped by the ContextCleaner once unreferenced.
    tf = (
        sh.select("id", F.explode("grams").alias("g"))
        .groupBy("id", "g")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    nrm = tf.groupBy("id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    dfreq = tf.groupBy("g").agg(F.count("*").alias("df"))
    rare = tf.join(
        dfreq.filter(F.col("df") <= max_df).select("g"), "g"
    )
    cand = (
        rare.select(F.col("id").alias("doc_a"), "g")
        .join(rare.select(F.col("id").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = tf.select(
        F.col("id").alias("doc_a"),
        F.col("g").alias("_g"),
        F.col("tf").alias("tf_a"),
    )
    tb = tf.select(
        F.col("id").alias("doc_b"),
        F.col("g").alias("_g"),
        F.col("tf").alias("tf_b"),
    )
    dots = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "_g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    cos = sround(
        F.col("dot").cast("double") / (F.col("nrm_a") * F.col("nrm_b")), 4
    )
    return (
        dots.join(
            nrm.select(F.col("id").alias("doc_a"), F.col("nrm").alias("nrm_a")),
            "doc_a",
        )
        .join(
            nrm.select(F.col("id").alias("doc_b"), F.col("nrm").alias("nrm_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "dot", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
