"""Training-data curation ops, batch 2: corpus-rarity scoring, per-source
caps, and sequence packing.

These are the steps between "raw crawl" and "tokenized shards" in an LLM
data pipeline: score documents against corpus statistics, cap any one
source's contribution, and pack documents into fixed-length training
sequences. All arithmetic is exact (bigint counts, IEEE divisions of
exactly-representable integers, decimal sums) so the DuckDB oracles
hash-match bit-for-bit — no libm transcendentals anywhere.

Scale notes (100 TB): the rarity join shuffles tokens (wordcount-shaped,
linear); the cap and packing use windows PARTITIONED by source/lang, so
no single-partition global sort appears anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._util import DEC, dsum, dsum_sql, sround, sround_sql

SEQ_LEN = 512
SOURCE_CAP = 10


def _tokens():
    return F.split(F.lower("text"), " ")


def q_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-rarity signals — the exact-arithmetic stand-in
    for unigram-LM perplexity (no ``ln``, so Spark and DuckDB agree to
    the bit): for each doc, the mean inverse relative corpus frequency
    of its tokens (rare tokens → large score) and its hapax ratio
    (share of tokens that occur exactly once corpus-wide). N/cnt divides
    two exactly-representable bigints — IEEE division is correctly
    rounded, so both engines produce the identical double; the per-doc
    weighting multiplies that value by an integer term frequency INSIDE
    the decimal domain (exact), so the sum equals tf repeated adds.

    Plan: ONE token explode → (doc, token, tf) agg → token totals derived
    from that agg (no second corpus scan) → tf-weighted join on token →
    per-doc agg. Two shuffles total, and the token join moves distinct
    (doc, token) pairs — not raw occurrences. Corpus total N is a
    broadcast one-row frame. Linear at any corpus size; the (potentially
    huge) vocabulary is never broadcast."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    counts = tf.groupBy("token").agg(
        F.sum("tf").cast("bigint").alias("cnt")
    )
    total = counts.agg(
        F.sum("cnt").cast("bigint").alias("total_n")
    )
    inv_freq = (
        F.col("total_n").cast("double") / F.col("cnt").cast("double")
    )
    return (
        tf.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tok"),
            F.sum(inv_freq.cast(DEC) * F.col("tf"))
            .cast("double")
            .alias("sum_inv_freq"),
            F.sum(F.when(F.col("cnt") == 1, F.col("tf")).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tok",
            (F.col("sum_inv_freq") / F.col("n_tok").cast("double")).alias(
                "mean_inv_freq"
            ),
            (
                F.col("n_hapax").cast("double")
                / F.col("n_tok").cast("double")
            ).alias("hapax_ratio"),
        )
        .orderBy("doc_id")
    )


ORACLE_RARITY_SCORE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE token <> '' GROUP BY doc_id, token),
counts AS (
  SELECT token, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY token),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_n FROM counts),
per_doc AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
         CAST(SUM(CAST(CAST(total_n AS DOUBLE) / CAST(cnt AS DOUBLE)
                       AS DECIMAL(28,6)) * tf) AS DOUBLE)
           AS sum_inv_freq,
         CAST(SUM(CASE WHEN cnt = 1 THEN tf ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM tf JOIN counts USING (token) CROSS JOIN total
  GROUP BY doc_id)
SELECT doc_id, n_tok,
       sum_inv_freq / CAST(n_tok AS DOUBLE) AS mean_inv_freq,
       CAST(n_hapax AS DOUBLE) / CAST(n_tok AS DOUBLE) AS hapax_ratio
FROM per_doc ORDER BY doc_id
"""


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap — the "no domain dominates" rule every
    crawl pipeline applies: keep at most {SOURCE_CAP} docs per source,
    chosen by a deterministic content-blind lottery (md5 of the doc id,
    doc_id tie-break), and report kept/total/chars per source.

    The window partitions by source, so each source's lottery is an
    independent partition-local sort — no global shuffle beyond the
    groupBy."""
    # the lottery is keyed on doc_id (md5 + tie-break): an id-less doc
    # has no deterministic lottery ticket, and engines order the NULL
    # key differently — drop on both sides (--nulls sweep)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    lottery = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(lottery, "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("rn") <= SOURCE_CAP, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("rn") <= SOURCE_CAP, F.col("n_chars")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


ORACLE_SOURCE_CAP = f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents WHERE doc_id IS NOT NULL)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rn <= {SOURCE_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM ranked GROUP BY source ORDER BY source
"""


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate each language's docs (doc_id order)
    and chunk into fixed {SEQ_LEN}-token training sequences — the
    concat-and-chunk packing every pretraining tokenizer stage runs.
    Reports per language: total tokens, number of sequences, the exact
    fill ratio of the last partial sequence amortized over all
    ({SEQ_LEN}·n_seqs), and how many docs straddle a sequence boundary
    (those need cross-sequence attention masking).

    The running sum windows by lang — each language packs independently,
    the degenerate single-partition global window never appears.
    Packing is an ORDERED operation: docs without an id have no defined
    pack position (many NULL keys in one partition make the cumsum
    order-nondeterministic — found by the combined nulls+skew sweep),
    so they are dropped identically on both engines."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    n_tok = F.size(_tokens()).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    per_doc = d.select("lang", "doc_id", n_tok.alias("n_tok")).select(
        "lang",
        "n_tok",
        cum.alias("cum"),
    )
    crosses = (
        (F.col("cum") - 1) / SEQ_LEN
    ).cast("bigint") != (
        (F.col("cum") - F.col("n_tok")) / SEQ_LEN
    ).cast("bigint")
    agg = per_doc.groupBy("lang").agg(
        F.max("cum").cast("bigint").alias("total_tokens"),
        F.sum(F.when(crosses, 1).otherwise(0))
        .cast("bigint")
        .alias("boundary_docs"),
    )
    n_seqs = F.floor((F.col("total_tokens") + SEQ_LEN - 1) / SEQ_LEN).cast(
        "bigint"
    )
    return agg.select(
        "lang",
        "total_tokens",
        n_seqs.alias("n_seqs"),
        (
            F.col("total_tokens").cast("double")
            / (n_seqs * SEQ_LEN).cast("double")
        ).alias("fill_ratio"),
        "boundary_docs",
    ).orderBy("lang")


ORACLE_SEQ_PACK = f"""
WITH per_doc AS (
  SELECT lang, doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok
  FROM documents WHERE doc_id IS NOT NULL),
cum AS (
  SELECT lang, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM per_doc),
agg AS (
  SELECT lang, CAST(MAX(cum) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN CAST(floor((cum - 1) / {SEQ_LEN}) AS BIGINT)
                         <> CAST(floor((cum - n_tok) / {SEQ_LEN}) AS BIGINT)
                  THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs
  FROM cum GROUP BY lang)
SELECT lang, total_tokens,
       CAST(floor((total_tokens + {SEQ_LEN} - 1) / {SEQ_LEN}) AS BIGINT)
         AS n_seqs,
       CAST(total_tokens AS DOUBLE)
         / CAST(CAST(floor((total_tokens + {SEQ_LEN} - 1) / {SEQ_LEN})
                     AS BIGINT) * {SEQ_LEN} AS DOUBLE) AS fill_ratio,
       boundary_docs
FROM agg ORDER BY lang
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training, step one: the top-20 BPE merge candidates —
    corpus-weighted counts of adjacent character pairs inside words.
    (Full BPE iterates this with re-segmentation; the candidate scan is
    the distributed-heavy part — each iteration is this same shape.)

    Plan: wordcount (one shuffle) → per-distinct-word pair explosion
    via sequence+substr (JVM-side, no Python) → weighted pair agg (one
    shuffle). Exploding DISTINCT words, not raw tokens, keeps the
    explode linear in vocabulary size rather than corpus size — at
    100 TB the vocab is millions while the corpus is trillions."""
    d = load(spark, sf_dir, "documents")
    return (
        _bpe_pair_counts(d)
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


def _bpe_pair_counts(d: DataFrame) -> DataFrame:
    """(pair, n): corpus-weighted adjacent-character-pair counts — the
    shared scan under q_bpe_merges (ranked list) and q_bpe_apply
    (merge application)."""
    words = (
        d.select(F.explode(_tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_word"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "n_word",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - 1)
        ).alias("i"),
        F.col("word"),
    ).select(
        F.substring(F.col("word"), F.col("i"), 2).alias("pair"), "n_word"
    )
    return pairs.groupBy("pair").agg(
        F.sum("n_word").cast("bigint").alias("n")
    )


ORACLE_BPE_MERGES = """
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
  WHERE word <> '' GROUP BY word),
pairs AS (
  SELECT substr(word, CAST(i AS BIGINT), 2) AS pair, n_word
  FROM (SELECT word, n_word, unnest(range(1, length(word))) AS i
        FROM words WHERE length(word) >= 2) p)
SELECT pair, CAST(SUM(n_word) AS BIGINT) AS n
FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
"""


BPE_APPLY_K = 5
_BPE_MARK_BASE = 57344  # U+E000 private-use; testdata text is ASCII


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training, step two: APPLY the learned top-5 BPE merges
    to every document — each merge rewrites its character pair to a
    fresh private-use symbol, in rank order, exactly the cascading
    replacement real BPE performs — and report the per-document symbol
    counts before/after plus the compression ratio (the statistic that
    decides whether the merge table is worth shipping).

    The merge table never touches the driver: the ranked merges are
    collected into ONE array row (collect_list over the 5-row top-k,
    sorted by a (−n, pair) struct key), broadcast, and folded over each
    document with ``aggregate`` + ``replace`` — JVM-side, no Python, no
    collect(). Pairs are intra-word by construction, so whole-text
    replacement cannot match across a space. At 100 TB the pair scan is
    vocabulary-bound (see q_bpe_merges) and the application is one
    stateless map over the corpus."""
    d = load(spark, sf_dir, "documents")
    top = (
        _bpe_pair_counts(d)
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_APPLY_K)
    )
    ms = top.agg(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("n")).alias("negn"), F.col("pair"))
            )
        ).alias("ms0")
    ).select(
        F.transform(
            "ms0",
            lambda m, i: F.struct(
                m["pair"].alias("pair"),
                (i + 1).cast("int").alias("rk"),
            ),
        ).alias("ms")
    )
    merged = F.aggregate(
        F.col("ms"),
        F.lower(F.col("text")),
        lambda acc, m: F.replace(
            acc, m["pair"], F.chr(F.lit(_BPE_MARK_BASE) + m["rk"])
        ),
    )
    before = F.length(
        F.replace(F.lower(F.col("text")), F.lit(" "), F.lit(""))
    )
    after = F.length(F.replace(merged, F.lit(" "), F.lit("")))
    return (
        d.crossJoin(F.broadcast(ms))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            before.cast("bigint").alias("n_syms_before"),
            after.cast("bigint").alias("n_syms_after"),
            (after.cast("double") / before.cast("double")).alias(
                "compression"
            ),
        )
    )


def _oracle_bpe_apply() -> str:
    """Rank the same top-5 pairs (window over a 5-row frame — oracle
    side only; the Spark side folds an indexed array instead) and nest
    the replace() chain in rank order."""
    expr = "lower(text)"
    for i in range(1, BPE_APPLY_K + 1):
        expr = (
            f"replace({expr}, (SELECT pair FROM ranked WHERE rk = {i}),"
            f" chr({_BPE_MARK_BASE + i}))"
        )
    return f"""
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_word FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
  WHERE word <> '' GROUP BY word),
pairs AS (
  SELECT substr(word, CAST(i AS BIGINT), 2) AS pair, n_word
  FROM (SELECT word, n_word, unnest(range(1, length(word))) AS i
        FROM words WHERE length(word) >= 2) p),
agg AS (SELECT pair, CAST(SUM(n_word) AS BIGINT) AS n
        FROM pairs GROUP BY pair),
top AS (SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT {BPE_APPLY_K}),
ranked AS (SELECT pair,
                  CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT)
                    AS rk
           FROM top)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(length(replace(lower(text), ' ', '')) AS BIGINT)
         AS n_syms_before,
       CAST(length(replace({expr}, ' ', '')) AS BIGINT) AS n_syms_after,
       CAST(length(replace({expr}, ' ', '')) AS DOUBLE)
         / CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
         AS compression
FROM documents
"""


def q_next_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram lookup LM: for each of the 20 most frequent head words,
    its most likely next word with the exact conditional probability
    (n_bigram / n_head, two exact bigints) — the n-gram-LM-as-table
    that seeds autocomplete and data-synthesis checks. One explode
    pass builds bigrams via a partitioned lead window; ties break
    lexicographically."""
    # adjacency is per-document: all NULL-id docs would collapse into
    # ONE window partition, interleaving unrelated texts with an
    # engine-dependent tie order — drop them on both sides
    # (--nulls sweep)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    toks = d.select(
        "doc_id", F.posexplode(_tokens()).alias("pos", "w")
    )
    lead_w = F.lead("w").over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    # filter AFTER the lead so adjacency matches raw array positions
    # (a '' token breaks the bigram on both engines identically)
    bigrams = (
        toks.select("doc_id", "pos", "w", lead_w.alias("nxt"))
        .filter(
            (F.col("w") != "")
            & F.col("nxt").isNotNull()
            & (F.col("nxt") != "")
        )
        .groupBy("w", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bi"))
    )
    heads = bigrams.groupBy("w").agg(
        F.sum("n_bi").cast("bigint").alias("n_head")
    )
    rk = Window.partitionBy("w").orderBy(
        F.col("n_bi").desc(), "nxt"
    )
    best = (
        bigrams.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .join(heads, "w")
    )
    return (
        best.select(
            "w",
            "nxt",
            "n_head",
            "n_bi",
            (
                F.col("n_bi").cast("double")
                / F.col("n_head").cast("double")
            ).alias("p_next"),
        )
        .orderBy(F.col("n_head").desc(), "w")
        .limit(20)
    )


ORACLE_NEXT_WORD = """
WITH toks AS (
  SELECT doc_id, i AS pos, t[i] AS w, t[i + 1] AS nxt
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents WHERE doc_id IS NOT NULL) d,
       unnest(range(1, len(t) + 1)) AS u(i)),
bigrams AS (
  SELECT w, nxt, CAST(COUNT(*) AS BIGINT) AS n_bi
  FROM toks
  WHERE w <> '' AND nxt IS NOT NULL AND nxt <> ''
  GROUP BY w, nxt),
heads AS (
  SELECT w, CAST(SUM(n_bi) AS BIGINT) AS n_head FROM bigrams GROUP BY w),
best AS (
  SELECT * FROM (
    SELECT w, nxt, n_bi,
           row_number() OVER (PARTITION BY w
                              ORDER BY n_bi DESC, nxt) AS rk
    FROM bigrams) x WHERE rk = 1)
SELECT w, nxt, n_head, n_bi,
       CAST(n_bi AS DOUBLE) / CAST(n_head AS DOUBLE) AS p_next
FROM best JOIN heads USING (w)
ORDER BY n_head DESC, w LIMIT 20
"""


def q_source_lang_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bias audit: source × language contingency with the
    independence baseline — observed cell counts vs expected
    (row_total · col_total / N), ratio rounded to 4. Cells far from 1
    reveal a source skewing the language mix (the check a curation
    pipeline runs before fixing mixture weights). All counts exact;
    expected is one division of exact bigints; three tiny broadcast
    joins after one corpus agg."""
    d = load(spark, sf_dir, "documents")
    cell = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("observed")
    )
    row_t = cell.groupBy("source").agg(
        F.sum("observed").cast("bigint").alias("n_source")
    )
    col_t = cell.groupBy("lang").agg(
        F.sum("observed").cast("bigint").alias("n_lang")
    )
    total = cell.agg(F.sum("observed").cast("bigint").alias("n_total"))
    expected = (
        (F.col("n_source") * F.col("n_lang")).cast("double")
        / F.col("n_total").cast("double")
    )
    from ._util import sround

    return (
        cell.join(F.broadcast(row_t), "source")
        .join(F.broadcast(col_t), "lang")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "lang",
            "observed",
            sround(expected, 4).alias("expected"),
            sround(
                F.col("observed").cast("double") / expected, 4
            ).alias("bias_ratio"),
        )
        .orderBy("source", "lang")
    )


ORACLE_SOURCE_LANG_BIAS = """
WITH cell AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS observed
  FROM documents GROUP BY source, lang),
row_t AS (SELECT source, CAST(SUM(observed) AS BIGINT) AS n_source
          FROM cell GROUP BY source),
col_t AS (SELECT lang, CAST(SUM(observed) AS BIGINT) AS n_lang
          FROM cell GROUP BY lang),
total AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total FROM cell)
SELECT source, lang, observed,
       (round((CAST(n_source * n_lang AS DOUBLE)
               / CAST(n_total AS DOUBLE)) * 10000.0) / 10000.0) + 0.0
         AS expected,
       (round((CAST(observed AS DOUBLE)
               / (CAST(n_source * n_lang AS DOUBLE)
                  / CAST(n_total AS DOUBLE))) * 10000.0) / 10000.0) + 0.0
         AS bias_ratio
FROM cell JOIN row_t USING (source) JOIN col_t USING (lang)
CROSS JOIN total
ORDER BY source, lang
"""


CHUNK_TOKENS = 64   # tokens per retrieval chunk
CHUNK_STRIDE = 48   # 16-token overlap between consecutive chunks


def q_text_chunks(spark, sf_dir):
    """RAG chunk materialization: overlapping fixed-size token windows
    (64 tokens, stride 48) per document — the retrieval-prep pass that
    turns documents into embeddable units with stable ids. Chunk spans
    come from one integer sequence per row (pure codegen arithmetic, no
    per-element re-evaluation) and one explode; ids are (doc_id,
    chunk_id) with chunk_id dense from 0. Exported as scalar columns
    (token count + md5 digest of the chunk text) per the differential
    harness contract; a real pipeline would also keep the text. Docs
    shorter than one window become a single whole-doc chunk. All
    integer math (n_chunks = (n - 17) div 48 + 1 for n > 64) so the
    DuckDB twin replays bit-for-bit."""
    from pyspark.sql import functions as F

    from ..catalog import load

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    n_chunks = F.when(F.col("n") <= CHUNK_TOKENS, F.lit(1)).otherwise(
        F.expr(f"(n - {CHUNK_TOKENS - CHUNK_STRIDE + 1}) div {CHUNK_STRIDE}")
        + F.lit(1)
    )
    chunks = base.withColumn("n_chunks", n_chunks).select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))
        ).alias("chunk_id"),
    )
    window = F.slice(
        F.col("toks"),
        F.col("chunk_id") * CHUNK_STRIDE + 1,
        CHUNK_TOKENS,
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(window).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", window)).alias("chunk_digest"),
    )


ORACLE_TEXT_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks,
         CASE WHEN n <= {CHUNK_TOKENS} THEN 1
              ELSE ((n - {CHUNK_TOKENS - CHUNK_STRIDE + 1})
                    // {CHUNK_STRIDE}) + 1 END AS n_chunks
  FROM t
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                           i * {CHUNK_STRIDE} + {CHUNK_TOKENS}))
            AS BIGINT) AS n_tokens,
       md5(array_to_string(
             list_slice(toks, i * {CHUNK_STRIDE} + 1,
                        i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '))
         AS chunk_digest
FROM c, unnest(range(0, n_chunks)) AS u(i)
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document — the
    perplexity-style quality gate (the CCNet-pipeline stage, public
    literature: Wenzek et al. 2020) in the transcendental-free form this
    repo's oracles require: instead of avg(-log p) we report the
    tf-weighted MEAN and the MIN of the bigram conditional probabilities
    p(w2|w1) = n(w1,w2) / n(w1·), both monotone fluency signals.
    Every p divides two exactly-representable bigints — IEEE division is
    correctly rounded, so Spark and DuckDB produce the identical double —
    and the per-doc mean goes through the decimal-sum discipline
    (p truncates to 6 dp inside the decimal domain, then multiplies by an
    integer tf: exact, order-independent).

    Plan (100 TB): ONE bigram explode feeds both the per-doc tf agg and,
    derived FROM that agg, the corpus bigram counts and first-slot
    marginals — the corpus is scanned once. The probability table is
    vocab-bounded (far smaller than the corpus) and joins back on the
    bigram key — Zipf-skewed by nature, handled by AQE skew-join; the doc
    side is tf-compressed to distinct (doc, bigram) pairs first so the
    join moves no duplicate strings. No vocabulary broadcast anywhere.
    Docs with <2 tokens have no bigrams and drop out (same rule as the
    reference-style shingle ops: shorter-than-n docs yield nothing).
    """
    from ..operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    g = shingles(d, n=2, distinct=False).select(
        F.col("id").alias("doc_id"), F.col("shingle").alias("bigram")
    )
    tf = g.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    c = (
        tf.groupBy("bigram")
        .agg(F.sum("tf").cast("bigint").alias("n_ab"))
        .withColumn("w1", F.substring_index("bigram", " ", 1))
    )
    fa = c.groupBy("w1").agg(F.sum("n_ab").cast("bigint").alias("n_a"))
    p = c.join(fa, "w1").select(
        "bigram",
        (
            F.col("n_ab").cast("double") / F.col("n_a").cast("double")
        ).alias("p"),
    )
    return (
        tf.join(p, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("p").cast(DEC) * F.col("tf"))
            .cast("double")
            .alias("_sum_p"),
            F.min("p").alias("min_condp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("_sum_p") / F.col("n_bigrams").cast("double")
            ).alias("mean_condp"),
            "min_condp",
        )
        .orderBy("doc_id")
    )


ORACLE_LM_SCORE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1]))
           AS bigram
  FROM t),
tf AS (
  SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS tf
  FROM g GROUP BY doc_id, bigram),
c AS (
  SELECT bigram, CAST(SUM(tf) AS BIGINT) AS n_ab,
         string_split(bigram, ' ')[1] AS w1
  FROM tf GROUP BY bigram),
fa AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM c GROUP BY w1),
p AS (
  SELECT bigram, CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS p
  FROM c JOIN fa USING (w1)),
per_doc AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(p AS DECIMAL(28,6)) * tf) AS DOUBLE) AS sum_p,
         MIN(p) AS min_condp
  FROM tf JOIN p USING (bigram) GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       sum_p / CAST(n_bigrams AS DOUBLE) AS mean_condp,
       min_condp
FROM per_doc ORDER BY doc_id
"""


BM25_K1 = 1.5
BM25_B = 0.75
BM25_TERMS = ("spark", "query", "window")
BM25_TOPK = 15


def bm25_topk(
    d: DataFrame,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    topk: int = BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 ranking (Robertson & Zaragoza 2009, public literature)
    of documents against a fixed keyword query — the retrieval scorer a
    curation pipeline uses for targeted corpus slices. tf saturation and
    length normalization use the standard k1/b form; idf uses the RSJ
    odds ratio (N - df + 0.5)/(df + 0.5) WITHOUT the usual log wrap —
    every input is an exactly-representable double and IEEE +,-,*,/ are
    correctly rounded, so Spark and DuckDB compute bit-identical weights
    with no libm transcendental anywhere (module contract above); the
    per-document sum goes through the decimal domain (order-independent).

    Scale shape: the term filter lands directly after the token explode,
    so only query-term rows survive into the tf aggregate; df (≤ |terms|
    rows) and the 1-row corpus stats are broadcast; the dl join shuffles
    on doc_id; final top-k is orderBy+limit → TakeOrderedAndProject
    (per-partition partial top-k, no single-partition window).

    ``d`` needs (doc_id, text); tested against a pure-Python replica in
    tests/test_curation_ops.py and the DuckDB oracle (ORACLE_BM25)."""
    dl = d.select(
        "doc_id",
        F.size(F.filter(_tokens(), lambda t: t != "")).alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("dl").cast("bigint").alias("tot"),
    )
    tf = (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    avgdl = F.col("tot").cast("double") / F.col("nd").cast("double")
    idf = (
        F.col("nd").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    sat = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * (F.col("dl").cast("double") / avgdl)
        )
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * sat).alias("w"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dsum("w").alias("_s"),
    )
    return (
        agg.select(
            "doc_id", "n_terms", sround(F.col("_s"), 9).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(topk)
    )


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for the fixed keyword query — see :func:`bm25_topk`."""
    return bm25_topk(load(spark, sf_dir, "documents"))


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_IDF = (
    "(CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5)"
)
_BM25_SAT = (
    f"(CAST(tf AS DOUBLE) * {BM25_K1 + 1.0!r})"
    f" / (CAST(tf AS DOUBLE) + {BM25_K1!r} * ({1.0 - BM25_B!r}"
    f" + {BM25_B!r} * (CAST(dl AS DOUBLE)"
    " / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE)))))"
)
ORACLE_BM25 = f"""
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
           AS dl
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS tot
  FROM dl
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents)
  WHERE token IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, token
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id, ({_BM25_IDF}) * ({_BM25_SAT}) AS w
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id), stats
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         {dsum_sql('w')} AS s
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms, {sround_sql('s', 9)} AS score
FROM agg
ORDER BY score DESC, doc_id
LIMIT {BM25_TOPK}
"""


DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (public method: Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much its hashed-unigram feature profile
    leans toward a TARGET distribution (here lang='en' docs) versus the
    raw corpus. Tokens hash into 64 md5 buckets; each bucket gets an
    add-one-smoothed probability under both distributions; a doc's score
    is sum(count_b * (p_target(b) - p_raw(b))), reported in parts per
    million. The paper scores with the log-likelihood ratio; the repo's
    determinism contract sanctions ``ln`` exactly once (weighted
    sampling), so this uses the difference-of-probabilities linear
    discriminant instead — same sign, same selection direction, exact
    rational arithmetic end to end.

    100 TB shape: the bucket tables are 64 rows (broadcast); the only
    data-sized shuffles are wordcount-shaped groupBys on (bucket) and
    (doc, bucket). Totals ride a 1-row broadcast cross join, the same
    pattern as PageRank's dangling-mass frame."""
    B = DSIR_BUCKETS
    # selection emits per-doc decisions keyed on doc_id — id-less docs
    # can't be selected and are dropped on both sides (--nulls sweep)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    tb = (
        d.select(
            "doc_id",
            "lang",
            F.explode(_tokens()).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(B),
            ).alias("b"),
        )
    )
    # ONE heavy (doc, bucket) shuffle; every bucket/total statistic then
    # rolls up from this ≤64-rows-per-doc table instead of replaying the
    # token explode (4.5 s → ~1 s at sf0.1). Exchange reuse covers only
    # some of its consumers, so the table is an eager checkpoint, which
    # no cache outlives.
    docb = (
        tb.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bstats = docb.groupBy("b").agg(
        F.sum("cnt").alias("n_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("n_tgt"),
    )
    tot = bstats.agg(
        F.sum("n_raw").alias("r_tot"), F.sum("n_tgt").alias("t_tot")
    )
    p_t = (F.col("n_tgt") + 1).cast("double") / (
        F.col("t_tot") + B
    ).cast("double")
    p_r = (F.col("n_raw") + 1).cast("double") / (
        F.col("r_tot") + B
    ).cast("double")
    delta = bstats.crossJoin(F.broadcast(tot)).select(
        "b", sround((p_t - p_r) * 1e6, 6).alias("delta_ppm")
    )
    return (
        docb.join(F.broadcast(delta), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_toks"),
            F.sum(
                (F.col("cnt") * F.col("delta_ppm")).cast(DEC)
            )
            .cast("double")
            .alias("dsir_score_ppm"),
        )
        .select("doc_id", "lang", "n_toks", "dsir_score_ppm")
    )


_DSIR_DELTA = (
    f"((CAST(COALESCE(n_tgt, 0) + 1 AS DOUBLE)"
    f" / CAST(t_tot + {DSIR_BUCKETS} AS DOUBLE))"
    f" - (CAST(n_raw + 1 AS DOUBLE)"
    f" / CAST(r_tot + {DSIR_BUCKETS} AS DOUBLE))) * 1000000.0"
)

ORACLE_DSIR_SELECT = f"""
WITH tk AS (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE doc_id IS NOT NULL) u
  WHERE tok <> ''
), tb AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5('dsir:' || tok), 1, 15))::BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM tk
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_raw FROM tb GROUP BY b
), tgt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_tgt FROM tb
  WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS r_tot,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
              AS BIGINT) AS t_tot
  FROM tb
), delta AS (
  SELECT b, {sround_sql(_DSIR_DELTA, 6)} AS delta_ppm
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
), docb AS (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM tb
  GROUP BY doc_id, b
), scored AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
         CAST(SUM(CAST(cnt * delta_ppm AS DECIMAL(28,6))) AS DOUBLE)
           AS dsir_score_ppm
  FROM docb JOIN delta USING (b) GROUP BY doc_id
)
SELECT s.doc_id, d.lang, s.n_toks, s.dsir_score_ppm
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""


def q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per language — the multilingual budget
    check run before committing to a tokenizer: chars per word-token and
    bytes per char by lang (CJK text runs ~3 UTF-8 bytes/char and
    near-zero ascii word-tokens, exactly what this surfaces). Exact
    bigint sums per group; two final double divisions.

    100 TB shape: one map-side-combinable groupBy on a 5-value key over
    scalar projections — scan-bound, pruned to (lang, text)."""
    from .textops import WORD_RE

    d = load(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.length("text").cast("long").alias("chars"),
        F.octet_length("text").cast("long").alias("bytes"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0)
        )
        .cast("long")
        .alias("toks"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("n_chars"),
        F.sum("bytes").alias("n_bytes"),
        F.sum("toks").alias("n_word_tokens"),
        (
            F.sum("chars").cast("double") / F.sum("toks").cast("double")
        ).alias("chars_per_token"),
        (
            F.sum("bytes").cast("double") / F.sum("chars").cast("double")
        ).alias("bytes_per_char"),
    )


def _oracle_fertility() -> str:
    from .textops import WORD_RE

    return f"""
WITH per AS (
  SELECT lang, CAST(length(text) AS BIGINT) AS chars,
         CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
         CAST(len(regexp_extract_all(lower(text), '{WORD_RE}')) AS BIGINT)
           AS toks
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST(SUM(bytes) AS BIGINT) AS n_bytes,
       CAST(SUM(toks) AS BIGINT) AS n_word_tokens,
       CAST(SUM(chars) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE)
         AS chars_per_token,
       CAST(SUM(bytes) AS DOUBLE) / CAST(SUM(chars) AS DOUBLE)
         AS bytes_per_char
FROM per GROUP BY lang
"""


MIX_BUDGET_TOKENS = 1_000_000
# alpha = 0.5 -> weight = sqrt(n_tokens). sqrt is the ONE transcendental
# allowed here: IEEE 754 REQUIRES correctly-rounded sqrt (unlike
# exp/log/pow), so Spark and DuckDB produce bit-identical doubles; the
# weight is then snapped to an integer (round(sqrt(n) * 1e6)) so the
# normalizing SUM is exact bigint arithmetic, not an order-dependent
# double sum.


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (p_i ∝ n_i^alpha, alpha = 0.5 —
    the multilingual-corpus upsampling rule of Conneau & Lample 2019 /
    mBERT, complementing q_mixture_plan's budget-capped weights): per
    source, token mass, sampling probability, expected epochs over that
    source under the token budget, and the upsampling factor vs
    proportional sampling. Low-resource sources get > 1 boost, dominant
    sources < 1 — the table a curriculum launcher reads.

    100 TB shape: one map-side-combinable groupBy(source) + one
    broadcast 1-row total; integer weights make the normalization
    shuffle-order-independent."""
    d = load(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.lower("text"), " ")).cast("bigint"))
        .alias("n_tokens")
    )
    wgt = F.round(
        F.sqrt(F.col("n_tokens").cast("double")) * 1e6
    ).cast("bigint")
    w = s.withColumn("wgt", wgt)
    tot = w.agg(
        F.sum("wgt").alias("wtot"), F.sum("n_tokens").alias("ntot")
    )
    j = w.crossJoin(F.broadcast(tot))
    p = F.col("wgt").cast("double") / F.col("wtot").cast("double")
    prop = F.col("n_tokens").cast("double") / F.col("ntot").cast("double")
    return j.select(
        "source",
        "n_tokens",
        sround(p, 6).alias("p_sample"),
        sround(
            p * float(MIX_BUDGET_TOKENS)
            / F.col("n_tokens").cast("double"),
            4,
        ).alias("epochs"),
        sround(p / prop, 4).alias("upsample_vs_prop"),
    )


ORACLE_MIXTURE_TEMPERATURE = f"""
WITH s AS (
  SELECT source,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_tokens,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS wgt
  FROM s
), t AS (
  SELECT SUM(wgt) AS wtot, SUM(n_tokens) AS ntot FROM w
)
SELECT source, n_tokens,
       {sround_sql("CAST(wgt AS DOUBLE) / CAST(wtot AS DOUBLE)", 6)}
         AS p_sample,
       {sround_sql(
           "CAST(wgt AS DOUBLE) / CAST(wtot AS DOUBLE) * "
           + str(float(MIX_BUDGET_TOKENS))
           + " / CAST(n_tokens AS DOUBLE)", 4)} AS epochs,
       {sround_sql(
           "(CAST(wgt AS DOUBLE) / CAST(wtot AS DOUBLE)) / "
           "(CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE))", 4)}
         AS upsample_vs_prop
FROM w, t
"""


def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction — the step that turns a crawled
    page into training text (the trafilatura/jusText role, reduced to
    its deterministic core): each doc's text is entity-encoded and
    wrapped in a full page (head/title, script+style blocks, nav and
    footer boilerplate, h1, paragraph), then the extractor must get
    the content back out JVM-side with NO UDF — drop script/style
    subtrees ((?s) non-greedy block regexes), drop nav/footer
    boilerplate, strip the remaining tags, decode the five standard
    entities (&amp; LAST, so double-encoded input can't double-
    decode), collapse whitespace. The oracle rebuilds and re-strips
    the same page in SQL, so the full extracted string is value-hash
    compared — a greedy regex, wrong decode order, or whitespace slip
    fails on every row. At 100 TB this is a pure map stage: one
    regexp chain inside whole-stage codegen, no shuffle at all."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    enc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    page = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x=1;</script>"
              "<style>.a{color:red}</style></head><body>"
              "<nav>home | about | contact</nav><h1>Heading "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        enc,
        F.lit("</p><footer>&copy; 2024 example</footer></body></html>"),
    )
    s = F.regexp_replace(page, "(?s)<script.*?</script>", " ")
    s = F.regexp_replace(s, "(?s)<style.*?</style>", " ")
    s = F.regexp_replace(s, "(?s)<nav.*?</nav>", " ")
    s = F.regexp_replace(s, "(?s)<footer.*?</footer>", " ")
    s = F.regexp_replace(s, "<[^>]+>", " ")
    s = F.replace(s, F.lit("&lt;"), F.lit("<"))
    s = F.replace(s, F.lit("&gt;"), F.lit(">"))
    s = F.replace(s, F.lit("&quot;"), F.lit('"'))
    s = F.replace(s, F.lit("&#39;"), F.lit("'"))
    s = F.replace(s, F.lit("&amp;"), F.lit("&"))
    s = F.trim(F.regexp_replace(s, "\\s+", " "))
    return d.select(
        "doc_id",
        s.alias("clean_text"),
        F.size(F.split(s, " ")).cast("bigint").alias("n_words"),
    ).orderBy("doc_id")


ORACLE_HTML_STRIP = """
WITH enc AS (
  SELECT doc_id,
         replace(replace(replace(text, '&', '&amp;'),
                 '<', '&lt;'), '>', '&gt;') AS etext
  FROM documents
), page AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || '</title><script>var x=1;</script>'
         || '<style>.a{color:red}</style></head><body>'
         || '<nav>home | about | contact</nav><h1>Heading '
         || CAST(doc_id AS VARCHAR) || '</h1><p>' || etext
         || '</p><footer>&copy; 2024 example</footer></body></html>'
           AS html
  FROM enc
), stripped AS (
  SELECT doc_id,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(
        regexp_replace(
        regexp_replace(
        regexp_replace(
        regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g'),
          '(?s)<style.*?</style>', ' ', 'g'),
          '(?s)<nav.*?</nav>', ' ', 'g'),
          '(?s)<footer.*?</footer>', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        CHR(38) || '#39;', CHR(39)), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS clean_text
  FROM page
)
SELECT doc_id, clean_text,
       CAST(length(clean_text)
            - length(replace(clean_text, ' ', '')) + 1 AS BIGINT)
         AS n_words
FROM stripped ORDER BY doc_id
"""


def q_char_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-collision (Simpson) index per document — the
    transcendental-free stand-in for character entropy that gibberish/
    boilerplate filters use (a doc dominated by one repeated character
    has collision ~1; natural text sits far lower). Reported as
    sum(count_c^2) / n^2 over the doc's characters plus the distinct
    count and the top-character share.

    Determinism: counts are exact bigints aggregated per doc with
    JVM-side HOFs (no shuffle at all — the whole query is one codegen
    projection), and each double is ONE correctly-rounded division of
    two exactly-representable integers, so Spark and DuckDB hash-match
    without rounding tricks. Scale: embarrassingly parallel scan;
    per-doc cost is O(distinct_chars · len), bounded by the alphabet.
    """
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.length("text") > 0)
    )
    cs = F.filter(F.split(F.col("text"), ""), lambda c: F.length(c) > 0)
    d = d.select("doc_id", cs.alias("cs"))
    cnt = F.transform(
        F.array_distinct("cs"),
        lambda c: F.size(
            F.filter(F.col("cs"), lambda x: x == c)
        ).cast("long"),
    )
    d = d.select(
        "doc_id", F.size("cs").cast("long").alias("n"), cnt.alias("cnt")
    )
    sum_sq = F.aggregate(
        "cnt", F.lit(0).cast("long"), lambda a, x: a + x * x
    )
    return d.select(
        "doc_id",
        F.col("n").alias("n_chars_tok"),
        F.size("cnt").cast("long").alias("distinct_chars"),
        (sum_sq.cast("double") / (F.col("n") * F.col("n")).cast("double"))
        .alias("simpson"),
        (F.array_max("cnt").cast("double") / F.col("n").cast("double"))
        .alias("top_char_ratio"),
    )


ORACLE_CHAR_COLLISION = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ''), c -> length(c) > 0) AS cs
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND length(text) > 0
), m AS (
  SELECT doc_id, CAST(len(cs) AS BIGINT) AS n,
         list_transform(list_distinct(cs),
             c -> CAST(len(list_filter(cs, x -> x = c)) AS BIGINT)) AS cnt
  FROM d
)
SELECT doc_id,
       n AS n_chars_tok,
       CAST(len(cnt) AS BIGINT) AS distinct_chars,
       CAST(COALESCE(list_sum(list_transform(cnt, x -> x * x)), 0)
            AS DOUBLE) / CAST(n * n AS DOUBLE) AS simpson,
       CAST(list_max(cnt) AS DOUBLE) / CAST(n AS DOUBLE)
         AS top_char_ratio
FROM m
ORDER BY doc_id
"""


INTERLEAVE_SCALE = 1_000_000


def q_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted interleave of sources into ONE training
    stream — the step after q_mixture_plan's sampling table: given
    per-source weights, emit every document with an integer position
    key such that reading in key order yields each source at a rate
    proportional to its weight (the standard stride-scheduling /
    virtual-time discipline: doc r of a weight-w source lands at
    key = (r-1)·SCALE // w). A weight-3 source appears 3× as often as
    a weight-1 source at any prefix of the stream.

    The key is pure integer math over a per-source rank, so the
    interleave order is reproducible across engines, partitionings and
    reruns — no RNG, no global window (consumers sort by the emitted
    key at write time; a total-order window would serialize at scale).
    Weights derive deterministically from the source name here; a real
    run passes its mixing table. Scale: one rank window PER SOURCE —
    the same shuffle profile as q_source_cap."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    # Guarded digit extraction (ADVICE r8): a source NOT ending in a
    # digit must not silently NULL the weight (Spark non-ANSI cast)
    # while the oracle's CAST raises — both sides default to 0 → w=1.
    digit = F.regexp_extract("source", "([0-9])$", 1)
    w = (
        F.when(digit == "", F.lit(0)).otherwise(digit.cast("int")) % 3 + 1
    ).cast("long")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy("doc_id")
    )
    d = d.select(
        "doc_id",
        "source",
        w.alias("weight"),
        rn.cast("long").alias("src_rank"),
    )
    return d.select(
        "doc_id",
        "source",
        "weight",
        "src_rank",
        F.expr(
            f"(src_rank - 1) * CAST({INTERLEAVE_SCALE} AS BIGINT)"
            " DIV weight"
        ).alias("pos_key"),
    )


ORACLE_INTERLEAVE_MIXTURE = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(COALESCE(TRY_CAST(right(source, 1) AS INT), 0) % 3 + 1
              AS BIGINT) AS weight,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
              AS BIGINT) AS src_rank
  FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL
)
SELECT doc_id, source, weight, src_rank,
       (src_rank - 1) * {INTERLEAVE_SCALE} // weight AS pos_key
FROM d
ORDER BY pos_key, source, doc_id
"""


QUERIES = {
    "q_rarity_score": q_rarity_score,
    "q_char_collision": q_char_collision,
    "q_interleave_mixture": q_interleave_mixture,
    "q_html_strip": q_html_strip,
    "q_bpe_merges": q_bpe_merges,
    "q_source_cap": q_source_cap,
    "q_seq_pack": q_seq_pack,
    "q_source_lang_bias": q_source_lang_bias,
    "q_next_word": q_next_word,
    "q_text_chunks": q_text_chunks,
    "q_lm_score": q_lm_score,
    "q_bm25": q_bm25,
    "q_bpe_apply": q_bpe_apply,
    "q_dsir_select": q_dsir_select,
    "q_fertility": q_fertility,
    "q_mixture_temperature": q_mixture_temperature,
}

ORACLES = {
    "q_rarity_score": ORACLE_RARITY_SCORE,
    "q_char_collision": ORACLE_CHAR_COLLISION,
    "q_interleave_mixture": ORACLE_INTERLEAVE_MIXTURE,
    "q_html_strip": ORACLE_HTML_STRIP,
    "q_bpe_merges": ORACLE_BPE_MERGES,
    "q_source_cap": ORACLE_SOURCE_CAP,
    "q_seq_pack": ORACLE_SEQ_PACK,
    "q_source_lang_bias": ORACLE_SOURCE_LANG_BIAS,
    "q_next_word": ORACLE_NEXT_WORD,
    "q_text_chunks": ORACLE_TEXT_CHUNKS,
    "q_lm_score": ORACLE_LM_SCORE,
    "q_bm25": ORACLE_BM25,
    "q_bpe_apply": _oracle_bpe_apply(),
    "q_dsir_select": ORACLE_DSIR_SELECT,
    "q_fertility": _oracle_fertility(),
    "q_mixture_temperature": ORACLE_MIXTURE_TEMPERATURE,
}
