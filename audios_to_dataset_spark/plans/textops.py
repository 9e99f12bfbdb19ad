"""Text-analysis plans over the documents table.

The large-scale-training-data operator set: language ID, quality scoring,
token counting, fingerprinting — each expressed with JVM-side built-ins
(split / HOFs / regexp / md5), no Python UDFs in the hot path, and each
with an exact DuckDB oracle (identical integer/string algorithms on both
engines; doubles only in final deterministic divisions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ._util import sround

# Stopword sets for the n-gram/stopword language-ID heuristic. Priority
# order breaks score ties deterministically (en > fr > es > de > zh).
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "is", "to"),
    "fr": ("le", "la", "et", "de", "un", "est"),
    "es": ("el", "la", "y", "de", "un", "es"),
    "de": ("der", "die", "und", "das", "ein", "ist"),
    "zh": ("wo", "ni", "ta", "de", "shi", "bu"),
}

PUNCT_CLASS = "[.,!?;:]"
WORD_RE = "[a-z0-9]+"


def _tokens(col: str = "text") -> Column:
    return F.split(F.lower(col), " ")


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core string scalar surface (SURVEY §2.7): lower/length/substr/split."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower("text").alias("text_lower"),
        F.length("text").cast("long").alias("text_len"),
        F.substring("text", 1, 20).alias("prefix20"),
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.upper("lang").alias("lang_upper"),
    )


ORACLE_STRING_FUNCS = """
SELECT doc_id, lower(text) AS text_lower,
       CAST(length(text) AS BIGINT) AS text_len,
       substr(text, 1, 20) AS prefix20,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       upper(lang) AS lang_upper
FROM documents
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens (the BPE-ish
    pre-tokenization count a data pipeline uses for budget estimates)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(WORD_RE), 0))
        .cast("long")
        .alias("n_word_tokens"),
    )


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{WORD_RE}')) AS BIGINT)
         AS n_word_tokens
FROM documents
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: length, token count, distinct tokens, mean token
    length (exact integer sums; one final double division)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_toks = F.size(toks).cast("long")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_toks.alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        (sum_tok_len.cast("double") / n_toks).alias("mean_token_len"),
    )


ORACLE_TEXT_STATS = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
         AS n_unique_tokens,
       CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                    t -> CAST(length(t) AS BIGINT)))
            AS DOUBLE)
         / len(string_split(lower(text), ' ')) AS mean_token_len
FROM documents
"""


def _stop_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def _stop_hits_sql(words: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{w}'" for w in words)
    return (
        "CAST(len(list_filter(string_split(lower(text), ' '), "
        f"t -> t IN ({in_list}))) AS BIGINT)"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with deterministic priority tie-break."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    scores = {
        lang: _stop_hits(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    en, fr, es, de, zh = (scores[x] for x in ("en", "fr", "es", "de", "zh"))
    pred = (
        F.when((en >= fr) & (en >= es) & (en >= de) & (en >= zh), "en")
        .when((fr >= es) & (fr >= de) & (fr >= zh), "fr")
        .when((es >= de) & (es >= zh), "es")
        .when(de >= zh, "de")
        .otherwise("zh")
    )
    return d.select(
        "doc_id", "lang", pred.alias("pred_lang"), en.alias("en_hits")
    )


def _oracle_lang_id() -> str:
    s = {lang: _stop_hits_sql(w) for lang, w in LANG_STOPWORDS.items()}
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         {s['en']} AS en, {s['fr']} AS fr, {s['es']} AS es,
         {s['de']} AS de, {s['zh']} AS zh
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN en >= fr AND en >= es AND en >= de AND en >= zh THEN 'en'
            WHEN fr >= es AND fr >= de AND fr >= zh THEN 'fr'
            WHEN es >= de AND es >= zh THEN 'es'
            WHEN de >= zh THEN 'de'
            ELSE 'zh' END AS pred_lang,
       en AS en_hits
FROM scored
"""


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval analytics: the confusion matrix of the stopword
    language classifier against the labeled lang column — (actual,
    predicted, n) with per-actual recall. This is the evaluation query
    any heuristic filter needs before it gates a corpus; one agg over
    the classifier projection, exact integer counts, exact division."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    scores = {
        lang: _stop_hits(toks, words)
        for lang, words in LANG_STOPWORDS.items()
    }
    en, fr, es, de, zh = (
        scores[x] for x in ("en", "fr", "es", "de", "zh")
    )
    pred = (
        F.when((en >= fr) & (en >= es) & (en >= de) & (en >= zh), "en")
        .when((fr >= es) & (fr >= de) & (fr >= zh), "fr")
        .when((es >= de) & (es >= zh), "es")
        .when(de >= zh, "de")
        .otherwise("zh")
    )
    cell = d.select("lang", pred.alias("pred_lang")).groupBy(
        "lang", "pred_lang"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    totals = cell.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_actual")
    )
    return (
        cell.join(totals, "lang")
        .select(
            F.col("lang").alias("actual"),
            "pred_lang",
            "n",
            (F.col("n").cast("double") / F.col("n_actual").cast("double")
             ).alias("rate"),
        )
        .orderBy("actual", "pred_lang")
    )


def _oracle_lang_confusion() -> str:
    s = {lang: _stop_hits_sql(w) for lang, w in LANG_STOPWORDS.items()}
    return f"""
WITH scored AS (
  SELECT lang,
         {s['en']} AS en, {s['fr']} AS fr, {s['es']} AS es,
         {s['de']} AS de, {s['zh']} AS zh
  FROM documents),
pred AS (
  SELECT lang,
       CASE WHEN en >= fr AND en >= es AND en >= de AND en >= zh THEN 'en'
            WHEN fr >= es AND fr >= de AND fr >= zh THEN 'fr'
            WHEN es >= de AND es >= zh THEN 'es'
            WHEN de >= zh THEN 'de'
            ELSE 'zh' END AS pred_lang
  FROM scored),
cell AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY lang, pred_lang),
totals AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual FROM cell GROUP BY lang)
SELECT lang AS actual, pred_lang, n,
       CAST(n AS DOUBLE) / CAST(n_actual AS DOUBLE) AS rate
FROM cell JOIN totals USING (lang)
ORDER BY actual, pred_lang
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: length band, punctuation ratio,
    stopword ratio → composite score (all-deterministic arithmetic)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens()
    n_toks = F.size(toks).cast("long")
    text_len = F.length("text").cast("long")
    punct_cnt = (
        text_len - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    ).cast("long")
    stop_cnt = _stop_hits(toks, LANG_STOPWORDS["en"])
    punct_ratio = punct_cnt.cast("double") / text_len
    stop_ratio = stop_cnt.cast("double") / n_toks
    len_ok = F.when((text_len >= 100) & (text_len <= 2000), 1.0).otherwise(0.0)
    score = len_ok * 0.5 + stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.2
    return d.select(
        "doc_id",
        text_len.alias("text_len"),
        punct_cnt.alias("punct_cnt"),
        stop_cnt.alias("stop_cnt"),
        sround(score, 6).alias("quality_score"),
    )


def _oracle_quality_score() -> str:
    stop = _stop_hits_sql(LANG_STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS text_len,
         CAST(length(text)
              - length(regexp_replace(text, '{PUNCT_CLASS}', '', 'g'))
              AS BIGINT) AS punct_cnt,
         {stop} AS stop_cnt,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks
  FROM documents
)
SELECT doc_id, text_len, punct_cnt, stop_cnt,
       round((
         (CASE WHEN text_len BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.0 END) * 0.5
         + (CAST(stop_cnt AS DOUBLE) / n_toks) * 0.3
         + (1.0 - CAST(punct_cnt AS DOUBLE) / text_len) * 0.2
       ) * 1000000.0) / 1000000.0 + 0.0 AS quality_score
FROM base
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the alnum-normalized text (the
    content-hash a dedup pipeline keys on)."""
    d = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


ORACLE_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
FROM documents
"""


def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical distributed wordcount: explode tokens, drop
    stopwords, count, top-25 with deterministic tie-break. Map-side
    combine + a tiny final top-k — the shape that must scale linearly."""
    d = load(spark, sf_dir, "documents")
    stop = LANG_STOPWORDS["en"]
    tok = F.explode(_tokens()).alias("word")
    return (
        d.select(tok)
        .filter(~F.col("word").isin(*stop) & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(25)
    )


def _oracle_word_count() -> str:
    stop_list = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return f"""
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents) t
WHERE word NOT IN ({stop_list}) AND word <> ''
GROUP BY word ORDER BY n DESC, word LIMIT 25
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization chain: lower → strip non-alnum (keep spaces) →
    squeeze runs of spaces → trim."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return d.select("doc_id", norm.alias("norm_text"))


ORACLE_TEXT_NORMALIZE = """
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
         ' +', ' ', 'g')) AS norm_text
FROM documents
"""




def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: total/distinct word
    2-grams, most-frequent-2-gram mass, duplicate-2-gram fraction —
    the standard "degenerate repetition" quality filters for training
    corpora. One explode + two aggregations, all JVM-side."""
    from ..operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    per_gram = (
        shingles(d, n=2, distinct=False)
        .groupBy("id", "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = F.sum("cnt").cast("bigint")
    uniq = F.count(F.lit(1)).cast("bigint")
    return (
        per_gram.groupBy("id")
        .agg(
            total.alias("n_grams"),
            uniq.alias("n_distinct_grams"),
            (F.max("cnt").cast("double") / total.cast("double")).alias(
                "top_gram_ratio"
            ),
            (
                F.lit(1.0) - uniq.cast("double") / total.cast("double")
            ).alias("dup_gram_ratio"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_grams",
            "n_distinct_grams",
            "top_gram_ratio",
            "dup_gram_ratio",
        )
    )


ORACLE_REPETITION = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1]))
               AS gram
      FROM t),
c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
         AS top_gram_ratio,
       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
         AS dup_gram_ratio
FROM c
GROUP BY doc_id
"""


NUM_RE = "[0-9]+"


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: mask every digit run in the raw event props
    payload (the identifier-redaction pass a curation pipeline runs
    before training); keeps a changed flag so the differential proves
    replacements actually fired."""
    e = load(spark, sf_dir, "events")
    red = F.regexp_replace("props", NUM_RE, "<NUM>")
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        red.alias("props_redacted"),
        (red != F.col("props")).alias("changed"),
    )


ORACLE_TEXT_REDACT = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       regexp_replace(props, '{NUM_RE}', '<NUM>', 'g') AS props_redacted,
       regexp_replace(props, '{NUM_RE}', '<NUM>', 'g') <> props AS changed
FROM events
"""


# Deterministic removal set for the stopword-strip pass (sorted; the
# documents vocabulary includes 'a' and 'the').
STRIP_WORDS = ("a", "an", "is", "of", "the")


def q_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal as an array pipeline: split -> filter ->
    re-join, with before/after token counts. All higher-order
    functions, no UDF."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    kept = F.filter(toks, lambda t: ~t.isin(*STRIP_WORDS))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, " ").alias("text_stripped"),
    )


def _oracle_stopword_strip() -> str:
    lst = ", ".join(f"'{w}'" for w in STRIP_WORDS)
    return f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
k AS (SELECT doc_id, toks,
             list_filter(toks, x -> NOT list_contains([{lst}], x)) AS kept
      FROM t)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept, ' ') AS text_stripped
FROM k
"""


VOCAB_TOP_K = 200


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction: corpus-wide token frequencies,
    rank by (count desc, token) for a deterministic top-K vocab, plus
    each token's cumulative corpus coverage — the budget table a BPE/
    unigram tokenizer build starts from. One explode + one groupBy; the
    top-K is a TakeOrderedAndProject, not a global sort."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    freq = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # Top-K first via TakeOrderedAndProject (per-partition top-k, no
    # global sort and no full-vocab single-partition window — the rank/
    # coverage window then runs over only K rows). The (n desc, token)
    # order is total, so prefix ranks equal the full-table ranks.
    top = freq.orderBy(F.col("n").desc(), "token").limit(VOCAB_TOP_K)
    total = freq.agg(F.sum("n").cast("bigint").alias("tot"))
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "coverage",
            F.sum("n").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("double")
            / F.col("tot").cast("double"),
        )
        .select("rank", "token", "n", "coverage")
    )


ORACLE_VOCAB = f"""
WITH f AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        FROM documents)
  GROUP BY token
), r AS (
  SELECT token, n,
         CAST(row_number() OVER w AS BIGINT) AS rank,
         CAST(SUM(n) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(SUM(n) OVER () AS DOUBLE) AS coverage
  FROM f
  WINDOW w AS (ORDER BY n DESC, token)
)
SELECT rank, token, n, coverage FROM r WHERE rank <= {VOCAB_TOP_K}
"""


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top term by tf-idf (idf as the exact rational N/df —
    no transcendental log, so both engines compute the identical
    double): the distinctive-term extraction used for topic tagging.
    Tie-break on token keeps the argmax deterministic."""
    d = load(spark, sf_dir, "documents")
    n_docs = d.select(F.countDistinct("doc_id").alias("nd"))
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = tok.select("doc_id", "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("nd").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", F.col("token").alias("top_term"), "tf", "df", "tfidf"
        )
    )


ORACLE_TFIDF = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token
), dfx AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
), nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
          FROM documents),
s AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
         CAST(tf.tf AS DOUBLE)
           * (CAST(nd.nd AS DOUBLE) / CAST(dfx.df AS DOUBLE)) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf AS DOUBLE)
                              * (CAST(nd.nd AS DOUBLE)
                                 / CAST(dfx.df AS DOUBLE)) DESC,
                              tf.token) AS rn
  FROM tf JOIN dfx USING (token) CROSS JOIN nd
)
SELECT doc_id, token AS top_term, tf, df, tfidf FROM s WHERE rn = 1
"""


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity as Gini impurity of the token distribution,
    1 - sum((count/total)^2) — the entropy-style repetitiveness signal
    without a transcendental log (rational arithmetic, so the DuckDB
    twin is bit-exact). Low diversity = degenerate/repetitive text."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    cnt = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    total = F.sum("c").cast("bigint")
    sumsq = F.sum(F.col("c") * F.col("c")).cast("bigint")
    return cnt.groupBy("doc_id").agg(
        total.alias("n_tokens"),
        (
            F.lit(1.0)
            - sumsq.cast("double") / (total * total).cast("double")
        ).alias("gini_diversity"),
    )


ORACLE_TOKEN_DIVERSITY = """
WITH cnt AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents)
  GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       1.0 - CAST(SUM(c * c) AS DOUBLE)
             / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini_diversity
FROM cnt GROUP BY doc_id
"""


BIGRAM_MIN_COUNT = 5
BIGRAM_TOP_K = 50


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top bigrams by PMI-style lift,
    n_ab·B / (fa·sb) with fa/sb the first/second-slot marginal counts
    over all B bigrams. The lift is one division of exact integer
    products, so both engines compute the identical double — no
    transcendental log needed for the ranking.

    Scale: one explode + three groupBys (bigrams, first-slot, second-slot
    marginals, all map-side combinable) and two vocab-sized equi-joins;
    the top-K is a TakeOrderedAndProject, never a global sort.
    """
    from ..operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    g = shingles(d, n=2, distinct=False).select(
        F.col("shingle").alias("bigram")
    )
    c = (
        g.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .withColumn("a", F.substring_index("bigram", " ", 1))
        .withColumn("b", F.substring_index("bigram", " ", -1))
    )
    fa = c.groupBy("a").agg(F.sum("n_ab").cast("bigint").alias("fa"))
    sb = c.groupBy("b").agg(F.sum("n_ab").cast("bigint").alias("sb"))
    tot = c.agg(F.sum("n_ab").cast("bigint").alias("n_total"))
    lift = (F.col("n_ab") * F.col("n_total")).cast("double") / (
        F.col("fa") * F.col("sb")
    ).cast("double")
    return (
        c.join(fa, "a")
        .join(sb, "b")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n_ab") >= BIGRAM_MIN_COUNT)
        .select("bigram", "n_ab", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "bigram")
        .limit(BIGRAM_TOP_K)
    )


ORACLE_BIGRAM_PMI = f"""
WITH t AS (SELECT string_split(lower(text), ' ') AS toks FROM documents),
g AS (SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1]))
        AS bigram FROM t),
c AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab FROM g GROUP BY 1),
c2 AS (SELECT bigram, n_ab,
              string_split(bigram, ' ')[1] AS a,
              string_split(bigram, ' ')[2] AS b
       FROM c),
fa AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS fa FROM c2 GROUP BY a),
sb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS sb FROM c2 GROUP BY b),
tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_total FROM c)
SELECT bigram, n_ab,
       CAST(n_ab * n_total AS DOUBLE) / CAST(fa * sb AS DOUBLE) AS lift
FROM c2 JOIN fa USING (a) JOIN sb USING (b) CROSS JOIN tot
WHERE n_ab >= {BIGRAM_MIN_COUNT}
ORDER BY lift DESC, bigram LIMIT {BIGRAM_TOP_K}
"""


CHUNK_WORDS = 10


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication: split each doc into fixed 10-word
    chunks, count corpus-wide chunk occurrences, report each doc's
    duplicated-chunk fraction — the paragraph-level dedup signal used
    when whole-document hashing misses boilerplate reuse.

    Scale: chunking is per-row codegen (the chunk list is built from a
    projected token column, so nothing re-evaluates per element); the
    global chunk census and the join back are equi-shuffles on the chunk
    string — the same shape as exact dedup, just at finer grain.
    """
    d = load(spark, sf_dir, "documents")
    base = (
        d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
        .withColumn(
            "n_chunks", F.floor(F.size("toks") / F.lit(CHUNK_WORDS))
        )
        .filter(F.col("n_chunks") >= 1)
    )
    chunks = base.select(
        "doc_id",
        "n_chunks",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int")),
                lambda i: F.concat_ws(
                    " ", F.slice("toks", i * CHUNK_WORDS + 1, CHUNK_WORDS)
                ),
            )
        ).alias("chunk"),
    )
    census = chunks.groupBy("chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    n_dup = F.sum((F.col("cnt") > 1).cast("int")).cast("bigint")
    return (
        chunks.join(census, "chunk")
        .groupBy("doc_id", "n_chunks")
        .agg(n_dup.alias("n_dup_chunks"))
        .select(
            "doc_id",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            "n_dup_chunks",
            (
                F.col("n_dup_chunks").cast("double")
                / F.col("n_chunks").cast("double")
            ).alias("dup_ratio"),
        )
    )


ORACLE_CHUNK_DEDUP = f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
b AS (SELECT doc_id, toks,
             CAST(len(toks) // {CHUNK_WORDS} AS BIGINT) AS n_chunks
      FROM t WHERE len(toks) >= {CHUNK_WORDS}),
ch AS (SELECT doc_id, n_chunks,
              array_to_string(
                toks[i * {CHUNK_WORDS} + 1 : i * {CHUNK_WORDS}
                     + {CHUNK_WORDS}], ' ') AS chunk
       FROM b, unnest(range(n_chunks)) AS u(i)),
census AS (SELECT chunk, COUNT(*) AS cnt FROM ch GROUP BY chunk)
SELECT doc_id, n_chunks,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(n_chunks AS DOUBLE) AS dup_ratio
FROM ch JOIN census USING (chunk)
GROUP BY doc_id, n_chunks
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-gated corpus filter: rank docs per language by lexical
    quality (distinct-token ratio) and keep the top half — the standard
    "train on the best X% per language" selection pass.

    The cutoff is integer arithmetic (rank·2 ≤ n_lang), so no float
    threshold can flip a boundary row between engines. Scale: one window
    per language partition; languages are the partition key, so skew is
    bounded by corpus language balance (salt or sub-rank within source
    if one language dominates).
    """
    # the rank tie-break is doc_id: a NULL id sorts first in Spark but
    # last in DuckDB, shifting every rank below the tie — id-less docs
    # can't enter an id-keyed selection, so drop them on both sides
    # (--nulls sweep)
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    toks = F.split(F.lower("text"), " ")
    q = F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast(
        "double"
    )
    scored = d.select("doc_id", "lang", q.alias("q"))
    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), "doc_id")
    return (
        scored.withColumn("lang_rank", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "n_lang", F.count(F.lit(1)).over(Window.partitionBy("lang"))
        )
        .filter(F.col("lang_rank") * 2 <= F.col("n_lang"))
        .select(
            "doc_id", "lang", sround(F.col("q"), 6).alias("quality"),
            "lang_rank",
        )
    )


ORACLE_QUALITY_FILTER = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
           / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS q
  FROM documents WHERE doc_id IS NOT NULL
), r AS (
  SELECT doc_id, lang, q,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
              AS BIGINT) AS lang_rank,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM scored
)
SELECT doc_id, lang,
       round(q * 1000000.0) / 1000000.0 + 0.0 AS quality,
       lang_rank
FROM r WHERE lang_rank * 2 <= n_lang
"""


INDEX_MIN_DF = 50


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → sorted postings list (distinct doc
    ids) for tokens appearing in ≥ 50 docs — the search/retrieval index
    materialization pass. One explode + distinct + groupBy; the postings
    array is sorted so the layout is deterministic and splittable.

    Scale: postings for a stop-word-grade token can be huge — the df
    floor models the real system's posting cap; collect_list after
    groupBy shuffles each token's ids to one reducer, which is the
    index-build shape (writers emit one postings segment per token).
    """
    d = load(spark, sf_dir, "documents")
    postings = (
        # doc_id is nullable in the schema; Spark's collect_list drops
        # NULLs while DuckDB's list() keeps them (NULLS-first after
        # sort), so pin identical semantics by excluding NULL ids on
        # both sides (the oracle filters too).
        d.filter(F.col("doc_id").isNotNull())
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .distinct()
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.array_sort(F.collect_list("doc_id")).alias("_postings"),
        )
    )
    # The postings segment is exported as an md5 over its csv rendering
    # plus first/last doc ids (scalar columns only: the differential
    # harness canonicalizes rows via pandas sort, which cannot factorize
    # array cells). The real index writer would emit the array itself.
    return postings.filter(F.col("df") >= INDEX_MIN_DF).select(
        "token",
        "df",
        F.element_at("_postings", 1).alias("first_doc"),
        F.element_at("_postings", -1).alias("last_doc"),
        F.md5(
            F.array_join(
                F.transform("_postings", lambda x: x.cast("string")), ","
            )
        ).alias("postings_digest"),
    )


ORACLE_INVERTED_INDEX = f"""
WITH p AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
         list_sort(list(doc_id)) AS postings
  FROM (SELECT DISTINCT doc_id, token
        FROM (SELECT doc_id,
                     unnest(string_split(lower(text), ' ')) AS token
              FROM documents
              WHERE doc_id IS NOT NULL) u)
  GROUP BY token
  HAVING COUNT(*) >= {INDEX_MIN_DF})
SELECT token, df,
       postings[1] AS first_doc,
       postings[-1] AS last_doc,
       md5(array_to_string(
             list_transform(postings, x -> CAST(x AS VARCHAR)),
             ',')) AS postings_digest
FROM p
"""


def q_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: docs, distinct texts, dup rate —
    the provenance-level QA rollup that decides which crawl sources are
    worth re-ingesting. Exact distinct on the text hash (sha256, never
    the raw text) so the shuffle moves 32-byte keys, not documents."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("source", F.sha2(F.col("text"), 256).alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("h").cast("bigint").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (
                F.lit(1.0)
                - F.col("n_distinct").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


ORACLE_SOURCE_DEDUP = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct,
       1.0 - CAST(COUNT(DISTINCT sha256(text)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
FROM documents
GROUP BY source
ORDER BY source
"""


# Target mixture: relative weights per source bucket (sources are
# "src_00".."src_19" in the testdata; bucket by numeric suffix parity to
# model the common "curated vs crawled" split) and a global token budget.
MIX_BUDGET_TOKENS = 20_000
MIX_WEIGHTS = {"even": 3, "odd": 1}


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning: given per-source-bucket token counts, a
    global token budget and relative weights, derive each bucket's
    sampling rate and expected token yield — the mixing table a training
    run is launched from.

    rate = min(1, budget·w/Σw / tokens) computed in exact integer/
    rational steps (one double division at the end); buckets that
    undershoot their allocation (rate capped at 1) surface as
    ``deficit_tokens`` so the caller can re-weight. All aggregates are
    map-side combinable; the weights table is a broadcast literal.
    """
    d = load(spark, sf_dir, "documents")
    bucket = F.when(
        F.substring("source", -1, 1).cast("int") % 2 == 0, "even"
    ).otherwise("odd")
    toks = d.select(
        bucket.alias("bucket"),
        F.size(F.split(F.lower("text"), " ")).cast("bigint").alias("n"),
    )
    per = toks.groupBy("bucket").agg(
        F.sum("n").cast("bigint").alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    total_w = sum(MIX_WEIGHTS.values())
    alloc = F.lit(None).cast("bigint")
    for b, w in MIX_WEIGHTS.items():
        share = MIX_BUDGET_TOKENS * w // total_w
        alloc = F.when(F.col("bucket") == b, F.lit(share)).otherwise(alloc)
    return (
        per.withColumn("alloc_tokens", alloc)
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.col("alloc_tokens").cast("double")
                / F.col("tokens").cast("double"),
            ),
        )
        .withColumn(
            "expected_tokens",
            F.least(F.col("alloc_tokens"), F.col("tokens")),
        )
        .withColumn(
            "deficit_tokens",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.col("alloc_tokens") - F.col("tokens"),
            ),
        )
        .orderBy("bucket")
    )


def _oracle_mixture_plan() -> str:
    total_w = sum(MIX_WEIGHTS.values())
    whens = " ".join(
        f"WHEN bucket = '{b}' THEN {MIX_BUDGET_TOKENS * w // total_w}"
        for b, w in MIX_WEIGHTS.items()
    )
    return f"""
WITH per AS (
  SELECT CASE WHEN CAST(substr(source, -1, 1) AS INT) % 2 = 0
              THEN 'even' ELSE 'odd' END AS bucket,
         CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
)
SELECT bucket, tokens, n_docs,
       CAST(CASE {whens} END AS BIGINT) AS alloc_tokens,
       least(1.0, CAST(CASE {whens} END AS DOUBLE)
                  / CAST(tokens AS DOUBLE)) AS rate,
       least(CAST(CASE {whens} END AS BIGINT), tokens) AS expected_tokens,
       greatest(CAST(0 AS BIGINT),
                CAST(CASE {whens} END AS BIGINT) - tokens) AS deficit_tokens
FROM per ORDER BY bucket
"""


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots (doc_id
    parity split — the deterministic stand-in for old-vs-new ingest
    batches): per-token chi-square contribution against the pooled
    expectation, top 15 drifted tokens — the TEXT twin of
    q_value_drift/q_ks_drift (those watch numeric columns; a text
    corpus drifts in its vocabulary first). Chi-square needs no
    logarithms, so every term is IEEE arithmetic on exact integer
    counts and both engines emit the identical double. One explode +
    one groupBy with conditional sums (no join between the halves —
    they are columns of one aggregation), then TakeOrdered top-15."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("old_half"),
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    per = toks.groupBy("token").agg(
        F.sum(F.when(F.col("old_half"), 1).otherwise(0))
        .cast("bigint")
        .alias("c0"),
        F.sum(F.when(~F.col("old_half"), 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
    )
    tot = per.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
    )
    c0d = F.col("c0").cast("double")
    c1d = F.col("c1").cast("double")
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    e0 = (c0d + c1d) * n0d / (n0d + n1d)
    e1 = (c0d + c1d) * n1d / (n0d + n1d)
    chi2 = (c0d - e0) * (c0d - e0) / e0 + (c1d - e1) * (c1d - e1) / e1
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "c0",
            "c1",
            sround(chi2, 6).alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "token")
        .limit(15)
    )


ORACLE_TOKEN_DRIFT = """
WITH toks AS (
  SELECT doc_id % 2 = 0 AS old_half,
         unnest(string_split(lower(text), ' ')) AS token
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), per AS (
  SELECT token,
         CAST(SUM(CASE WHEN old_half THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN old_half THEN 0 ELSE 1 END) AS BIGINT) AS c1
  FROM toks WHERE token <> '' GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
  FROM per
), x AS (
  SELECT token, c0, c1,
         (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
           * CAST(n0 AS DOUBLE)
           / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) AS e0,
         (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
           * CAST(n1 AS DOUBLE)
           / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) AS e1
  FROM per CROSS JOIN tot
)
SELECT token, c0, c1,
       (round(((CAST(c0 AS DOUBLE) - e0) * (CAST(c0 AS DOUBLE) - e0) / e0
             + (CAST(c1 AS DOUBLE) - e1) * (CAST(c1 AS DOUBLE) - e1) / e1)
              * 1000000.0) / 1000000.0) + 0.0 AS chi2
FROM x
ORDER BY chi2 DESC, token LIMIT 15
"""


QUERIES = {
    "q_token_drift": q_token_drift,
    "q_inverted_index": q_inverted_index,
    "q_repetition": q_repetition,
    "q_text_redact": q_text_redact,
    "q_stopword_strip": q_stopword_strip,
    "q_vocab": q_vocab,
    "q_tfidf": q_tfidf,
    "q_token_diversity": q_token_diversity,
    "q_bigram_pmi": q_bigram_pmi,
    "q_chunk_dedup": q_chunk_dedup,
    "q_quality_filter": q_quality_filter,
    "q_source_dedup": q_source_dedup,
    "q_mixture_plan": q_mixture_plan,
    "q_word_count": q_word_count,
    "q_text_normalize": q_text_normalize,
    "q_string_funcs": q_string_funcs,
    "q_token_count": q_token_count,
    "q_text_stats": q_text_stats,
    "q_lang_id": q_lang_id,
    "q_lang_confusion": q_lang_confusion,
    "q_quality_score": q_quality_score,
    "q_fingerprint": q_fingerprint,
}

ORACLES = {
    "q_token_drift": ORACLE_TOKEN_DRIFT,
    "q_word_count": _oracle_word_count(),
    "q_text_normalize": ORACLE_TEXT_NORMALIZE,
    "q_string_funcs": ORACLE_STRING_FUNCS,
    "q_token_count": ORACLE_TOKEN_COUNT,
    "q_text_stats": ORACLE_TEXT_STATS,
    "q_lang_id": _oracle_lang_id(),
    "q_lang_confusion": _oracle_lang_confusion(),
    "q_quality_score": _oracle_quality_score(),
    "q_fingerprint": ORACLE_FINGERPRINT,
    "q_repetition": ORACLE_REPETITION,
    "q_text_redact": ORACLE_TEXT_REDACT,
    "q_stopword_strip": _oracle_stopword_strip(),
    "q_vocab": ORACLE_VOCAB,
    "q_tfidf": ORACLE_TFIDF,
    "q_token_diversity": ORACLE_TOKEN_DIVERSITY,
    "q_bigram_pmi": ORACLE_BIGRAM_PMI,
    "q_chunk_dedup": ORACLE_CHUNK_DEDUP,
    "q_quality_filter": ORACLE_QUALITY_FILTER,
    "q_inverted_index": ORACLE_INVERTED_INDEX,
    "q_source_dedup": ORACLE_SOURCE_DEDUP,
    "q_mixture_plan": _oracle_mixture_plan(),
}
