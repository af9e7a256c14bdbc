"""Text-analysis operators over ``documents`` (north-star B11).

Language-ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting — all
JVM-side built-ins (split / filter / regexp), no Python in the hot
path; each has an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_ckpt
from ..functions.cols import temp_col_name
from ..sources.parquet import load_table

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
}

BPE_ISH = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _tokens(col):
    return F.split(col, " ")


def _ngrams(toks, n: int):
    """Word n-grams as space-joined strings (1-based slice).  Spark's
    ``sequence(1, k)`` DESCENDS when k < 1 ([1, 0]) instead of being
    empty, so the short-doc case needs an explicit empty-array guard."""
    count = F.size(toks) - (n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def _hits(toks, words: tuple[str, ...]):
    """Count of tokens in ``words`` (duplicates counted).  NB: the
    filter lambda must be single-arg — a second (defaulted) parameter
    would be bound to the element *index* by F.filter."""
    arr = F.array([F.lit(w) for w in words])

    def pred(t):
        return F.array_contains(arr, t)

    return F.size(F.filter(toks, pred))


def _quality_cols() -> list:
    """Per-doc quality metrics over a ``text`` column: token counts,
    type-token ratio, stopword ratio, mean token length (textstats_pack;
    DuckDB twin TEXT_QUALITY_SQL)."""
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = _hits(toks, LANG_STOPWORDS["en"])
    return [
        F.length("text").alias("len_chars"),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n_tok.cast("double")).alias("ttr"),
        (n_stop.cast("double") / n_tok.cast("double")).alias("stopword_ratio"),
        ((F.length("text") - (n_tok - 1)).cast("double") / n_tok.cast("double")).alias("mean_token_len"),
    ]


_SW_EN = "', '".join(LANG_STOPWORDS["en"])
TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       length(text) AS len_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
       CAST(len(list_filter(string_split(text, ' '), t -> t IN ('{_SW_EN}'))) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
FROM documents ORDER BY doc_id
"""


def lang_id(spark: SparkSession, sf_dir: str, base: DataFrame | None = None) -> DataFrame:
    """Stopword-hit language ID with deterministic argmax (priority
    order en > es > de > fr on ties).  ``base``: optional pre-tokenized
    (doc_id, text, lang, toks) frame — doc_features_pack shares ONE
    checkpointed tokenization across its arms (r6; measured 4.7s →
    2.0s for the pack; note this is NOT the disproven r5 single-
    projection fusion — arms stay separate, only the scan+split is
    shared)."""
    docs = load_table(spark, sf_dir, "documents") if base is None else base
    toks = _tokens(F.col("text")) if base is None else F.col("toks")
    scores = {lang: _hits(toks, words) for lang, words in LANG_STOPWORDS.items()}
    df = docs.select("doc_id", F.col("lang").alias("labeled_lang"), *[scores[lg].alias(f"s_{lg}") for lg in LANG_STOPWORDS])
    s = {lg: F.col(f"s_{lg}") for lg in LANG_STOPWORDS}
    pred = (
        F.when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return df.select(
        "doc_id",
        "labeled_lang",
        pred.alias("predicted_lang"),
        F.when(pred == F.col("labeled_lang"), 1).otherwise(0).alias("label_match"),
    )


def _lang_score_sql(lang: str) -> str:
    words = "', '".join(LANG_STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ('{words}')))"


LANG_ID_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('es')} AS s_es,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS predicted_lang,
       CASE WHEN (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                       WHEN s_de >= s_fr THEN 'de'
                       ELSE 'fr' END) = labeled_lang THEN 1 ELSE 0 END AS label_match
FROM scored ORDER BY doc_id
"""


def _token_count_cols() -> list:
    """Whitespace tokens vs a BPE-ish regex token estimate
    (textstats_pack; DuckDB twin TOKEN_COUNTS_SQL)."""
    return [
        F.size(_tokens(F.col("text"))).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_ISH)).alias("bpe_tokens"),
    ]


TOKEN_COUNTS_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_ISH}')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str, base: DataFrame | None = None) -> DataFrame:
    """Content fingerprints: full md5 + a 64-bit prefix ("rolling-hash"
    style short fingerprint) of the normalized text."""
    docs = load_table(spark, sf_dir, "documents") if base is None else base
    norm = F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " ")
    h = F.md5(norm.cast("binary"))
    return docs.select(
        "doc_id",
        h.alias("md5_full"),
        F.substring(h, 1, 16).alias("fp64"),
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS md5_full,
       substr(md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 16) AS fp64
FROM documents ORDER BY doc_id
"""




# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_TOP = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by tf*idf (idf = ln(N/df), rounded to 6dp
    before ranking so both engines rank identically).  At scale: the
    doc-frequency table is a broadcast dimension."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    terms = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = terms.select("doc_id", "term").distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_t), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP)
    )


TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df_t AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term AS term,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df_t ON tf.term = df_t.term CROSS JOIN n
)
SELECT doc_id, term, tfidf, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOP}
ORDER BY doc_id, rk
"""



BIGRAM_TOP = 20


def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 bigrams (n-gram analysis; explode + count + top-k
    with lexical tiebreak).

    The tokens are materialized as a COLUMN before the n-gram lambda:
    codegen subexpression elimination does NOT reach inside
    higher-order-function lambda bodies, so a lambda that closes over
    a raw ``split(text)`` expression re-splits the whole text PER
    ELEMENT — O(words²) per doc (measured 2.5s → 0.6s warm at sf0.1
    for this query, late r6)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(_tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 2)
    )
    bigrams = docs.select(F.explode(_ngrams(F.col("toks"), 2)).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(BIGRAM_TOP)
    )


BIGRAM_TOPK_SQL = f"""
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram
  FROM documents WHERE len(string_split(text, ' ')) >= 2
)
GROUP BY bigram ORDER BY n DESC, bigram LIMIT {BIGRAM_TOP}
"""


def term_stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-grain half of ``text_pack``: ``tfidf_top_terms`` +
    ``bigram_topk`` (same table, different grain) unioned under a
    NULL-padded common schema: per-doc tf-idf rows carry (doc_id, tfidf,
    rk), the global bigram rows carry (n); each arm NULLs the other's
    columns."""
    tfidf = tfidf_top_terms(spark, sf_dir).select(
        F.lit("tfidf").alias("kind"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("term"),
        F.col("tfidf"),
        F.col("rk").cast("int").alias("rk"),
        F.lit(None).cast("bigint").alias("n"),
    )
    bigram = bigram_topk(spark, sf_dir).select(
        F.lit("bigram").alias("kind"),
        F.lit(None).cast("bigint").alias("doc_id"),
        F.col("bigram").alias("term"),
        F.lit(None).cast("double").alias("tfidf"),
        F.lit(None).cast("int").alias("rk"),
        F.col("n").cast("bigint").alias("n"),
    )
    return tfidf.unionByName(bigram)


TERM_STATS_PACK_SQL = f"""
SELECT 'tfidf' AS kind, CAST(doc_id AS BIGINT) AS doc_id, term,
       tfidf, CAST(rk AS INT) AS rk, CAST(NULL AS BIGINT) AS n
FROM ({TFIDF_SQL})
UNION ALL
SELECT 'bigram' AS kind, CAST(NULL AS BIGINT) AS doc_id, bigram AS term,
       CAST(NULL AS DOUBLE) AS tfidf, CAST(NULL AS INT) AS rk, CAST(n AS BIGINT) AS n
FROM ({BIGRAM_TOPK_SQL})
"""


def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A realistic training-data quality gate: token-count band + TTR
    floor + stopword-ratio ceiling, emitting kept docs with metrics —
    the filter stage that precedes dedup in an LLM data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
    sw_ratio = _hits(toks, LANG_STOPWORDS["en"]).cast("double") / n_tok.cast("double")
    scored = docs.select("doc_id", n_tok.alias("n_tokens"), ttr.alias("ttr"), sw_ratio.alias("sw_ratio"))
    return (
        scored.where(
            (F.col("n_tokens") >= 20)
            & (F.col("n_tokens") <= 1000)
            & (F.col("ttr") >= 0.3)
            & (F.col("sw_ratio") <= 0.2)
        )
    )


CORPUS_FILTER_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN ('{_SW_EN}'))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sw_ratio
  FROM documents
)
SELECT doc_id, n_tokens, ttr, sw_ratio FROM scored
WHERE n_tokens BETWEEN 20 AND 1000 AND ttr >= 0.3 AND sw_ratio <= 0.2
ORDER BY doc_id
"""



# ---------------------------------------------------------------------------
# Rolling (polynomial / Rabin-Karp family) hash + feature hashing
# ---------------------------------------------------------------------------

RH_BASE = 131
RH_MOD = 2_147_483_647  # 2^31 - 1
FH_BUCKETS = 8


def _rhash_col():
    """Token-granular polynomial rolling hash over a ``text`` column
    (textstats_pack; DuckDB twin ROLLING_HASH_SQL):
    h_i = (h_{i-1} * B + v_i) mod M with v = len(token)*31 + ascii(first
    char).  Pure integer fold — order-sensitive (unlike md5-of-whole),
    so shifted/reordered near-dups hash differently, and incremental
    recompute over a sliding token window is O(1) at scale."""
    tokens = _tokens(F.col("text"))
    v = lambda t: (F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))) % RH_MOD  # noqa: E731
    return F.aggregate(
        tokens,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * RH_BASE + v(t)) % RH_MOD,
    )


ROLLING_HASH_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
                          t -> CAST((length(t) * 31 + ascii(substr(t, 1, 1))) % {RH_MOD} AS BIGINT))),
         (acc, v) -> (acc * {RH_BASE} + v) % {RH_MOD}) AS rhash
FROM documents ORDER BY doc_id
"""


def feature_hash_vectors(spark: SparkSession, sf_dir: str, base: DataFrame | None = None) -> DataFrame:
    """Feature hashing (hashing trick): token -> md5-derived bucket in
    [0, FH_BUCKETS); per-doc bucket counts become a fixed-width dense
    vector — the schema-free text→vector featurizer that needs no
    vocabulary broadcast at 100 TB."""
    docs = load_table(spark, sf_dir, "documents") if base is None else base
    toks = _tokens(F.col("text")) if base is None else F.col("toks")
    exploded = docs.select("doc_id", F.explode(toks).alias("t"))
    bucket = F.ascii(F.substring(F.md5(F.col("t").cast("binary")), 1, 1)) % FH_BUCKETS
    counts = exploded.select("doc_id", bucket.alias("b")).groupBy("doc_id").agg(
        *[F.sum(F.when(F.col("b") == i, 1).otherwise(0)).alias(f"f{i}") for i in range(FH_BUCKETS)]
    )
    return counts


_FH_COLS = ", ".join(
    f"CAST(sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT) AS f{i}"
    for i in range(FH_BUCKETS)
)
FEATURE_HASH_SQL = f"""
SELECT doc_id, {_FH_COLS}
FROM (
  SELECT doc_id, ascii(substr(md5(t), 1, 1)) % {FH_BUCKETS} AS b
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
)
GROUP BY doc_id ORDER BY doc_id
"""

LM_MICRO = 1_000_000  # per-token ln-prob quantization grain (micro-nats)
# Funnel LM-filter threshold: docs whose avg per-token ln-prob falls
# below this are improbable-token-mix outliers (boilerplate/noise
# candidates).  A FIXED constant like the quality gate's bands — a
# float-literal comparison is cross-engine exact and a pure filter at
# any scale, where a percentile cut needs a global sort or an
# interpolating quantile whose ULP behavior differs per engine.
# Calibrated on the synthetic corpus: cuts ~5-10% at sf0.001/0.01/0.1
# (measured min/q05/q10 ~= -3.7/-3.42/-3.41 at every SF).
LM_MIN_LOGPROB = -3.41


def lm_score(
    spark: SparkSession,
    sf_dir: str,
    base: DataFrame | None = None,
    vocab_min_count: int = 1,
) -> DataFrame:
    """Corpus-unigram LM quality score — the CCNet/perplexity-filter
    analog every training-data pipeline runs (docs whose tokens are
    improbable under a corpus LM are boilerplate/noise candidates;
    docs of only hyper-common tokens are low-information).  The LM is
    the corpus's own unigram distribution; with the default
    ``vocab_min_count=1`` every token is in-vocabulary and per-token
    surprisal is ln(c_t / N) over corpus token count N.

    ``vocab_min_count`` (r13, the documented 100 TB vocab bound, now
    implemented): tokens with corpus count BELOW the floor are pooled
    into ONE shared OOV smoothing bucket whose probability mass is the
    pooled tokens' total count — every OOV occurrence scores
    ``round(ln(c_oov_total / N) * 1e6)``.  The broadcast unigram table
    then holds ONLY floor-passing tokens (O(vocab-cap), not O(vocab)):
    the tf stream LEFT-joins it and coalesces misses onto the single
    broadcast OOV score, so the long tail never rides a broadcast.
    Total probability mass is unchanged (the bucket inherits exactly
    the mass it pooled).  Defaulting to 1 keeps the gate arm's plan
    byte-identical.  DuckDB twin for the capped form:
    :func:`lm_capped_sql` (differential-tested exactly in
    tests/test_crafted_power.py).

    Cross-engine determinism (the q1-ULP lesson, NOTES.md r12): a
    per-doc float SUM of ln-probs is evaluation-order-dependent, so
    both engines instead round each per-token ln-prob to an exact
    BIGINT in micro-nats (``round(ln(c/N) * 1e6)`` — the per-row
    rounding precedent tfidf_top_terms set) and sum INTEGERS; the only
    float ops on the aggregate are one multiply by an
    exactly-representable constant and one IEEE correctly-rounded
    division, both bit-identical across engines.

    Scale shape: two shuffles total — (doc_id, token) term frequencies
    and the token-count reduce; the floor-capped unigram table plus
    the 1-row OOV score are broadcast dimensions."""
    docs = _tokenized_docs(spark, sf_dir, base)
    tf = (
        docs.select("doc_id", F.explode(F.col("toks")).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = tf.groupBy("t").agg(F.sum("tf").alias("c"))
    total = counts.agg(F.sum("c").alias("n_corpus"))

    def _m(c_col):
        return F.round(
            F.log(c_col.cast("double") / F.col("n_corpus").cast("double"))
            * LM_MICRO,
            0,
        ).cast("bigint")

    if vocab_min_count > 1:
        kept = counts.where(F.col("c") >= vocab_min_count)
        oov_mass = counts.where(F.col("c") < vocab_min_count).agg(
            F.sum("c").alias("c_oov")
        )
        micro = kept.crossJoin(F.broadcast(total)).select("t", _m(F.col("c")).alias("m"))
        # 1-row frame; m_oov is NULL when nothing pooled (then no tf row
        # misses the kept join and the coalesce never consults it)
        oov_micro = oov_mass.crossJoin(F.broadcast(total)).select(
            _m(F.col("c_oov")).alias("m_oov")
        )
        scored = (
            tf.join(F.broadcast(micro), "t", "left")
            .crossJoin(F.broadcast(oov_micro))
            .select("doc_id", "tf", F.coalesce("m", "m_oov").alias("m"))
        )
    else:
        micro = counts.crossJoin(F.broadcast(total)).select(
            "t", _m(F.col("c")).alias("m")
        )
        scored = tf.join(F.broadcast(micro), "t")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("m")).alias("lm_sum_micro"),
            F.sum("tf").alias("n_lm_tok"),
        )
        .select(
            "doc_id",
            "lm_sum_micro",
            (
                F.col("lm_sum_micro").cast("double")
                / (F.col("n_lm_tok").cast("double") * F.lit(float(LM_MICRO)))
            ).alias("lm_avg_logprob"),
        )
    )


LM_SQL_CTES = f"""
lmterms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
lmtf AS MATERIALIZED (SELECT doc_id, t, count(*) AS tf FROM lmterms GROUP BY 1, 2),
lmc AS (SELECT t, sum(tf) AS c FROM lmtf GROUP BY 1),
lmn AS (SELECT sum(c) AS n_corpus FROM lmc),
lmm AS (
  SELECT t, CAST(round(ln(CAST(c AS DOUBLE) / CAST(n_corpus AS DOUBLE)) * {LM_MICRO}, 0) AS BIGINT) AS m
  FROM lmc CROSS JOIN lmn
),
lm AS (
  SELECT doc_id,
         CAST(sum(tf * m) AS BIGINT) AS lm_sum_micro,
         CAST(sum(tf * m) AS DOUBLE) / (CAST(sum(tf) AS DOUBLE) * {LM_MICRO}) AS lm_avg_logprob
  FROM lmtf JOIN lmm USING (t) GROUP BY doc_id
)"""


def lm_sql_ctes(min_count: int = 1) -> str:
    """CTE chain ending in ``lm`` (doc_id, lm_sum_micro,
    lm_avg_logprob) for either lm flavor: the default all-vocab form
    (== LM_SQL_CTES, the gate arm) or the ``vocab_min_count`` capped
    form (floor + single-OOV-bucket smoothing in the same exact integer
    micro-nat arithmetic).  r14: extracted so the funnel/doc-features
    twins can be built at ANY floor — the production 100 TB form is
    differential-testable through its real consumers, not just
    standalone."""
    if min_count <= 1:
        return LM_SQL_CTES
    return f"""
lmterms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
lmtf AS MATERIALIZED (SELECT doc_id, t, count(*) AS tf FROM lmterms GROUP BY 1, 2),
lmc AS MATERIALIZED (SELECT t, sum(tf) AS c FROM lmtf GROUP BY 1),
lmn AS (SELECT sum(c) AS n_corpus FROM lmc),
lmm AS (
  SELECT t, CAST(round(ln(CAST(c AS DOUBLE) / CAST(n_corpus AS DOUBLE)) * {LM_MICRO}, 0) AS BIGINT) AS m
  FROM lmc CROSS JOIN lmn WHERE c >= {min_count}
),
lmoov AS (
  SELECT CAST(round(ln(CAST(sum(c) AS DOUBLE) / CAST((SELECT n_corpus FROM lmn) AS DOUBLE)) * {LM_MICRO}, 0) AS BIGINT) AS m_oov
  FROM lmc WHERE c < {min_count}
),
lm AS (
  SELECT doc_id,
         CAST(sum(tf * coalesce(m, (SELECT m_oov FROM lmoov))) AS BIGINT) AS lm_sum_micro,
         CAST(sum(tf * coalesce(m, (SELECT m_oov FROM lmoov))) AS DOUBLE)
           / (CAST(sum(tf) AS DOUBLE) * {LM_MICRO}) AS lm_avg_logprob
  FROM lmtf LEFT JOIN lmm USING (t) GROUP BY doc_id
)"""


def lm_capped_sql(min_count: int) -> str:
    """DuckDB twin of ``lm_score(vocab_min_count=min_count)`` — the
    same floor + single-OOV-bucket smoothing in the same exact
    integer micro-nat arithmetic, so the capped form is cross-engine
    differential-testable (tests/test_crafted_power.py), not just the
    default arm the gate runs."""
    return (
        "WITH "
        + lm_sql_ctes(min_count).strip()
        + "\nSELECT doc_id, lm_sum_micro, lm_avg_logprob FROM lm ORDER BY doc_id"
    )


EVAL_RATE = 0.05  # deterministic held-out "benchmark" split for the contamination arm
CONTAM_N = 5  # n-gram width for train/eval overlap (decontamination standard)


def eval_contamination(spark: SparkSession, sf_dir: str, base: DataFrame | None = None) -> DataFrame:
    """Train/eval contamination check (the decontamination pass an LLM
    corpus runs before training): a deterministic ``EVAL_RATE`` slice of
    docs plays the held-out benchmark; every training doc is flagged
    with the number of its distinct ``CONTAM_N``-grams that also occur
    in the eval slice.

    Scale shape: eval sets are tiny relative to the corpus, so the
    distinct eval-n-gram set is BROADCAST and the check is a map-side
    semi-join over the training n-gram stream — no corpus-wide shuffle.
    Per-doc output: ``is_eval`` flag + ``eval_ngram_hits`` (0 for eval
    docs themselves)."""
    from .curation import _u

    docs = _tokenized_docs(spark, sf_dir, base)
    is_eval = (_u(F.col("doc_id"), "evl:") < EVAL_RATE).cast("int")
    # grams hashed to BIGINTs (md5 prefix, mirrored in the oracle): the
    # distinct/broadcast/semi-join/count-distinct chain then moves 8-byte
    # longs instead of ~50-char gram strings (r5; same trick as
    # ngram_jaccard_pairs' hashed word sets — a rare cross-engine 32-bit
    # collision shrinks both engines' counts identically).
    gram_hashes = F.transform(
        _ngrams(F.col("toks"), CONTAM_N),
        lambda g: F.conv(F.substring(F.md5(g.cast("binary")), 1, 8), 16, 10).cast("bigint"),
    )
    grams = docs.select(
        "doc_id",
        is_eval.alias("is_eval"),
        F.explode(gram_hashes).alias("g"),
    )
    eval_set = grams.where(F.col("is_eval") == 1).select("g").distinct()
    hits = (
        grams.where(F.col("is_eval") == 0)
        .join(F.broadcast(eval_set), "g", "semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("eval_ngram_hits"))
    )
    return (
        docs.select("doc_id", is_eval.alias("is_eval"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "is_eval",
            F.coalesce("eval_ngram_hits", F.lit(0)).cast("bigint").alias("eval_ngram_hits"),
        )
    )


SPAN_W = 16  # words per dedup span (the "line" analog for the single-line corpus)


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per non-overlapping ``SPAN_W``-word span of a
    ``(doc_id, toks)`` frame: (doc_id, pos, span, span_md5).  A pure
    generator projection — STREAMING-SAFE, so the streaming keep-first
    twin of ``span_dedup`` is simply
    ``explode_spans(stream).dropDuplicates(["span_md5"])`` (state = one
    row per distinct span hash; a production stream bounds it with
    ``dropDuplicatesWithinWatermark``).  NB the twins agree on WHICH
    spans survive (count/set parity, pinned in
    tests/test_streaming.py) but not on which OCCURRENCE is the
    keeper: batch keeps min (doc_id, pos); streaming dropDuplicates
    keeps the arrival-order first, which is arbitrary within a
    micro-batch — per-doc spans_kept can differ between the two.
    Extra input columns (e.g. an event-time ts for
    ``dropDuplicatesWithinWatermark``) are carried through."""
    toks = F.col("toks")
    # size >= 1 always (split('') = ['']) so sequence never descends
    n_spans = F.ceil(F.size(toks) / F.lit(SPAN_W)).cast("int")
    return (
        docs.select(
            "*",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_spans - 1),
                    lambda i: F.array_join(F.slice(toks, i * SPAN_W + 1, SPAN_W), " "),
                )
            ).alias("pos", "span"),
        )
        .drop("toks")
        .withColumn("span_md5", F.md5(F.col("span").cast("binary")))
    )


def _tokenized_docs(spark: SparkSession, sf_dir: str, base: DataFrame | None):
    """(doc_id, toks) input frame shared by the span/substring arms:
    toks is materialized as a COLUMN because the n-gram lambdas close
    over it and lambda bodies escape codegen subexpression elimination
    (an unbound split(text) there re-splits per element)."""
    if base is not None:
        return base
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )


def span_dedup(spark: SparkSession, sf_dir: str, base: DataFrame | None = None) -> DataFrame:
    """Span-level keep-first deduplication — the line/paragraph dedup
    pass of CCNet/MassiveText-style corpus pipelines (the synthetic
    docs are single-line, so the unit is a non-overlapping ``SPAN_W``-
    word span instead of a newline-delimited paragraph): every span is
    hashed and only its globally FIRST occurrence (min ``(doc_id,
    pos)``) survives, including self-repeats within one doc.  Per-doc
    output: ``spans_total``, ``spans_kept``, and ``dedup_text_md5`` —
    an md5 of the doc's reassembled deduped text, which pins the full
    reassembly (surviving-span content AND order) in one comparable
    column rather than just the counts.

    Scale shape: one explode (linear in corpus tokens), ONE shuffle on
    the span hash for the keep-first window, one doc-grain re-agg — no
    pairwise work anywhere, so it survives 100 TB where the near-dup
    ops need blocking.  Span-level (not doc-level) dedup is what
    removes boilerplate shared across otherwise-distinct pages."""
    from pyspark.sql import Window

    docs = _tokenized_docs(spark, sf_dir, base)
    spans = explode_spans(docs)
    w = Window.partitionBy("span_md5").orderBy("doc_id", "pos")
    ranked = spans.withColumn("keep", (F.row_number().over(w) == 1).cast("int"))
    # collect_list drops the NULLs the `when` leaves for non-kept spans;
    # array_sort on (pos, span) structs restores doc order deterministically
    kept_struct = F.when(F.col("keep") == 1, F.struct("pos", "span"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("spans_total"),
        F.sum("keep").cast("bigint").alias("spans_kept"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s["span"]),
                " ",
            ).cast("binary")
        ).alias("dedup_text_md5"),
    )


SPAN_DEDUP_SQL_CTES = f"""
sp0 AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         unnest(range(0, CAST(ceil(len(string_split(text, ' ')) / {SPAN_W}.0) AS BIGINT))) AS pos
  FROM documents
),
sp AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos * {SPAN_W} + 1 : pos * {SPAN_W} + {SPAN_W}], ' ') AS span
  FROM sp0
),
spr AS (
  SELECT doc_id, pos, span,
         CASE WHEN row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, pos) = 1
              THEN 1 ELSE 0 END AS keep
  FROM sp
),
sdd AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS spans_total,
         CAST(sum(keep) AS BIGINT) AS spans_kept,
         md5(coalesce(string_agg(CASE WHEN keep = 1 THEN span END, ' ' ORDER BY pos), '')) AS dedup_text_md5
  FROM spr GROUP BY doc_id
)"""


SUBSTR_W = 8  # shingle width for unaligned duplicated-substring detection


def substring_dup_features(
    spark: SparkSession, sf_dir: str, base: DataFrame | None = None
) -> DataFrame:
    """Unaligned duplicated-substring detection — the exact-substring
    dedup SIGNAL of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"): every OVERLAPPING ``SUBSTR_W``-word
    shingle occurring more than once in the corpus marks its covered
    word positions as duplicated; per doc, covered positions merge
    into maximal runs (the classic gaps-and-islands
    ``w - row_number()`` trick).  Unlike ``span_dedup``'s fixed
    non-overlapping grid, this catches duplicates at ANY alignment —
    the suffix-array result, computed with joins and windows instead.

    Per doc: ``dup_word_count`` (exact covered-word count — distinct
    indices, so overlapping shingles never double-count),
    ``dup_ranges`` (maximal runs), ``longest_dup_run`` (words).

    Scale shape: one explode (linear, coverage adds ×W), then one
    narrow exchange per stage — the shingle-count window, the
    (doc_id, word) coverage distinct, and the per-doc run merge —
    with no pairwise work anywhere, so it survives 100 TB where true
    suffix arrays can't be built."""
    docs = _tokenized_docs(spark, sf_dir, base)
    from pyspark.sql import Window

    sh = docs.select(
        "doc_id", F.posexplode(_ngrams(F.col("toks"), SUBSTR_W)).alias("pos", "s")
    )
    # partition by the shingle string itself: hashing it first would
    # cost an md5 per row on both exchange sides while the string
    # still crosses the shuffle (the window must re-evaluate its
    # partition expression post-exchange)
    wcnt = Window.partitionBy("s")
    dup = sh.withColumn("cnt", F.count(F.lit(1)).over(wcnt)).where(F.col("cnt") > 1)
    cov = (
        dup.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + SUBSTR_W - 1)).alias("w"),
        )
        .distinct()
    )
    runs = cov.withColumn(
        "grp", F.col("w") - F.row_number().over(Window.partitionBy("doc_id").orderBy("w"))
    )
    per_run = runs.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run_len"))
    feats = per_run.groupBy("doc_id").agg(
        F.sum("run_len").cast("bigint").alias("dwc"),
        F.count(F.lit(1)).cast("bigint").alias("dr"),
        F.max("run_len").cast("bigint").alias("ldr"),
    )
    return docs.select("doc_id").join(feats, "doc_id", "left").select(
        "doc_id",
        F.coalesce("dwc", F.lit(0)).cast("bigint").alias("dup_word_count"),
        F.coalesce("dr", F.lit(0)).cast("bigint").alias("dup_ranges"),
        F.coalesce("ldr", F.lit(0)).cast("bigint").alias("longest_dup_run"),
    )


SUBSTR_DUP_SQL_CTES = f"""
sub0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sub1 AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks) - {SUBSTR_W - 1}, 0))) AS pos
  FROM sub0
),
sub2 AS (
  SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + {SUBSTR_W}], ' ') AS s
  FROM sub1
),
subd AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY s) AS cnt FROM sub2
  ) WHERE cnt > 1
),
subc AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id, unnest(list_transform(range(0, {SUBSTR_W}), k -> pos + k)) AS w
    FROM subd
  )
),
subr AS (
  SELECT doc_id, w, w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS grp
  FROM subc
),
subrun AS (SELECT doc_id, grp, count(*) AS run_len FROM subr GROUP BY 1, 2),
subf AS (
  SELECT doc_id,
         CAST(sum(run_len) AS BIGINT) AS dup_word_count,
         CAST(count(*) AS BIGINT) AS dup_ranges,
         CAST(max(run_len) AS BIGINT) AS longest_dup_run
  FROM subrun GROUP BY doc_id
),
subfull AS (
  SELECT d.doc_id,
         COALESCE(subf.dup_word_count, 0) AS dup_word_count,
         COALESCE(subf.dup_ranges, 0) AS dup_ranges,
         COALESCE(subf.longest_dup_run, 0) AS longest_dup_run
  FROM documents d LEFT JOIN subf ON d.doc_id = subf.doc_id
)"""


def doc_features_pack(
    spark: SparkSession, sf_dir: str, lm_vocab_min_count: int = 1
) -> DataFrame:
    """Per-document feature pack in one result: language-ID
    (stopword-hit argmax), content fingerprints (md5 + 64-bit prefix),
    the corpus quality-gate verdict (as a ``kept`` flag so the pack
    stays at doc grain), the repeated-bigram ratio (Gopher-style
    repetition signal), the 8-bucket feature-hash vector, the
    train/eval contamination arm, the span-level keep-first dedup
    arm, the unaligned duplicated-substring arm, and (r12) the
    corpus-unigram LM score arm
    (lang_id + doc_fingerprints + corpus_filter +
    feature_hash_vectors + repetition + eval_contamination +
    span_dedup + substring_dup_features + lm_score merged; each arm's
    computation unchanged).  All nine arms read ONE localCheckpointed tokenized
    scan (r6: doc_id, text, lang, toks) instead of each re-scanning and
    re-splitting documents — measured 4.7s → 2.0s at sf0.1.  This is
    NOT the r5-disproven single-projection fusion (that hit codegen
    limits); the arms remain separate plans joined on doc_id, only the
    scan+tokenize is shared, and checkpointed storage is
    ContextCleaner-released once the returned plan is dropped.

    ``lm_vocab_min_count`` (r14, VERDICT r13 #3) rides through to the
    lm arm so the pack's production 100 TB form (floor + OOV bucket,
    O(vocab-cap) broadcast) is one parameter away; the default keeps
    the gate arm byte-identical.  Twin: ``doc_features_sql(min_count)``
    — differential-tested at a floor > 1 in tests/test_crafted_power.py."""
    shared = local_ckpt(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", _tokens(F.col("text")).alias("toks"))
    )
    base = (
        lang_id(spark, sf_dir, base=shared)
        .join(doc_fingerprints(spark, sf_dir, base=shared), "doc_id")
    )
    docs = shared
    toks = F.col("toks")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
    sw_ratio = _hits(toks, LANG_STOPWORDS["en"]).cast("double") / n_tok.cast("double")
    # grams2 is bound in its own projection (r9): referencing the
    # bigram transform from inside a CaseWhen branch would re-evaluate
    # it per reference — conditional branch values are excluded from
    # codegen subexpression elimination (the ivf_knn guard lesson,
    # NOTES.md r9); CollapseProject keeps a non-cheap alias that is
    # referenced more than once.
    g2c = temp_col_name(docs, "__grams2")
    g2 = F.col(g2c)
    rep = F.when(
        F.size(g2) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(g2)).cast("double") / F.size(g2).cast("double"),
    ).otherwise(F.lit(0.0))
    gate = docs.withColumn(g2c, _ngrams(toks, 2)).select(
        "doc_id",
        (
            (n_tok >= 20) & (n_tok <= 1000) & (ttr >= 0.3) & (sw_ratio <= 0.2)
        ).cast("int").alias("kept"),
        rep.alias("rep_bigram_ratio"),
    )
    # no trailing orderBy: the sort's sampling pass re-executes the
    # whole join tree (order-insensitive driver compare)
    return (
        base.join(gate, "doc_id")
        .join(feature_hash_vectors(spark, sf_dir, base=shared), "doc_id")
        .join(eval_contamination(spark, sf_dir, base=shared), "doc_id")
        .join(span_dedup(spark, sf_dir, base=shared), "doc_id")
        .join(substring_dup_features(spark, sf_dir, base=shared), "doc_id")
        .join(
            lm_score(
                spark, sf_dir, base=shared, vocab_min_count=lm_vocab_min_count
            ),
            "doc_id",
        )
    )


CONTAM_SQL_CTES = f"""
cg AS MATERIALIZED (
  SELECT doc_id,
         CAST({{u_evl}} < {EVAL_RATE} AS INT) AS is_eval,
         unnest(list_transform(range(1, len(string_split(text, ' ')) - {CONTAM_N - 2}),
                               i -> CAST('0x' || substr(md5(array_to_string(string_split(text, ' ')[i:i+{CONTAM_N - 1}], ' ')), 1, 8) AS BIGINT))) AS g
  FROM documents
),
ev AS (SELECT DISTINCT g FROM cg WHERE is_eval = 1),
hits AS (
  SELECT doc_id, count(DISTINCT g) AS eval_ngram_hits
  FROM cg JOIN ev USING (g) WHERE is_eval = 0 GROUP BY doc_id
),
contam AS (
  SELECT d.doc_id,
         CAST({{u_evl_d}} < {EVAL_RATE} AS INT) AS is_eval,
         CAST(COALESCE(hits.eval_ngram_hits, 0) AS BIGINT) AS eval_ngram_hits
  FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
)"""


def _contam_ctes() -> str:
    from .curation import u_sql

    return CONTAM_SQL_CTES.format(
        u_evl=u_sql("evl:"), u_evl_d=u_sql("evl:", col="d.doc_id")
    )


_DOC_FEATURES_SQL_TMPL = f"""
WITH lang AS ({LANG_ID_SQL.strip()}),
fp AS ({DOC_FINGERPRINTS_SQL.strip()}),
gate AS (
  SELECT doc_id,
         CAST((len(string_split(text, ' ')) BETWEEN 20 AND 1000)
          AND (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.3)
          AND (CAST(len(list_filter(string_split(text, ' '), t -> t IN ('{_SW_EN}'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) <= 0.2) AS INT) AS kept,
         CASE WHEN len(string_split(text, ' ')) >= 2 THEN
           1.0 - CAST(len(list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                        i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) - 1 AS DOUBLE)
         ELSE 0.0 END AS rep_bigram_ratio
  FROM documents
),
fh AS ({FEATURE_HASH_SQL.strip()}),
{{contam_ctes}},
{SPAN_DEDUP_SQL_CTES.strip()},
{SUBSTR_DUP_SQL_CTES.strip()},
{{lm_ctes}}
SELECT lang.doc_id, labeled_lang, predicted_lang, label_match,
       md5_full, fp64, kept, rep_bigram_ratio,
       f0, f1, f2, f3, f4, f5, f6, f7,
       is_eval, eval_ngram_hits,
       spans_total, spans_kept, dedup_text_md5,
       dup_word_count, dup_ranges, longest_dup_run,
       lm_sum_micro, lm_avg_logprob
FROM lang
JOIN fp ON lang.doc_id = fp.doc_id
JOIN gate ON lang.doc_id = gate.doc_id
JOIN fh ON lang.doc_id = fh.doc_id
JOIN contam ON lang.doc_id = contam.doc_id
JOIN sdd ON lang.doc_id = sdd.doc_id
JOIN subfull ON lang.doc_id = subfull.doc_id
JOIN lm ON lang.doc_id = lm.doc_id
ORDER BY lang.doc_id
"""


def doc_features_sql(lm_vocab_min_count: int = 1) -> str:
    """DuckDB twin of ``doc_features_pack(lm_vocab_min_count=...)`` —
    the lm arm's CTE chain is swapped for the capped form past floor 1
    (r14); the default is byte-identical to the registered gate SQL."""
    return _DOC_FEATURES_SQL_TMPL.replace(
        "{contam_ctes}", _contam_ctes()
    ).replace("{lm_ctes}", lm_sql_ctes(lm_vocab_min_count).strip())


DOC_FEATURES_SQL = doc_features_sql()


# ---------------------------------------------------------------------------
# Registry: bench-headline queries stand alone; lang_id /
# doc_fingerprints / corpus_filter / feature_hash_vectors /
# repetition-ratio / eval_contamination ride in doc_features_pack
# (see COVERAGE.md).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# PII scrub (r8 continuation) — the redaction pass every training-data
# pipeline runs before anything else.  The synthetic corpus contains no
# PII (0 docs match '@'), so the raw arm would be vacuously green; the
# harness INJECTS deterministic doc_id-derived PII (email / phone /
# SSN-like id) identically in both engines — same pattern as the XML
# renderer: build the hostile input inside the query, then prove the
# operator (match counts + the md5 of the redacted text) agrees.
# Patterns are deliberately anchored-shape (no nested alternation) so
# Java-regex (Spark) and RE2 (DuckDB) cannot disagree on match extents.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9] \([0-9]{3}\) [0-9]{3}-[0-9]{4}"
PII_ID = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"


def _pii_aug_col():
    """Deterministic PII injection: doc_id%3 picks email/phone/none,
    doc_id%5 adds an SSN-like id (3 and 5 keep the mix independent)."""
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@mail.example.com now")),
        )
        .when(
            d % 3 == 1,
            F.concat(
                F.lit(" call +1 (555) 010-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
                F.lit(" ok"),
            ),
        )
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" id 987-65-4321")).otherwise(F.lit("")),
    )


def _pii_cols():
    """Counts + redacted-text md5 over the augmented text.  Everything
    is a zero-shuffle per-row projection (regexp_count / regexp_replace
    are JVM built-ins); the md5 pins the actual redaction output —
    counts alone could be right while the replacement mangled text.
    Replacement order (email → phone → id) matters only if patterns
    overlapped; these cannot (id needs 3-2-4 digit groups, the phone
    has 3-4)."""
    aug = _pii_aug_col()
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
        ),
        PII_ID,
        "<ID>",
    )
    return [
        F.regexp_count(aug, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(aug, F.lit(PII_ID)).cast("long").alias("n_ids"),
        F.md5(redacted.cast("binary")).alias("scrub_md5"),
    ]


_PII_AUG_SQL = (
    "text || CASE WHEN doc_id % 3 = 0"
    " THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'"
    " WHEN doc_id % 3 = 1"
    " THEN ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ok'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' id 987-65-4321' ELSE '' END"
)

PII_SCRUB_SQL = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{PII_ID}')) AS BIGINT) AS n_ids,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g'),
           '{PII_ID}', '<ID>', 'g')) AS scrub_md5
FROM aug ORDER BY doc_id
"""


def textstats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grain text statistics as ONE wide zero-shuffle projection:
    quality metrics (``_quality_cols``), token counts
    (``_token_count_cols``), the rolling hash (``_rhash_col``) and PII
    redaction (``_pii_cols``).  The DuckDB twin joins the four per-arm
    SQLs on doc_id.  All arms are pure per-row projections over the same
    scan, so a doc-grain join here would have ADDED an exchange no arm
    has — at 100 TB a doc-grain broadcast is impossible and the join
    would become a sort-merge with two shuffles (r6 review finding);
    the single select keeps the whole pack inside one WholeStageCodegen
    over one FileScan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", *_quality_cols(), *_token_count_cols(), _rhash_col().alias("rhash"),
        *_pii_cols(),
    )


TEXTSTATS_PACK_SQL = f"""
SELECT q.*, t.ws_tokens, t.bpe_tokens, r.rhash,
       p.n_emails, p.n_phones, p.n_ids, p.scrub_md5
FROM ({TEXT_QUALITY_SQL.strip().rstrip(';')}) q
JOIN ({TOKEN_COUNTS_SQL.strip().rstrip(';')}) t ON q.doc_id = t.doc_id
JOIN ({ROLLING_HASH_SQL.strip().rstrip(';')}) r ON q.doc_id = r.doc_id
JOIN ({PII_SCRUB_SQL.strip().rstrip(';')}) p ON q.doc_id = p.doc_id
ORDER BY q.doc_id
"""


def text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 fold of ``textstats_pack`` + ``term_stats_pack`` (COVERAGE.md's
    named candidate — same table, doc grain vs term grain), banking a
    registry slot for ``entity_state_bucketed``.  Both constituent packs
    stay independently callable and BYTE-UNCHANGED; this pack unions
    them under a NULL-padded common schema (the established fold
    discipline): the doc-grain stats rows carry kind='stats' + the 13
    stat columns, the term-grain rows keep their tfidf/bigram kinds +
    (term, tfidf, rk, n); each arm NULLs the other's columns.  The
    padding is DERIVED from the stats arm's dtypes, so a stats-arm
    schema change cannot silently diverge the padded twin."""
    stats = textstats_pack(spark, sf_dir)
    terms = term_stats_pack(spark, sf_dir)
    term_cols = [("term", "string"), ("tfidf", "double"), ("rk", "int"), ("n", "bigint")]
    stat_cols = [(c, t) for c, t in stats.dtypes if c != "doc_id"]
    stats_p = stats.select(
        F.lit("stats").alias("kind"),
        F.col("doc_id").cast("bigint").alias("doc_id"),
        *[F.lit(None).cast(t).alias(c) for c, t in term_cols],
        *[F.col(c) for c, _ in stat_cols],
    )
    terms_p = terms.select(
        "kind",
        "doc_id",
        *[F.col(c) for c, _ in term_cols],
        *[F.lit(None).cast(t).alias(c) for c, t in stat_cols],
    )
    return stats_p.unionByName(terms_p)


_STAT_NULLS = (
    "CAST(NULL AS BIGINT) AS len_chars, CAST(NULL AS BIGINT) AS n_tokens,"
    " CAST(NULL AS BIGINT) AS n_distinct, CAST(NULL AS DOUBLE) AS ttr,"
    " CAST(NULL AS DOUBLE) AS stopword_ratio, CAST(NULL AS DOUBLE) AS mean_token_len,"
    " CAST(NULL AS BIGINT) AS ws_tokens, CAST(NULL AS BIGINT) AS bpe_tokens,"
    " CAST(NULL AS BIGINT) AS rhash, CAST(NULL AS BIGINT) AS n_emails,"
    " CAST(NULL AS BIGINT) AS n_phones, CAST(NULL AS BIGINT) AS n_ids,"
    " CAST(NULL AS VARCHAR) AS scrub_md5"
)

TEXT_PACK_SQL = f"""
SELECT 'stats' AS kind, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(NULL AS VARCHAR) AS term, CAST(NULL AS DOUBLE) AS tfidf,
       CAST(NULL AS INT) AS rk, CAST(NULL AS BIGINT) AS n,
       len_chars, n_tokens, n_distinct, ttr, stopword_ratio,
       mean_token_len, ws_tokens, bpe_tokens, rhash,
       n_emails, n_phones, n_ids, scrub_md5
FROM ({TEXTSTATS_PACK_SQL.strip().rstrip(';')})
UNION ALL
SELECT kind, doc_id, term, tfidf, rk, n, {_STAT_NULLS}
FROM ({TERM_STATS_PACK_SQL.strip().rstrip(';')})
"""


QUERIES: dict[str, tuple] = {
    # r11: textstats_pack + term_stats_pack folded into text_pack (slot
    # banked for entity_state_bucketed); all arms unchanged + callable.
    "text_pack": (text_pack, TEXT_PACK_SQL),
    "doc_features_pack": (doc_features_pack, DOC_FEATURES_SQL),
}


# Predicate-power probes (see registry.all_probes / dedup.PROBES header)
PROBES: dict[str, tuple] = {
    "documents contain non-ASCII text": (
        "text_pack", "corpus",
        r"SELECT count(*), NULL FROM documents WHERE text ~ '[^\x00-\x7F]'"),
    "pii scrubbing fires (docs with hits, without)": (
        "text_pack", "oracle",
        "SELECT sum(CASE WHEN n_emails + n_phones + n_ids > 0 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN n_emails + n_phones + n_ids = 0 THEN 1 ELSE 0 END)"
        " FROM t WHERE kind = 'stats'"),
    "term stats arms populated, tfidf ranks beyond 1": (
        "text_pack", "oracle",
        "SELECT (SELECT count(DISTINCT kind) - 2 FROM t),"
        " (SELECT count(*) FROM t WHERE kind='tfidf' AND rk > 1)"),
    "decontamination hits eval ngrams (hit docs, clean docs)": (
        "doc_features_pack", "oracle",
        "SELECT sum(CASE WHEN is_eval=0 AND eval_ngram_hits > 0 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN is_eval=0 AND eval_ngram_hits = 0 THEN 1 ELSE 0 END) FROM t"),
    "span dedup cuts spans for some docs only": (
        "doc_features_pack", "oracle",
        "SELECT sum(CASE WHEN spans_kept < spans_total THEN 1 ELSE 0 END),"
        " sum(CASE WHEN spans_kept = spans_total THEN 1 ELSE 0 END) FROM t"),
    "quality gate keeps and rejects": (
        "doc_features_pack", "oracle",
        "SELECT sum(CASE WHEN kept=0 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN kept=1 THEN 1 ELSE 0 END) FROM t"),
    "lang-id agrees and disagrees with labels": (
        "doc_features_pack", "oracle",
        "SELECT sum(CASE WHEN label_match=0 THEN 1 ELSE 0 END),"
        " sum(CASE WHEN label_match=1 THEN 1 ELSE 0 END) FROM t"),
    "lm score separates docs around the corpus mean": (
        "doc_features_pack", "oracle",
        "SELECT sum(CASE WHEN lm_avg_logprob < (SELECT avg(lm_avg_logprob) FROM t)"
        " THEN 1 ELSE 0 END),"
        " sum(CASE WHEN lm_avg_logprob > (SELECT avg(lm_avg_logprob) FROM t)"
        " THEN 1 ELSE 0 END) FROM t"),
}
