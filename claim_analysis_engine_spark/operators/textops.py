"""Text analysis for training-data pipelines over the `documents`
table: token statistics, quality scoring, stopword-list language ID,
content fingerprinting, and a corpus n-gram profile.

Everything is built-in JVM column functions (split / filter /
aggregate / regexp / md5) — no Python in the row path; the corpus
profile is the only op with a shuffle (one hash aggregate on tokens).

Oracle parity notes: DuckDB regexp_replace needs the 'g' flag to match
Spark's replace-all default; token arrays drop empty strings on both
sides; sort orders are plain ASCII lexicographic in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from claim_analysis_engine_spark.registry import OpRegistry
from claim_analysis_engine_spark.tables import load

REG = OpRegistry()

_TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"

# small per-language stopword lists for the language-ID heuristic
_LANG_WORDS = {
    "en": ("the", "a", "and", "of", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "por"),
    "fr": ("le", "les", "et", "des", "une"),
}
_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _tokens_col() -> F.Column:
    return F.array_remove(F.split("text", " "), "")


def _word_ngrams(n: int) -> F.Column:
    """Word n-gram strings over a `toks` array column, empty-guarded
    (< n tokens → empty array, and the sequence() bound can never go
    negative-descending). Built as ONE slice + join per gram: the
    obvious `concat_ws(element_at(i), …, element_at(i+n-1))` form
    compiles to n independent array lookups per gram and measured 6×
    slower end-to-end (novelty aggregate at sf0.1: 13.1 → 2.5 s after
    switching to slice)."""
    joined = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
    )
    return F.when(F.size("toks") >= n, joined).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------- txt_tokens

@REG.op(
    "txt_tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           round(list_sum(list_transform(toks, x -> length(x))) * 1.0
                 / len(toks), 4) AS avg_token_len
    FROM t
    """,
)
def txt_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting: total, distinct, mean token length —
    the unit economics of a text corpus (tokens-per-doc drives both
    dedup shingling and LLM token budgeting)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", _tokens_col().alias("toks"))
    total_len = F.aggregate("toks", F.lit(0), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.round(total_len.cast("double") / F.size("toks"), 4).alias("avg_token_len"),
    )


# --------------------------------------------------------- txt_quality

@REG.op(
    "txt_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars,
           round(length(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
                 / length(text), 4) AS alpha_ratio,
           round(len(list_filter(toks,
                   x -> x IN {_STOPWORDS!r})) * 1.0 / len(toks), 4)
             AS stopword_ratio,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS distinct_ratio,
           (length(text) BETWEEN 20 AND 10000
            AND len(list_filter(toks, x -> x IN {_STOPWORDS!r})) * 1.0
                / len(toks) >= 0.02) AS passes_quality
    FROM t
    """,
)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length bounds, alphabetic ratio,
    stopword ratio, lexical diversity) — the cheap pre-filter stage of
    a training-data pipeline; the boolean gate mirrors C4-style
    rule-based filtering."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens_col().alias("toks")
    )
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double") / n_chars
    stop_hits = F.size(F.filter("toks", lambda t: t.isin(*_STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / F.size("toks")
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        F.round(alpha, 4).alias("alpha_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        (n_chars.between(20, 10000) & (stop_ratio >= 0.02)).alias("passes_quality"),
    )


# ---------------------------------------------------------- txt_langid

def _hits_sql(words: tuple[str, ...]) -> str:
    return f"len(list_filter(toks, x -> x IN {words!r}))"


@REG.op(
    "txt_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    h AS (
      SELECT doc_id, lang,
             {_hits_sql(_LANG_WORDS["en"])} AS hits_en,
             {_hits_sql(_LANG_WORDS["de"])} AS hits_de,
             {_hits_sql(_LANG_WORDS["es"])} AS hits_es,
             {_hits_sql(_LANG_WORDS["fr"])} AS hits_fr
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang, hits_en, hits_de, hits_es, hits_fr,
           CASE WHEN hits_en + hits_de + hits_es + hits_fr = 0 THEN 'unknown'
                WHEN hits_en >= greatest(hits_de, hits_es, hits_fr) THEN 'en'
                WHEN hits_de >= greatest(hits_es, hits_fr) THEN 'de'
                WHEN hits_es >= hits_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM h
    """,
)
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: score each doc against per-language
    function-word lists, argmax with a fixed tie-break order — the
    classic cheap n-gram/stopword heuristic (fasttext-style LID is the
    heavyweight alternative; this one is pure column math)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("labeled_lang"), _tokens_col().alias("toks")
    )

    def hits(words: tuple[str, ...]) -> F.Column:
        return F.size(F.filter("toks", lambda t: t.isin(*words)))

    h = docs.select(
        "doc_id",
        "labeled_lang",
        hits(_LANG_WORDS["en"]).alias("hits_en"),
        hits(_LANG_WORDS["de"]).alias("hits_de"),
        hits(_LANG_WORDS["es"]).alias("hits_es"),
        hits(_LANG_WORDS["fr"]).alias("hits_fr"),
    )
    total = F.col("hits_en") + F.col("hits_de") + F.col("hits_es") + F.col("hits_fr")
    pred = (
        F.when(total == 0, "unknown")
        .when(
            F.col("hits_en") >= F.greatest("hits_de", "hits_es", "hits_fr"), "en"
        )
        .when(F.col("hits_de") >= F.greatest("hits_es", "hits_fr"), "de")
        .when(F.col("hits_es") >= F.col("hits_fr"), "es")
        .otherwise("fr")
    )
    return h.select(
        "doc_id", "labeled_lang", "hits_en", "hits_de", "hits_es", "hits_fr",
        pred.alias("pred_lang"),
    )


# ----------------------------------------------------- txt_fingerprint

@REG.op(
    "txt_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_norm,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag,
           list_aggregate(list_transform(
             generate_series(1, greatest(1, length(text) - 7)),
             i -> md5(substr(text, i, 8))), 'min') AS fp_min_shingle
    FROM t
    """,
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the whitespace-normalized text
    (exact-dup key), md5 of the sorted distinct-token bag (word-order-
    insensitive key), and the minimum 8-gram shingle hash (MOSS-style
    winnowing representative — survives local edits)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", _tokens_col().alias("toks")
    )
    fp_norm = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    fp_bag = F.md5(F.array_join(F.array_sort(F.array_distinct("toks")), " "))
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text") - 7)),
        lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
    )
    return docs.select(
        "doc_id",
        fp_norm.alias("fp_norm"),
        fp_bag.alias("fp_bag"),
        F.array_min(shingles).alias("fp_min_shingle"),
    )


# -------------------------------------------------- txt_corpus_ngrams

@REG.op(
    "txt_corpus_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS token FROM t),
    counted AS (
      SELECT token, count(*) AS n, count(*) * 1.0
               / (SELECT count(*) FROM tok) AS freq
      FROM tok GROUP BY token
    )
    SELECT token, n, round(freq, 6) AS freq
    FROM counted ORDER BY n DESC, token LIMIT 20
    """,
)
def txt_corpus_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram profile: explode tokens → one hash
    aggregate → top-20 by frequency (TakeOrderedAndProject — the limit
    is pushed into the sort, nothing global materializes). The total
    count joins back as a broadcast 1-row aggregate."""
    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(_tokens_col()).alias("token"))
    )
    counted = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counted.agg(F.sum("n").alias("_total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .select(
            "token",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("freq"),
        )
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------- txt_tokens_bpe

# GPT-2-style coarse pretokenizer classes, restricted to constructs
# Java regex (Spark) and RE2 (DuckDB) interpret identically
_BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


@REG.op(
    "txt_tokens_bpe",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_extract_all(text, '{_BPE_PATTERN}') AS toks
      FROM documents
    )
    SELECT doc_id, len(toks) AS n_bpe_tokens,
           len(list_filter(toks, x -> x ~ '^[0-9]+$')) AS n_numeric,
           len(list_filter(toks, x -> x ~ '^[^a-zA-Z0-9]+$')) AS n_punct,
           round(length(text) * 1.0 / len(toks), 4) AS chars_per_token
    FROM t
    """,
)
def txt_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretokenization counting: split on GPT-2-style character
    classes (letter runs / digit runs / punctuation runs) with
    regexp_extract_all — the cheap proxy for LLM token budgeting
    (chars-per-token is the metric data teams watch). Pure JVM regex,
    no UDF; the pattern sticks to constructs Java regex and RE2 agree
    on."""
    docs = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    t = docs.select("doc_id", F.length("text").alias("n_chars"), toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_bpe_tokens"),
        F.size(F.filter("toks", lambda x: x.rlike("^[0-9]+$"))).alias("n_numeric"),
        F.size(F.filter("toks", lambda x: x.rlike("^[^a-zA-Z0-9]+$"))).alias("n_punct"),
        F.round(F.col("n_chars").cast("double") / F.size("toks"), 4).alias(
            "chars_per_token"
        ),
    )


# ------------------------------------------------------ txt_repetition

REP_TOP_WORD_T = 0.2  # most-frequent token may claim ≤20% of the doc
REP_DUP_2GRAM_T = 0.1  # ≤10% of word bigrams may be repeats


@REG.op(
    "txt_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    c AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY 1, 2),
    top AS (SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY 1),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CASE WHEN len(toks) >= 2 THEN list_transform(
                    generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS g2,
             CASE WHEN len(toks) >= 3 THEN list_transform(
                    generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                  ELSE [] END AS g3
      FROM t
    )
    SELECT g.doc_id,
           CAST(g.n_tokens AS BIGINT) AS n_tokens,
           round(top.top_cnt * 1.0 / g.n_tokens, 4) AS top_word_frac,
           round(CASE WHEN len(g2) = 0 THEN 0.0
                 ELSE 1 - len(list_distinct(g2)) * 1.0 / len(g2) END, 4)
             AS dup_2gram_frac,
           round(CASE WHEN len(g3) = 0 THEN 0.0
                 ELSE 1 - len(list_distinct(g3)) * 1.0 / len(g3) END, 4)
             AS dup_3gram_frac,
           (top.top_cnt * 1.0 / g.n_tokens > {REP_TOP_WORD_T}
            OR (len(g2) > 0
                AND 1 - len(list_distinct(g2)) * 1.0 / len(g2)
                    > {REP_DUP_2GRAM_T})) AS is_repetitive
    FROM g JOIN top ON g.doc_id = top.doc_id
    """,
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document: the share of
    the most frequent token, and the duplicate fraction of word
    bigrams/trigrams (1 − distinct/total). Boilerplate, keyword
    stuffing, and template spam all light up these ratios long before
    fuzzy-dedup would catch them, so this is the cheap filter a
    training pipeline runs FIRST. The top-token count comes from
    explode → two hash aggregates (map-side combined, scale-free);
    the n-gram ratios are per-row JVM array expressions — no UDFs, no
    driver involvement, and the explode never amplifies past token
    count (documents stream through at 100 TB)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _tokens_col().alias("toks")
    )
    top = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"))
    )

    grams = _word_ngrams  # shared slice-based builder (see helper note)

    def dup_frac(g: str) -> F.Column:
        return F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
            1 - F.size(F.array_distinct(g)).cast("double") / F.size(g)
        )

    per_doc = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        grams(2).alias("g2"),
        grams(3).alias("g3"),
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    return per_doc.join(top, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(top_frac, 4).alias("top_word_frac"),
        F.round(dup_frac("g2"), 4).alias("dup_2gram_frac"),
        F.round(dup_frac("g3"), 4).alias("dup_3gram_frac"),
        (
            (top_frac > REP_TOP_WORD_T)
            | ((F.size("g2") > 0) & (dup_frac("g2") > REP_DUP_2GRAM_T))
        ).alias("is_repetitive"),
    )


# ------------------------------------------------------ txt_pii_scrub

# PII patterns kept to syntax shared by Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repeats — no lookaround.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"010-[0-9]{4}-[0-9]{4}"
_PII_URL = r"https?://[A-Za-z0-9./_-]+"


@REG.op(
    "txt_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail' || CAST(doc_id % 7 AS VARCHAR)
                  || '.com call 010-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
                  || lpad(CAST((doc_id * 3 + 1) % 10000 AS VARCHAR), 4, '0')
                  || ' see https://ex' || CAST(doc_id % 5 AS VARCHAR)
                  || '.org/p/' || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PII_EMAIL}', 0)) AS n_emails,
           len(regexp_extract_all(t, '{_PII_PHONE}', 0)) AS n_phones,
           len(regexp_extract_all(t, '{_PII_URL}', 0)) AS n_urls,
           length(regexp_replace(regexp_replace(regexp_replace(t,
                    '{_PII_EMAIL}', '<EMAIL>', 'g'),
                    '{_PII_PHONE}', '<PHONE>', 'g'),
                    '{_PII_URL}', '<URL>', 'g')) AS clean_len,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                    '{_PII_EMAIL}', '<EMAIL>', 'g'),
                    '{_PII_PHONE}', '<PHONE>', 'g'),
                    '{_PII_URL}', '<URL>', 'g')) AS clean_hash
    FROM aug
    """,
)
def txt_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and mask emails, phone numbers, and
    URLs with shared-dialect regexes (no lookaround, so Java and RE2
    agree byte-for-byte). The synthetic documents contain no PII, so
    both engines first append a doc_id-derived contact block — the
    deterministic augmentation is the fixture; the redaction pipeline
    (extract-count, then cascaded regexp_replace, md5 witness of the
    cleaned text) is the operator under test. Pure per-row JVM regex —
    no shuffle, no UDF; at 100 TB this runs entirely map-side inside
    whole-stage codegen."""
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail"),
        (d % 7).cast("string"),
        F.lit(".com call 010-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(((d * 3 + 1) % 10000).cast("string"), 4, "0"),
        F.lit(" see https://ex"),
        (d % 5).cast("string"),
        F.lit(".org/p/"),
        d.cast("string"),
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", aug.alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_URL,
        "<URL>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_URL), 0)).alias("n_urls"),
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_hash"),
    )


# ---------------------------------------------- txt_boilerplate_frac

BP_NGRAM = 5  # word n-gram length treated as a boilerplate unit
BP_MIN_DOCS = 20  # an n-gram in >= this many distinct docs is boilerplate


@REG.op(
    "txt_boilerplate_frac",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {BP_NGRAM}
                  THEN list_distinct(list_transform(
                         generate_series(1, len(toks) - {BP_NGRAM - 1}),
                         i -> array_to_string(toks[i:i+{BP_NGRAM - 1}], ' ')))
                  ELSE [] END AS grams
      FROM t
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    common AS (
      SELECT gram FROM e GROUP BY 1
      HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}
    ),
    hits AS (
      SELECT e.doc_id, count(*) AS n_common
      FROM e JOIN common c ON c.gram = e.gram
      GROUP BY 1
    )
    SELECT g.doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_common, 0) AS BIGINT) AS n_boiler,
           CASE WHEN len(grams) = 0 THEN 0.0
                ELSE round(coalesce(h.n_common, 0) * 1.0 / len(grams), 4)
           END AS boiler_frac,
           (len(grams) > 0 AND
            coalesce(h.n_common, 0) * 1.0 / len(grams) > 0.5) AS is_boilerplate
    FROM g LEFT JOIN hits h ON h.doc_id = g.doc_id
    """,
)
def txt_boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection: a word 5-gram appearing in
    ≥ 20 distinct documents is boilerplate (headers, templates, legal
    footers — the C4/RefinedWeb line-dedup idea lifted to n-grams since
    the synthetic docs have no line structure); each document reports
    the fraction of its distinct 5-grams that are boilerplate and a
    drop flag. Two hash aggregates over the exploded n-grams (map-side
    combined; explode amplification is bounded by token count) and one
    join back — the common-gram table is tiny by construction (an
    n-gram in ≥20 docs is rare) so that join broadcasts at scale."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _tokens_col().alias("toks")
    )
    # checkpointed: g feeds the exploded frame twice (common-gram
    # aggregate, per-doc hit counts) AND the final per-doc join —
    # without it the gram construction runs three times
    g = docs.select(
        "doc_id", F.array_distinct(_word_ngrams(BP_NGRAM)).alias("grams")
    ).localCheckpoint()
    e = g.select("doc_id", F.explode("grams").alias("gram"))
    common = (
        e.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= BP_MIN_DOCS)
        .select("gram")
    )
    hits = (
        e.join(F.broadcast(common), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    n_boiler = F.coalesce("n_common", F.lit(0)).cast("bigint")
    frac = F.when(F.size("grams") == 0, F.lit(0.0)).otherwise(
        F.round(n_boiler.cast("double") / F.size("grams"), 4)
    )
    return g.join(hits, "doc_id", "left").select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        n_boiler.alias("n_boiler"),
        frac.alias("boiler_frac"),
        (
            (F.size("grams") > 0)
            & (n_boiler.cast("double") / F.size("grams") > 0.5)
        ).alias("is_boilerplate"),
    )


# --------------------------------------------------- txt_lm_perplexity

LM_ADD_K = 0.5  # add-k smoothing constant


@REG.op(
    "txt_lm_perplexity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    d2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> struct_pack(w1 := toks[i],
                                                    w2 := toks[i + 1]))) AS bg
      FROM d2
    ),
    p2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs),
    big AS (SELECT w1, w2, count(*) AS c12 FROM p2 GROUP BY 1, 2),
    uni AS (SELECT w1, count(*) AS c1 FROM p2 GROUP BY 1),
    voc AS (SELECT count(DISTINCT tok) AS v
            FROM (SELECT unnest(toks) AS tok FROM t)),
    scored AS (
      SELECT p.doc_id,
             -log2((b.c12 + {LM_ADD_K}) / (u.c1 + {LM_ADD_K} * voc.v)) AS nll
      FROM p2 p JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
      JOIN uni u ON u.w1 = p.w1, voc
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(pow(2, avg(nll)), 4) AS ppl
    FROM scored GROUP BY 1
    """,
)
def txt_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model perplexity per document —
    the classic LM-based quality signal a training-data pipeline runs
    before mixing sources (documents whose token transitions surprise
    the corpus LM are boilerplate, garbled extraction, or wrong-domain
    text). Model: add-k-smoothed bigram probabilities
    P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V) trained on the SAME corpus
    (self-scoring, the standard first pass); score: per-doc perplexity
    2^(mean −log₂ P) over its adjacent-token pairs. Docs with fewer
    than two tokens have no bigrams and are absent by construction.

    Scale shape: bigram extraction is one array transform per row (no
    Python); the model is two hash aggregates over the exploded pairs;
    scoring is a shuffle join on the (w1, w2) key — uniform token
    keys, partitioned like any fact-fact join. At 100 TB the model
    table itself is big (vocab²-bounded) and this full-join form is
    the exact path; production pipelines that can tolerate it prune
    the model to top-N bigrams and broadcast instead — a LIMIT on the
    `big` aggregate, no plan-shape change."""
    from claim_analysis_engine_spark.tables import spread_scan

    t = spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", _tokens_col().alias("toks")
    )
    d2 = t.where(F.size("toks") >= 2)
    pairs = d2.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # the pair stream feeds THREE consumers (bigram counts, unigram
    # counts, scoring join) — checkpoint it so the explode runs once
    pairs = pairs.localCheckpoint()
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    voc = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    nll = -F.log2(
        (F.col("c12") + F.lit(LM_ADD_K)) / (F.col("c1") + F.lit(LM_ADD_K) * F.col("v"))
    )
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(voc))
        .select("doc_id", nll.alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.pow(F.lit(2.0), F.avg("nll")), 4).alias("ppl"),
    )


# --------------------------------------------------- txt_ngram_novelty

NOV_NGRAM = 5  # word n-gram length treated as a content unit


@REG.op(
    "txt_ngram_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {NOV_NGRAM}
                  THEN list_distinct(list_transform(
                         generate_series(1, len(toks) - {NOV_NGRAM - 1}),
                         i -> array_to_string(toks[i:i+{NOV_NGRAM - 1}], ' ')))
                  ELSE [] END AS grams
      FROM t
    ),
    e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    f AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS first_doc
      FROM e
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS n_novel
      FROM f GROUP BY 1
    )
    SELECT g.doc_id,
           CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 1.0
                ELSE round(a.n_novel * 1.0 / a.n_grams, 4) END AS novelty
    FROM g LEFT JOIN agg a ON a.doc_id = g.doc_id
    """,
)
def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word 5-grams whose globally FIRST occurrence (minimum
    doc_id — ingest order) is this document. Documents that mostly
    repeat content already present earlier in the corpus score near 0;
    fresh content scores near 1 — the incremental-information signal
    curation pipelines use to rank which near-duplicates to keep
    (complementary to txt_boilerplate_frac, which flags corpus-COMMON
    n-grams regardless of who wrote them first). Gramless docs
    (< 5 tokens) are vacuously novel (1.0).

    Scale shape: a gram is novel for EXACTLY the doc that is its
    global min, so per-doc novel counts need no window and no join
    back onto the exploded grams: aggregate gram → min(doc_id), then
    min-doc → count. That second aggregate's output is ≤ one row per
    doc, so the join back to the per-doc frame broadcasts; n_grams is
    size(grams) straight off the scan. One full shuffle on the gram
    key (uniform — no salting needed), one tiny shuffle on doc_id,
    no sort, no fact-sized join. (The first cut used
    min-over-window + join-back: 15.4 s at sf0.1 vs 2.1 s for this
    shape — the window's per-gram sort and the exploded-width join
    paid for nothing the aggregate didn't already know.)"""
    from claim_analysis_engine_spark.tables import spread_scan

    docs = spread_scan(load(spark, sf_dir, "documents")).select(
        "doc_id", _tokens_col().alias("toks")
    )
    # checkpointed: the gram frame feeds both the per-doc size
    # projection and the exploded first-owner aggregate — without it
    # the gram construction runs twice (the corpus_contamination lesson)
    g = docs.select(
        "doc_id", F.array_distinct(_word_ngrams(NOV_NGRAM)).alias("grams")
    ).localCheckpoint()
    e = g.select("doc_id", F.explode("grams").alias("gram"))
    firsts = e.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy("first_doc").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    n_grams = F.size("grams").cast("bigint")
    n_novel = F.coalesce("n_novel", F.lit(0)).cast("bigint")
    return g.join(
        F.broadcast(novel), g["doc_id"] == novel["first_doc"], "left"
    ).select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_novel.alias("n_novel"),
        F.when(n_grams == 0, F.lit(1.0))
        .otherwise(F.round(n_novel.cast("double") / n_grams, 4))
        .alias("novelty"),
    )


# ------------------------------------------------------ txt_idf_topterms

IDF_TOP_K = 3


@REG.op(
    "txt_idf_topterms",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf * n.n_docs / CAST(dfreq.df AS DOUBLE) AS raw
      FROM tf JOIN dfreq USING (term), n
    ),
    ranked AS (
      SELECT doc_id, term, tf, df, raw,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY raw DESC, term) AS rnk
      FROM scored
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rnk AS INT) AS rnk,
           term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(raw, 4) AS score
    FROM ranked WHERE rnk <= {IDF_TOP_K}
    """,
)
def txt_idf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-terms — the distinctive-term extractor
    behind corpus topic profiling and keyword indexing. idf is the raw
    ratio N/df (the unsmoothed variant): with integer tf·N < 2^53 the
    score is ONE IEEE double division, bit-identical in any engine, so
    the rank ordering is deterministic cross-engine — a log-idf would
    rank on `ln` ulps where JVM and DuckDB may differ in the last bit.
    Plan shape: explode → (doc,term) count, with the term-frequency dim
    (vocabulary-sized, tiny) BROADCAST back onto it; corpus size joins
    in as a broadcast scalar; one window per doc ranks. Two hash
    aggregates + one window — no fact-sized shuffle beyond the
    (doc,term) aggregate itself. The (doc,term) frame feeds both the
    tf and df branches, so it is checkpointed for the run."""
    d = load(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(_tokens_col()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "raw",
            F.col("tf") * F.col("n_docs") / F.col("df").cast("double"),
        )
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("raw"), F.asc("term"))
    )
    return (
        scored.withColumn("rnk", rnk)
        .where(F.col("rnk") <= IDF_TOP_K)
        .select(
            "doc_id",
            "rnk",
            "term",
            "tf",
            "df",
            F.round("raw", 4).alias("score"),
        )
    )


# --------------------------------------------------- txt_compress_ratio

COMPRESS_REPETITIVE_T = 0.30  # ratio below this = repetitive/spammy


def _compress_ratio_udf():
    """Arrow-batched zlib ratio scorer (compressed/raw bytes), shared
    by txt_compress_ratio and its monotonicity contract. zlib level
    pinned so the score is bit-deterministic."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ratio(texts):
        import zlib

        def one(t: str) -> float:
            raw = t.encode("utf-8", errors="replace")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        # na_action: a null text must yield a null score, not crash
        # the whole Arrow batch on None.encode
        return texts.map(one, na_action="ignore")

    return ratio


@REG.op("txt_compress_ratio", oracle=None)  # zlib has no SQL twin: rows-only
def txt_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: deflate each document and
    score it by compressed/raw bytes — the classic corpus heuristic
    (low ratio = the text is self-repetitive boilerplate/spam; natural
    prose sits far higher) used alongside the statistical quality
    scores of txt_quality. This is also the module's demonstration of
    the sanctioned Python escape hatch: zlib is not expressible in
    Column math, so the score runs as an Arrow-batched pandas_udf —
    one vectorized call per Arrow batch, never per row
    (ArrowEvalPython; the plan sweep forbids BatchEvalPython).
    zlib level is pinned so the score is bit-deterministic; no ANSI
    twin exists, so the registry records it rows-only and
    tests/test_textops-style checks pin determinism and that a planted
    repetitive document scores below the natural-text band.

    Scale shape: a per-row projection — zero shuffles, embarrassingly
    parallel over input splits; ~µs/KB of zlib per executor core."""
    # NB: module has `from __future__ import annotations`, which turns
    # hints into strings pandas_udf cannot infer from — annotate via
    # __annotations__-free form and rely on the returnType argument
    # (see _compress_ratio_udf)
    ratio = _compress_ratio_udf()

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars"), F.col("text")
    )
    return d.select(
        "doc_id",
        "n_chars",
        F.round(ratio("text"), 4).alias("compress_ratio"),
    ).withColumn(
        "repetitive", F.col("compress_ratio") < COMPRESS_REPETITIVE_T
    )


# ------------------------------------------ txt_compress_ratio_contract

COMPRESS_LEVELS = 4  # planted repetition levels: 2^k copies of the 1/2^k prefix


@REG.op(
    "txt_compress_ratio_contract",
    oracle=f"""
    WITH levels AS (
      SELECT unnest(generate_series(0, {COMPRESS_LEVELS - 1})) AS level
    )
    SELECT CAST(level AS INT) AS level,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
           true AS mean_monotone_decreasing,
           true AS natural_above_threshold,
           true AS deepest_level_repetitive
    FROM levels
    """,
)
def txt_compress_ratio_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certified contract for the zlib quality signal
    (txt_compress_ratio itself stays rows-only: deflate has no SQL
    twin). The certifiable claim is the signal's RESPONSE CURVE, not
    its values: every document is planted at {COMPRESS_LEVELS}
    repetition levels (level k = 2^k copies of its first 1/2^k — same
    length, exponentially more self-repetition), and the scorer must

    * be MONOTONE — the per-level mean ratio strictly decreases as
      repetition deepens (measured at sf0.01: 0.554 / 0.382 / 0.257 /
      0.171 — the gaps are ~100× any float noise);
    * separate the classes the threshold claims to separate — natural
      text (level 0) means above COMPRESS_REPETITIVE_T, the deepest
      planted level below it (so the `repetitive` flag in the
      production op flags planted spam and passes prose).

    The oracle recomputes the per-level doc count from documents (one
    row per level — a lost level or a lost doc flips n_docs) and
    asserts the booleans. A zlib-level change, a truncated Arrow
    batch, or a broken planting expression all flip the hash.

    Scale: the planted frame is {COMPRESS_LEVELS}× one projection of
    the corpus — embarrassingly parallel, zero shuffles before the
    level-grain aggregate."""
    ratio = _compress_ratio_udf()
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    parts = []
    for k in range(COMPRESS_LEVELS):
        rep = 2 ** k
        planted = F.expr(
            f"repeat(substring(text, 1, "
            f"greatest(1, CAST(length(text) / {rep} AS INT))), {rep})"
        )
        parts.append(
            docs.select(F.lit(k).alias("level"), planted.alias("text"))
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    per = (
        u.select("level", ratio("text").alias("r"))
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.avg("r").alias("mean_r"),
        )
    )
    w = W.orderBy("level")  # 4-row frame: a global window is fine
    flags = per.select(
        "level", "n_docs", "mean_r", F.lead("mean_r").over(w).alias("next_r")
    )
    bools = flags.agg(
        F.min(
            F.when(F.col("next_r").isNull(), 1)
            .when(F.col("next_r") < F.col("mean_r"), 1)
            .otherwise(0)
        ).alias("mono"),
        F.max(F.when(F.col("level") == 0, F.col("mean_r"))).alias("nat_r"),
        F.max(
            F.when(F.col("level") == COMPRESS_LEVELS - 1, F.col("mean_r"))
        ).alias("deep_r"),
    )
    return flags.crossJoin(F.broadcast(bools)).select(
        "level",
        "n_docs",
        (F.col("mono") == 1).alias("mean_monotone_decreasing"),
        (F.col("nat_r") > COMPRESS_REPETITIVE_T).alias("natural_above_threshold"),
        (F.col("deep_r") < COMPRESS_REPETITIVE_T).alias("deepest_level_repetitive"),
    )


# ----------------------------------------------- txt_search_conjunctive

SEARCH_TERMS = ("join", "hash", "window")  # conjunctive (AND) query


@REG.op(
    "txt_search_conjunctive",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    hits AS (
      SELECT doc_id,
             count(*) FILTER (tok = '{SEARCH_TERMS[0]}') AS tf_{SEARCH_TERMS[0]},
             count(*) FILTER (tok = '{SEARCH_TERMS[1]}') AS tf_{SEARCH_TERMS[1]},
             count(*) FILTER (tok = '{SEARCH_TERMS[2]}') AS tf_{SEARCH_TERMS[2]}
      FROM toks WHERE tok IN {SEARCH_TERMS!r}
      GROUP BY 1
    )
    SELECT doc_id, tf_{SEARCH_TERMS[0]}, tf_{SEARCH_TERMS[1]},
           tf_{SEARCH_TERMS[2]},
           CAST(tf_{SEARCH_TERMS[0]} + tf_{SEARCH_TERMS[1]}
                + tf_{SEARCH_TERMS[2]} AS BIGINT) AS tf_total
    FROM hits
    WHERE tf_{SEARCH_TERMS[0]} > 0 AND tf_{SEARCH_TERMS[1]} > 0
      AND tf_{SEARCH_TERMS[2]} > 0
    """,
)
def txt_search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean (AND) keyword search as posting-list intersection: docs
    containing EVERY query term, with per-term and total term
    frequencies — the index-shaped retrieval the text family lacked
    (ep7's ANN retrieval is semantic; this is exact lexical search).

    The scalable plan is the inverted-index shape without
    materializing an index: tokenize once, FILTER the exploded token
    stream down to the query terms BEFORE anything shuffles (the
    posting prune — at 100 TB the shuffle carries |query-term
    postings| rows, a vanishing fraction of the token stream), then
    one doc-keyed aggregate computes all per-term frequencies and the
    conjunction test together. Compare the naive plan — K substring
    scans of every document with a LIKE per term — which reads the
    full corpus K times and cannot push the term filter below the
    scan. A persistent deployment materializes the same exploded
    (term, doc) frame sorted by term (sort_zorder/snk_compaction are
    the layout ops) and prunes at the file level."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.array_remove(F.split("text", " "), "")).alias("tok"),
    )
    hits = (
        toks.where(F.col("tok").isin(*SEARCH_TERMS))
        .groupBy("doc_id")
        .agg(
            *[
                F.count(F.when(F.col("tok") == t, 1)).alias(f"tf_{t}")
                for t in SEARCH_TERMS
            ]
        )
    )
    cond = None
    for t in SEARCH_TERMS:
        c = F.col(f"tf_{t}") > 0
        cond = c if cond is None else (cond & c)
    total = sum((F.col(f"tf_{t}") for t in SEARCH_TERMS[1:]),
                F.col(f"tf_{SEARCH_TERMS[0]}"))
    return hits.where(cond).select(
        "doc_id",
        *[f"tf_{t}" for t in SEARCH_TERMS],
        total.cast("bigint").alias("tf_total"),
    )


# ----------------------------------------------------- txt_search_bm25

BM25_TERMS = ("join", "window", "salt")  # disjunctive (OR) query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 25


@REG.op(
    "txt_search_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS doclen FROM toks GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(doclen) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN {BM25_TERMS!r} GROUP BY 1, 2
    ),
    df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT t.doc_id,
             sum(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
               * t.tf * ({BM25_K1} + 1)
               / (t.tf + {BM25_K1}
                  * (1 - {BM25_B} + {BM25_B} * l.doclen / s.avgdl))
             ) AS score,
             CAST(count(*) AS BIGINT) AS n_terms_hit
      FROM tf t
      JOIN df d USING (tok)
      JOIN dl l USING (doc_id), stats s
      GROUP BY 1
    )
    SELECT doc_id, round(score, 6) AS score, n_terms_hit
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def txt_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval — the scored (OR) complement of
    txt_search_conjunctive's boolean AND: per-term Robertson idf
    weights a saturating, length-normalized tf, summed per document;
    top-k by (rounded score, doc_id) so both engines rank
    identically. Together with ep7's semantic ANN this gives the
    engine both halves of a standard hybrid-retrieval stack.

    Scale: the posting prune again — only the query terms' postings
    survive the token stream before any shuffle; df and the corpus
    stats (N, avgdl) are tiny aggregates joined back (Catalyst
    broadcasts them); the final top-k is orderBy().limit(k), which
    Spark executes as TakeOrderedAndProject — per-partition heaps
    merged on the driver, NO single-partition global sort, so the
    ranking step stays safe however many documents score."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.array_remove(F.split("text", " "), "")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("doclen").alias("avgdl"),
    )
    tf = (
        toks.where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("doclen") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * F.col("tf") * (BM25_K1 + 1) / norm).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return (
        scored.select(
            "doc_id", F.round("score", 6).alias("score"), "n_terms_hit"
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


# ---------------------------------------------------- txt_winnowing

WIN_K = 5        # word-gram length (fingerprint granularity)
WIN_W = 4        # winnowing window: every WIN_W consecutive grams
#                  contribute >= 1 fingerprint, so any shared run of
#                  WIN_W + WIN_K - 1 = 8 tokens is GUARANTEED to match
WIN_MAX_DF = 32  # fingerprints in more docs are boilerplate, not
#                  evidence — disqualified before pairing
WIN_MIN_SHARED = 3


@REG.op(
    "txt_winnowing",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {WIN_K}
                  THEN list_transform(
                         generate_series(1, len(toks) - {WIN_K - 1}),
                         i -> md5(array_to_string(toks[i:i+{WIN_K - 1}], ' ')))
                  ELSE [] END AS hs
      FROM t
    ),
    fp AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WIN_W}
                  THEN list_distinct(list_transform(
                         generate_series(1, len(hs) - {WIN_W - 1}),
                         j -> list_min(hs[j:j+{WIN_W - 1}])))
                  WHEN len(hs) >= 1 THEN [list_min(hs)]
                  ELSE [] END AS fps
      FROM h
    ),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
    rare AS (
      SELECT fp FROM e GROUP BY 1
      HAVING count(DISTINCT doc_id) <= {WIN_MAX_DF}
    ),
    er AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_fps
    FROM er a JOIN er b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WIN_MIN_SHARED}
    """,
)
def txt_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint matching (Schleimer-Wilkerson-Aiken 2003,
    the MOSS algorithm): per doc, hash every {WIN_K}-word gram, slide a
    {WIN_W}-hash window and keep each window's MINIMUM — a provably
    bounded-density fingerprint set where any shared token run of
    length ≥ {WIN_W + WIN_K - 1} is guaranteed to produce a shared
    fingerprint (the local-min trick makes the selection position-
    robust, unlike every-nth sampling). Docs sharing ≥
    {WIN_MIN_SHARED} rare fingerprints are candidate partial-copy
    pairs — the localized-overlap complement to txt_containment_prefix
    (which scores whole-doc containment) and txt_fingerprint (which
    keeps only the single global min).

    Scale: fingerprinting is a per-row array pipeline (no shuffle,
    whole-stage codegen); density is ~2/(w+1) of the gram stream, so
    the exploded posting table is a bounded fraction of the token
    stream. Fingerprints in > {WIN_MAX_DF} docs are disqualified
    before the self-join — the posting-list cap that keeps the pair
    blow-up quadratic only within rare-fingerprint buckets (the
    join_fuzzy_entity / containment lesson).

    MD5 hex strings compare lexicographically identically in both
    engines, so the window minima — and therefore the exact
    fingerprint sets — are engine-identical by construction."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _tokens_col().alias("toks")
    )
    hs = docs.select(
        "doc_id",
        F.transform(
            F.when(
                F.size("toks") >= WIN_K,
                F.sequence(F.lit(1), F.size("toks") - (WIN_K - 1)),
            ).otherwise(F.array().cast("array<int>")),
            lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, WIN_K))),
        ).alias("hs"),
    )
    fps = hs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("hs") >= WIN_W,
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs") - (WIN_W - 1)),
                        lambda j: F.array_min(F.slice("hs", j, WIN_W)),
                    ),
                )
                .when(F.size("hs") >= 1, F.array(F.array_min("hs")))
                .otherwise(F.array().cast("array<string>"))
            )
        ).alias("fp"),
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") <= WIN_MAX_DF)
        .select("fp")
    )
    er = fps.join(F.broadcast(rare), "fp")
    a = er.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = er.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= WIN_MIN_SHARED)
    )


# ---------------------------------------------------- corpus_length_hist

@REG.op(
    "corpus_length_hist",
    oracle=f"""
    WITH t AS (
        SELECT source, len({_TOKENS_SQL}) AS n_tok FROM documents
    ), b AS (
        SELECT source,
               CASE WHEN n_tok = 0 THEN 0 ELSE length(bin(n_tok)) END AS bucket,
               n_tok
        FROM t
    )
    SELECT source, CAST(bucket AS INT) AS bit_bucket,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM b GROUP BY 1, 2
    """,
)
def corpus_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per source in power-of-two buckets — the
    length profile a training pipeline reads before choosing sequence
    length and packing strategy (corpus_pack_sequences' sizing input:
    how much of each source truncates at 2^k?). Bucket = BIT LENGTH of
    the token count (length of its binary rendering), which is exactly
    ⌊log2 n⌋+1 computed in INTEGER space — float log2 lands on ulp
    boundaries at exact powers of two and re-buckets rows differently
    per engine; bin() cannot.

    One projection + one tiny (source × ~14 buckets) aggregate."""
    t = load(spark, sf_dir, "documents").select(
        "source", F.size(_tokens_col()).alias("n_tok")
    )
    b = t.select(
        "source",
        F.when(F.col("n_tok") == 0, 0)
        .otherwise(F.length(F.bin("n_tok")))
        .cast("int")
        .alias("bit_bucket"),
        "n_tok",
    )
    return b.groupBy("source", "bit_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


# --------------------------------------------------- corpus_vocab_coverage

VOCAB_COVERAGE_PCTS = (50, 90, 99)  # integer percents of token mass


@REG.op(
    "corpus_vocab_coverage",
    oracle=f"""
    WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS w FROM t),
    c AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
    ranked AS (
        SELECT n,
               row_number() OVER (ORDER BY n DESC, w) AS rk,
               sum(n) OVER (ORDER BY n DESC, w) AS cum,
               sum(n) OVER () AS total,
               count(*) OVER () AS vocab
        FROM c
    )
    SELECT CAST(max(vocab) AS BIGINT) AS vocab_size,
           CAST(max(total) AS BIGINT) AS total_tokens,
           {", ".join(
               f"CAST(min(CASE WHEN cum * 100 >= total * {p} THEN rk END) AS BIGINT)"
               f" AS vocab_for_{p}pct"
               for p in VOCAB_COVERAGE_PCTS
           )}
    FROM ranked
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the smallest top-k vocabulary (by
    frequency, word tiebreak) covering 50/90/99% of all token
    occurrences — THE sizing input for tokenizer vocab selection
    (corpus_bpe_train decides how many merges to learn from exactly
    this curve; Zipf's law makes the 99% point far larger than 10× the
    50% point, which is why subword units exist). Thresholds are
    integer cross-products over exact counts — no float anywhere.

    Scale: one token-grain aggregate (the txt_corpus_ngrams shuffle),
    then the ranking window runs over the VOCABULARY (distinct words),
    orders of magnitude smaller than the token stream; at web-corpus
    vocab sizes the single-task window swaps for the range-partitioned
    2-stage rank (sort_global_shards' pattern)."""
    tok = load(spark, sf_dir, "documents").select(
        F.explode(_tokens_col()).alias("w")
    )
    c = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    w_ord = W.orderBy(F.desc("n"), "w")
    ranked = c.select(
        "n",
        F.row_number().over(w_ord).alias("rk"),
        F.sum("n").over(w_ord).alias("cum"),
        F.sum("n").over(W.partitionBy()).alias("total"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("vocab"),
    )
    aggs = [
        F.max("vocab").alias("vocab_size"),
        F.max("total").alias("total_tokens"),
    ] + [
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * p, F.col("rk"))
        ).alias(f"vocab_for_{p}pct")
        for p in VOCAB_COVERAGE_PCTS
    ]
    return ranked.agg(*aggs)


# -------------------------------------------------- txt_collocations

COLLOC_MIN_PAIR = 5  # bigram count floor (PMI is unstable on rare pairs)


@REG.op(
    "txt_collocations",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS w FROM t),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    nt AS (SELECT count(*) AS n_tok FROM uni),
    bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)
           WHERE len(toks) >= 2),
    bcnt AS (SELECT w1, w2, count(*) AS c_pair FROM bg GROUP BY w1, w2),
    nb AS (SELECT count(*) AS n_big FROM bg)
    SELECT b.w1, b.w2, CAST(b.c_pair AS BIGINT) AS n_pair,
           round(ln(b.c_pair * 1.0 * nt.n_tok * nt.n_tok
                    / (nb.n_big * 1.0 * u1.c * u2.c)), 6) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON u1.w = b.w1
    JOIN ucnt u2 ON u2.w = b.w2
    CROSS JOIN nt CROSS JOIN nb
    WHERE b.c_pair >= {COLLOC_MIN_PAIR}
      AND ln(b.c_pair * 1.0 * nt.n_tok * nt.n_tok
             / (nb.n_big * 1.0 * u1.c * u2.c)) > 0
    """,
)
def txt_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the
    corpus-statistics op a curation stack uses to find multi-word
    units worth protecting from tokenization/boilerplate rules:
    PMI(x,y) = ln(P(x,y) / (P(x)P(y))) with P(x,y) from the adjacent-
    bigram stream and P(x) from the unigram stream, emitted for every
    bigram with count >= {COLLOC_MIN_PAIR} and positive PMI (the
    attraction half — negative PMI means the pair co-occurs LESS than
    chance). All counts exact integers; PMI the only float (round 6).

    Scale: one explode per stream (bigrams = tokens - docs rows), two
    hash aggregates on uniform word keys, the unigram table joined
    twice as broadcast DATA (vocab-sized), totals one-row broadcasts.
    No windows, no per-doc state — the plan a 100 TB corpus wants."""
    toks = F.array_remove(F.split("text", " "), "")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks")
    )
    uni = docs.select(F.explode("toks").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nt = uni.agg(F.count(F.lit(1)).alias("n_tok"))
    bg = docs.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_pair"))
    nb = bg.agg(F.count(F.lit(1)).alias("n_big"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    # double from the FIRST factor, mirroring the oracle's
    # (c_pair * 1.0) * n_tok * n_tok left-assoc evaluation order: a
    # bigint product would silently wrap past 2^63 on a large corpus,
    # and a double conversion at any OTHER point in the chain can
    # differ by 1 ulp from DuckDB's once products exceed 2^53
    pmi = F.log(
        F.col("c_pair").cast("double")
        * F.col("n_tok")
        * F.col("n_tok")
        / (F.col("n_big").cast("double") * F.col("c1") * F.col("c2"))
    )
    return (
        bcnt.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .where((F.col("c_pair") >= COLLOC_MIN_PAIR) & (pmi > 0))
        .select(
            "w1",
            "w2",
            F.col("c_pair").cast("bigint").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
    )


# --------------------------------------------------- txt_quality_gopher

# the Gopher quality-filter rule set (Rae et al. 2021, App. A1.1) at
# the documented thresholds; the stop set is the paper's 8-word list
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_BULLET_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_FRAC = 0.30


@REG.op(
    "txt_quality_gopher",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks,
                      string_split(text, chr(10)) AS lines
               FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             list_sum(list_transform(toks, w -> len(w))) * 1.0
               / nullif(len(toks), 0) AS mwl,
             ((len(text) - len(replace(text, '#', '')))
              + (len(text) - len(replace(text, '...', ''))) / 3) * 1.0
               / nullif(len(toks), 0) AS sym_ratio,
             len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) * 1.0
               / nullif(len(toks), 0) AS alpha_frac,
             len(list_filter(toks, w -> w IN {GOPHER_STOPS!r})) AS stop_hits,
             len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%')) * 1.0
               / nullif(len(lines), 0) AS bullet_frac,
             len(list_filter(lines, l -> l LIKE '%...')) * 1.0
               / nullif(len(lines), 0) AS ellipsis_frac
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 4) AS mean_word_len,
           round(sym_ratio, 4) AS symbol_ratio,
           round(alpha_frac, 4) AS alpha_word_frac,
           CAST(stop_hits AS BIGINT) AS n_stop_hits,
           round(bullet_frac, 4) AS bullet_frac,
           round(ellipsis_frac, 4) AS ellipsis_frac,
           coalesce(
             n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             AND mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL}
             AND sym_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
             AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
             AND stop_hits >= {GOPHER_MIN_STOP_HITS}
             AND bullet_frac <= {GOPHER_MAX_BULLET_FRAC}
             AND ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}, FALSE)
             AS passes_gopher
    FROM m
    """,
)
def txt_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER quality-filter rule set (Rae et al. 2021, Appendix
    A1.1) as one certified pass — the named production rule family
    beside the C4-style heuristics txt_quality ships: word-count
    bounds [{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean word length
    [{GOPHER_MIN_MWL}, {GOPHER_MAX_MWL}], symbol-to-word ratio
    (# and ... occurrences) <= {GOPHER_MAX_SYMBOL_RATIO}, >=
    {GOPHER_MIN_ALPHA_FRAC:.0%} of words containing an alphabetic
    character, >= {GOPHER_MIN_STOP_HITS} stop-word hits from the
    paper's 8-word list, and the two line-shape rules (bullet-start
    <= {GOPHER_MAX_BULLET_FRAC:.0%}, ellipsis-end <=
    {GOPHER_MAX_ELLIPSIS_FRAC:.0%}). Every per-doc measurement is
    emitted beside the gate so threshold tuning is a WHERE clause,
    not a rerun; docs with zero tokens fail closed (coalesce FALSE).

    Scale: one projection pass, no explode (all rules are array
    folds inside whole-stage codegen), no joins, no windows — the
    cheapest possible shape for a rule that must touch every byte of
    a 100 TB corpus exactly once."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        _tokens_col().alias("toks"),
        F.split("text", "\n").alias("lines"),
    )
    n_words = F.size("toks")
    nwn = F.nullif(n_words.cast("double"), F.lit(0.0))
    mwl = (
        F.aggregate("toks", F.lit(0), lambda a, w: a + F.length(w)).cast(
            "double"
        )
        / nwn
    )
    sym = (
        (F.length("text") - F.length(F.replace("text", F.lit("#"))))
        + (F.length("text") - F.length(F.replace("text", F.lit("...")))) / 3
    ).cast("double") / nwn
    alpha_frac = (
        F.size(F.filter("toks", lambda w: w.rlike("[a-z]"))).cast("double")
        / nwn
    )
    stop_hits = F.size(F.filter("toks", lambda w: w.isin(*GOPHER_STOPS)))
    nln = F.nullif(F.size("lines").cast("double"), F.lit(0.0))
    bullet = (
        F.size(
            F.filter(
                "lines",
                lambda l: l.startswith("-") | l.startswith("*"),
            )
        ).cast("double")
        / nln
    )
    ellipsis = (
        F.size(F.filter("lines", lambda l: l.endswith("..."))).cast("double")
        / nln
    )
    gate = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (sym <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOP_HITS)
        & (bullet <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis <= GOPHER_MAX_ELLIPSIS_FRAC)
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(mwl, 4).alias("mean_word_len"),
        F.round(sym, 4).alias("symbol_ratio"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.cast("bigint").alias("n_stop_hits"),
        F.round(bullet, 4).alias("bullet_frac"),
        F.round(ellipsis, 4).alias("ellipsis_frac"),
        F.coalesce(gate, F.lit(False)).alias("passes_gopher"),
    )
