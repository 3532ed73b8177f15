"""Text analysis for training-data pipelines (beyond-reference §north-star).

Operators a 100 TB corpus pipeline needs, all expressed with built-in
JVM-side functions (regexp_count / split / md5) — zero Python in the
row path, so they run inside whole-stage codegen and scale linearly
with input bytes:

- token counting (whitespace + a BPE-ish regex segmenter)
- quality scoring (length / punctuation / stopword ratios)
- language ID (stopword-hit n-gram heuristic, deterministic tie-break)
- document fingerprinting (normalized-text md5; shingle fingerprints
  live in operators/dedup.py)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table, spread_if_narrow

# BPE-ish segmentation: letter runs, digit runs, single punctuation.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
STOPWORD_RE = r"\b(the|a|of|and|to|in|is|it)\b"

# Per-language stopword alternations for the lang-ID heuristic.
LANG_STOPWORDS = {
    "en": r"\b(the|a|and|of|to|is|in)\b",
    "fr": r"\b(le|la|et|de|un|est|les)\b",
    "de": r"\b(der|die|und|das|ist|ein)\b",
    "es": r"\b(el|la|y|de|que|es|los)\b",
    "zh": r"\b(de|le|shi|bu|wo|zai)\b",
}


def normalized_text(c: Column) -> Column:
    """Lowercase + whitespace-collapsed canonical form for hashing."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


_TOKEN_QUALITY_ORACLE = """
SELECT
  doc_id, lang, source,
  CAST(LENGTH(text) AS INTEGER) AS n_chars_calc,
  CAST(len(string_split_regex(text, '\\s+')) AS INTEGER) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
    AS n_tokens_bpe,
  CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is|it)\\b')) AS INTEGER)
    AS stopword_hits,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS punct_count,
  CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|to|in|is|it)\\b') ) AS DOUBLE)
    / len(string_split_regex(text, '\\s+')) AS stopword_ratio,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / LENGTH(text)
    AS punct_ratio,
  (LENGTH(text) >= 100)
    AND (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         / LENGTH(text) < 0.1) AS passes_quality
FROM documents
"""


@register(
    "text_token_quality",
    _TOKEN_QUALITY_ORACLE,
    doc="Token counting (whitespace + BPE-ish regex) and quality scoring "
    "(length/punct/stopword ratios) — all codegen'd regexp_count, no UDF",
    tags=("text",),
)
def text_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tokens_ws = F.size(F.split(t, r"\s+"))
    stop_hits = F.regexp_count(t, F.lit(STOPWORD_RE))
    punct = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]"))
    return docs.select(
        "doc_id", "lang", "source",
        F.length(t).alias("n_chars_calc"),
        n_tokens_ws.alias("n_tokens_ws"),
        F.regexp_count(t, F.lit(BPE_TOKEN_RE)).alias("n_tokens_bpe"),
        stop_hits.alias("stopword_hits"),
        punct.alias("punct_count"),
        (stop_hits.cast("double") / n_tokens_ws).alias("stopword_ratio"),
        (punct.cast("double") / F.length(t)).alias("punct_ratio"),
        ((F.length(t) >= 100) & (punct.cast("double") / F.length(t) < 0.1)).alias(
            "passes_quality"
        ),
    )


def _lang_oracle() -> str:
    scores = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INTEGER) AS s_{lang}".replace(
            "\\b", "\\b"
        )
        for lang, pat in LANG_STOPWORDS.items()
    )
    # deterministic priority order on ties: en > fr > de > es > zh
    case = (
        "CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es AND s_en >= s_zh THEN 'en' "
        "WHEN s_fr >= s_de AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr' "
        "WHEN s_de >= s_es AND s_de >= s_zh THEN 'de' "
        "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END"
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
  {scores}
  FROM documents
)
SELECT doc_id, lang, s_en, s_fr, s_de, s_es, s_zh,
       {case} AS predicted_lang,
       {case} = lang AS is_match
FROM scored
"""


@register(
    "text_lang_id",
    _lang_oracle(),
    doc="Language-ID heuristic: per-language stopword-hit scores with a "
    "deterministic argmax (n-gram heuristic family)",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang",
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).alias(f"s_{lang}")
            for lang, pat in LANG_STOPWORDS.items()
        ],
    )
    s = {l: F.col(f"s_{l}") for l in LANG_STOPWORDS}
    predicted = (
        F.when(
            (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["fr"] >= s["de"]) & (s["fr"] >= s["es"]) & (s["fr"] >= s["zh"]), "fr")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["zh"]), "de")
        .when(s["es"] >= s["zh"], "es")
        .otherwise("zh")
    )
    return scored.withColumn("predicted_lang", predicted).withColumn(
        "is_match", predicted == F.col("lang")
    )


_FP_ORACLE = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_fp,
       md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 64))
         AS prefix_fp
FROM documents
"""


@register(
    "text_fingerprint",
    _FP_ORACLE,
    doc="Document fingerprinting: md5 of normalized text + 64-char prefix "
    "fingerprint for fast prefiltering",
    tags=("text", "hash"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    norm = normalized_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("text_fp"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_fp"),
    )


_DECON_ORACLE = """
WITH bench_grams AS (
  SELECT bench_id, gram FROM (
    SELECT doc_id AS bench_id,
           unnest(list_distinct([substr(text, i, 24)
            FOR i IN range(1, greatest(length(text) - 23, 1) + 1)])) AS gram
    FROM documents WHERE doc_id < 20
  ) WHERE length(gram) = 24
),
corpus_grams AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_distinct([substr(text, i, 24)
            FOR i IN range(1, greatest(length(text) - 23, 1) + 1)])) AS gram
    FROM documents WHERE doc_id >= 20
  ) WHERE length(gram) = 24
)
SELECT c.doc_id, g.bench_id, COUNT(DISTINCT c.gram) AS n_shared_grams
FROM corpus_grams c
JOIN bench_grams g ON c.gram = g.gram
GROUP BY 1, 2
HAVING COUNT(DISTINCT c.gram) >= 3
"""


@register(
    "decontaminate_overlap",
    _DECON_ORACLE,
    doc="Benchmark decontamination: corpus docs sharing >=3 distinct "
    "24-char grams with any probe/benchmark doc (doc_id<20 stands in "
    "for the eval set). Inverted-index shape — the shuffle key is the "
    "gram and the benchmark side is tiny, so at 100 TB this is a "
    "broadcast semi-ish join against the benchmark's gram set, one "
    "pass over the corpus",
    tags=("text", "dedup", "decontamination"),
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    grams = lambda df, idc: df.select(  # noqa: E731
        F.col("doc_id").alias(idc),
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(length(text)-23, 1)),"
                " i -> substr(text, i, 24)))"
            )
        ).alias("gram"),
    ).where(F.length("gram") == 24)
    bench = grams(docs.where(F.col("doc_id") < 20), "bench_id")
    corpus = grams(docs.where(F.col("doc_id") >= 20), "doc_id")
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= 3)
    )


_CORPUS_STATS_ORACLE = """
WITH sized AS (
  SELECT source, doc_id, length(text) AS n,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY length(text), doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS cnt
  FROM documents
)
SELECT source,
       CAST(MAX(cnt) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_chars,
       CAST(MIN(n) AS INTEGER) AS min_chars,
       CAST(MAX(n) AS INTEGER) AS max_chars,
       CAST(MAX(CASE WHEN rn = CAST(floor((cnt + 1) / 2) AS BIGINT) THEN n END) AS INTEGER) AS median_lo
FROM sized
GROUP BY source
"""


@register(
    "corpus_stats",
    _CORPUS_STATS_ORACLE,
    doc="Per-source corpus statistics with an EXACT distributed median "
    "(rank-based lower median via row_number — deterministic and "
    "engine-portable, unlike interpolated percentile variants). One "
    "shuffle on source for the window + the same partitioning reused "
    "by the aggregate",
    tags=("text", "agg", "window"),
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", F.length("text").alias("n")
    ).withColumn(
        "rn", F.row_number().over(W.partitionBy("source").orderBy("n", "doc_id"))
    ).withColumn("cnt", F.count(F.lit(1)).over(W.partitionBy("source")))
    return sized.groupBy("source").agg(
        F.max("cnt").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_chars"),
        F.min("n").alias("min_chars"),
        F.max("n").alias("max_chars"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("cnt") + 1) / 2), F.col("n")
            )
        ).alias("median_lo"),
    )


# --- PII redaction ----------------------------------------------------
#
# Standard scrub pass before corpus release: emails, SSN-shaped ids,
# phone-shaped numbers, IPv4 addresses → typed placeholder tokens.
# Patterns stay in the RE2 ∩ Java-regex subset (char classes, bounded
# repeats, \b) so Spark and DuckDB compile the IDENTICAL automaton and
# the oracle hash-matches the redacted text. Order matters and is fixed
# (email → id → phone → ip); each kind's COUNT is taken on the text as
# it stands after the previous kinds' replacements — counts therefore
# equal placeholders actually inserted, even when patterns overlap (a
# phone-shaped string inside an email is consumed by <EMAIL> and never
# counted as a phone). Everything is regexp_count/regexp_replace —
# codegen'd, linear in input bytes, no Python in the row path. The
# synthetic corpus contains no PII, so the registry row certifies the
# cross-engine plumbing; redaction BEHAVIOR is pinned by unit fixtures
# with crafted PII (the multimodal fake-decode certification pattern).

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("id", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-kind redaction counts, a ``was_redacted`` flag, and
    ``clean_text`` with every PII match replaced by its placeholder.
    Each kind is counted on the text AFTER earlier kinds' replacements,
    so counts always equal the placeholders present in ``clean_text``."""
    counts = {}
    clean = F.col(text_col)
    for kind, pat, repl in PII_PATTERNS:
        counts[f"n_{kind}"] = F.regexp_count(clean, F.lit(pat))
        clean = F.regexp_replace(clean, pat, repl)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        "*",
        *[v.alias(k) for k, v in counts.items()],
        (total > 0).alias("was_redacted"),
        clean.alias("clean_text"),
    )


def _pii_oracle() -> str:
    count_cols, totals = [], []
    clean = "text"
    for kind, pat, repl in PII_PATTERNS:
        # mirror redact_pii exactly: count on the progressively-redacted
        # form, then apply this kind's replacement
        count_cols.append(
            f"CAST(len(regexp_extract_all({clean}, '{pat}')) AS INTEGER) AS n_{kind}"
        )
        totals.append(f"len(regexp_extract_all({clean}, '{pat}'))")
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    counts_sql = ",\n  ".join(count_cols)
    total_sql = " + ".join(totals)
    return f"""
SELECT doc_id, source,
  {counts_sql},
  ({total_sql}) > 0 AS was_redacted,
  {clean} AS clean_text
FROM documents
"""


@register(
    "text_pii_redact",
    _pii_oracle(),
    doc="PII redaction scrub (emails / SSN-shaped ids / phone-shaped "
    "numbers / IPv4 → typed placeholders) with per-kind counts — "
    "engine-portable regex subset, all codegen'd; redaction behavior "
    "additionally pinned by crafted-PII unit fixtures",
    tags=("text", "pii", "scrub"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return redact_pii(docs).drop("text")


# ---------------------------------------------------------------------------
# Repetition scoring (Gopher-style quality heuristics)
# ---------------------------------------------------------------------------
#
# Rae et al., "Scaling Language Models: Methods, Analysis & Insights
# from Training Gopher" (arXiv:2112.11446) filter documents by
# repetition: fraction of duplicate n-grams and dominance of the most
# frequent word. Both signals here, exactly:
#
# - distinct_word_ratio / dup_bigram_frac are pure projections (array
#   built-ins inside codegen, O(words) per doc — never the O(words^2)
#   "count each word by scanning the array" formulation);
# - top_word_share needs a per-(doc, word) histogram → explode +
#   two-level aggregate. The shuffle key is (doc_id, word): maximally
#   fine-grained, skew-free, map-side combined. At 100 TB this is the
#   same shape as the inverted-index build in dedup — linear in corpus
#   tokens with no hot keys.


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition metrics over whitespace tokenization.

    Returns ``doc_id, n_words, distinct_word_ratio, dup_bigram_frac,
    top_word_share``. Ratios are IEEE-double divisions of exact
    integer counts, so any engine computes identical bits.
    """
    words = F.split(F.col(text_col), " ")
    base = docs.select(
        "doc_id",
        words.alias("words"),
        F.size(words).alias("n_words"),
    )
    # bigrams via 1-based element_at over an index sequence — O(n) per
    # doc; guarded so 1-word docs don't build sequence(1, 0) (which in
    # Spark is the DESCENDING [1, 0], not empty).
    bigrams = F.expr(
        "transform(sequence(1, size(words) - 1),"
        " i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))"
    )
    stats = base.select(
        "doc_id",
        "n_words",
        (
            F.size(F.array_distinct("words")).cast("double") / F.col("n_words")
        ).alias("distinct_word_ratio"),
        F.when(
            F.col("n_words") > 1,
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double")
            / (F.col("n_words") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )
    top = (
        base.select("doc_id", F.explode("words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"))
    )
    return (
        stats.join(top, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "distinct_word_ratio",
            "dup_bigram_frac",
            (F.col("top_cnt").cast("double") / F.col("n_words")).alias(
                "top_word_share"
            ),
        )
    )


_REPETITION_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
base AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
           AS distinct_word_ratio,
         CASE WHEN len(words) > 1 THEN
           1.0 - CAST(len(list_distinct(
                   list_transform(range(1, len(words)),
                                  i -> words[i] || ' ' || words[i + 1])
                 )) AS DOUBLE) / (len(words) - 1)
         ELSE 0.0 END AS dup_bigram_frac
  FROM w
),
hist AS (
  SELECT doc_id, word, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(words) AS word FROM w)
  GROUP BY doc_id, word
),
tw AS (
  SELECT doc_id, MAX(cnt) AS top_cnt FROM hist GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_words AS INTEGER) AS n_words,
       b.distinct_word_ratio,
       b.dup_bigram_frac,
       CAST(tw.top_cnt AS DOUBLE) / b.n_words AS top_word_share
FROM base b
JOIN tw ON tw.doc_id = b.doc_id
"""


@register(
    "text_repetition_score",
    _REPETITION_ORACLE,
    doc="Gopher-style repetition quality heuristics (arXiv:2112.11446): "
    "distinct-word ratio and duplicate-bigram fraction as O(words) "
    "array projections, top-word dominance via an explode + two-level "
    "aggregate keyed (doc_id, word) — skew-free, map-side combined",
    tags=("text", "quality", "repetition"),
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_scores(docs)


# ---------------------------------------------------------------------------
# Vocabulary-coverage quality scoring (corpus-statistic → per-doc signal)
# ---------------------------------------------------------------------------
#
# The CCNet-family quality signal without the float-fragile LM: build
# the corpus top-K vocabulary (count-ranked, deterministic (count
# DESC, word) tie-break), then score each document by the fraction of
# its tokens inside that vocabulary. Unlike the other text operators
# this one feeds a CORPUS-level statistic back into a per-doc
# projection — two aggregate passes + one join, all integer counts and
# one final ratio, so it is exactly reproducible on any engine
# (a unigram-LM log-prob average is not: log() rounding is
# engine-specific).
#
# Scale: the word histogram is the inverted-index shuffle (fine-
# grained, map-side combined); the top-K filter bounds the vocab at K
# rows BY CONSTRUCTION, so the vocab side of the per-token join is
# broadcast-sized at any corpus scale (AQE broadcasts it unhinted);
# the per-doc aggregate shuffles on doc_id. Hot words skew the
# histogram's reduce side only as single combined rows — no key ever
# carries more than one row per map partition.

VOCAB_K = 100


def vocab_coverage(docs: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """doc_id, n_tokens, in_vocab_tokens, vocab_coverage against the
    corpus top-``k`` word vocabulary."""
    from lambda_lakehouse_spark.operators.ranking import global_topk

    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    # distributed top-k over the distinct-word counts (web-scale vocab
    # is billions of rows): TakeOrderedAndProject via ranking.global_topk
    vocab = global_topk(
        counts, [F.col("cnt").desc(), "word"], k, "rk"
    ).select("word", F.lit(1).alias("_in_vocab"))
    return (
        words.join(vocab, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_in_vocab"), F.lit(0)))
            .cast("bigint")
            .alias("in_vocab_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "in_vocab_tokens",
            (
                F.col("in_vocab_tokens").cast("double") / F.col("n_tokens")
            ).alias("vocab_coverage"),
        )
    )


_VOCAB_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (
  SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1
),
v AS (
  SELECT word FROM (
    SELECT word, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rk FROM c
  ) WHERE rk <= {VOCAB_K}
)
SELECT w.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS in_vocab_tokens,
       CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS vocab_coverage
FROM w
LEFT JOIN v ON v.word = w.word
GROUP BY w.doc_id
"""


@register(
    "text_vocab_coverage",
    _VOCAB_ORACLE,
    doc="Vocabulary-coverage quality scoring: corpus top-100 vocab "
    "(count-ranked, deterministic tie-break) -> per-doc in-vocab token "
    "fraction — the CCNet-style signal in exact integer counts; the "
    "vocab side is K rows by construction so the per-token join "
    "broadcasts at any corpus scale",
    tags=("text", "quality", "vocab", "join"),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_coverage(docs)


# ---------------------------------------------------------------------------
# First-occurrence novelty scoring
# ---------------------------------------------------------------------------

_NOVELTY_NGRAM = 3


def novelty_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty): fraction of a document's
    distinct 3-grams whose FIRST corpus occurrence (minimum doc_id) is
    this document. A dedup-aware sampling signal: processing docs in
    id order, `novelty` is how much genuinely new character content
    each contributes — boilerplate-heavy late documents score near 0
    even when no whole-doc or paragraph duplicate exists.

    Scale: shingle explode → min-aggregate on the shingle key (the
    inverted-index shuffle, map-side combined) → join back on the same
    key → per-doc aggregate. Attribution is deterministic by min().
    """
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, greatest(length(text)-2, 1)),"
                " i -> substr(text, i, 3)))"
            )
        ).alias("s"),
    )
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles")).alias(
                "novelty"
            ),
        )
    )


_NOVELTY_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct([substr(text, i, 3)
                FOR i IN range(1, greatest(length(text)-2, 1) + 1)])) AS s
  FROM documents
),
first AS (
  SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS novelty
FROM sh JOIN first f USING (s)
GROUP BY sh.doc_id
"""


@register(
    "text_novelty_score",
    _NOVELTY_ORACLE,
    doc="First-occurrence novelty: fraction of each doc's distinct "
    "3-grams first seen (min doc_id) in that doc — dedup-aware "
    "contribution scoring over the inverted-index shuffle; "
    "deterministic min() attribution",
    tags=("text", "dedup", "novelty"),
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return novelty_scores(docs)


# ---------------------------------------------------------------------------
# BPE-style pair statistics
# ---------------------------------------------------------------------------
#
# The first step of byte-pair-encoding tokenizer training: frequency of
# every ADJACENT character pair inside whitespace words, ranked — the
# relation a BPE trainer consults to pick its next merge. One
# char-level explode of the corpus (positions via sequence(), no UDF),
# one map-side-combined count, one distributed top-k. At 100 TB the
# shuffle key is the pair (bounded alphabet² domain — hot pairs like
# 'th' are exactly what AQE's skew handling and partial aggregation
# absorb), and iterating merges would re-run this relation per round —
# each round is this same one-pass aggregate.

BPE_PAIR_TOP_K = 50

_BPE_PAIR_ORACLE = f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM words WHERE length(w) >= 2)
),
counts AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1
)
SELECT rank, pair, n FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank,
         pair, n
  FROM counts
)
WHERE rank <= {BPE_PAIR_TOP_K}
"""


@register(
    "text_bpe_pair_merges",
    _BPE_PAIR_ORACLE,
    doc="BPE tokenizer-training step 1: adjacent character-pair "
    f"frequencies inside whitespace words, top-{BPE_PAIR_TOP_K} by "
    "(count DESC, pair) — char-level explode via sequence() (no UDF), "
    "map-side-combined count keyed on the bounded pair domain, "
    "distributed top-k; each further BPE merge round is this same "
    "one-pass aggregate",
    tags=("text", "tokenizer", "bpe", "topk"),
)
def text_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.ranking import global_topk

    docs = read_table(spark, sf_dir, "documents").select("text")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"), "w"
    ).select(F.expr("substring(w, i, 2)").alias("pair"))
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return global_topk(
        counts, [F.col("n").desc(), "pair"], BPE_PAIR_TOP_K, "rank"
    ).select("rank", "pair", "n")


# ---------------------------------------------------------------------------
# Code-vs-prose signals
# ---------------------------------------------------------------------------
#
# Corpus-curation triage: per-document structural signals that separate
# source code from natural prose (brace/semicolon density, symbol and
# digit fractions) plus the verdict a mixed web-scrape pipeline routes
# on (code goes to the code pipeline, prose to the text one). Pure
# counting via length-difference and portable [0-9] regex — every
# expression codegen'd, one map-only pass, no shuffle at all.

CODE_SYMBOLS = "{};=()"
CODE_SYM_FRAC = 0.01


def _count_char_sql(ch: str) -> str:
    lit = ch.replace("'", "''")
    return f"length(text) - length(replace(text, '{lit}', ''))"


_CODE_PROSE_ORACLE = f"""
SELECT doc_id,
       CAST({_count_char_sql('{')} + {_count_char_sql('}')} AS BIGINT) AS n_braces,
       CAST({_count_char_sql(';')} AS BIGINT) AS n_semicolons,
       CAST({" + ".join(_count_char_sql(c) for c in CODE_SYMBOLS)} AS DOUBLE)
         / length(text) AS sym_frac,
       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
         / length(text) AS digit_frac,
       CAST({" + ".join(_count_char_sql(c) for c in CODE_SYMBOLS)} AS DOUBLE)
         / length(text) >= {CODE_SYM_FRAC} AS code_like
FROM documents
WHERE length(text) > 0
"""


@register(
    "text_code_prose_signals",
    _CODE_PROSE_ORACLE,
    doc="Code-vs-prose routing signals per document: brace/semicolon "
    "counts and symbol/digit fractions via length-difference counting "
    "(codegen'd, map-only, zero shuffles) with the code_like verdict a "
    "mixed-scrape curation pipeline routes on",
    tags=("text", "quality", "curation"),
)
def text_code_prose_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")

    def cnt(ch: str):
        return F.length(t) - F.length(F.replace(t, F.lit(ch)))

    syms = sum((cnt(c) for c in CODE_SYMBOLS[1:]), cnt(CODE_SYMBOLS[0]))
    digits = F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))
    return docs.where(F.length(t) > 0).select(
        "doc_id",
        (cnt("{") + cnt("}")).cast("bigint").alias("n_braces"),
        cnt(";").cast("bigint").alias("n_semicolons"),
        (syms.cast("double") / F.length(t)).alias("sym_frac"),
        (digits.cast("double") / F.length(t)).alias("digit_frac"),
        (syms.cast("double") / F.length(t) >= F.lit(CODE_SYM_FRAC)).alias(
            "code_like"
        ),
    )


# ---------------------------------------------------------------------------
# Lang-ID confusion matrix + per-class metrics
# ---------------------------------------------------------------------------
#
# The evaluation relation for the lang-id heuristic (and the template
# for any classifier audit): per (actual, predicted) cell counts plus
# per-class precision/recall/F1. Counts aggregate on the bounded
# (lang, predicted_lang) key; per-class totals are two more bounded
# aggregates joined back; all ratios are single double divisions of
# exact integers with CASE zero-guards mirrored by the oracle.

_CONFUSION_ORACLE = f"""
WITH pred AS (
  SELECT lang, predicted_lang FROM ({_lang_oracle()}) t
),
cells AS (
  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
act AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1),
prd AS (SELECT predicted_lang, CAST(SUM(n) AS BIGINT) AS n_predicted
        FROM cells GROUP BY 1),
tp AS (SELECT lang, n AS n_tp FROM cells WHERE lang = predicted_lang)
SELECT a.lang,
       a.n_actual,
       COALESCE(p.n_predicted, 0) AS n_predicted,
       CAST(COALESCE(t.n_tp, 0) AS BIGINT) AS n_tp,
       CASE WHEN COALESCE(p.n_predicted, 0) = 0 THEN 0.0
            ELSE CAST(COALESCE(t.n_tp, 0) AS DOUBLE) / p.n_predicted
       END AS precision,
       CAST(COALESCE(t.n_tp, 0) AS DOUBLE) / a.n_actual AS recall,
       CASE WHEN COALESCE(t.n_tp, 0) = 0 THEN 0.0
            ELSE 2.0 * CAST(COALESCE(t.n_tp, 0) AS DOUBLE)
                 / (a.n_actual + p.n_predicted)
       END AS f1
FROM act a
LEFT JOIN prd p ON p.predicted_lang = a.lang
LEFT JOIN tp t USING (lang)
"""


@register(
    "eval_langid_confusion",
    _CONFUSION_ORACLE,
    doc="Classifier audit of the lang-id heuristic: per-class "
    "precision/recall/F1 from the bounded (actual, predicted) "
    "confusion counts — F1 as 2*tp/(n_actual+n_predicted) so every "
    "ratio is ONE double division of exact integers, zero-guarded "
    "identically on both engines",
    tags=("eval", "text", "classification"),
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_lang_id(spark, sf_dir).select("lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    act = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_actual"))
    prd = cells.groupBy("predicted_lang").agg(
        F.sum("n").cast("bigint").alias("n_predicted")
    )
    tp = cells.where(F.col("lang") == F.col("predicted_lang")).select(
        "lang", F.col("n").alias("n_tp")
    )
    j = (
        act.join(prd, act["lang"] == prd["predicted_lang"], "left")
        .drop("predicted_lang")
        .join(tp, "lang", "left")
        .select(
            "lang",
            "n_actual",
            F.coalesce("n_predicted", F.lit(0)).cast("bigint").alias("n_predicted"),
            F.coalesce("n_tp", F.lit(0)).cast("bigint").alias("n_tp"),
        )
    )
    return j.select(
        "lang",
        "n_actual",
        "n_predicted",
        "n_tp",
        F.when(F.col("n_predicted") == 0, F.lit(0.0))
        .otherwise(F.col("n_tp").cast("double") / F.col("n_predicted"))
        .alias("precision"),
        (F.col("n_tp").cast("double") / F.col("n_actual")).alias("recall"),
        F.when(F.col("n_tp") == 0, F.lit(0.0))
        .otherwise(
            F.lit(2.0)
            * F.col("n_tp").cast("double")
            / (F.col("n_actual") + F.col("n_predicted"))
        )
        .alias("f1"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa for the lang-id audit
# ---------------------------------------------------------------------------
#
# The chance-corrected agreement score that belongs next to the
# confusion matrix: kappa = (po - pe) / (1 - pe) with po the observed
# accuracy and pe the expected agreement under independent marginals
# sum_l n_actual_l * n_predicted_l / n^2. Every input is an exact
# integer from the bounded (actual, predicted) cell counts; po and pe
# are each ONE double division and kappa divides their difference —
# the identical expression tree on both engines. pe = 1 (a degenerate
# single-class corpus) is zero-guarded to 0.0 on both sides.

_KAPPA_ORACLE = f"""
WITH pred AS (
  SELECT lang, predicted_lang FROM ({{lang}}) t
),
cells AS (
  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
tp AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_tp
  FROM cells WHERE lang = predicted_lang
),
act AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_actual FROM cells GROUP BY 1),
prd AS (SELECT predicted_lang, CAST(SUM(n) AS BIGINT) AS n_predicted
        FROM cells GROUP BY 1),
chance AS (
  SELECT CAST(SUM(a.n_actual * COALESCE(p.n_predicted, 0)) AS BIGINT) AS prod_sum
  FROM act a LEFT JOIN prd p ON p.predicted_lang = a.lang
)
SELECT t.n AS n_docs,
       tp.n_tp,
       CAST(tp.n_tp AS DOUBLE) / t.n AS po,
       CAST(c.prod_sum AS DOUBLE) / (t.n * t.n) AS pe,
       CASE WHEN c.prod_sum = t.n * t.n THEN 0.0
            ELSE (CAST(tp.n_tp AS DOUBLE) / t.n
                  - CAST(c.prod_sum AS DOUBLE) / (t.n * t.n))
                 / (1.0 - CAST(c.prod_sum AS DOUBLE) / (t.n * t.n))
       END AS kappa
FROM tot t CROSS JOIN tp CROSS JOIN chance c
""".format(lang="{lang}")


@register(
    "eval_langid_kappa",
    _KAPPA_ORACLE.format(lang=_lang_oracle()),
    doc="Chance-corrected agreement of the lang-id heuristic: Cohen's "
    "kappa (po - pe)/(1 - pe) from the bounded confusion-cell counts, "
    "with pe the marginal-product expectation — exact-integer inputs, "
    "one double division per ratio, pe=1 zero-guarded identically on "
    "both engines; 1-row output",
    tags=("eval", "text", "classification"),
)
def eval_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_lang_id(spark, sf_dir).select("lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cells.agg(F.sum("n").cast("bigint").alias("n"))
    tp = cells.where(F.col("lang") == F.col("predicted_lang")).agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_tp")
    )
    act = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_actual"))
    prd = cells.groupBy("predicted_lang").agg(
        F.sum("n").cast("bigint").alias("n_predicted")
    )
    chance = (
        act.join(prd, act["lang"] == prd["predicted_lang"], "left")
        .select(
            (F.col("n_actual") * F.coalesce("n_predicted", F.lit(0))).alias("p")
        )
        .agg(F.sum("p").cast("bigint").alias("prod_sum"))
    )
    j = tot.crossJoin(tp).crossJoin(chance)
    po = F.col("n_tp").cast("double") / F.col("n")
    pe = F.col("prod_sum").cast("double") / (F.col("n") * F.col("n"))
    return j.select(
        F.col("n").alias("n_docs"),
        "n_tp",
        po.alias("po"),
        pe.alias("pe"),
        F.when(F.col("prod_sum") == F.col("n") * F.col("n"), F.lit(0.0))
        .otherwise((po - pe) / (F.lit(1.0) - pe))
        .alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Token rarity / novelty-mass quality score
# ---------------------------------------------------------------------------
#
# The corpus-frequency profile of each document's tokens — the
# cheap LM-free rarity signal: documents dominated by hapax tokens
# are noise or novelty candidates, documents of only head tokens are
# boilerplate. Per doc: token count, summed corpus frequency of its
# token occurrences, hapax occurrence count, rarest-token frequency,
# and the mean corpus frequency (ONE double division of exact ints).
#
# Scale shape: the (doc_id, tok) stream shuffles once on tok — the
# inverted-index key — to annotate each occurrence with its corpus
# frequency, then once on doc_id for the per-doc rollup; both
# aggregates are map-side combinable, nothing is windowed or sorted.

_RARITY_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text <> ''
),
tok AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY tok)
SELECT k.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(f.f) AS BIGINT) AS sum_freq,
       CAST(MIN(f.f) AS BIGINT) AS min_freq,
       CAST(SUM(CASE WHEN f.f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(f.f) AS DOUBLE) / COUNT(*) AS mean_freq
FROM tok k JOIN freq f USING (tok)
GROUP BY k.doc_id
"""


@register(
    "text_rarity_score",
    _RARITY_ORACLE,
    doc="LM-free rarity profile per document: occurrence count, summed "
    "and mean corpus frequency of its tokens, hapax occurrences, and "
    "the rarest token's frequency — one shuffle on the inverted-index "
    "token key to annotate occurrences, one per-doc rollup, exact "
    "integers with a single double division",
    tags=("text", "quality", "corpus"),
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text") != "")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    return (
        tok.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("f").cast("bigint").alias("sum_freq"),
            F.min("f").cast("bigint").alias("min_freq"),
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            (F.sum("f").cast("double") / F.count(F.lit(1))).alias("mean_freq"),
        )
    )


# ---------------------------------------------------------------------------
# Iterative BPE merge training
# ---------------------------------------------------------------------------
#
# Tokenizer training as a distributed loop: BPE_STEPS rounds of
# (count adjacent pairs) -> (pick the most frequent pair) -> (apply
# the merge corpus-wide), the core of byte-pair-encoding training
# (Sennrich et al., ACL'16) at word grain. The merge application is
# the part no window or join expresses: a GREEDY LEFT-TO-RIGHT
# non-overlapping rewrite of each token sequence — run INSIDE the row
# as a string-accumulator aggregate() fold (the same higher-order-
# function discipline as the winnowing rewrite: row-local, zero
# shuffle). The pair count is the only exchange per round, and the
# 1-row winning rule broadcasts back into the fold.
#
# Cross-engine exactness: pair counts are exact integers with a
# (count DESC, l, r) total order; the fold is pure string arithmetic
# with an identical expression tree (Spark aggregate() seeds '', and
# a CASE mirrors DuckDB list_reduce's first-element seeding — proven
# equal on the same inputs). A greedy re-merge within one pass is
# impossible because the merged token is strictly longer than its
# left constituent, so lookbehind-1 folding IS the canonical
# non-overlapping semantics.

BPE_STEPS = 3

_BPE_FOLD_SPARK = """
aggregate(toks, '', (acc, x) -> CASE
  WHEN acc = '' THEN x
  WHEN element_at(split(acc, ' '), -1) = l AND x = r
  THEN left(acc, length(acc) - length(element_at(split(acc, ' '), -1)))
       || merged
  ELSE acc || ' ' || x END)
"""

_BPE_PAIRS_SPARK = (
    "transform(sequence(1, size(toks) - 1),"
    " j -> struct(element_at(toks, j) AS l, element_at(toks, j + 1) AS r))"
)


def _bpe_ctes(steps: int = BPE_STEPS) -> str:
    """The shared WITH-clause body replaying ``steps`` BPE rounds
    (t0 .. t{steps}) — composed by both the training oracle and the
    compression-audit oracle so the replays cannot drift."""
    ctes = [
        "t0 AS (SELECT doc_id,"
        " list_filter(string_split(text, ' '), x -> x <> '') AS toks"
        " FROM documents WHERE text <> ''"
        " AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1)"
    ]
    for i in range(1, steps + 1):
        ctes.append(
            f"""p{i} AS (
  SELECT x.l AS l, x.r AS r, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  j -> {{'l': toks[j], 'r': toks[j + 1]}})) AS x
    FROM t{i - 1} WHERE len(toks) >= 2
  ) GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"top{i} AS (SELECT l, r, l || r AS merged, c FROM p{i}"
            " ORDER BY c DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"""t{i} AS (
  SELECT doc_id, list_filter(string_split(
    list_reduce(toks, (acc, x) -> CASE
      WHEN string_split(acc, ' ')[-1] = tp.l AND x = tp.r
      THEN left(acc, length(acc) - length(string_split(acc, ' ')[-1]))
           || tp.merged
      ELSE acc || ' ' || x END), ' '), x -> x <> '') AS toks
  FROM t{i - 1} CROSS JOIN top{i} tp
)"""
        )
    return "WITH " + ",\n".join(ctes)


def _bpe_oracle(steps: int = BPE_STEPS) -> str:
    selects = [
        f"SELECT CAST({i} AS INTEGER) AS step, l AS pair_left, r AS pair_right,"
        f" merged, c AS pair_count FROM top{i}"
        for i in range(1, steps + 1)
    ]
    return _bpe_ctes(steps) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "text_bpe_train_merges",
    _bpe_oracle(),
    doc=f"Iterative BPE training, {BPE_STEPS} rounds: count adjacent "
    "token pairs (the round's ONLY exchange), pick the (count DESC, "
    "l, r) winner, and apply the merge corpus-wide as a row-local "
    "greedy left-to-right aggregate() string fold — the rewrite no "
    "window/join expresses; the DuckDB oracle unrolls the identical "
    "rounds with list_reduce folds",
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules, _ = bpe_train(read_table(spark, sf_dir, "documents"))
    out = rules[0]
    for r in rules[1:]:
        out = out.unionByName(r)
    return out


def bpe_train(docs: DataFrame, steps: int = BPE_STEPS):
    """Run ``steps`` BPE rounds; return (per-round rule DataFrames,
    the final tokenized corpus (doc_id, toks))."""
    from lambda_lakehouse_spark.operators.ranking import global_topk

    cur = docs.where(F.col("text") != "").select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"),
    ).where(F.size("toks") >= 1)

    rules = []
    for step in range(1, steps + 1):
        counts = (
            cur.where(F.size("toks") >= 2)
            .select(F.explode(F.expr(_BPE_PAIRS_SPARK)).alias("p"))
            .select("p.l", "p.r")
            .groupBy("l", "r")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        # 1-row winning rule; localCheckpoint truncates the growing
        # per-round lineage exactly like the PageRank loop
        top = global_topk(
            counts, [F.desc("c"), F.asc("l"), F.asc("r")], 1, "_rk"
        ).select(
            "l", "r", F.concat("l", "r").alias("merged"), "c"
        ).localCheckpoint(eager=False)
        rules.append(
            top.select(
                F.lit(step).cast("int").alias("step"),
                F.col("l").alias("pair_left"),
                F.col("r").alias("pair_right"),
                "merged",
                F.col("c").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(top.select("l", "r", "merged")))
            .select("doc_id", F.expr(_BPE_FOLD_SPARK).alias("s"))
            .select(
                "doc_id",
                F.expr("filter(split(s, ' '), x -> x != '')").alias("toks"),
            )
            .localCheckpoint(eager=False)
        )

    return rules, cur


# ---------------------------------------------------------------------------
# BPE compression audit
# ---------------------------------------------------------------------------
#
# The number a tokenizer-training run is judged by: after applying the
# trained merges corpus-wide, how much did each source's token count
# shrink? Per source: docs, tokens before/after the BPE_STEPS merges,
# merges applied, and the compression ratio (after/before — lower =
# the source's text is more mergeable, i.e. the rules fit it better).
# Sources whose ratio stays near 1.0 are poorly served by the rules —
# the per-domain fertility signal (Rust et al., ACL'21) that drives
# tokenizer-mix decisions.
#
# Exactness/scale: reuses bpe_train (the certified iterative loop —
# pair-count exchange per round, row-local fold) and adds one
# doc-grain join plus a |sources|-row rollup; the ratio is one double
# division of exact BIGINTs. The oracle replays the identical rounds
# via the shared _bpe_ctes.

_BPE_COMPRESSION_ORACLE = (
    _bpe_ctes()
    + f""",
before AS (SELECT doc_id, len(toks) AS n_before FROM t0),
after AS (SELECT doc_id, len(toks) AS n_after FROM t{BPE_STEPS})
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_before) AS BIGINT) AS toks_before,
       CAST(SUM(a.n_after) AS BIGINT) AS toks_after,
       CAST(SUM(b.n_before) - SUM(a.n_after) AS BIGINT) AS merges_applied,
       CAST(SUM(a.n_after) AS DOUBLE) / SUM(b.n_before) AS compression_ratio
FROM before b
JOIN after a USING (doc_id)
JOIN documents d USING (doc_id)
GROUP BY d.source
"""
)


@register(
    "text_bpe_compression",
    _BPE_COMPRESSION_ORACLE,
    doc=f"Per-source BPE compression audit: token counts before/after "
    f"the {BPE_STEPS} trained merges, merges applied, and the "
    "after/before compression ratio — the per-domain tokenizer-fit "
    "signal; reuses the certified bpe_train loop plus one doc-grain "
    "join and a |sources|-row rollup",
    tags=("text", "tokenizer", "corpus", "eval"),
)
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    _, cur = bpe_train(docs)
    before = (
        docs.where(F.col("text") != "")
        .select(
            "doc_id",
            F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
                "n_before"
            ),
        )
        .where(F.col("n_before") >= 1)
    )
    after = cur.select("doc_id", F.size("toks").alias("n_after"))
    return (
        before.join(after, "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_before").cast("bigint").alias("toks_before"),
            F.sum("n_after").cast("bigint").alias("toks_after"),
            (F.sum("n_before") - F.sum("n_after"))
            .cast("bigint")
            .alias("merges_applied"),
            (
                F.sum("n_after").cast("double") / F.sum("n_before")
            ).alias("compression_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix
# ---------------------------------------------------------------------------
#
# Pairwise n-gram containment between SOURCES: for every source pair,
# how much of source A's distinct 24-char gram vocabulary also occurs
# in source B (and vice versa, plus Jaccard) — the corpus-level twin
# of decontaminate_overlap above. A training mix wants this matrix
# before weighting sources: high containment means two "different"
# sources are substantially the same crawl and their mixing weights
# double-count.
#
# Scale shape: distinct (source, gram-hash) relation (the md5 prefix
# keeps shuffle rows at 16 bytes, not 24-char strings) → self-join on
# the gram hash. Per gram the join emits at most |sources|² pairs —
# the inverted-index shape of the dedup family, bounded by S² per
# posting, never corpus². Output is the ≤S(S-1)/2-row matrix.

CONTAM_GRAM = 24

_CONTAM_ORACLE = f"""
WITH sg AS (
  SELECT DISTINCT source, substr(md5(gram), 1, 16) AS gh
  FROM (
    SELECT source,
           unnest(list_distinct([substr(text, i, {CONTAM_GRAM})
            FOR i IN range(1, greatest(length(text) - {CONTAM_GRAM - 1}, 1) + 1)]))
             AS gram
    FROM documents
  ) WHERE length(gram) = {CONTAM_GRAM}
),
sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM sg GROUP BY source
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.n_shared,
       na.n_grams AS n_a, nb.n_grams AS n_b,
       CAST(s.n_shared AS DOUBLE) / na.n_grams AS contain_a_in_b,
       CAST(s.n_shared AS DOUBLE) / nb.n_grams AS contain_b_in_a,
       CAST(s.n_shared AS DOUBLE) / (na.n_grams + nb.n_grams - s.n_shared)
         AS jaccard
FROM shared s
JOIN sizes na ON na.source = s.src_a
JOIN sizes nb ON nb.source = s.src_b
"""


@register(
    "eval_source_contamination",
    _CONTAM_ORACLE,
    doc=f"Cross-source contamination matrix: for every source pair "
    f"sharing at least one gram (zero-overlap pairs are absent), the "
    f"distinct {CONTAM_GRAM}-char-gram overlap — containment both "
    "directions + Jaccard — the corpus-level audit a mixing plan runs "
    "before weighting sources (high containment = two sources are the "
    "same crawl, weights double-count). Inverted-index self-join on "
    "16-byte gram hashes, <=|sources|^2 pairs per posting, output "
    "bounded by the source-pair matrix",
    tags=("text", "dedup", "eval", "decontamination", "corpus"),
    # headline: the collect_set posting build +
    # row-local pair expansion + lazy checkpoint is a new plan shape
    # (measured 6.0 s at sf0.1 — second-heaviest after winnowing, so it
    # must regress loudly)
    bench=True,
)
def eval_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return source_contamination(docs)


def source_contamination(docs: DataFrame) -> DataFrame:
    """The contamination matrix over any (source, text) relation —
    the registered query above bound to the documents table.

    Single-pass formulation: the text is gram-exploded ONCE into a
    per-gram posting of distinct sources (``groupBy(gh).collect_set``
    — map-side partial dedup, one corpus-sized shuffle keyed by the
    16-byte hash), and both the per-source vocabulary sizes and the
    pair counts derive from that bounded posting list (≤|sources| per
    gram) with row-local array expressions. The naive self-join
    formulation evaluates the gram explode four times (a-side, b-side,
    and both size joins — measured: zero exchange reuse even under
    AQE); this shape pays the expensive per-position md5 exactly once.

    The posting relation is localCheckpoint-ed (the pagerank /
    doc_clusters lineage-truncation pattern; ``eager=False`` defers only
    the checkpoint's write, since under AQE building it already runs
    the gram explode and the gh shuffle — see
    ``graph.pagerank_fixed``): it feeds three consumers
    (pair counts + both size joins) and exchange reuse cannot dedupe
    them — collect_set is a nondeterministic expression, so the three
    identical gh-keyed exchanges never canonicalize equal (verified on
    the executed plan: 3 scans, 0 reused exchanges without the
    checkpoint; 1 scan with it).
    """
    # The per-position gram explode + md5 is CPU-bound and sits on the
    # scan side of the gh shuffle: a small-file scan (one split at
    # sf0.1) computes every hash on a single core. Spread first —
    # no-op at real scale (sources/readers.spread_if_narrow).
    # Round-12 measurement: 6.83 s -> 1.70 s isolated best-of-3.
    # Keyless round-robin (round-12 advice): hashing the full text was
    # the costliest possible partition key, and EXACT-DUPLICATE texts
    # — the case this operator exists to detect — all hash to one
    # partition, re-creating the single-core hot spot on contaminated
    # corpora. Nothing downstream relies on the spread's distribution
    # (the gh shuffle follows), so round-robin is safe and collision-
    # free by construction.
    docs = spread_if_narrow(docs, None)
    postings = (
        docs.select(
            "source",
            F.explode(
                F.expr(
                    "array_distinct(transform("
                    f"sequence(1, greatest(length(text)-{CONTAM_GRAM - 1}, 1)),"
                    f" i -> substr(text, i, {CONTAM_GRAM})))"
                )
            ).alias("gram"),
        )
        .where(F.length("gram") == CONTAM_GRAM)
        .select("source", F.substring(F.md5("gram"), 1, 16).alias("gh"))
        .groupBy("gh")
        .agg(F.collect_set("source").alias("srcs"))
        .localCheckpoint(eager=False)
    )
    sizes = (
        postings.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    )
    # all ordered pairs (a < b) inside each ≤|sources|-element posting
    shared = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, a ->"
                    " transform(filter(srcs, b -> b > a),"
                    " b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n_grams").alias("n_a"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n_grams").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            (F.col("n_shared").cast("double") / F.col("n_a")).alias(
                "contain_a_in_b"
            ),
            (F.col("n_shared").cast("double") / F.col("n_b")).alias(
                "contain_b_in_a"
            ),
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language x source
# ---------------------------------------------------------------------------
#
# The multilingual-corpus budgeting signal: fertility = subword tokens
# per whitespace word, and bytes per subword token, aggregated per
# (lang, source). Languages whose tokenization is inefficient (high
# fertility / low bytes-per-token) consume disproportionate context
# window and training FLOPs per byte of text — the standard audit
# before setting per-language mixing weights (cf. the fertility tables
# in the mT5 and BLOOM tokenizer analyses). Uses the repo's two token
# conventions: whitespace words and the BPE-ish segmentation
# (BPE_TOKEN_RE: letter runs / digit runs / single punctuation).
#
# Scale: one aggregate over documents, map-side combined; output is
# |lang| x |source| rows at any corpus size. All counts integer;
# ratios are single double divisions of exact BIGINTs.


@register(
    "text_fertility_by_lang",
    """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(strlen(text)) AS BIGINT) AS byte_total,
       CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
         AS word_total,
       CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
         AS token_total,
       CAST(CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS DOUBLE)
         / CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
         AS fertility,
       CAST(CAST(SUM(strlen(text)) AS BIGINT) AS DOUBLE)
         / CAST(SUM(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
         AS bytes_per_token
FROM documents
GROUP BY lang, source
""",
    doc="Tokenizer fertility audit per (lang, source): BPE-ish tokens "
    "per whitespace word and bytes per token — the per-language "
    "efficiency signal read before setting multilingual mixing weights "
    "(mT5/BLOOM-style tokenizer analysis); one map-side-combined "
    "aggregate, bounded output",
    tags=("text", "tokens", "corpus", "quality"),
)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return fertility_stats(docs)


def fertility_stats(docs: DataFrame) -> DataFrame:
    """Per (lang, source): doc/byte/word/token totals + fertility and
    bytes-per-token ratios over (lang, source, text) rows."""
    t = F.col("text")
    agg = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.octet_length(t)).cast("bigint").alias("byte_total"),
        F.sum(F.size(F.split(t, r"\s+"))).cast("bigint").alias("word_total"),
        F.sum(F.regexp_count(t, F.lit(BPE_TOKEN_RE)))
        .cast("bigint")
        .alias("token_total"),
    )
    return agg.select(
        "lang",
        "source",
        "n_docs",
        "byte_total",
        "word_total",
        "token_total",
        (F.col("token_total").cast("double") / F.col("word_total")).alias(
            "fertility"
        ),
        (F.col("byte_total").cast("double") / F.col("token_total")).alias(
            "bytes_per_token"
        ),
    )
