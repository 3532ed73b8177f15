"""End-to-end corpus construction operators — the steps a training-data
pipeline runs AFTER the per-doc signals exist: materialize the deduped
corpus, mix sources to target weights, filter on quality with recorded
reasons, and pack documents into token-budgeted shards.

All pure DataFrame ops with DuckDB oracles; selection hashing uses md5
(engine-portable) and cumulative sums use explicit ROWS windows with
deterministic total orders, so every query is driver-gradable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lambda_lakehouse_spark.operators.dedup import (
    _components_oracle_cte,
    doc_clusters,
)
from lambda_lakehouse_spark.operators.ranking import global_topk
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import local_rows, read_table

# ---------------------------------------------------------------------------
# Dedup materialization: clusters → surviving corpus
# ---------------------------------------------------------------------------

_MATERIALIZE_ORACLE = (
    _components_oracle_cte("comp")
    + """
SELECT d.doc_id, d.source,
       c.doc_id IS NOT NULL AS was_clustered
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
"""
)


@register(
    "dedup_materialize_corpus",
    _MATERIALIZE_ORACLE,
    doc="Dedup materialization: MinHash-LSH pairs → connected components "
    "→ keep each cluster's min-id representative plus all unclustered "
    "docs — the step that turns near-dup detection into the actual "
    "training corpus",
    tags=("dedup", "graph", "corpus"),
)
def dedup_materialize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The cluster table is |clustered docs| rows — tiny next to the
    # corpus — but still joined without a hint (it grows with the
    # corpus; AQE broadcasts while it fits). One anti-style left join
    # against the corpus: docs keep their row unless a cluster says a
    # smaller doc_id represents them.
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    comp = doc_clusters(docs)
    return (
        docs.join(comp, "doc_id", "left")
        .where(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .select(
            "doc_id",
            "source",
            F.col("cluster_id").isNotNull().alias("was_clustered"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted mixture sampling: per-source target rates
# ---------------------------------------------------------------------------

# Deterministic per-source sampling rates in integer basis points —
# the "data mixing" table a training run would supply (upsample scarce
# sources, downsample boilerplate ones). Integer thresholds avoid the
# engine-specific double→int cast (Spark truncates, DuckDB rounds).
# Declared inline so the Spark plan (local-collection source, S4) and
# the oracle (VALUES list) share one definition.
MIXTURE_WEIGHTS_BP: dict[str, int] = {
    f"src{i}": 1500 + 400 * i for i in range(20)
}
_SAMPLE_SEED = "mix-seed:1"


def _mixture_oracle() -> str:
    values = ", ".join(
        f"('{s}', {bp})" for s, bp in sorted(MIXTURE_WEIGHTS_BP.items())
    )
    return f"""
WITH weights(source, rate_bp) AS (VALUES {values})
SELECT d.doc_id, d.source
FROM documents d
JOIN weights w ON w.source = d.source
WHERE ('0x' || substr(md5('{_SAMPLE_SEED}' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT
      % 10000 < w.rate_bp
"""


@register(
    "sample_mixture_weighted",
    _mixture_oracle(),
    doc="Weighted mixture sampling (data mixing): per-source target "
    "rates from a seed table, seeded-hash selection so the sample is "
    "deterministic, reproducible across runs/engines, and "
    "filter-pushdown-friendly (single scan, no shuffle)",
    tags=("sampling", "corpus"),
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    weights = local_rows(
        spark, sorted(MIXTURE_WEIGHTS_BP.items()), "source string, rate_bp int"
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SAMPLE_SEED), F.col("doc_id").cast("string"))),
                1, 7,
            ),
            16, 10,
        ).cast("bigint")
        % 10000
    )
    return (
        docs.join(F.broadcast(weights), "source")
        .where(bucket < F.col("rate_bp"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Quality filtering with recorded reject reasons
# ---------------------------------------------------------------------------

_QUALITY_FILTER_ORACLE = """
WITH scored AS (
  SELECT doc_id, source, lang,
         LENGTH(text) AS n_chars_calc,
         len(string_split_regex(text, '\\s+')) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
           / LENGTH(text) AS punct_ratio
  FROM documents
)
SELECT doc_id, source,
       CASE
         WHEN lang <> 'en' THEN 'non_english'
         WHEN n_chars_calc < 100 THEN 'too_short'
         WHEN n_tokens < 20 THEN 'too_few_tokens'
         WHEN punct_ratio >= 0.1 THEN 'too_much_punct'
         ELSE 'pass'
       END AS verdict
FROM scored
"""


@register(
    "corpus_quality_filter",
    _QUALITY_FILTER_ORACLE,
    doc="Quality filter with recorded reject reasons (first failing rule "
    "wins): language, length, token-count, punctuation-ratio gates — the "
    "auditable filtering step between signals and the kept corpus",
    tags=("text", "filter", "corpus"),
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One projection over the scan — every gate is a codegen'd
    # expression; recording the reason (not just a boolean) is what
    # makes corpus filtering debuggable at 100 TB, for free.
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, r"\s+"))
    punct_ratio = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")).cast("double") / n_chars
    verdict = (
        F.when(F.col("lang") != "en", "non_english")
        .when(n_chars < 100, "too_short")
        .when(n_tokens < 20, "too_few_tokens")
        .when(punct_ratio >= 0.1, "too_much_punct")
        .otherwise("pass")
    )
    return docs.select("doc_id", "source", verdict.alias("verdict"))


# ---------------------------------------------------------------------------
# Token-budget sharding
# ---------------------------------------------------------------------------

_SHARD_BUDGET = 2000  # chars per shard (token proxy on this testdata)

# FLOOR on both sides (never a bare double→int CAST: Spark truncates,
# DuckDB rounds); integer/int double division can't round across an
# integer boundary, so FLOOR agrees exactly.
_SHARD_ORACLE = f"""
SELECT doc_id, source,
       CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_chars) / {_SHARD_BUDGET}) AS INTEGER) AS shard_id
FROM documents
"""


@register(
    "shard_by_token_budget",
    _SHARD_ORACLE,
    doc=f"Token-budget sharding: per-source cumulative size over a "
    f"deterministic doc order packs docs into ~{_SHARD_BUDGET}-char "
    "shards (exclusive prefix sum / budget) — the writer-side step that "
    "turns a corpus into training shards",
    tags=("window", "corpus"),
)
def shard_by_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The window partitions by source, so no single-partition global
    # sort: each source packs independently (at 100 TB, sources are
    # further range-split and the prefix sum becomes the classic
    # two-pass per-range offset + within-range cumsum — same algebra).
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    excl_prefix = F.sum("n_chars").over(w) - F.col("n_chars")
    return docs.select(
        "doc_id",
        "source",
        F.floor(excl_prefix / _SHARD_BUDGET).cast("int").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Exact-size stratified sampling
# ---------------------------------------------------------------------------
#
# Rate-based seeded sampling (sample_mixture_weighted) gives binomial
# per-stratum counts; training-set construction often needs EXACTLY n
# docs per stratum (eval slices, per-source caps). Formulation: rank
# docs within each stratum by a seeded hash (a deterministic random
# permutation, same on any engine) and keep rank <= n. One shuffle on
# the stratum key; per-stratum ranking is the window_topk_per_group
# shape, and at extreme stratum skew the same salting rails apply.

STRATIFIED_N = 10


def sample_stratified_exact(
    docs: DataFrame, stratum_col: str = "source", n: int = STRATIFIED_N,
    seed: str = _SAMPLE_SEED,
) -> DataFrame:
    h = F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string")))
    w = W.partitionBy(stratum_col).orderBy(h, "doc_id")
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n)
        .select("doc_id", stratum_col, "sample_rank")
    )


_STRATIFIED_ORACLE = f"""
SELECT doc_id, source, sample_rank
FROM (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('{_SAMPLE_SEED}' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS INTEGER) AS sample_rank
  FROM documents
)
WHERE sample_rank <= {STRATIFIED_N}
"""


@register(
    "sample_stratified_exact",
    _STRATIFIED_ORACLE,
    doc=f"Exact-size stratified sampling: exactly {STRATIFIED_N} docs "
    "per source via seeded-hash ranking — a deterministic random "
    "permutation per stratum, identical on any engine; complements "
    "rate-based mixture sampling when strata need fixed counts",
    tags=("sampling", "corpus", "window"),
)
def sample_stratified_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_stratified_exact(docs)


# ---------------------------------------------------------------------------
# Quality-aware dedup materialization
# ---------------------------------------------------------------------------
#
# The min-id keeper (dedup_materialize_corpus) is the cheapest survivor
# rule; real pipelines keep each cluster's BEST document (longest /
# highest-quality copy of boilerplate-duplicated content). Same cluster
# table, different survivor rule: rank cluster members by (quality
# desc, doc_id) and keep rank 1 — one extra window over the clustered
# subset only (tiny next to the corpus).

_MATERIALIZE_BEST_ORACLE = (
    _components_oracle_cte("comp")
    + """
, ranked AS (
  SELECT c.doc_id, c.cluster_id,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY LENGTH(d.text) DESC, c.doc_id) AS qrk
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT d.doc_id, d.source,
       r.doc_id IS NOT NULL AS was_clustered
FROM documents d
LEFT JOIN ranked r ON r.doc_id = d.doc_id
WHERE r.doc_id IS NULL OR r.qrk = 1
"""
)


@register(
    "dedup_materialize_corpus_best",
    _MATERIALIZE_BEST_ORACLE,
    doc="Quality-aware dedup materialization: per near-dup cluster keep "
    "the highest-quality member (longest text, deterministic id "
    "tie-break) instead of the min-id one — the survivor rule "
    "production pipelines actually want; unclustered docs pass through",
    tags=("dedup", "graph", "corpus", "window"),
)
def dedup_materialize_corpus_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    comp = doc_clusters(docs)
    ranked = (
        comp.join(docs.select("doc_id", F.length("text").alias("_q")), "doc_id")
        .withColumn(
            "qrk",
            F.row_number().over(
                W.partitionBy("cluster_id").orderBy(F.col("_q").desc(), "doc_id")
            ),
        )
        .select("doc_id", "qrk")
    )
    return (
        docs.join(ranked, "doc_id", "left")
        .where(F.col("qrk").isNull() | (F.col("qrk") == 1))
        .select(
            "doc_id",
            "source",
            F.col("qrk").isNotNull().alias("was_clustered"),
        )
    )


# ---------------------------------------------------------------------------
# Next-fit sequence packing (context-window construction)
# ---------------------------------------------------------------------------
#
# shard_by_token_budget splits the corpus at budget BOUNDARIES
# (documents may straddle a boundary — fine for file shards). Training
# sequence construction needs the stronger guarantee: each pack's
# total stays WITHIN the context budget (a doc larger than the budget
# gets a pack of its own). That is next-fit bin packing — a sequential
# fold with a reset, NOT a prefix sum, so it cannot be a window
# function. Formulation:
#
# - Spark: ``applyInPandas`` per source — Arrow-batched, one compact
#   (order_col, weight) frame per group, a linear fold inside. At
#   100 TB a source does NOT fit one task; the deployment shape is the
#   same fold per (source, range-shard) with shard boundaries from
#   shard_by_token_budget — packing quality is unchanged because packs
#   never straddle training shards anyway. Python here is justified:
#   the op is inherently stateful-sequential per group (SURVEY §2.9
#   exception, same class as applyInPandasWithState).
# - Oracle: the SAME fold as a recursive CTE stepping rn → rn+1 per
#   source, so the driver hash-checks a stateful operator exactly.

PACK_BUDGET = 1_000


def pack_sequences_nextfit(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    group_col: str = "source",
    order_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Assign each doc a pack_id such that per-pack weight ≤ budget
    (single oversized docs get singleton packs), packing greedily in
    ``order_col`` order within each ``group_col`` partition."""
    import pandas as pd

    out_schema = (
        f"{group_col} string, {order_col} bigint, {weight_col} bigint, "
        "pack_id bigint"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        pack_ids = []
        pack, fill = 0, 0
        # mirror the recursive-CTE oracle exactly: from the second doc
        # on, a new pack opens iff fill + w exceeds the budget — no
        # fill-truthiness shortcut (zero-weight docs must not merge a
        # following oversized doc into their pack)
        for i, w in enumerate(pdf[weight_col]):
            if i > 0 and fill + w > budget:
                pack += 1
                fill = 0
            fill += w
            pack_ids.append(pack)
        pdf["pack_id"] = pack_ids
        return pdf[[group_col, order_col, weight_col, "pack_id"]]

    return (
        docs.select(group_col, order_col, weight_col)
        .groupBy(group_col)
        .applyInPandas(fold, out_schema)
    )


_PACK_ORACLE = f"""
WITH RECURSIVE ordered AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_chars, rn,
         CAST(0 AS BIGINT) AS pack_id, n_chars AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.source, o.doc_id, o.n_chars, o.rn,
         CASE WHEN p.fill + o.n_chars > {PACK_BUDGET}
              THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.fill + o.n_chars > {PACK_BUDGET}
              THEN o.n_chars ELSE p.fill + o.n_chars END
  FROM ordered o
  JOIN packed p ON o.source = p.source AND o.rn = p.rn + 1
)
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars, pack_id
FROM packed
"""


@register(
    "pack_sequences_nextfit",
    _PACK_ORACLE,
    doc="Next-fit sequence packing into context-window budgets (each "
    "pack ≤ budget; oversized docs isolate) — a stateful sequential "
    "fold per source via Arrow-batched applyInPandas, hash-checked "
    "against the identical fold as a recursive-CTE oracle; at scale "
    "the fold runs per (source, range-shard)",
    tags=("corpus", "packing", "stateful"),
    bench=True,
)
def pack_sequences_nextfit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences_nextfit(docs)


# ---------------------------------------------------------------------------
# Heavy hitters: top word bigrams by document frequency
# ---------------------------------------------------------------------------
#
# The corpus-analysis staple behind boilerplate detection and stop-
# shingle lists (the LSH cap's input at scale): which n-grams occur in
# the most documents. Explode → per-doc distinct → one hash-groupBy —
# map-side partial aggregation keeps the shuffle bounded by the
# distinct-bigram domain, and the final top-k is a tiny ordered limit
# (no global sort: Spark's TakeOrderedAndProject).

TOP_NGRAMS_K = 20

_TOP_NGRAMS_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text <> ''
),
bi AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS bigram
  FROM words, UNNEST(range(1, len(w))) AS t(i)
)
SELECT bigram, COUNT(*) AS doc_freq
FROM bi GROUP BY bigram
ORDER BY doc_freq DESC, bigram
LIMIT {TOP_NGRAMS_K}
"""


@register(
    "corpus_top_ngrams",
    _TOP_NGRAMS_ORACLE,
    doc="Heavy-hitter word bigrams by document frequency (top-k with a "
    "deterministic (freq desc, bigram) tie-break) — the boilerplate/"
    "stop-shingle detector; integer-only so the oracle is exact",
    tags=("corpus", "text", "heavy_hitters"),
    bench=True,
)
def corpus_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text") != "")
    bigrams = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("w"),
    ).select(
        "doc_id",
        F.explode(
            # guard: a 1-word doc has no bigrams (sequence(0,-1) would
            # generate a DESCENDING range, not an empty one)
            F.expr(
                "CASE WHEN size(w) < 2 THEN array()"
                " ELSE transform(sequence(0, size(w) - 2),"
                "                i -> concat(w[i], ' ', w[i + 1])) END"
            )
        ).alias("bigram"),
    )
    return (
        bigrams.distinct()
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("bigram"))
        .limit(TOP_NGRAMS_K)
    )


# ---------------------------------------------------------------------------
# Per-source document cap (domain balancing)
# ---------------------------------------------------------------------------
#
# Corpus-balancing rule from the large-web-corpus playbook: no single
# source/domain may contribute more than CAP documents, the survivors
# chosen by a deterministic content-free hash order (seeded selection,
# reproducible across runs and engines). One window per source — the
# shuffle key is the source, skew bounded by the largest domain; at
# real scale the same rank-filter runs per (source, salt) with a
# second global rank only over sources that exceeded the cap.

SOURCE_CAP = 30

_CAP_PER_SOURCE_ORACLE = f"""
SELECT doc_id, source, kept FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))
         ) <= {SOURCE_CAP} AS kept
  FROM documents
) t
"""


@register(
    "sample_cap_per_source",
    _CAP_PER_SOURCE_ORACLE,
    doc="Domain-balancing cap: at most CAP docs per source survive, "
    "selected by deterministic md5(doc_id) order — reproducible "
    "subsampling; emits the keep/drop flag per doc",
    tags=("corpus", "sampling"),
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    )
    return docs.select(
        "doc_id", "source", (rn <= F.lit(SOURCE_CAP)).alias("kept")
    )


# ---------------------------------------------------------------------------
# Stride chunking (context-window splitter)
# ---------------------------------------------------------------------------
#
# The pretraining/RAG chunker: each document becomes overlapping
# windows of CHUNK_LEN tokens advancing by CHUNK_STRIDE. Pure
# array-expression projection — zero shuffle, zero Python; the chunk
# fingerprint (md5 of the joined window) keeps the driver comparison
# exact without shipping chunk text.

CHUNK_LEN = 32
CHUNK_STRIDE = 24

_CHUNK_ORACLE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE text <> ''
),
starts AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {CHUNK_STRIDE})) AS st
  FROM words
)
SELECT doc_id,
       st // {CHUNK_STRIDE} AS chunk_idx,
       len(list_slice(w, st + 1, least(st + {CHUNK_LEN}, len(w)))) AS n_tokens,
       md5(array_to_string(
         list_slice(w, st + 1, least(st + {CHUNK_LEN}, len(w))), ' '
       )) AS chunk_fp
FROM starts
"""


@register(
    "text_chunk_stride",
    _CHUNK_ORACLE,
    doc="Overlapping stride chunking (len 32 / stride 24 tokens) — the "
    "context-window splitter; shuffle-free array projection with "
    "md5 chunk fingerprints for exact cross-engine comparison",
    tags=("corpus", "text", "chunking"),
)
def text_chunk_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text") != "")
    w = docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    st = w.select(
        "doc_id",
        "w",
        F.explode(
            F.expr(f"sequence(0, size(w) - 1, {CHUNK_STRIDE})")
        ).alias("st"),
    )
    chunk = F.expr(f"slice(w, st + 1, {CHUNK_LEN})")
    return st.select(
        "doc_id",
        F.expr(f"st div {CHUNK_STRIDE}").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


# ---------------------------------------------------------------------------
# Collocation mining: lift-scored bigrams
# ---------------------------------------------------------------------------
#
# PMI collocation extraction with the log dropped: lift(x, y)
#   = P(xy) / (P(x) P(y))
#   = (c_xy / Nb) / ((c_x / Nt) (c_y / Nt))
# computed as one fixed-shape double expression over exact integer
# counts, so both engines produce identical bits (same policy as the
# BM25 odds idf — log() rounding is engine-specific, a monotone
# transform of it is not worth losing hash-certifiability for).
#
# Scale shape: bigram and unigram histograms are map-side-combined
# aggregates over the exploded token stream (the same inverted-index
# shuffle every text operator here rides); the min-support filter cuts
# the collocation relation BEFORE the two unigram joins, and the
# final global top-k window only ever sees support-filtered rows. At
# 100 TB the support threshold is the knob that keeps the ranked
# relation small; the two joins are on word keys with AQE handling
# any hot-vocabulary skew.

COLLOC_MIN_SUPPORT = 5
COLLOC_TOP_K = 50


def collocations_lift(
    docs: DataFrame,
    min_support: int = COLLOC_MIN_SUPPORT,
    k: int = COLLOC_TOP_K,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by lift.

    Returns (rank, w1, w2, c_xy, lift) with deterministic
    (lift DESC, w1, w2) ordering.
    """
    # the unigram and bigram count aggregates each feed multiple
    # consumers (totals + the two lift joins) — lazy checkpoints run
    # each aggregation once (chained-call note, operators/ranking.py)
    base = docs.select(F.split("text", " ").alias("ws"))
    uni = (
        base.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    pairs = base.where(F.size("ws") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS w1,"
                "             element_at(ws, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_xy")
    ).localCheckpoint(eager=False)
    totals = uni.agg(F.sum("c").alias("nt")).crossJoin(
        big.agg(F.sum("c_xy").alias("nb"))
    )
    sup = big.where(F.col("c_xy") >= min_support)
    scored = (
        sup.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "c_xy",
            # fixed expression tree, mirrored verbatim in the oracle
            (
                (F.col("c_xy").cast("double") * F.col("nt") * F.col("nt"))
                / (F.col("nb").cast("double") * F.col("c1") * F.col("c2"))
            ).alias("lift"),
        )
    )
    # distributed top-k (TakeOrderedAndProject, operators/ranking.py) —
    # the scored pair relation is vocabulary-sized, never globally sorted
    return global_topk(
        scored, [F.col("lift").desc(), "w1", "w2"], k, "rank"
    ).select("rank", "w1", "w2", "c_xy", "lift")


_COLLOC_ORACLE = f"""
WITH ws AS (
  SELECT string_split(text, ' ') AS ws FROM documents
),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY 1
),
pairs AS (
  SELECT p.w1, p.w2
  FROM (
    SELECT unnest(list_transform(range(1, len(ws)),
                  i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
    FROM ws WHERE len(ws) >= 2
  )
),
big AS (
  SELECT w1, w2, COUNT(*) AS c_xy FROM pairs GROUP BY 1, 2
),
totals AS (
  SELECT (SELECT SUM(c) FROM uni) AS nt, (SELECT SUM(c_xy) FROM big) AS nb
),
scored AS (
  SELECT b.w1, b.w2, b.c_xy,
         (CAST(b.c_xy AS DOUBLE) * t.nt * t.nt)
           / (CAST(t.nb AS DOUBLE) * u1.c * u2.c) AS lift
  FROM big b
  JOIN uni u1 ON u1.w = b.w1
  JOIN uni u2 ON u2.w = b.w2
  CROSS JOIN totals t
  WHERE b.c_xy >= {COLLOC_MIN_SUPPORT}
)
SELECT rank, w1, w2, c_xy, lift
FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS INTEGER)
           AS rank,
         w1, w2, c_xy, lift
  FROM scored
)
WHERE rank <= {COLLOC_TOP_K}
"""


@register(
    "corpus_collocations_lift",
    _COLLOC_ORACLE,
    doc="Top-k adjacent-word collocations scored by lift "
    "(log-free PMI: exact integer counts, one fixed-shape double "
    "expression) with min-support pruning BEFORE the unigram joins "
    "and a support-bounded global top-k window",
    tags=("corpus", "text", "collocation", "topk"),
)
def corpus_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = collocations_lift(docs)
    return out.select(
        F.col("rank").cast("int").alias("rank"), "w1", "w2", "c_xy", "lift"
    )


# ---------------------------------------------------------------------------
# Priority sampling: weighted k-sample with unbiased subset-sum
# estimator
# ---------------------------------------------------------------------------
#
# Duffield, Lund & Thorup, "Priority sampling" (JACM 2007): draw
# u_i uniform, give item i priority q_i = w_i / u_i, keep the top-k
# by priority, and estimate any subset's weight-sum by
# sum(max(w_i, tau)) over its sampled members, where tau is the
# (k+1)-th priority. Near-optimal variance among k-sample estimators,
# and — unlike Efraimidis–Spirakis (u^(1/w)) or exponential-jump
# reservoirs (ln u) — every step is rational: md5-derived 60-bit
# uniforms, one divide, one max. That makes the whole sample AND the
# estimator bit-deterministic across engines, so the driver can
# hash-certify a weighted sample, which a pow()/ln()-based scheme
# would never survive.
#
# Scale shape: priorities are a pure projection; top-(k+1) is a
# distributed TakeOrderedAndProject (per-partition partial top-k, one
# (k+1)-row merge — operators/ranking.py global_topk); tau is a 1-row
# aggregate broadcast back over the k winners.

PRIORITY_SAMPLE_K = 100
_U_DENOM = 1 << 60  # 15 md5 hex chars → 60-bit uniform


def priority_sample(
    items: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = PRIORITY_SAMPLE_K,
    seed: str = "ps1",
) -> DataFrame:
    """Top-``k`` priority sample: (rank, id, weight, priority,
    est_weight) with est_weight = max(weight, tau) — summing it over
    any subset of the sample unbiasedly estimates that subset's true
    weight sum. Weights must be > 0."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    prio = F.col(weight_col).cast("double") / (
        (h + F.lit(1)).cast("double") / F.lit(float(_U_DENOM))
    )
    # distributed top-(k+1): TakeOrderedAndProject, never a corpus-wide
    # single-partition rank (operators/ranking.py)
    ranked = global_topk(
        items.select(F.col(id_col), F.col(weight_col), prio.alias("priority")),
        [F.col("priority").desc(), F.col(id_col)],
        k + 1,
        "rank",
    )
    tau = ranked.agg(
        F.max(F.when(F.col("rank") == k + 1, F.col("priority"))).alias("tau")
    )
    return (
        ranked.where(F.col("rank") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            F.col("rank").cast("int").alias("rank"),
            F.col(id_col),
            F.col(weight_col),
            "priority",
            F.when(
                F.col("tau").isNull(), F.col(weight_col).cast("double")
            )
            .otherwise(
                F.greatest(F.col(weight_col).cast("double"), F.col("tau"))
            )
            .alias("est_weight"),
        )
    )


_PRIORITY_ORACLE = f"""
WITH pr AS (
  SELECT doc_id, n_chars,
         CAST(n_chars AS DOUBLE)
           / (CAST((('0x' || substr(md5('ps1:' || doc_id), 1, 15))::BIGINT
                    + 1) AS DOUBLE) / CAST({_U_DENOM} AS DOUBLE))
           AS priority
  FROM documents
),
ranked AS (
  SELECT doc_id, n_chars, priority,
         CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INTEGER)
           AS rank
  FROM pr
  QUALIFY rank <= {PRIORITY_SAMPLE_K} + 1
),
tau AS (
  SELECT MAX(CASE WHEN rank = {PRIORITY_SAMPLE_K} + 1 THEN priority END)
           AS tau
  FROM ranked
)
SELECT r.rank, r.doc_id, r.n_chars, r.priority,
       CASE WHEN t.tau IS NULL THEN CAST(r.n_chars AS DOUBLE)
            ELSE greatest(CAST(r.n_chars AS DOUBLE), t.tau) END AS est_weight
FROM ranked r CROSS JOIN tau t
WHERE r.rank <= {PRIORITY_SAMPLE_K}
"""


@register(
    "sample_priority_weighted",
    _PRIORITY_ORACLE,
    doc="Priority sampling (Duffield–Lund–Thorup JACM'07): md5-uniform "
    "q=w/u top-k with the max(w, tau) threshold estimator — the "
    "log/pow-free weighted sampler, fully rational so the sample and "
    "its unbiased estimator hash-certify across engines; weights are "
    "document lengths",
    tags=("sampling", "corpus", "weighted", "topk"),
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return priority_sample(docs, "doc_id", "n_chars")


# ---------------------------------------------------------------------------
# Paragraph-grain duplication audit
# ---------------------------------------------------------------------------
#
# Dolma/RedPajama-style SUB-document dedup signal: fingerprint
# non-overlapping token windows ("paragraphs" — the corpus here is a
# flat word stream, so the paragraph grain is a fixed window; swap the
# splitter for '\n\n' on corpora that have real paragraphs) and score
# each document by the fraction of its windows that also appear in at
# least one OTHER document. Doc-level dedup misses this entirely: two
# documents sharing 40% boilerplate score low on whole-doc Jaccard but
# the shared paragraphs still leak duplicated text into training.
#
# Scale: fingerprints are a shuffle-free projection; the cross-corpus
# window-frequency aggregate shuffles on the fingerprint (map-side
# combined, the inverted-index key again); the join back to documents
# is fingerprint-keyed with AQE handling hot boilerplate windows.

PARA_LEN = 16  # non-overlapping: stride == length → no double counting


def paragraph_dup_stats(docs: DataFrame, para_len: int = PARA_LEN) -> DataFrame:
    """(doc_id, n_paras, n_dup_paras, dup_frac): windows whose
    fingerprint occurs in ≥2 DISTINCT documents count as duplicated
    (within-doc repetition alone does not — that is
    text_repetition_score's signal)."""
    w = docs.where(F.col("text") != "").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    st = w.select(
        "doc_id",
        "w",
        F.explode(F.expr(f"sequence(0, size(w) - 1, {para_len})")).alias("st"),
    )
    paras = st.select(
        "doc_id",
        F.md5(F.array_join(F.expr(f"slice(w, st + 1, {para_len})"), " ")).alias(
            "fp"
        ),
    )
    shared = (
        paras.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp", F.lit(1).alias("_shared"))
    )
    return (
        paras.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.coalesce(F.col("_shared"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_paras"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            (
                F.col("n_dup_paras").cast("double") / F.col("n_paras")
            ).alias("dup_frac"),
        )
    )


_PARA_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text <> ''
),
st AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {PARA_LEN})) AS st
  FROM w
),
paras AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(w, st + 1, least(st + {PARA_LEN}, len(w))), ' '
         )) AS fp
  FROM st
),
shared AS (
  SELECT fp FROM paras GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT p.doc_id,
       COUNT(*) AS n_paras,
       CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_paras,
       CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_frac
FROM paras p
LEFT JOIN shared s ON s.fp = p.fp
GROUP BY p.doc_id
"""


@register(
    "dedup_paragraph_fraction",
    _PARA_ORACLE,
    doc="Sub-document duplication audit (Dolma-style paragraph dedup "
    "signal): non-overlapping 16-token window fingerprints, windows "
    "shared by ≥2 documents flagged, per-doc duplicated fraction — "
    "catches boilerplate leakage whole-doc dedup scores near zero",
    tags=("dedup", "paragraph", "corpus"),
)
def dedup_paragraph_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dup_stats(docs)


# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) shard routing
# ---------------------------------------------------------------------------
#
# Thaler & Ravishankar, "Using name-based mappings to increase hit
# rates" (ToN 1998): route each key to argmax over shards of
# h(shard, key). Unlike mod-N hashing, adding/removing a shard remaps
# ONLY the keys whose winning shard changed (~1/N of them) — the
# minimal-movement property consistent-hashing rings approximate,
# with no ring state at all. This is the routing layer a sharded
# ingest/serving tier puts in front of the corpus (which writer owns
# a doc, which cache serves it), kept engine-portable by md5-derived
# 60-bit scores so the full assignment hash-certifies.
#
# Scale: |keys| x N_SHARDS candidate rows from a projection-explode
# (no shuffle), one map-side-combined argmax aggregate on doc_id —
# the winner is a lexicographic struct max, so partial aggregation
# does the heavy lifting; nothing is ever sorted globally.

RENDEZVOUS_SHARDS = 16
_RV_SEED = "rv1"


def rendezvous_route(
    keys: DataFrame, key_col: str, n_shards: int = RENDEZVOUS_SHARDS,
    seed: str = _RV_SEED,
) -> DataFrame:
    """(key, shard, score): each key's winning shard by
    highest-random-weight; deterministic (score DESC, shard ASC)
    winner."""
    shards = F.explode(
        F.sequence(F.lit(0), F.lit(n_shards - 1))
    ).alias("shard")
    score = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(seed), F.col("shard").cast("string"),
                    F.col(key_col).cast("string"),
                )
            ),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    scored = keys.select(F.col(key_col), shards).withColumn("score", score)
    best = scored.groupBy(key_col).agg(
        F.max(F.struct(F.col("score"), (-F.col("shard")).alias("ns"))).alias(
            "_b"
        )
    )
    return best.select(
        F.col(key_col),
        (-F.col("_b.ns")).cast("int").alias("shard"),
        F.col("_b.score").alias("score"),
    )


_RENDEZVOUS_ORACLE = f"""
WITH scored AS (
  SELECT d.doc_id, s.shard,
         ('0x' || substr(md5('{_RV_SEED}' || ':' || s.shard || ':' || d.doc_id),
                         1, 15))::BIGINT AS score
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, {RENDEZVOUS_SHARDS})) AS shard) s
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard, score
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, shard) = 1
"""


@register(
    "shard_rendezvous_routing",
    _RENDEZVOUS_ORACLE,
    doc=f"Rendezvous (highest-random-weight) routing of every document "
    f"to one of {RENDEZVOUS_SHARDS} shards: md5-scored argmax with "
    "deterministic tie-break, computed as a map-side-combined struct-max "
    "aggregate (explode + argmax, no shuffle of scored candidates, no "
    "window) — the minimal-movement shard assignment layer",
    tags=("sharding", "routing", "hash"),
)
def shard_rendezvous_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return rendezvous_route(docs, "doc_id")


# ---------------------------------------------------------------------------
# Temperature-scaled mixture sampling
# ---------------------------------------------------------------------------
#
# The alpha-smoothed source mixture used for multilingual/multi-source
# training (e.g. mBERT/XLM-R's p_s ∝ size_s^alpha with alpha ~ 0.3-0.7):
# big sources are damped, scarce sources upweighted, here with
# alpha = 0.5. Everything after the one IEEE sqrt (correctly rounded
# on any engine, then scaled to integer micro-units) is EXACT integer
# arithmetic — per-source basis-point rates fall out of one integer
# division, so the sampled set hash-certifies bit-for-bit:
#
#   w_s      = floor(sqrt(size_chars_s) * 1e6)          (bigint)
#   rate_bp  = min( (10000 * (N div 5) * w_s)
#                     div (W * n_docs_s), 10000 )       (exact div)
#
# i.e. a ~20% total-document budget allocated proportionally to
# sqrt(char mass), capped at keep-everything per source. Selection is
# the same seeded-md5 bucket test every sampler here uses.
#
# Scale: one groupBy(source) aggregate, a 1-row totals broadcast, a
# |sources|-row rate table joined back (AQE broadcasts it), and a
# pushdown-friendly per-row filter — no shuffle of the corpus.

_TEMP_SEED = "temp1"
_TEMP_BUDGET_DENOM = 5  # target ~ N/5 docs


def _temperature_oracle() -> str:
    return f"""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS size_chars
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(size_chars AS DOUBLE)) * 1000000) AS HUGEINT)
           AS w
  FROM s
),
tot AS (
  SELECT SUM(w) AS wt, SUM(n_docs) AS n FROM w
),
r AS (
  SELECT w.source, CAST(least(
           (10000 * (t.n // {_TEMP_BUDGET_DENOM}) * w.w)
             // (t.wt * w.n_docs),
           10000) AS BIGINT) AS rate_bp
  FROM w CROSS JOIN tot t
)
SELECT d.doc_id, d.source, r.rate_bp
FROM documents d JOIN r USING (source)
WHERE ('0x' || substr(md5('{_TEMP_SEED}:' || d.doc_id), 1, 7))::BIGINT
      % 10000 < r.rate_bp
"""


@register(
    "sample_temperature_mixture",
    _temperature_oracle(),
    doc="Temperature-scaled (alpha=0.5) source mixture sampling: "
    "per-source rates proportional to sqrt(char mass) under a ~20% "
    "document budget, derived with exact integer arithmetic after one "
    "correctly-rounded sqrt — big sources damped, scarce sources "
    "upweighted, capped at keep-all; seeded-md5 selection so the "
    "sample is deterministic and engine-portable",
    tags=("sampling", "corpus", "mixture", "temperature"),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("size_chars"),
    )
    w = s.withColumn(
        "w",
        F.floor(F.sqrt(F.col("size_chars").cast("double")) * 1000000)
        .cast("decimal(38,0)"),
    )
    tot = w.agg(F.sum("w").alias("wt"), F.sum("n_docs").alias("n"))
    r = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_bp",
            F.least(
                F.expr(
                    f"cast((cast(10000 as decimal(38,0))"
                    f" * cast(n div {_TEMP_BUDGET_DENOM} as decimal(38,0))"
                    f" * w) div (wt * cast(n_docs as decimal(38,0)))"
                    f" as bigint)"
                ),
                F.lit(10000).cast("bigint"),
            ),
        )
        .select("source", "rate_bp")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{_TEMP_SEED}:"), F.col("doc_id").cast("string")
                    )
                ),
                1, 7,
            ),
            16, 10,
        ).cast("bigint")
        % 10000
    )
    return (
        docs.join(r, "source")
        .where(bucket < F.col("rate_bp"))
        .select("doc_id", "source", "rate_bp")
    )


# ---------------------------------------------------------------------------
# Cross-source n-gram overlap matrix
# ---------------------------------------------------------------------------
#
# Leakage observability: how much 5-gram phrase vocabulary each pair
# of sources shares — the source-level companion to per-doc
# decontamination (is src7 a scrape of src3? did the eval split leak
# into a training source?). Computed on DISTINCT (source, 5-gram)
# pairs, so a shingle repeated within one source counts once, and the
# shingle self-join fans out at most |sources| rows per key — the
# candidate count is bounded by K^2 per shingle regardless of corpus
# size. Output: per source pair, shared-shingle count and the
# Jaccard-normalized overlap (exact integer counts, one double ratio).

_XSRC_NGRAM = 5


def _cross_source_oracle() -> str:
    n = _XSRC_NGRAM
    return f"""
WITH ws AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
),
ex AS (
  SELECT DISTINCT source, g
  FROM (
    SELECT source,
           unnest([array_to_string(ws[i:i+{n - 1}], ' ')
                   FOR i IN range(1, len(ws) - {n - 1} + 1)]) AS g
    FROM ws WHERE len(ws) >= {n}
  )
),
sz AS (
  SELECT source, COUNT(*) AS n_grams FROM ex GROUP BY 1
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM ex a
  JOIN ex b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.n_shared,
       CAST(p.n_shared AS DOUBLE)
         / (sa.n_grams + sb.n_grams - p.n_shared) AS overlap
FROM pairs p
JOIN sz sa ON sa.source = p.source_a
JOIN sz sb ON sb.source = p.source_b
"""


@register(
    "corpus_cross_source_overlap",
    _cross_source_oracle(),
    doc=f"Cross-source {_XSRC_NGRAM}-gram overlap matrix: distinct "
    "(source, shingle) inverted index self-joined on the shingle "
    "(fan-out <= |sources| per key at any corpus size), exact shared "
    "counts + Jaccard-normalized overlap per source pair — the "
    "source-level leakage/contamination observability report",
    tags=("corpus", "dedup", "contamination", "join"),
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _XSRC_NGRAM
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    ws = docs.select("source", F.split("text", " ").alias("ws"))
    ex = (
        ws.where(F.size("ws") >= n)
        .select(
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {n - 1}),"
                    f" i -> concat_ws(' ', slice(ws, i, {n})))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    sz = ex.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n_grams").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov–Smirnov drift
# ---------------------------------------------------------------------------
#
# Distribution drift between two sources as the exact two-sample KS
# statistic sup_x |F_a(x) - F_b(x)| over the doc-length distribution —
# the supremum of ECDF differences is attained at a sample point, so
# the exact statistic is max over distinct values of
# |ca*nb - cb*na| / (na*nb) with integer cumulative counts ca/cb.
# Everything up to the final ratio is integer arithmetic (cross-
# multiplied to avoid per-row division), so the argmax value and the
# numerator hash-certify; products go through decimal(38,0) so the
# comparison is exact at any corpus size.
#
# Scale: per-value counts are one aggregate; the two cumulative
# counts come from the distributed prefix-sum decomposition
# (operators/ranking.py prefix_sums_inclusive — no single-partition
# ordered scan of the distinct-value relation); the argmax is a
# two-level lexicographic struct max.

_KS_SRC_A = "src0"
_KS_SRC_B = "src1"


def ks_two_sample(
    df: DataFrame, group_col: str, a: str, b: str, value_col: str
) -> DataFrame:
    """One-row (n_a, n_b, ks_at_value, ks_numerator, ks_stat):
    exact two-sample KS between groups ``a`` and ``b`` of
    ``value_col``'s distribution."""
    from lambda_lakehouse_spark.operators.ranking import (
        prefix_sums_inclusive,
    )

    f = (
        df.where(F.col(group_col).isin(a, b))
        .groupBy(value_col)
        .agg(
            F.sum(F.when(F.col(group_col) == a, 1).otherwise(0)).alias("_da"),
            F.sum(F.when(F.col(group_col) == b, 1).otherwise(0)).alias("_db"),
        )
    )
    p = prefix_sums_inclusive(f, [value_col], ["_da", "_db"], ["_ca", "_cb"])
    tot = f.agg(
        F.sum("_da").cast("bigint").alias("_na"),
        F.sum("_db").cast("bigint").alias("_nb"),
    )
    dec = "decimal(38,0)"
    num = F.abs(
        F.col("_ca").cast(dec) * F.col("_nb").cast(dec)
        - F.col("_cb").cast(dec) * F.col("_na").cast(dec)
    )
    best = (
        p.crossJoin(F.broadcast(tot))
        .select(
            "_na",
            "_nb",
            F.struct(
                num.alias("num"), (-F.col(value_col)).alias("nv")
            ).alias("_cand"),
        )
        .groupBy("_na", "_nb")
        .agg(F.max("_cand").alias("_best"))
    )
    return best.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        (-F.col("_best.nv")).alias("ks_at_value"),
        F.col("_best.num").cast("bigint").alias("ks_numerator"),
        (
            F.col("_best.num").cast("double")
            / (F.col("_na").cast("double") * F.col("_nb"))
        ).alias("ks_stat"),
    )


_KS_ORACLE = f"""
WITH f AS (
  SELECT n_chars,
         SUM(CASE WHEN source = '{_KS_SRC_A}' THEN 1 ELSE 0 END) AS da,
         SUM(CASE WHEN source = '{_KS_SRC_B}' THEN 1 ELSE 0 END) AS db
  FROM documents
  WHERE source IN ('{_KS_SRC_A}', '{_KS_SRC_B}')
  GROUP BY 1
),
p AS (
  SELECT n_chars,
         SUM(da) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(db) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS cb
  FROM f
),
t AS (
  SELECT CAST(SUM(da) AS BIGINT) AS na, CAST(SUM(db) AS BIGINT) AS nb FROM f
)
SELECT t.na AS n_a, t.nb AS n_b,
       p.n_chars AS ks_at_value,
       CAST(abs(CAST(p.ca AS HUGEINT) * t.nb
                - CAST(p.cb AS HUGEINT) * t.na) AS BIGINT) AS ks_numerator,
       CAST(abs(CAST(p.ca AS HUGEINT) * t.nb
                - CAST(p.cb AS HUGEINT) * t.na) AS DOUBLE)
         / (CAST(t.na AS DOUBLE) * t.nb) AS ks_stat
FROM p CROSS JOIN t
QUALIFY ROW_NUMBER() OVER (
  ORDER BY abs(CAST(p.ca AS HUGEINT) * t.nb
               - CAST(p.cb AS HUGEINT) * t.na) DESC, p.n_chars
) = 1
"""


@register(
    "stats_ks_drift_sources",
    _KS_ORACLE,
    doc=f"Exact two-sample Kolmogorov–Smirnov drift between sources "
    f"'{_KS_SRC_A}' and '{_KS_SRC_B}' over doc length: integer ECDF "
    "cross-multiplication (no per-row division), cumulative counts "
    "from the distributed prefix-sum decomposition, argmax as a "
    "two-level struct max — the statistic, its attaining value, and "
    "the exact integer numerator all hash-certify",
    tags=("stats", "drift", "distribution", "corpus"),
)
def stats_ks_drift_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("source", "n_chars")
    return ks_two_sample(docs, "source", _KS_SRC_A, _KS_SRC_B, "n_chars")


# ---------------------------------------------------------------------------
# Paragraph-dedup scrub: remove duplicated windows, reconstruct text
# ---------------------------------------------------------------------------
#
# The curation step the audit above only measures: every window keeps
# its FIRST corpus occurrence (min (doc_id, offset) — Dolma's
# paragraph dedup policy) and later occurrences are dropped; each
# document's cleaned text is reconstructed from its surviving windows
# in order. Within-doc repeats collapse to their first instance too.
#
# Scale: window fingerprints shuffle once on fp (map-side combined
# min-aggregate picks the owner); the keep-filter is a fingerprint-
# keyed join back; reconstruction is an ordered aggregation per doc —
# array_sort over collected (offset, window) structs, the same
# deterministic ordered-agg pattern sessionize_paths uses. A doc
# whose every window is owned elsewhere survives with empty text —
# the downstream quality filter drops it, auditable.


def paragraph_scrub(docs: DataFrame, para_len: int = PARA_LEN) -> DataFrame:
    """(doc_id, n_paras, n_kept, clean_text): first-occurrence-wins
    paragraph dedup with reconstructed text."""
    w = docs.where(F.col("text") != "").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    st = w.select(
        "doc_id",
        "w",
        F.explode(F.expr(f"sequence(0, size(w) - 1, {para_len})")).alias("st"),
    )
    paras = st.select(
        "doc_id",
        "st",
        F.array_join(F.expr(f"slice(w, st + 1, {para_len})"), " ").alias(
            "para"
        ),
        F.md5(
            F.array_join(F.expr(f"slice(w, st + 1, {para_len})"), " ")
        ).alias("fp"),
    )
    first = paras.groupBy("fp").agg(
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("st").alias("s"))
        ).alias("_o")
    )
    kept = paras.join(first, "fp").where(
        (F.col("doc_id") == F.col("_o.d")) & (F.col("st") == F.col("_o.s"))
    )
    tot = paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras"))
    ka = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_sort(F.collect_list(F.struct("st", "para"))).alias("_ps"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.array_join(
                F.expr("transform(_ps, x -> x.para)"), " "
            ).alias("clean_text"),
        )
    )
    return tot.join(ka, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


_PARA_SCRUB_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text <> ''
),
st AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {PARA_LEN})) AS st
  FROM w
),
paras AS (
  SELECT doc_id, st,
         array_to_string(
           list_slice(w, st + 1, least(st + {PARA_LEN}, len(w))), ' '
         ) AS para,
         md5(array_to_string(
           list_slice(w, st + 1, least(st + {PARA_LEN}, len(w))), ' '
         )) AS fp
  FROM st
),
kept AS (
  SELECT doc_id, st, para FROM paras
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, st) = 1
),
tot AS (
  SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY 1
),
ka AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(para, ' ' ORDER BY st) AS clean_text
  FROM kept GROUP BY 1
)
SELECT t.doc_id, t.n_paras,
       COALESCE(ka.n_kept, 0) AS n_kept,
       COALESCE(ka.clean_text, '') AS clean_text
FROM tot t LEFT JOIN ka USING (doc_id)
"""


@register(
    "dedup_paragraph_scrub",
    _PARA_SCRUB_ORACLE,
    doc="Paragraph-dedup SCRUB (the curation step, not just the "
    "audit): every 16-token window keeps only its first corpus "
    "occurrence (min (doc_id, offset), Dolma policy), cleaned text "
    "reconstructed from surviving windows by deterministic ordered "
    "aggregation — fingerprint-keyed shuffle + per-doc array_sort, "
    "never a corpus-wide sort",
    tags=("dedup", "paragraph", "corpus", "scrub"),
)
def dedup_paragraph_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_scrub(docs)


# ---------------------------------------------------------------------------
# End-to-end corpus curation pipeline
# ---------------------------------------------------------------------------
#
# The flagship composition: the four curation stages this module and
# its neighbors implement individually, chained into ONE declarative
# plan a training run would actually execute —
#
#   1. quality gate   (corpus_quality_filter's rules, pass rows only)
#   2. paragraph scrub (first-occurrence-wins window dedup + text
#      reconstruction, among the survivors)
#   3. exact dedup     (md5 of the CLEANED text, keep min doc_id;
#      fully-scrubbed empty docs drop here)
#   4. temperature sampling (alpha=0.5 source mixture of the cleaned
#      corpus, exact integer basis-point rates)
#
# Every stage is the already-certified formulation, so the composed
# DuckDB oracle is an assembly of the per-stage CTEs — the point is
# proving the stages COMPOSE as lazy DataFrames: one Catalyst plan,
# shuffles shared where keys align (fingerprint, doc_id, source),
# nothing materialized between stages. Division guards use
# greatest(len, 1) because Spark double/0 is Inf while DuckDB's is
# NULL — the guard makes the expression identical on both.

def curation_pipeline(docs: DataFrame, para_len: int = PARA_LEN) -> DataFrame:
    """(doc_id, source, n_clean_chars, rate_bp): the sampled, cleaned,
    deduplicated corpus with per-source sampling provenance."""
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, r"\s+"))
    punct_ratio = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]")).cast(
        "double"
    ) / F.greatest(n_chars, F.lit(1))
    passed = docs.where(
        (F.col("lang") == "en")
        & (n_chars >= 100)
        & (n_tokens >= 20)
        & (punct_ratio < 0.1)
    ).select("doc_id", "source", "text")

    cleaned = paragraph_scrub(passed, para_len=para_len).join(
        passed.select("doc_id", "source"), "doc_id"
    )
    ne = cleaned.where(F.col("clean_text") != "")
    # the scrub -> dedup chain feeds both the per-source stats and the
    # final sampled output — lazy-checkpoint so the whole upstream
    # pipeline runs once (chained-call note, operators/ranking.py)
    deduped = (
        ne.groupBy(F.md5("clean_text").alias("_fp"))
        .agg(
            F.min(
                F.struct("doc_id", "source", "clean_text")
            ).alias("_keep")
        )
        .select("_keep.doc_id", "_keep.source", "_keep.clean_text")
        .localCheckpoint(eager=False)
    )

    s = deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("clean_text")).alias("size_chars"),
    )
    w = s.withColumn(
        "w",
        F.floor(F.sqrt(F.col("size_chars").cast("double")) * 1000000)
        .cast("decimal(38,0)"),
    )
    tot = w.agg(F.sum("w").alias("wt"), F.sum("n_docs").alias("n"))
    r = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_bp",
            F.least(
                F.expr(
                    f"cast((cast(10000 as decimal(38,0))"
                    f" * cast(n div {_TEMP_BUDGET_DENOM} as decimal(38,0))"
                    f" * w) div (wt * cast(n_docs as decimal(38,0)))"
                    f" as bigint)"
                ),
                F.lit(10000).cast("bigint"),
            ),
        )
        .select("source", "rate_bp")
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{_TEMP_SEED}:"), F.col("doc_id").cast("string")
                    )
                ),
                1, 7,
            ),
            16, 10,
        ).cast("bigint")
        % 10000
    )
    return (
        deduped.join(r, "source")
        .where(bucket < F.col("rate_bp"))
        .select(
            "doc_id",
            "source",
            F.length("clean_text").cast("int").alias("n_clean_chars"),
            "rate_bp",
        )
    )


_PIPELINE_ORACLE = f"""
WITH pass AS (
  SELECT doc_id, source, text FROM documents
  WHERE lang = 'en'
    AND LENGTH(text) >= 100
    AND len(string_split_regex(text, '\\s+')) >= 20
    AND CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
        / greatest(LENGTH(text), 1) < 0.1
),
w AS (
  SELECT doc_id, source, string_split(text, ' ') AS w
  FROM pass WHERE text <> ''
),
st AS (
  SELECT doc_id, w, UNNEST(range(0, len(w), {PARA_LEN})) AS st FROM w
),
paras AS (
  SELECT doc_id, st,
         array_to_string(
           list_slice(w, st + 1, least(st + {PARA_LEN}, len(w))), ' '
         ) AS para,
         md5(array_to_string(
           list_slice(w, st + 1, least(st + {PARA_LEN}, len(w))), ' '
         )) AS fp
  FROM st
),
kept AS (
  SELECT doc_id, st, para FROM paras
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, st) = 1
),
ka AS (
  SELECT doc_id, string_agg(para, ' ' ORDER BY st) AS clean_text
  FROM kept GROUP BY 1
),
cleaned AS (
  SELECT w.doc_id, w.source, COALESCE(ka.clean_text, '') AS clean_text
  FROM (SELECT DISTINCT doc_id, source FROM w) w
  LEFT JOIN ka USING (doc_id)
),
deduped AS (
  SELECT doc_id, source, clean_text
  FROM cleaned WHERE clean_text <> ''
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(clean_text)
                             ORDER BY doc_id) = 1
),
s AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(LENGTH(clean_text)) AS size_chars
  FROM deduped GROUP BY 1
),
w2 AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(size_chars AS DOUBLE)) * 1000000) AS HUGEINT)
           AS w
  FROM s
),
tot AS (
  SELECT SUM(w) AS wt, SUM(n_docs) AS n FROM w2
),
r AS (
  SELECT w2.source, CAST(least(
           (10000 * (t.n // {_TEMP_BUDGET_DENOM}) * w2.w)
             // (t.wt * w2.n_docs),
           10000) AS BIGINT) AS rate_bp
  FROM w2 CROSS JOIN tot t
)
SELECT d.doc_id, d.source,
       CAST(LENGTH(d.clean_text) AS INTEGER) AS n_clean_chars,
       r.rate_bp
FROM deduped d JOIN r USING (source)
WHERE ('0x' || substr(md5('{_TEMP_SEED}:' || d.doc_id), 1, 7))::BIGINT
      % 10000 < r.rate_bp
"""


@register(
    "corpus_curation_pipeline",
    _PIPELINE_ORACLE,
    doc="End-to-end corpus curation as ONE declarative plan: quality "
    "gate -> paragraph scrub (first-occurrence window dedup + text "
    "reconstruction) -> exact dedup of the CLEANED text (min doc_id "
    "keeper, fully-scrubbed docs drop) -> temperature-scaled source "
    "sampling with exact integer rates — four certified stages "
    "composed lazily so Catalyst plans the whole chain; composed "
    "DuckDB oracle certifies the pipeline output end-to-end",
    tags=("corpus", "pipeline", "dedup", "sampling", "composition"),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    return curation_pipeline(docs)


# ---------------------------------------------------------------------------
# Curriculum ordering: quality-bucket interleave
# ---------------------------------------------------------------------------
#
# Training-data pipelines rarely feed documents in storage order: a
# curriculum schedule buckets the corpus by a difficulty/quality proxy
# and interleaves the buckets so every training window sees the full
# mix, while each bucket's internal order is a deterministic shuffle
# (seeded, reproducible — a re-run must produce byte-identical epoch
# order for checkpoint resume). This operator emits that schedule for
# a 4-bucket length curriculum:
#
#   bucket          exact NTILE(4) under (n_chars DESC, doc_id) —
#                   two-pass distributed ntile, no global sort;
#   pos_in_bucket   deterministic in-bucket shuffle by md5(doc_id) —
#                   per-bucket rank via the grouped two-pass
#                   decomposition (4 keys = the low-cardinality case a
#                   plain PARTITION BY would serialize one task each);
#   curriculum_pos  global feed position = rank under
#                   (pos_in_bucket, bucket): round-robin across
#                   buckets, advancing each bucket's shuffled stream —
#                   again the two-pass exact rank.
#
# Everything is integer ranks and md5 hex — bit-deterministic on both
# engines at any parallelism.

_CURRICULUM_ORACLE = """
WITH b AS (
  SELECT doc_id,
         CAST(NTILE(4) OVER (ORDER BY n_chars DESC, doc_id) AS INTEGER)
           AS bucket,
         md5(CAST(doc_id AS VARCHAR)) AS sk
  FROM documents
),
p AS (
  SELECT doc_id, bucket,
         CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY sk, doc_id)
              AS BIGINT) AS pos_in_bucket
  FROM b
)
SELECT doc_id, bucket, pos_in_bucket,
       CAST(ROW_NUMBER() OVER (ORDER BY pos_in_bucket, bucket) AS BIGINT)
         AS curriculum_pos
FROM p
"""


@register(
    "curriculum_length_interleave",
    _CURRICULUM_ORACLE,
    doc="Deterministic 4-bucket length-curriculum schedule: exact "
    "distributed NTILE buckets, md5-seeded reproducible in-bucket "
    "shuffle ranked by the grouped two-pass decomposition, and a "
    "round-robin global feed position from the exact global rank — "
    "no step single-partitions an sf-proportional relation",
    tags=("corpus", "curriculum", "sampling", "rank"),
)
def curriculum_length_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.ranking import (
        exact_global_ntile,
        exact_global_rank,
        grouped_rank,
    )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # lazy checkpoints between the three chained rank passes — see the
    # chained-call note in operators/ranking.py (each pass consumes
    # its input in two branches; unchecked, the duplication compounds)
    b = exact_global_ntile(
        d, [F.col("n_chars").desc(), "doc_id"], 4, "bucket"
    ).select(
        "doc_id",
        "bucket",
        F.md5(F.col("doc_id").cast("string")).alias("sk"),
    ).localCheckpoint(eager=False)
    p = grouped_rank(b, ["bucket"], ["sk", "doc_id"], "pos_in_bucket").select(
        "doc_id", "bucket", "pos_in_bucket"
    ).localCheckpoint(eager=False)
    return exact_global_rank(
        p, ["pos_in_bucket", "bucket"], rank_col="curriculum_pos"
    ).select("doc_id", "bucket", "pos_in_bucket", "curriculum_pos")


# ---------------------------------------------------------------------------
# Bigram LM head: argmax next-word with conditional probability
# ---------------------------------------------------------------------------
#
# The count-based companion to corpus_collocations_lift: an exact
# bigram language-model head — for every context word, the maximum-
# likelihood next word and its conditional probability P(w2|w1) =
# c(w1,w2) / Σ_w c(w1,w). This is the corpus statistic behind greedy
# n-gram generation, OOV-rate projection, and repetition diagnostics;
# it is also the exact quantity a perplexity monitor needs (log-free
# here: the certified output is the probability RATIO, an exact
# integer division — engines disagree on log() rounding, not on
# BIGINT/BIGINT).
#
# Scale: adjacent pairs are a per-document array transform (no
# self-join); counts are map-side-combined aggregates keyed by the
# bigram; the argmax-per-context window partitions by w1 — vocabulary-
# keyed, each group bounded by that context's distinct successors, the
# standard sharding for an n-gram LM table (hot contexts = stop words
# would use the same per-partition partial top-1 refinement
# window_topk_per_group documents).

_BIGRAM_ORACLE = """
WITH ws AS (
  SELECT string_split(text, ' ') AS ws FROM documents
),
pairs AS (
  SELECT p.w1, p.w2
  FROM (
    SELECT unnest(list_transform(range(1, len(ws)),
                  i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS p
    FROM ws WHERE len(ws) >= 2
  )
),
big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2
),
ctx AS (
  SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1
),
top AS (
  SELECT w1, w2, c12
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
                                 ORDER BY c12 DESC, w2) AS rk
    FROM big
  )
  WHERE rk = 1
)
SELECT t.w1, t.w2,
       CAST(t.c12 AS BIGINT) AS c12,
       CAST(c.c1 AS BIGINT) AS c1,
       CAST(t.c12 AS DOUBLE) / CAST(c.c1 AS DOUBLE) AS p
FROM top t JOIN ctx c ON c.w1 = t.w1
"""


@register(
    "text_bigram_next_word",
    _BIGRAM_ORACLE,
    doc="Exact bigram LM head: per-context argmax next word with "
    "ML conditional probability c(w1,w2)/c(w1,*) — per-document array "
    "transform (no self-join), map-side-combined bigram counts, "
    "vocabulary-keyed argmax window, one exact BIGINT division",
    tags=("text", "corpus", "lm", "ngram"),
)
def text_bigram_next_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("text")
    base = docs.select(F.split("text", " ").alias("ws"))
    pairs = base.where(F.size("ws") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(element_at(ws, i) AS w1,"
                "             element_at(ws, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    w = W.partitionBy("w1").orderBy(F.col("c12").desc(), "w2")
    top = (
        big.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("w1", "w2", "c12")
    )
    return top.join(ctx, "w1").select(
        "w1",
        "w2",
        F.col("c12").cast("bigint").alias("c12"),
        F.col("c1").cast("bigint").alias("c1"),
        (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split
# ---------------------------------------------------------------------------
#
# The split step every training-data pipeline runs LAST, and the one
# most often done wrong: assigning splits per-document leaks near-
# identical content across train and eval. The correct unit of
# assignment is the DEDUP CLUSTER — here the exact-duplicate cluster
# (content fingerprint; the same helper accepts the connected-
# component cluster id from dedup_connected_components as the key at
# the near-dup tier). The split is a pure function of the cluster
# key, so (a) two duplicate documents can NEVER straddle splits, and
# (b) the assignment is reproducible run-to-run and engine-to-engine
# with no RNG: the md5 of the salted cluster key is uniform, and its
# HEX PREFIX compared lexicographically against fixed thresholds
# buckets it 80/10/10 ('0'..'9' < 'a'..'f' in ASCII, so hex-string
# order IS numeric order — both engines agree byte-for-byte).
#
# Plan shape: fingerprint + split are a map-only projection (no
# shuffle at any scale); the attached cluster_size is one groupBy on
# the fingerprint — the same shuffle exact dedup already pays.
# Output is per-document: the assignment table a trainer consumes.

_SPLIT_TRAIN_LT = "cd"  # 0xcd = 205/256 ≈ 80.1 % train
_SPLIT_VAL_LT = "e6"  # 0xe6 = 230/256 ≈  9.8 % val; rest test

_SPLIT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, md5(text) AS cluster_key,
         SUBSTR(md5(md5(text) || ':split'), 1, 2) AS h
  FROM documents
),
cs AS (
  SELECT cluster_key, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM d GROUP BY 1
)
SELECT d.doc_id, d.cluster_key, cs.cluster_size,
       CASE WHEN d.h < '{_SPLIT_TRAIN_LT}' THEN 'train'
            WHEN d.h < '{_SPLIT_VAL_LT}' THEN 'val'
            ELSE 'test' END AS split
FROM d JOIN cs USING (cluster_key)
"""


def leakage_safe_split(
    docs: DataFrame,
    key,
    train_lt: str = _SPLIT_TRAIN_LT,
    val_lt: str = _SPLIT_VAL_LT,
) -> DataFrame:
    """Split assignment as a pure function of the cluster key ``key``
    (a Column): every row sharing a key shares a split. Adds
    cluster_key, cluster_size, split."""
    d = docs.withColumn("cluster_key", key).withColumn(
        "h", F.substring(F.md5(F.concat(F.col("cluster_key"), F.lit(":split"))), 1, 2)
    )
    cs = d.groupBy("cluster_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        d.join(cs, "cluster_key")
        .withColumn(
            "split",
            F.when(F.col("h") < train_lt, F.lit("train"))
            .when(F.col("h") < val_lt, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .drop("h")
    )


@register(
    "split_leakage_safe",
    _SPLIT_ORACLE,
    doc="Leakage-safe train/val/test assignment at the dedup-cluster "
    "grain: split is a pure function of the content-fingerprint "
    "cluster key (salted-md5 hex prefix vs fixed thresholds, 80/10/10) "
    "so duplicates never straddle splits; map-only projection plus the "
    "one dedup shuffle for cluster sizes, RNG-free and reproducible",
    tags=("corpus", "sampling", "dedup", "split"),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return leakage_safe_split(docs, F.md5(F.col("text"))).select(
        "doc_id", "cluster_key", "cluster_size", "split"
    )


# ---------------------------------------------------------------------------
# TF-rarity top terms per document
# ---------------------------------------------------------------------------
#
# Per-document salient terms — the relation behind corpus browsing,
# topic labeling, and keyword-based slicing. Classic tf-idf multiplies
# tf by log(N/df); log() bit-rounding is engine-specific (see the
# BM25 note in operators/search.py), so the certified score is the
# log-free rarity weight tf * N / df — for a FIXED tf the ordering
# over terms equals tf-idf's (log is monotone in N/df), and every step
# is integer cross-multiplication plus one IEEE double division with
# an identical expression tree on both engines.
#
# Scale: one tokenize+tf aggregate (the same inverted-index shuffle
# every corpus op here rides), a word-keyed df aggregate joined back
# on the posting key, and a doc_id-partitioned top-3 window — the
# window key is the document, so no relation is ever single-tasked.

TFIDF_TOP_K = 3

_TFIDF_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2
),
dft AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.word, CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
         CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS rarity_score
  FROM tf t JOIN dft d USING (word) CROSS JOIN n
)
SELECT doc_id, word, tf, df, rarity_score, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY rarity_score DESC, word) AS INTEGER) AS rk
  FROM scored
)
WHERE rk <= {TFIDF_TOP_K}
"""


@register(
    "corpus_tfidf_topterms",
    _TFIDF_ORACLE,
    doc=f"Per-document top-{TFIDF_TOP_K} salient terms by the log-free "
    "rarity weight tf * N / df (tf-idf's ordering for fixed tf, "
    "engine-exact without log()): one inverted-index tf aggregate, a "
    "posting-keyed df join, and a doc-partitioned top-k window — "
    "never a single-tasked relation",
    tags=("corpus", "text", "tfidf", "topk"),
)
def corpus_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dft = tf.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dft, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "rarity_score"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("rarity_score").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "word", "tf", "df", "rarity_score", "rk")
    )


# ---------------------------------------------------------------------------
# Source diversity report
# ---------------------------------------------------------------------------
#
# The corpus-mix dashboard row: per source, its share of the corpus
# and the language diversity of its documents as the Gini–Simpson
# index 1 - sum(p_l^2) — the standard diversity measure that needs no
# log() (entropy's engine-rounding problem), computed exactly as
# (n^2 - sum(c_l^2)) / n^2 in integers with one final double
# division. One (source, lang) count, one source rollup, one 1-row
# total broadcast — bounded |sources| output at any scale.

_DIVERSITY_ORACLE = """
WITH sl AS (
  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
),
s AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM sl GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM s)
SELECT source, n_docs, n_langs,
       CAST(n_docs * n_docs - sum_c2 AS DOUBLE) / (n_docs * n_docs)
         AS lang_simpson,
       CAST(n_docs AS DOUBLE) / n_total AS corpus_share
FROM s CROSS JOIN tot
"""


@register(
    "corpus_source_diversity",
    _DIVERSITY_ORACLE,
    doc="Per-source corpus-mix report: document share and exact "
    "Gini-Simpson language diversity 1 - sum(p^2) computed as integer "
    "cross-multiplication with one double division (no log-entropy "
    "portability risk) — a (source,lang) count, a source rollup, and "
    "a 1-row total broadcast; |sources|-row output at any sf",
    tags=("corpus", "stats", "diversity", "mix"),
)
def corpus_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("source", "lang")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    s = sl.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    tot = s.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    n2 = F.col("n_docs") * F.col("n_docs")
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_langs",
        ((n2 - F.col("sum_c2")).cast("double") / n2).alias("lang_simpson"),
        (F.col("n_docs").cast("double") / F.col("n_total")).alias("corpus_share"),
    )


# ---------------------------------------------------------------------------
# Target-mix importance weights
# ---------------------------------------------------------------------------
#
# Data-mixing planning: given a target source distribution (uniform
# here — any literal spec works the same way), the per-source
# importance weight that reweights the current corpus to the target,
# plus the effective sample size ESS = (sum n*w)^2 / sum n*w^2 — the
# number that says how much usable data the reweighted corpus really
# contains (DoReMi-style mixing without the optimizer loop). One
# source-count aggregate, one 1-row total broadcast, exact integer
# ratios with single double divisions.

_MIX_ORACLE = """
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_sources
  FROM s
),
w AS (
  SELECT source, n_docs, n_total, n_sources,
         CAST(n_docs AS DOUBLE) / n_total AS current_share,
         1.0 / n_sources AS target_share,
         (1.0 / n_sources) / (CAST(n_docs AS DOUBLE) / n_total) AS weight
  FROM s CROSS JOIN tot
),
ess AS (
  -- floor-scaled integer sums (1e9 resolution): summation-order-free,
  -- so Spark's partial-agg order and DuckDB agree bit-for-bit even
  -- when n*w terms are not exactly representable
  SELECT (CAST(CAST(SUM(CAST(FLOOR(n_docs * weight * 1e9) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9)
           * (CAST(CAST(SUM(CAST(FLOOR(n_docs * weight * 1e9) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9)
           / (CAST(CAST(SUM(CAST(FLOOR(n_docs * weight * weight * 1e9) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9)
           AS ess
  FROM w
)
SELECT source, n_docs, current_share, target_share, weight, ess.ess
FROM w CROSS JOIN ess
"""


@register(
    "sample_target_mix_weights",
    _MIX_ORACLE,
    doc="Data-mixing plan: per-source importance weight reweighting "
    "the corpus to a target distribution (uniform spec) plus the "
    "effective sample size (sum n*w)^2 / sum n*w^2 of the reweighted "
    "corpus — one source-count aggregate, a 1-row total broadcast, "
    "and a 1-row ESS broadcast; |sources| output rows at any sf",
    tags=("corpus", "sampling", "mixing"),
)
def sample_target_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("source")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = s.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    w = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n_total")).alias("current_share"),
        (F.lit(1.0) / F.col("n_sources")).alias("target_share"),
        (
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("n_docs").cast("double") / F.col("n_total"))
        ).alias("weight"),
    )
    # floor-scaled integer sums (1e9): order-independent, exact-match
    # with the oracle even when n*w terms round (see similarity.SCALE)
    def _s9(col):
        return F.sum(F.floor(col * F.lit(1e9)).cast("bigint")).cast(
            "double"
        ) / F.lit(1e9)

    nw = F.col("n_docs") * F.col("weight")
    ess = w.agg(
        (_s9(nw) * _s9(nw) / _s9(nw * F.col("weight"))).alias("ess")
    )
    return w.crossJoin(F.broadcast(ess))


# ---------------------------------------------------------------------------
# Token frequency spectrum (Good-Turing counts-of-counts)
# ---------------------------------------------------------------------------
#
# The frequency-of-frequencies relation tokenizer and LM work starts
# from: for each occurrence count r, how many distinct token types
# occur exactly r times, what fraction of the token mass they carry,
# and the Good-Turing adjusted count r* = (r+1) * n_{r+1} / n_r (the
# singleton row's frac_tokens IS the GT unseen-mass estimate p0).
# Two bounded hash aggregates (token counts -> spectrum); the r+1
# lookup is an equi self-join of the bounded spectrum, never a window.

_SPECTRUM_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text <> ''
),
counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE tok <> '' GROUP BY tok
),
spec AS (
  SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_types FROM counts GROUP BY c
),
tot AS (SELECT CAST(SUM(r * n_types) AS BIGINT) AS n_total FROM spec)
SELECT s.r, s.n_types,
       CAST(s.r * s.n_types AS BIGINT) AS n_tokens_at_r,
       CAST(s.r * s.n_types AS DOUBLE) / t.n_total AS frac_tokens,
       CAST((s.r + 1) * nx.n_types AS DOUBLE) / s.n_types AS gt_rstar
FROM spec s
CROSS JOIN tot t
LEFT JOIN spec nx ON nx.r = s.r + 1
"""


@register(
    "corpus_token_spectrum",
    _SPECTRUM_ORACLE,
    doc="Good-Turing frequency spectrum: per occurrence count r, the "
    "number of token types with that count, their share of the token "
    "mass (the r=1 row's share is the GT unseen-mass p0), and the "
    "adjusted count r* = (r+1)*n_{r+1}/n_r via a bounded equi "
    "self-join — every ratio ONE double division of exact integers",
    tags=("corpus", "stats", "text"),
    bench=True,
)
def corpus_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text") != "")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    spec = (
        counts.groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
        .withColumnRenamed("c", "r")
    )
    tot = spec.agg((F.sum(F.col("r") * F.col("n_types"))).cast("bigint").alias("n_total"))
    nxt = spec.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("n_next"))
    return (
        spec.crossJoin(F.broadcast(tot))
        .join(nxt, "r", "left")
        .select(
            "r",
            "n_types",
            (F.col("r") * F.col("n_types")).cast("bigint").alias("n_tokens_at_r"),
            (
                (F.col("r") * F.col("n_types")).cast("double") / F.col("n_total")
            ).alias("frac_tokens"),
            (
                ((F.col("r") + 1) * F.col("n_next")).cast("double") / F.col("n_types")
            ).alias("gt_rstar"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth curve
# ---------------------------------------------------------------------------
#
# Vocabulary size as a function of corpus size, evaluated at ten
# doc-id-prefix checkpoints: the curve that says whether more data
# still buys new vocabulary (Heaps' law V ~ N^beta) — the input to
# tokenizer-budget and dedup-saturation decisions. The big relations
# (docs, token stream, per-token first occurrence) are each reduced by
# ONE hash aggregate to a <=10-row per-decile profile; the cumulative
# prefix totals come from a 10x10 inequality join of those bounded
# profiles, so nothing corpus-sized is fanned out or windowed. Each
# doc's decile is closed-form: ceil(10*doc_id/max_id) (floor-threshold
# equivalent, all integer DIV arithmetic).

_HEAPS_ORACLE = """
WITH mx AS (
  SELECT GREATEST(CAST(MAX(doc_id) AS BIGINT), 1) AS max_id FROM documents
),
dec AS (
  SELECT i AS decile, (mx.max_id * i) // 10 AS threshold_doc_id
  FROM (SELECT unnest(range(1, 11)) AS i), mx
),
docs_b AS (
  SELECT GREATEST(1, CAST((10 * d.doc_id + mx.max_id - 1) // mx.max_id AS BIGINT)) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents d, mx GROUP BY 1
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text <> ''
),
toks_b AS (
  SELECT GREATEST(1, CAST((10 * t.doc_id + mx.max_id - 1) // mx.max_id AS BIGINT)) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM toks t, mx WHERE t.tok <> '' GROUP BY 1
),
first_occ AS (
  SELECT tok, MIN(doc_id) AS first_doc FROM toks WHERE tok <> '' GROUP BY tok
),
vocab_b AS (
  SELECT GREATEST(1, CAST((10 * f.first_doc + mx.max_id - 1) // mx.max_id AS BIGINT)) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM first_occ f, mx GROUP BY 1
)
SELECT d.decile, d.threshold_doc_id,
       CAST(COALESCE((SELECT SUM(n) FROM docs_b  WHERE b <= d.decile), 0) AS BIGINT) AS n_docs_prefix,
       CAST(COALESCE((SELECT SUM(n) FROM toks_b  WHERE b <= d.decile), 0) AS BIGINT) AS n_tokens_prefix,
       CAST(COALESCE((SELECT SUM(n) FROM vocab_b WHERE b <= d.decile), 0) AS BIGINT) AS n_vocab,
       CAST(COALESCE((SELECT SUM(n) FROM vocab_b WHERE b <= d.decile), 0) AS DOUBLE)
         / (SELECT SUM(n) FROM toks_b WHERE b <= d.decile) AS type_token_ratio
FROM dec d
"""


def _decile_of(idcol: str) -> F.Column:
    """ceil(10*id/max_id) as the 1..10 prefix-decile bucket (integer
    DIV arithmetic; equivalent to id <= (max_id*i)//10 membership)."""
    return F.greatest(
        F.lit(1),
        F.expr(f"CAST((10 * {idcol} + max_id - 1) DIV max_id AS BIGINT)"),
    )


@register(
    "corpus_heaps_vocab_growth",
    _HEAPS_ORACLE,
    doc="Heaps-law curve: distinct-vocabulary size at ten doc-id-prefix "
    "checkpoints, via per-token MIN(first doc) + closed-form decile "
    "assignment — the corpus-sized relations each collapse in one "
    "aggregate and only <=10-row profiles join; type/token ratio per "
    "checkpoint is one double division of exact integers",
    tags=("corpus", "stats", "text"),
)
def corpus_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    mx = docs.agg(
        F.greatest(F.max("doc_id").cast("bigint"), F.lit(1)).alias("max_id")
    )
    dec = mx.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"), "max_id"
    ).select(
        F.col("decile").cast("bigint").alias("decile"),
        F.expr("CAST((max_id * decile) DIV 10 AS BIGINT)").alias("threshold_doc_id"),
    )

    def _profile(df: DataFrame, idcol: str) -> DataFrame:
        """<=10-row (b, n) bucket profile of a corpus-sized relation."""
        return (
            df.crossJoin(F.broadcast(mx))
            .select(_decile_of(idcol).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )

    toks = (
        docs.where(F.col("text") != "")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    first_occ = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))

    docs_b = _profile(docs.select("doc_id"), "doc_id")
    toks_b = _profile(toks.select("doc_id"), "doc_id")
    vocab_b = _profile(first_occ.select("first_doc"), "first_doc")

    def _cum(profile: DataFrame, out: str) -> DataFrame:
        """Cumulative prefix totals via the 10x10 bounded range join."""
        return (
            dec.join(
                F.broadcast(profile), F.col("b") <= F.col("decile"), "left"
            )
            .groupBy("decile")
            .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias(out))
        )

    return (
        dec.join(_cum(docs_b, "n_docs_prefix"), "decile")
        .join(_cum(toks_b, "n_tokens_prefix"), "decile")
        .join(_cum(vocab_b, "n_vocab"), "decile")
        .select(
            "decile",
            "threshold_doc_id",
            "n_docs_prefix",
            "n_tokens_prefix",
            "n_vocab",
            (
                F.col("n_vocab").cast("double") / F.col("n_tokens_prefix")
            ).alias("type_token_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency curve
# ---------------------------------------------------------------------------
#
# The rank x frequency relation over the head vocabulary: Zipf's law
# says rank*freq is roughly constant, and the curve's deviations are
# the standard corpus-health fingerprint (boilerplate inflates the
# head; templated spam flattens it). Token totals are one hash
# aggregate; the head is TakeOrderedAndProject top-k; the <=k
# survivors rank in the single-pass bounded tail (operators/ranking).

ZIPF_TOP_K = 50

_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text <> ''
),
counts AS (
  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE tok <> '' GROUP BY tok
),
top AS (
  SELECT token, freq FROM counts
  ORDER BY freq DESC, token LIMIT {ZIPF_TOP_K}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
       token, freq,
       CAST(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) * freq
            AS BIGINT) AS rank_x_freq
FROM top
"""


@register(
    "corpus_zipf_rank_curve",
    _ZIPF_ORACLE,
    doc=f"Zipf rank-frequency head: top-{ZIPF_TOP_K} tokens by corpus "
    "frequency with deterministic (freq desc, token) ranks and the "
    "rank*freq product — TakeOrderedAndProject head, single-pass "
    "bounded rank tail, integer-exact throughout",
    tags=("corpus", "stats", "heavy_hitters"),
)
def corpus_zipf_rank_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").where(F.col("text") != "")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    top = global_topk(
        counts, [F.desc("freq"), F.asc("token")], ZIPF_TOP_K, rank_col="rank"
    )
    return top.select(
        "rank",
        "token",
        "freq",
        (F.col("rank") * F.col("freq")).cast("bigint").alias("rank_x_freq"),
    )


# ---------------------------------------------------------------------------
# Per-source dedup survival + post-dedup mixture shift
# ---------------------------------------------------------------------------
#
# The question a mixing plan must re-ask after dedup: which sources
# were mostly duplicates, and how did removing them shift the corpus
# mixture? A doc survives exact dedup iff it is the min-id keeper of
# its normalized-text fingerprint (global across sources, so
# cross-source copies count against the later source). One
# fingerprint-keyed aggregate + keeper flag join, one per-source
# rollup, one 1-row totals broadcast; every rate is a single double
# division of exact integers.

_SURVIVAL_ORACLE = """
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_fp
  FROM documents
),
keep AS (SELECT text_fp, MIN(doc_id) AS keeper FROM fp GROUP BY text_fp),
flagged AS (
  SELECT f.source, CASE WHEN f.doc_id = k.keeper THEN 1 ELSE 0 END AS kept
  FROM fp f JOIN keep k USING (text_fp)
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(kept) AS BIGINT) AS n_kept
  FROM flagged GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(n_kept) AS BIGINT) AS total_kept
  FROM per_src
)
SELECT s.source, s.n_docs, s.n_kept,
       CAST(s.n_kept AS DOUBLE) / s.n_docs AS survival_rate,
       CAST(s.n_docs AS DOUBLE) / t.total_docs AS raw_share,
       CAST(s.n_kept AS DOUBLE) / t.total_kept AS dedup_share
FROM per_src s CROSS JOIN tot t
"""


@register(
    "dedup_source_survival",
    _SURVIVAL_ORACLE,
    doc="Per-source exact-dedup survival audit: min-id keeper rule over "
    "global normalized-text fingerprints, per-source survival rate, "
    "and the raw-vs-post-dedup mixture shares a mixing plan must be "
    "rebalanced against — fingerprint-keyed shuffle, bounded rollup, "
    "1-row totals broadcast",
    tags=("dedup", "corpus", "sampling"),
)
def dedup_source_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.text import normalized_text

    docs = read_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "source", F.md5(normalized_text(F.col("text"))).alias("text_fp")
    )
    keep = fp.groupBy("text_fp").agg(F.min("doc_id").alias("keeper"))
    flagged = fp.join(keep, "text_fp").select(
        "source",
        F.when(F.col("doc_id") == F.col("keeper"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("kept"),
    )
    per_src = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
    )
    tot = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("n_kept").cast("bigint").alias("total_kept"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_kept",
        (F.col("n_kept").cast("double") / F.col("n_docs")).alias("survival_rate"),
        (F.col("n_docs").cast("double") / F.col("total_docs")).alias("raw_share"),
        (F.col("n_kept").cast("double") / F.col("total_kept")).alias("dedup_share"),
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------
#
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# select raw-pool documents whose hashed-ngram feature distribution
# looks like a small TARGET domain, by importance weight
# w(doc) = prod_b p_target(b) / p_raw(b) over the doc's feature
# buckets, then resample by weight. This certified variant keeps every
# step rational so the sample hash-certifies across engines:
#
# - features: DISTINCT md5-hashed unigram buckets (binary bag, B=64)
#   — the paper's hashed-ngram model with presence counts;
# - bucket ratios: Laplace-smoothed integer cross-products with ONE
#   double division, ratio_b = (t_b+1)*(R+B) / ((r_b+1)*(T+B));
# - per-doc weight: fold-product of the doc's SORTED ratio list
#   (array_sort + aggregate in Spark, list_sort + list_reduce in the
#   oracle) — identical multiplication order, so IEEE doubles agree
#   bit-for-bit; ≤B factors bounds the product's dynamic range (the
#   100 TB variant with count features moves to log-space sums, which
#   drops driver hash-exactness but not correctness);
# - resampling: the existing priority-sampling machinery (md5-uniform
#   q = w/u top-k, JACM'07) — rational, unlike Gumbel top-k.
#
# Scale shape: token explode → distinct (doc, bucket) shuffle keyed by
# doc; the bucket model is a ≤B-row relation broadcast onto it; the
# per-doc product is one groupBy(doc_id); selection is a distributed
# TakeOrderedAndProject. No corpus-sized window, no driver loop.

DSIR_BUCKETS = 64
DSIR_TARGET_SOURCES = ("src1", "src2")
DSIR_SAMPLE_K = 100

_DSIR_TARGET_IN = ", ".join(repr(s) for s in DSIR_TARGET_SOURCES)

_DSIR_WEIGHTS_CTE = f"""
feat AS (
  SELECT DISTINCT doc_id, source,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE text <> ''
  ) WHERE tok <> ''
),
raw_b AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS r_b FROM feat GROUP BY b
),
tgt_b AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS t_b FROM feat
  WHERE source IN ({_DSIR_TARGET_IN}) GROUP BY b
),
totals AS (
  SELECT CAST(SUM(r_b) AS BIGINT) AS r_tot,
         CAST((SELECT COALESCE(SUM(t_b), 0) FROM tgt_b) AS BIGINT) AS t_tot
  FROM raw_b
),
ratio AS (
  SELECT r.b,
         CAST((COALESCE(t.t_b, 0) + 1) * (tt.r_tot + {DSIR_BUCKETS}) AS DOUBLE)
           / ((r.r_b + 1) * (tt.t_tot + {DSIR_BUCKETS})) AS ratio
  FROM raw_b r LEFT JOIN tgt_b t USING (b) CROSS JOIN totals tt
),
dsir_w AS (
  SELECT f.doc_id,
         list_reduce(list_sort(list(ratio.ratio)), (a, x) -> a * x)
           AS dsir_weight
  FROM feat f JOIN ratio ON ratio.b = f.b
  GROUP BY f.doc_id
)"""

_DSIR_ORACLE = f"""
WITH {_DSIR_WEIGHTS_CTE},
pr AS (
  SELECT doc_id, dsir_weight,
         dsir_weight
           / (CAST((('0x' || substr(md5('dsir1:' || doc_id), 1, 15))::BIGINT
                    + 1) AS DOUBLE) / CAST({_U_DENOM} AS DOUBLE))
           AS priority
  FROM dsir_w
),
ranked AS (
  SELECT doc_id, dsir_weight, priority,
         CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INTEGER)
           AS rank
  FROM pr
  QUALIFY rank <= {DSIR_SAMPLE_K} + 1
),
tau AS (
  SELECT MAX(CASE WHEN rank = {DSIR_SAMPLE_K} + 1 THEN priority END) AS tau
  FROM ranked
)
SELECT r.rank, r.doc_id, r.dsir_weight, r.priority,
       CASE WHEN t.tau IS NULL THEN r.dsir_weight
            ELSE greatest(r.dsir_weight, t.tau) END AS est_weight
FROM ranked r CROSS JOIN tau t
WHERE r.rank <= {DSIR_SAMPLE_K}
"""


def dsir_hashed_buckets(
    docs: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """Distinct (doc_id, source, b) hashed-unigram feature incidences —
    the binary bag-of-hashed-ngrams relation both DSIR queries share.
    ``docs`` needs (doc_id, source, text)."""
    return (
        docs.where(F.col("text") != "")
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .select(
            "doc_id",
            "source",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % n_buckets
            ).alias("b"),
        )
        .distinct()
    )


def dsir_weights_from_features(
    feat: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(doc_id, dsir_weight): importance weight of each document under
    the target-vs-raw bucket model (see block comment)."""
    raw_b = feat.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("r_b"))
    tgt_b = (
        feat.where(F.col("source").isin(*target_sources))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t_b"))
    )
    model = raw_b.join(tgt_b, "b", "left").select(
        "b", "r_b", F.coalesce("t_b", F.lit(0)).cast("bigint").alias("t_b")
    )
    totals = model.agg(
        F.sum("r_b").cast("bigint").alias("r_tot"),
        F.sum("t_b").cast("bigint").alias("t_tot"),
    )
    ratio = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            ((F.col("t_b") + 1) * (F.col("r_tot") + n_buckets)).cast("double")
            / ((F.col("r_b") + 1) * (F.col("t_tot") + n_buckets))
        ).alias("ratio"),
    )
    return (
        feat.select("doc_id", "b")
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("ratio")),
                F.lit(1.0),
                lambda acc, x: acc * x,
            ).alias("dsir_weight")
        )
    )


@register(
    "sample_dsir_hashed_ngrams",
    _DSIR_ORACLE,
    doc=f"DSIR importance resampling (Xie et al. NeurIPS'23): "
    f"hashed-unigram bucket model (B={DSIR_BUCKETS}, binary features), "
    "Laplace-smoothed target/raw ratio per bucket as one double "
    "division of exact integer cross-products, per-doc weight as the "
    "sorted-ratio fold product (bit-identical across engines), and a "
    f"top-{DSIR_SAMPLE_K} md5-uniform priority resample — the "
    "log/pow-free, driver-hash-certifiable variant of the paper",
    tags=("sampling", "corpus", "mixing", "dsir"),
)
def sample_dsir_hashed_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    w = dsir_weights_from_features(dsir_hashed_buckets(docs))
    return priority_sample(w, "doc_id", "dsir_weight", k=DSIR_SAMPLE_K, seed="dsir1")


# ---------------------------------------------------------------------------
# DSIR target-shift audit
# ---------------------------------------------------------------------------
#
# Did the resampling work? Total-variation distance between hashed-
# bucket distributions: TV(raw, target) before selection vs
# TV(selected, target) after — the selected set must sit closer to the
# target domain than the raw pool it was drawn from, and shift_gain
# (= the TV reduction) is the audit number a mixing plan records.
#
# Exactness: TV = 0.5 * sum_b |p1_b - p2_b| with p_i = c_b / C rewrites
# to sum_b |c1_b*C2 - c2_b*C1| (exact BIGINT cross-products, order-free
# integer sum) over ONE double division by 2*C1*C2 — no float
# accumulation anywhere. Cross-products stay under 2^63 through ~1e9
# doc-bucket incidences; past that the audit moves the numerator to
# DECIMAL(38,0) (same shape, noted here for the 100 TB reader).
#
# Scale shape: the bucket profiles are ≤B-row aggregates of the
# (doc, bucket) relation; the selected set is the K-row resample
# broadcast back onto it; the final row is a 1-row fold of a ≤B-row
# relation. Output is one row at any sf.

_DSIR_SHIFT_ORACLE = f"""
WITH {_DSIR_WEIGHTS_CTE},
pr AS (
  SELECT doc_id, dsir_weight,
         dsir_weight
           / (CAST((('0x' || substr(md5('dsir1:' || doc_id), 1, 15))::BIGINT
                    + 1) AS DOUBLE) / CAST({_U_DENOM} AS DOUBLE))
           AS priority
  FROM dsir_w
),
sel AS (
  SELECT doc_id FROM pr
  QUALIFY ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id)
    <= {DSIR_SAMPLE_K}
),
sel_b AS (
  SELECT f.b, CAST(COUNT(*) AS BIGINT) AS s_b
  FROM feat f JOIN sel USING (doc_id) GROUP BY f.b
),
m AS (
  SELECT r.b, r.r_b,
         CAST(COALESCE(t.t_b, 0) AS BIGINT) AS t_b,
         CAST(COALESCE(s.s_b, 0) AS BIGINT) AS s_b
  FROM raw_b r LEFT JOIN tgt_b t USING (b) LEFT JOIN sel_b s USING (b)
),
tot AS (
  SELECT CAST(SUM(r_b) AS BIGINT) AS r_tot,
         CAST(SUM(t_b) AS BIGINT) AS t_tot,
         CAST(SUM(s_b) AS BIGINT) AS s_tot,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(ABS(r_b * (SELECT SUM(t_b) FROM m)
                      - t_b * (SELECT SUM(r_b) FROM m))) AS BIGINT) AS d_rt,
         CAST(SUM(ABS(s_b * (SELECT SUM(t_b) FROM m)
                      - t_b * (SELECT SUM(s_b) FROM m))) AS BIGINT) AS d_st
  FROM m
)
SELECT n_buckets, r_tot, t_tot, s_tot,
       CASE WHEN r_tot = 0 OR t_tot = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(d_rt AS DOUBLE) / (2 * r_tot * t_tot)
       END AS tv_raw_target,
       CASE WHEN s_tot = 0 OR t_tot = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(d_st AS DOUBLE) / (2 * s_tot * t_tot)
       END AS tv_selected_target,
       CASE WHEN r_tot = 0 OR t_tot = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(d_rt AS DOUBLE) / (2 * r_tot * t_tot)
       END
       - CASE WHEN s_tot = 0 OR t_tot = 0 THEN CAST(0 AS DOUBLE)
              ELSE CAST(d_st AS DOUBLE) / (2 * s_tot * t_tot)
         END AS shift_gain
FROM tot
"""


@register(
    "eval_dsir_target_shift",
    _DSIR_SHIFT_ORACLE,
    doc="DSIR effectiveness audit: exact total-variation distance "
    "between hashed-bucket distributions — TV(raw, target) vs "
    "TV(selected, target) with the TV reduction as shift_gain — every "
    "term an integer cross-product with one double division (see "
    "block comment); 1-row output at any sf",
    tags=("eval", "sampling", "dsir", "stats"),
)
def eval_dsir_target_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    feat = dsir_hashed_buckets(docs)
    w = dsir_weights_from_features(feat)
    sel = priority_sample(
        w, "doc_id", "dsir_weight", k=DSIR_SAMPLE_K, seed="dsir1"
    ).select("doc_id")
    raw_b = feat.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("r_b"))
    tgt_b = (
        feat.where(F.col("source").isin(*DSIR_TARGET_SOURCES))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t_b"))
    )
    sel_b = (
        feat.join(F.broadcast(sel), "doc_id")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_b"))
    )
    m = (
        raw_b.join(tgt_b, "b", "left")
        .join(sel_b, "b", "left")
        .select(
            "b",
            "r_b",
            F.coalesce("t_b", F.lit(0)).cast("bigint").alias("t_b"),
            F.coalesce("s_b", F.lit(0)).cast("bigint").alias("s_b"),
        )
    )
    tot = m.agg(
        F.sum("r_b").cast("bigint").alias("r_tot"),
        F.sum("t_b").cast("bigint").alias("t_tot"),
        F.sum("s_b").cast("bigint").alias("s_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    d = (
        m.crossJoin(F.broadcast(tot))
        .select(
            "n_buckets",
            "r_tot",
            "t_tot",
            "s_tot",
            F.abs(
                F.col("r_b") * F.col("t_tot") - F.col("t_b") * F.col("r_tot")
            ).alias("n_rt"),
            F.abs(
                F.col("s_b") * F.col("t_tot") - F.col("t_b") * F.col("s_tot")
            ).alias("n_st"),
        )
        .groupBy("n_buckets", "r_tot", "t_tot", "s_tot")
        .agg(
            F.sum("n_rt").cast("bigint").alias("d_rt"),
            F.sum("n_st").cast("bigint").alias("d_st"),
        )
    )
    # Zero-guard the TV denominators IDENTICALLY on both engines (the
    # pattern eval_langid_kappa uses for pe=1): on a corpus with no
    # documents from DSIR_TARGET_SOURCES, t_tot = 0 and an unguarded
    # division returns NULL in Spark but diverges in DuckDB — TV
    # against an empty distribution is defined here as 0.0 on both.
    tv_rt = F.when(
        (F.col("r_tot") == 0) | (F.col("t_tot") == 0), F.lit(0.0)
    ).otherwise(
        F.col("d_rt").cast("double")
        / (F.lit(2) * F.col("r_tot") * F.col("t_tot"))
    )
    tv_st = F.when(
        (F.col("s_tot") == 0) | (F.col("t_tot") == 0), F.lit(0.0)
    ).otherwise(
        F.col("d_st").cast("double")
        / (F.lit(2) * F.col("s_tot") * F.col("t_tot"))
    )
    return d.select(
        "n_buckets",
        "r_tot",
        "t_tot",
        "s_tot",
        tv_rt.alias("tv_raw_target"),
        tv_st.alias("tv_selected_target"),
        (tv_rt - tv_st).alias("shift_gain"),
    )


# ---------------------------------------------------------------------------
# CCNet-style n-gram LM quality scoring
# ---------------------------------------------------------------------------
#
# CCNet (Wenzek et al., LREC 2020) scores every document by the
# perplexity of a target-domain language model and splits the corpus
# into head/middle/tail quality terciles. Its KenLM 5-gram model is
# replaced here by the engine's hashed-unigram machinery (the DSIR
# feature space above) and the float log-probabilities by an
# INTEGER-RATIONAL surprisal proxy, so the driver can hash-certify the
# result bit-for-bit across engines:
#
# - model: token-OCCURRENCE counts c_b over the target sources, hashed
#   into LM_BUCKETS buckets (a count model, unlike DSIR's binary
#   incidence model — perplexity weights repeated tokens);
# - per-token surprisal = DIGITS of the integer quotient
#   (C + B) div (c_b + 1), i.e. length(CAST(q AS VARCHAR)) =
#   floor(log10 q) + 1 — a monotone staircase of -log10 p under
#   Laplace smoothing, computed with integer division + decimal string
#   length only. No log(), no pow(), nothing engine-divergent.
# - per-doc score = surprisal_sum / n_tokens (one double division of
#   two exact integers — identical IEEE result on both engines).
#
# Magnitude bound: q <= C + B; at 100 TB C ~ 1e13 so q has <= 14
# digits, the per-doc sum is <= 14 * n_tokens < 2^63 for any document
# that fits in memory. No scaled-sum overflow mode at any real scale.
#
# Scale shape: token explode -> broadcast join against the <=B-row
# model -> one groupBy(doc_id). Map-side combinable, no window, no
# corpus-sized shuffle beyond the doc-keyed aggregate the text ops
# already pay.

LM_BUCKETS = 256

_LM_SCORES_CTE = f"""
toks AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {LM_BUCKETS} AS b
  FROM (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE text <> ''
  ) WHERE tok <> ''
),
model AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_b FROM toks
  WHERE source IN ({_DSIR_TARGET_IN}) GROUP BY b
),
mtot AS (
  SELECT CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS c_tot FROM model
),
tok_scored AS (
  SELECT t.doc_id, t.source,
         length(CAST(((tt.c_tot + {LM_BUCKETS})
                      // (COALESCE(m.c_b, 0) + 1)) AS VARCHAR)) AS s,
         CASE WHEN m.c_b IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN model m USING (b) CROSS JOIN mtot tt
),
lm_scores AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(oov) AS BIGINT) AS n_oov,
         CAST(SUM(s) AS BIGINT) AS surprisal,
         CAST(CAST(SUM(s) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_digits
  FROM tok_scored GROUP BY 1, 2
)"""

_LM_SURPRISAL_ORACLE = f"""
WITH {_LM_SCORES_CTE}
SELECT doc_id, source, n_tokens, n_oov, surprisal, avg_digits
FROM lm_scores
"""


def lm_doc_scores(
    docs: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    n_buckets: int = LM_BUCKETS,
) -> DataFrame:
    """(doc_id, source, n_tokens, n_oov, surprisal, avg_digits): the
    CCNet-style target-LM quality score per document (block comment
    above). ``docs`` needs (doc_id, source, text)."""
    toks = (
        docs.where(F.col("text") != "")
        .select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .select(
            "doc_id",
            "source",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % n_buckets
            ).alias("b"),
        )
    )
    # lineage-truncate the ≤n_buckets-row model: it feeds both the
    # broadcast scoring join and the c_tot total, and without the
    # checkpoint the total's branch re-derives the model from the raw
    # table (measured: 3 executed scans for a 2-pass query; see
    # tools/scan_audit.py)
    model = (
        toks.where(F.col("source").isin(*target_sources))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
        .localCheckpoint(eager=False)
    )
    mtot = model.agg(
        F.coalesce(F.sum("c_b"), F.lit(0)).cast("bigint").alias("c_tot")
    )
    scored = (
        toks.join(F.broadcast(model), "b", "left")
        .crossJoin(F.broadcast(mtot))
        .select(
            "doc_id",
            "source",
            F.length(
                F.expr(
                    f"cast((c_tot + {n_buckets}) div"
                    " (coalesce(c_b, 0L) + 1) as string)"
                )
            ).alias("s"),
            F.when(F.col("c_b").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return scored.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.sum("s").cast("bigint").alias("surprisal"),
        (
            F.sum("s").cast("bigint").cast("double")
            / F.count(F.lit(1))
        ).alias("avg_digits"),
    )


@register(
    "quality_lm_surprisal",
    _LM_SURPRISAL_ORACLE,
    doc="CCNet-style LM quality score (Wenzek et al. LREC'20): every "
    "document scored by its average token surprisal under a hashed-"
    "unigram count model of the target sources — surprisal as DIGITS "
    "of the Laplace-smoothed integer quotient (an exact, log-free "
    "-log10 p staircase), so the score is hash-certifiable across "
    "engines; n_oov counts tokens in buckets the target never emits",
    tags=("text", "quality", "corpus", "lm"),
    # headline: token-stream explode + broadcast count-model is a
    # plan shape the headline set doesn't cover yet
    bench=True,
)
def quality_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return lm_doc_scores(docs)


_LM_TERCILES_ORACLE = f"""
WITH {_LM_SCORES_CTE},
bucketed AS (
  SELECT source, surprisal, n_tokens,
         CAST(NTILE(3) OVER (ORDER BY avg_digits, doc_id) AS INTEGER)
           AS tercile
  FROM lm_scores
)
SELECT source, tercile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(surprisal) AS BIGINT) AS surprisal_tot,
       CAST(SUM(n_tokens) AS BIGINT) AS token_tot,
       CAST(CAST(SUM(surprisal) AS BIGINT) AS DOUBLE)
         / CAST(SUM(n_tokens) AS BIGINT) AS avg_digits
FROM bucketed GROUP BY 1, 2
"""


@register(
    "quality_ccnet_terciles",
    _LM_TERCILES_ORACLE,
    doc="CCNet head/middle/tail split: exact global NTILE(3) of the "
    "corpus under (avg LM surprisal, doc_id) — tercile 1 = closest to "
    "the target domain — rolled up per (source, tercile) with exact "
    "integer surprisal/token totals; the per-source tercile mix is "
    "the curation signal CCNet feeds its quality filter. Uses the "
    "two-pass distributed ntile (operators/ranking.py), never a "
    "single-partition global sort",
    tags=("text", "quality", "corpus", "sampling"),
)
def quality_ccnet_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.ranking import exact_global_ntile

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # lineage-truncate the per-doc scores (one row per document) before
    # the two-pass ntile: its rank/counts/totals branches are separate
    # consumers, and without the checkpoint each re-derives the full
    # LM scoring pipeline — measured 9 parquet scans for a query that
    # needs 2 (model + token stream). Same lazy-localCheckpoint pattern
    # as pagerank / doc_clusters / source_contamination.
    scores = lm_doc_scores(docs).localCheckpoint(eager=False)
    b = exact_global_ntile(
        scores, [F.col("avg_digits"), F.col("doc_id")], 3, "tercile"
    )
    return b.groupBy("source", "tercile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("surprisal").cast("bigint").alias("surprisal_tot"),
        F.sum("n_tokens").cast("bigint").alias("token_tot"),
        (
            F.sum("surprisal").cast("bigint").cast("double")
            / F.sum("n_tokens").cast("bigint")
        ).alias("avg_digits"),
    )


# ---------------------------------------------------------------------------
# Bigram backoff surprisal
# ---------------------------------------------------------------------------
#
# The second rung of the CCNet ladder: a hashed-BIGRAM count model
# with stupid-backoff to the certified unigram staircase. A unigram
# model scores vocabulary fit; the bigram conditional p(cur|prev)
# additionally scores local fluency — the signal CCNet's real
# KenLM 5-gram carries that a unigram model cannot (word-salad built
# from in-domain vocabulary scores fluent under unigrams, disfluent
# here). All arithmetic stays in the certified log-free digit
# staircase (quality_lm_surprisal block above):
# - conditional surprisal digits = length of the Laplace-smoothed
#   integer quotient (c_prev + B) div (c_bigram + 1) — the -log10 of
#   p(cur|prev) rounded to the digit grid, exact on both engines;
# - stupid backoff (Brants et al. EMNLP'07 uses a 0.4 multiplier —
#   here ONE PENALTY DIGIT, i.e. a deterministic x10 probability
#   discount, so the score stays integer/hash-certifiable): a bigram
#   the target never emitted falls back to the unigram staircase + 1;
# - a document's FIRST token has no history: scored on the plain
#   unigram staircase, no penalty (the KenLM <s> convention, digit
#   -ized).
#
# prev-token derivation is ROW-LOCAL: the token array transforms to
# (bucket, prev_bucket) structs inside one higher-order transform()
# referencing a[i-1] — no window over the token stream, no positional
# self-join, so the only corpus-sized shuffle is the final doc-keyed
# aggregate (map-side combinable), same as the unigram path.
#
# Scale shape: bigram model <= B^2 = 65,536 rows — still broadcast
# territory (the whole point of hashing both sides); token stream
# takes three broadcast left-joins (cur-unigram, prev-unigram,
# bigram) + one broadcast total, then one groupBy(doc_id).

BIGRAM_PENALTY_DIGITS = 1

_BIGRAM_SURPRISAL_ORACLE = f"""
WITH base AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS a
  FROM documents WHERE text <> ''
),
idx AS (
  SELECT doc_id, source, a, unnest(range(1, len(a) + 1)) AS i FROM base
),
tok2 AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(a[i]), 1, 8))::BIGINT % {LM_BUCKETS} AS b,
         CASE WHEN i = 1 THEN NULL
              ELSE ('0x' || substr(md5(a[i-1]), 1, 8))::BIGINT
                   % {LM_BUCKETS} END AS bp
  FROM idx
),
umodel AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_b FROM tok2
  WHERE source IN ({_DSIR_TARGET_IN}) GROUP BY b
),
utot AS (
  SELECT CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS c_tot FROM umodel
),
bmodel AS (
  SELECT bp, b, CAST(COUNT(*) AS BIGINT) AS c_bb FROM tok2
  WHERE source IN ({_DSIR_TARGET_IN}) AND bp IS NOT NULL GROUP BY bp, b
),
scored AS (
  SELECT t.doc_id, t.source,
         CASE
           WHEN t.bp IS NULL THEN
             length(CAST(((tt.c_tot + {LM_BUCKETS})
                          // (COALESCE(u.c_b, 0) + 1)) AS VARCHAR))
           WHEN bm.c_bb IS NOT NULL THEN
             length(CAST(((COALESCE(up.c_b, 0) + {LM_BUCKETS})
                          // (bm.c_bb + 1)) AS VARCHAR))
           ELSE
             {BIGRAM_PENALTY_DIGITS}
             + length(CAST(((tt.c_tot + {LM_BUCKETS})
                            // (COALESCE(u.c_b, 0) + 1)) AS VARCHAR))
         END AS s,
         CASE WHEN u.c_b IS NULL THEN 1 ELSE 0 END AS oov,
         CASE WHEN bm.c_bb IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM tok2 t
  LEFT JOIN umodel u ON u.b = t.b
  LEFT JOIN umodel up ON up.b = t.bp
  LEFT JOIN bmodel bm ON bm.bp = t.bp AND bm.b = t.b
  CROSS JOIN utot tt
)
SELECT doc_id, source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(hit) AS BIGINT) AS n_bigram_hits,
       CAST(SUM(s) AS BIGINT) AS surprisal,
       CAST(CAST(SUM(s) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_digits
FROM scored GROUP BY 1, 2
"""


def lm_bigram_doc_scores(
    docs: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
    n_buckets: int = LM_BUCKETS,
    penalty_digits: int = BIGRAM_PENALTY_DIGITS,
) -> DataFrame:
    """(doc_id, source, n_tokens, n_oov, n_bigram_hits, surprisal,
    avg_digits): bigram-backoff LM quality score per document (block
    comment above). ``docs`` needs (doc_id, source, text)."""
    bucket = (
        lambda tok: f"cast(conv(substring(md5({tok}), 1, 8), 16, 10)"
        f" as bigint) % {n_buckets}"
    )
    toks = (
        docs.where(F.col("text") != "")
        .select(
            "doc_id",
            "source",
            F.expr("filter(split(text, ' '), x -> x <> '')").alias("a"),
        )
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(a, (x, i) -> named_struct("
                    f"'b', {bucket('x')}, "
                    "'bp', if(i = 0, cast(null as bigint), "
                    f"{bucket('a[i-1]')})))"
                )
            ).alias("t"),
        )
        .select("doc_id", "source", "t.b", "t.bp")
    )
    # both models are lineage-truncated broadcast sides (<= B and
    # <= B^2 rows): without the checkpoints the utot branch and each
    # join branch re-derive them from the raw token stream (same
    # pattern as lm_doc_scores' model checkpoint, scan-audited there)
    umodel = (
        toks.where(F.col("source").isin(*target_sources))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_b"))
        .localCheckpoint(eager=False)
    )
    utot = umodel.agg(
        F.coalesce(F.sum("c_b"), F.lit(0)).cast("bigint").alias("c_tot")
    )
    bmodel = (
        toks.where(
            F.col("source").isin(*target_sources) & F.col("bp").isNotNull()
        )
        .groupBy("bp", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_bb"))
        .localCheckpoint(eager=False)
    )
    up = umodel.select(
        F.col("b").alias("bp"), F.col("c_b").alias("c_bp")
    )
    digits_uni = F.length(
        F.expr(
            f"cast((c_tot + {n_buckets}) div (coalesce(c_b, 0L) + 1)"
            " as string)"
        )
    )
    digits_big = F.length(
        F.expr(
            f"cast((coalesce(c_bp, 0L) + {n_buckets}) div (c_bb + 1)"
            " as string)"
        )
    )
    scored = (
        toks.join(F.broadcast(umodel), "b", "left")
        .join(F.broadcast(up), "bp", "left")
        .join(F.broadcast(bmodel), ["bp", "b"], "left")
        .crossJoin(F.broadcast(utot))
        .select(
            "doc_id",
            "source",
            F.when(F.col("bp").isNull(), digits_uni)
            .when(
                F.col("c_bb").isNotNull(), digits_big
            )
            .otherwise(F.lit(penalty_digits) + digits_uni)
            .alias("s"),
            F.when(F.col("c_b").isNull(), 1).otherwise(0).alias("oov"),
            F.when(F.col("c_bb").isNotNull(), 1).otherwise(0).alias("hit"),
        )
    )
    return scored.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.sum("hit").cast("bigint").alias("n_bigram_hits"),
        F.sum("s").cast("bigint").alias("surprisal"),
        (
            F.sum("s").cast("bigint").cast("double") / F.count(F.lit(1))
        ).alias("avg_digits"),
    )


@register(
    "quality_bigram_surprisal",
    _BIGRAM_SURPRISAL_ORACLE,
    doc="Bigram-backoff LM quality score: every document scored by "
    "average conditional surprisal under a hashed-bigram count model "
    "of the target sources, stupid-backoff (one penalty digit = x10 "
    "probability discount) to the certified unigram staircase for "
    "unseen bigrams — local fluency on top of vocabulary fit, still "
    "entirely in the log-free integer-digit grid so the score is "
    "hash-certifiable; prev-token pairing is row-local (transform "
    "over the token array, no window/self-join)",
    tags=("text", "quality", "corpus", "lm"),
)
def quality_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return lm_bigram_doc_scores(docs)


# ---------------------------------------------------------------------------
# Per-source perplexity drift audit
# ---------------------------------------------------------------------------
#
# The roll-up that closes the CCNet loop: once every document carries
# an LM surprisal, the PER-SOURCE aggregate is the drift dashboard a
# corpus owner actually reads — "is crawl source X moving away from
# the target domain?" Two exact signals per source: average surprisal
# digits (vocabulary/domain fit) and OOV rate (coverage), each as one
# double division of exact BIGINT totals, plus drift_ratio = source
# avg over the TARGET sources' own pooled average (1.0 = looks like
# the target; rising = drifting). Division guards follow the r8 DSIR
# lesson: any zero denominator yields NULL, never a cross-engine
# inf/NaN coin-flip.
#
# Scale: one groupBy(source) over the doc-grain scores (map-side
# combinable, |sources| output rows), a |sources|-row checkpoint, and
# a 1-row broadcast target baseline. Nothing here grows with the
# corpus beyond the certified lm_doc_scores pass it composes.

_PERPLEXITY_DRIFT_ORACLE = f"""
WITH {_LM_SCORES_CTE},
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS token_tot,
         CAST(SUM(n_oov) AS BIGINT) AS oov_tot,
         CAST(SUM(surprisal) AS BIGINT) AS surprisal_tot
  FROM lm_scores GROUP BY source
),
target AS (
  SELECT CAST(COALESCE(SUM(token_tot), 0) AS BIGINT) AS t_tok,
         CAST(COALESCE(SUM(surprisal_tot), 0) AS BIGINT) AS t_sur
  FROM per_source WHERE source IN ({_DSIR_TARGET_IN})
)
SELECT p.source, p.n_docs, p.token_tot, p.oov_tot, p.surprisal_tot,
       CASE WHEN p.token_tot = 0 THEN NULL
            ELSE CAST(p.surprisal_tot AS DOUBLE) / p.token_tot
       END AS avg_digits,
       CASE WHEN p.token_tot = 0 THEN NULL
            ELSE CAST(p.oov_tot AS DOUBLE) / p.token_tot
       END AS oov_rate,
       CASE WHEN p.token_tot = 0 OR t.t_tok = 0 OR t.t_sur = 0 THEN NULL
            ELSE (CAST(p.surprisal_tot AS DOUBLE) / p.token_tot)
                 / (CAST(t.t_sur AS DOUBLE) / t.t_tok)
       END AS drift_ratio
FROM per_source p CROSS JOIN target t
"""


def lm_source_drift(
    docs: DataFrame,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
) -> DataFrame:
    """(source, n_docs, token_tot, oov_tot, surprisal_tot, avg_digits,
    oov_rate, drift_ratio): per-source LM drift audit (block comment
    above)."""
    per = (
        lm_doc_scores(docs, target_sources)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("token_tot"),
            F.sum("n_oov").cast("bigint").alias("oov_tot"),
            F.sum("surprisal").cast("bigint").alias("surprisal_tot"),
        )
        # |sources| rows feeding TWO consumers (target baseline + the
        # final select) — without truncation each branch re-derives
        # the whole token-explode LM pass
        .localCheckpoint(eager=False)
    )
    target = per.where(F.col("source").isin(*target_sources)).agg(
        F.coalesce(F.sum("token_tot"), F.lit(0))
        .cast("bigint")
        .alias("t_tok"),
        F.coalesce(F.sum("surprisal_tot"), F.lit(0))
        .cast("bigint")
        .alias("t_sur"),
    )
    tok_d = F.col("token_tot").cast("double")
    avg = F.col("surprisal_tot").cast("double") / tok_d
    t_avg = F.col("t_sur").cast("double") / F.col("t_tok").cast("double")
    zero = F.col("token_tot") == 0
    return per.crossJoin(F.broadcast(target)).select(
        "source", "n_docs", "token_tot", "oov_tot", "surprisal_tot",
        F.when(zero, F.lit(None).cast("double")).otherwise(avg)
        .alias("avg_digits"),
        F.when(zero, F.lit(None).cast("double"))
        .otherwise(F.col("oov_tot").cast("double") / tok_d)
        .alias("oov_rate"),
        F.when(
            zero | (F.col("t_tok") == 0) | (F.col("t_sur") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(avg / t_avg)
        .alias("drift_ratio"),
    )


@register(
    "quality_perplexity_drift",
    _PERPLEXITY_DRIFT_ORACLE,
    doc="Per-source LM drift audit: exact per-source surprisal/OOV "
    "totals from the certified unigram staircase, avg_digits + "
    "oov_rate + drift_ratio (source average over the target sources' "
    "pooled average — 1.0 = on-domain, rising = drifting); "
    "zero-guarded divisions, |sources| output rows at any corpus "
    "size — the dashboard row CCNet's quality filter is tuned from",
    tags=("text", "quality", "corpus", "lm", "dq"),
)
def quality_perplexity_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return lm_source_drift(docs)


# ---------------------------------------------------------------------------
# Source-pair unigram cosine similarity
# ---------------------------------------------------------------------------
#
# The stylometric companion to the n-gram containment contamination
# matrix: cosine similarity between per-source unigram COUNT vectors.
# Containment asks "does source A literally contain source B's
# shingles"; unigram cosine asks "do A and B draw from the same word
# distribution" — the signal used to group near-duplicate crawls /
# mirrored sources before assigning mixing weights (and the cheap
# first pass before embedding-level comparison). Related corpora score
# high here even when no passage is shared.
#
# Cross-engine exactness: dot products and norms are exact BIGINT
# sums of count products (counts bounded by corpus token counts; the
# product sum stays inside 2^63 up to ~3e9 tokens per (source, word)
# histogram cell — far beyond any per-word count at sane vocab
# sizes); cosine is one double expression over those integers, and
# IEEE-754 sqrt is correctly rounded, so both engines agree
# bit-for-bit.
#
# Scale: the histogram is the word-keyed inverted-index shuffle
# (map-side combined); the pair join is keyed by word with bounded
# fan-out |sources|^2 per word; output is |sources|^2 / 2 rows at any
# corpus size.


@register(
    "corpus_source_unigram_cosine",
    """
WITH cnt AS (
  SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents)
  GROUP BY source, w
),
norms AS (
  SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM cnt GROUP BY source
),
dots AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(a.c * b.c) AS BIGINT) AS dot
  FROM cnt a JOIN cnt b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT d.source_a, d.source_b, d.dot,
       CAST(d.dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE))
                                * SQRT(CAST(nb.n2 AS DOUBLE))) AS cosine
FROM dots d
JOIN norms na ON na.source = d.source_a
JOIN norms nb ON nb.source = d.source_b
""",
    doc="Source-pair cosine similarity over unigram count vectors — "
    "the stylometric near-mirror detector read before mixing weights; "
    "exact BIGINT dot products + correctly-rounded IEEE sqrt, "
    "|sources|^2/2 output rows at any corpus size",
    tags=("corpus", "stats", "dedup", "scale"),
)
def corpus_source_unigram_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    return source_unigram_cosine(docs)


def source_unigram_cosine(docs: DataFrame) -> DataFrame:
    """Ordered source-pair unigram-count cosine over (source, text)."""
    cnt = (
        docs.select("source", F.explode(F.split("text", r"\s+")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # NOT checkpointed: A/B'd at sf0.1 (0.99 vs 1.06 s) — the
        # histogram's aggregate exchange is already reused across the
        # norms and both dot-product branches, so truncation buys
        # nothing; the 4 textual scans are reprints
    )
    norms = cnt.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2")
    )
    a = cnt.select(
        F.col("source").alias("source_a"), "word", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("source").alias("source_b"), "word", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "word")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
    )
    na = norms.select(F.col("source").alias("source_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("source").alias("source_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "dot",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square distinctive keywords per source
# ---------------------------------------------------------------------------
#
# The classic corpus-comparison tool (Kilgarriff 2001, "Comparing
# Corpora"): for every (source, word), the 2x2 contingency chi-square
# against the rest of the corpus, keeping each source's top
# over-represented words — "what characterizes this source" read
# before mixing/reweighting decisions, and the cheap interpretable
# sibling of the unigram-cosine mirror detector.
#
# Cross-engine exactness: the contingency cells a,b,c,d are exact
# BIGINTs; a*d - b*c is computed in BIGINT (exact up to corpora of
# ~3e9 tokens — beyond that, run per shard; the 2^63 note pattern),
# cast ONCE to double, and the chi-square is a single identical double
# expression on both engines. Ranking tie-breaks on (chi2 DESC, word).
#
# Scale: one word-keyed histogram shuffle (map-side combined), two
# bounded model joins (|words|-row totals keyed by word; |sources|-row
# totals AQE-broadcast unhinted), one deliberate 1-row N broadcast,
# and a per-source top-K window — partitioned, never global.

_CHI2_MIN_COUNT = 5
_CHI2_TOP_K = 5


@register(
    "corpus_chi2_keywords",
    f"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(text, '\\s+')) AS word
  FROM documents
),
cnt AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS a
  FROM tok GROUP BY source, word
),
wtot AS (SELECT word, CAST(SUM(a) AS BIGINT) AS w_tot FROM cnt GROUP BY word),
stot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS s_tot FROM cnt GROUP BY source),
ntot AS (SELECT CAST(SUM(a) AS BIGINT) AS n_tot FROM cnt),
cells AS (
  SELECT c.source, c.word, c.a,
         w.w_tot - c.a AS b,
         s.s_tot - c.a AS c2,
         n.n_tot - w.w_tot - s.s_tot + c.a AS d
  FROM cnt c
  JOIN wtot w ON w.word = c.word
  JOIN stot s ON s.source = c.source
  CROSS JOIN ntot n
  WHERE c.a >= {_CHI2_MIN_COUNT}
),
scored AS (
  SELECT source, word, a,
         CAST(a + b + c2 + d AS DOUBLE)
           * CAST(a * d - b * c2 AS DOUBLE)
           * CAST(a * d - b * c2 AS DOUBLE)
           / (CAST(a + b AS DOUBLE) * (c2 + d) * (a + c2) * (b + d))
           AS chi2
  FROM cells
  WHERE a * d - b * c2 > 0
)
SELECT source, word, a, chi2
FROM (
  SELECT source, word, a, chi2,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi2 DESC, word) AS rk
  FROM scored
)
WHERE rk <= {_CHI2_TOP_K}
""",
    doc="Per-source distinctive keywords via 2x2 contingency chi-square "
    "vs the rest of the corpus (Kilgarriff'01 corpus comparison): "
    f"top-{_CHI2_TOP_K} over-represented words (count >= "
    f"{_CHI2_MIN_COUNT}) per source; exact BIGINT cells, one identical "
    "double chi-square expression, per-source partitioned ranking",
    tags=("corpus", "stats", "text", "quality"),
)
def corpus_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    return chi2_keywords(docs)


def chi2_keywords(
    docs: DataFrame,
    min_count: int = _CHI2_MIN_COUNT,
    top_k: int = _CHI2_TOP_K,
) -> DataFrame:
    """Top over-represented words per source by 2x2 chi-square."""
    from pyspark.sql import Window as W

    cnt = (
        docs.select("source", F.explode(F.split("text", r"\s+")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    )
    wtot = cnt.groupBy("word").agg(F.sum("a").cast("bigint").alias("w_tot"))
    stot = cnt.groupBy("source").agg(F.sum("a").cast("bigint").alias("s_tot"))
    ntot = cnt.agg(F.sum("a").cast("bigint").alias("n_tot"))
    cells = (
        cnt.where(F.col("a") >= min_count)
        .join(wtot, "word")
        .join(stot, "source")
        .crossJoin(F.broadcast(ntot))
        .select(
            "source",
            "word",
            "a",
            (F.col("w_tot") - F.col("a")).alias("b"),
            (F.col("s_tot") - F.col("a")).alias("c2"),
            (
                F.col("n_tot") - F.col("w_tot") - F.col("s_tot") + F.col("a")
            ).alias("d"),
        )
    )
    d1 = (F.col("a") * F.col("d") - F.col("b") * F.col("c2")).cast("double")
    chi2 = (
        (F.col("a") + F.col("b") + F.col("c2") + F.col("d")).cast("double")
        * d1
        * d1
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c2") + F.col("d"))
            * (F.col("a") + F.col("c2"))
            * (F.col("b") + F.col("d"))
        )
    )
    scored = cells.where(
        F.col("a") * F.col("d") - F.col("b") * F.col("c2") > 0
    ).select("source", "word", "a", chi2.alias("chi2"))
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("chi2"), "word")
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") <= top_k)
        .select("source", "word", "a", "chi2")
    )
