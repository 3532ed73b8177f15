"""Graph ranking: fixed-iteration PageRank as a pure DataFrame plan.

The reference has no graph operators; a lakehouse feeding training
pipelines wants at least the classic link-analysis primitive (seed
weighting, source-authority scoring). Implemented Spark-first: the
edge relation is a DataFrame, each PageRank iteration is a
join + aggregate, and a FIXED iteration count keeps the whole thing a
single declarative plan Catalyst can see end-to-end (the open-ended
variant — iterate to convergence with lineage truncation — is the
pattern ``dedup.doc_clusters`` already implements; this operator is
the certification-friendly fixed-step form, and its DuckDB oracle
unrolls the same three iterations as CTEs).

Graph: the bipartite part–supplier relation from lineitem (distinct
(l_partkey, l_suppkey) pairs), made symmetric so every node has both
in- and out-edges — no dangling-mass correction needed, which keeps
the per-iteration arithmetic a clean join + sum.

Cross-engine determinism: per-edge contributions ``r(u)/outdeg(u)``
are quantized to decimal(28,6) before the destination-side SUM, so
the one order-sensitive reduction per iteration is exact; teleport
and damping are fixed-shape double arithmetic mirrored verbatim in
the oracle (all literals CAST to DOUBLE there — DuckDB numeric
literals are DECIMAL-typed and decimal division has engine-specific
scale rules).

Scale: each iteration shuffles once on the join key (src) and once on
the aggregate key (dst) — the canonical distributed PageRank layout;
degree is precomputed and rides the edge relation. At real scale the
edge relation would be bucketed by src so iterations co-locate, and a
convergence loop would localCheckpoint between rounds (both patterns
already proven elsewhere in this repo: bucketed PIT join in
tests/test_scale.py, checkpointed iteration in operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.operators.ranking import global_topk
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table

_DEC = "decimal(28,6)"

DAMPING = 0.85
TELEPORT = 0.15  # 1 - DAMPING, spelled out so both engines fold the same
N_ITER = 3
TOP_K = 100


def pagerank_fixed(edges: DataFrame, n_iter: int = N_ITER) -> DataFrame:
    """PageRank over a directed edge list (src, dst) for a fixed
    number of iterations. Every node must have ≥1 outgoing edge
    (callers symmetrize; asserted nowhere — documented contract).
    Returns (node, r) with r after ``n_iter`` rounds.

    The degree-annotated edge relation is localCheckpoint-ed once:
    without it every iteration's lineage re-derives the edges from
    the raw fact (scan + distinct per round — measured 3x the total
    query cost at sf0.1); with it iterations join against the settled
    relation — the same lineage-truncation pattern
    ``operators/dedup.doc_clusters`` uses for its min-label rounds.
    ``eager=False`` (like every other call site, e.g.
    ``operators/ranking.py``'s chained passes) defers the checkpoint's
    own write to the first action. It does not make *constructing* the
    query job-free: with AQE on, building the checkpoint plans its
    child adaptively, which runs the child's shuffle map stages (here
    the ``src`` window exchange and any shuffle that derives ``edges``)
    at once. So plan-only consumers — the guardrail sweeps in
    tests/test_scale.py build every registered query — run those
    stages too.

    outdeg rides a per-src window COUNT (round 13): the old
    ``edges.groupBy(src).count()`` + ``edges.join(deg, "src")``
    evaluated the ``edges`` subtree once per join side — two full
    derivations of the distinct edge relation (plus one exchange for
    the aggregate and one per join probe side). The window computes
    the identical bigint count with ONE evaluation of ``edges`` and
    ONE exchange on src. A/B at sf0.1 (fresh JVM, idle-gated,
    interleaved best-of-3 × 3 rounds): window 3.21/3.49/3.87 s vs
    join-degree 3.71/4.22/5.08 s vs the r11 broadcast-nstats shape
    3.84/4.03/4.18 s — output hash-identical across all three."""
    from pyspark.sql import Window as _W

    # settled (src,dst,outdeg)
    ed = edges.withColumn(
        "outdeg", F.count(F.lit(1)).over(_W.partitionBy("src"))
    ).localCheckpoint(eager=False)
    nodes = ed.select(F.col("src").alias("node")).distinct()
    nstats = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nstats)).select(
        "node", "n", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(n_iter):
        # shuffle-hash instead of sort-merge: the build side is the
        # rank vector (one key + double per node — orders of magnitude
        # narrower than the edge list it joins), so hashing it skips
        # the per-iteration sort of the edge relation; measured 0.75x
        # at sf0.1, output bit-identical (the decimal contribution sum
        # is order-independent by design). If shuffle partitions are
        # sized for the edge relation, the per-partition rank build
        # fits in memory at any graph scale.
        #
        # n rides the rank rows as a COLUMN (round 12): the old shape
        # crossJoin-broadcast nstats into every iteration, and each of
        # those n_iter+1 broadcast subtrees independently re-ran the
        # distinct + count over the edge relation (no exchange reuse
        # across broadcast sides; a lazy checkpoint on nstats was
        # measured WORSE — its construction barrier serialized stages
        # that previously overlapped). Every rank row already knows n,
        # every contribution group sees only rows with the same n, so
        # max(n) per group is exactly n and nstats is evaluated ONCE
        # (the initial vector). Arithmetic is unchanged: TELEPORT/n +
        # DAMPING*s on the identical double values. Cost: one bigint
        # column riding a node-sized relation.
        contrib = (
            ranks.hint("shuffle_hash").join(ed, ranks["node"] == ed["src"])
            .select(
                F.col("dst").alias("node_next"),
                "n",
                (F.col("r") / F.col("outdeg")).cast(_DEC).alias("c"),
            )
            .groupBy("node_next")
            .agg(
                F.max("n").alias("n"),
                F.sum("c").cast("double").alias("s"),
            )
        )
        ranks = contrib.select(
            F.col("node_next").alias("node"),
            "n",
            (
                F.lit(TELEPORT) / F.col("n")
                + F.lit(DAMPING) * F.col("s")
            ).alias("r"),
        )
    return ranks.select("node", "r")


_PR_EDGE_CTE = """
ep AS (
  SELECT DISTINCT 'p:' || l_partkey AS p, 's:' || l_suppkey AS s
  FROM lineitem
),
edges AS (
  SELECT p AS src, s AS dst FROM ep
  UNION ALL
  SELECT s AS src, p AS dst FROM ep
),
deg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1
),
nstats AS (
  SELECT COUNT(*) AS n FROM deg
)
"""


def _pr_iter_cte(prev: str, curr: str) -> str:
    return f"""
{curr} AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nstats)
           + CAST(0.85 AS DOUBLE)
             * CAST(SUM(CAST(r.r / d.outdeg AS DECIMAL(28,6))) AS DOUBLE)
           AS r
  FROM {prev} r
  JOIN edges e ON e.src = r.node
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)
"""


_PR_ORACLE = (
    "WITH "
    + _PR_EDGE_CTE
    + """,
r0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nstats) AS r
  FROM deg
)"""
    + ","
    + _pr_iter_cte("r0", "r1")
    + ","
    + _pr_iter_cte("r1", "r2")
    + ","
    + _pr_iter_cte("r2", "r3")
    + f"""
SELECT rank, node, r
FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INTEGER) AS rank,
         node, r
  FROM r3
)
WHERE rank <= {TOP_K}
"""
)


@register(
    "graph_pagerank_supply",
    _PR_ORACLE,
    doc="3-iteration PageRank over the symmetrized part–supplier "
    "bipartite graph (distinct lineitem pairs): join+aggregate per "
    "round, per-edge contributions decimal-quantized so the one "
    "order-sensitive SUM per iteration is exact; oracle unrolls the "
    "same three iterations as CTEs. Top-100 by (rank DESC, node).",
    tags=("graph", "pagerank", "iterative", "join"),
    bench=True,
)
def graph_pagerank_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("p"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
    ).distinct()
    # Symmetrize with a row-local 2-element explode instead of a
    # unionAll of two selects (round 13): each union branch is its own
    # subtree, so the distinct-over-lineitem ran once per branch (and
    # the old join-degree shape doubled that again per join side).
    # The explode derives the distinct pairs exactly once; same rows.
    edges = li.select(
        F.explode(
            F.array(
                F.struct(F.col("p").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("p").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    pr = pagerank_fixed(edges)
    # distributed top-k over the node-sized rank relation
    # (TakeOrderedAndProject — operators/ranking.py)
    top = global_topk(pr, [F.col("r").desc(), "node"], TOP_K, "rank")
    return top.select(F.col("rank").cast("int").alias("rank"), "node", "r")


# ---------------------------------------------------------------------------
# Exact triangle counting: degree-oriented enumeration
# ---------------------------------------------------------------------------
#
# The second classic graph primitive after link analysis: exact
# triangle + wedge counts and the global clustering coefficient, over
# the customer co-purchase projection (customers connected when they
# bought >= TRI_MIN_W common parts; lineitem x orders, distinct
# (part, customer), per-part pair expansion, weight prune).
#
# The enumeration is the degree-ORIENTED scheme (Schank & Wagner's
# forward algorithm / MapReduce "node-iterator++"): give every vertex
# an integer position under the (degree, vertex) total order — via the
# two-pass exact rank, never a global sort — and orient each edge from
# the lower to the higher position. Every triangle then has exactly
# one vertex with two outgoing oriented edges, so it is found exactly
# once by joining the oriented edge list with itself on src and
# closing (dst1, dst2) against the same list. Orienting by DEGREE
# bounds each vertex's oriented out-degree by O(sqrt(|E|)) (arboricity
# argument), which bounds the wedge-join fan-out — the difference
# between feasible and quadratic on power-law graphs at 100 TB.
#
# Scale notes: the per-part pair expansion is C(k,2) in per-part
# customer fan-out k (bounded here; at web scale cap or sample hot
# parts first, the same hot-bucket cap dedup_minhash_lsh_capped
# proves). The synthetic corpus is UNIFORM, so the projection is
# denser than a real co-purchase graph — the weight prune and the
# orientation are exercised, the skew path is documented. No join in
# the plan is hint-broadcast; the triangle joins shuffle on integer
# vertex ids.
#
# Cross-engine exactness: every output is an integer count except the
# clustering coefficient 3T/W, one double division of exact BIGINTs —
# a single correctly-rounded operation on both engines.

TRI_MIN_W = 4

_TRI_ORACLE = f"""
WITH pc AS (
  SELECT DISTINCT l_partkey AS p, o_custkey AS c
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
),
pw AS (
  SELECT a.c AS c1, b.c AS c2, COUNT(*) AS w
  FROM pc a JOIN pc b ON a.p = b.p AND a.c < b.c
  GROUP BY 1, 2
),
e0 AS (SELECT c1, c2 FROM pw WHERE w >= {TRI_MIN_W}),
deg AS (
  SELECT v, COUNT(*) AS deg
  FROM (SELECT c1 AS v FROM e0 UNION ALL SELECT c2 AS v FROM e0)
  GROUP BY 1
),
vid AS (SELECT v, ROW_NUMBER() OVER (ORDER BY deg, v) AS vid FROM deg),
e AS (
  SELECT LEAST(v1.vid, v2.vid) AS src, GREATEST(v1.vid, v2.vid) AS dst
  FROM e0 JOIN vid v1 ON v1.v = e0.c1 JOIN vid v2 ON v2.v = e0.c2
),
tri AS (
  SELECT COUNT(*) AS t
  FROM e a
  JOIN e b ON b.src = a.src AND a.dst < b.dst
  JOIN e c ON c.src = a.dst AND c.dst = b.dst
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT agg.n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
       agg.n_wedges,
       (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
       CAST(3 * (SELECT t FROM tri) AS DOUBLE)
         / CAST(agg.n_wedges AS DOUBLE) AS clustering_coeff
FROM agg
"""


def triangle_stats(e0: DataFrame) -> DataFrame:
    """Degree-oriented exact triangle statistics over an undirected
    edge list ``e0`` = (c1, c2) with c1 < c2 and no duplicates.
    Returns one row (n_vertices, n_edges, n_wedges, n_triangles,
    clustering_coeff). See the module comment above for the
    orientation argument and scale posture."""
    from lambda_lakehouse_spark.operators.ranking import exact_global_rank

    deg = (
        e0.select(F.col("c1").alias("v"))
        .unionAll(e0.select(F.col("c2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    vid = exact_global_rank(deg, ["deg", "v"], rank_col="vid").select(
        "v", "vid"
    )
    e = (
        e0.join(vid.withColumnRenamed("v", "c1").withColumnRenamed("vid", "id1"), "c1")
        .join(vid.withColumnRenamed("v", "c2").withColumnRenamed("vid", "id2"), "c2")
        .select(
            F.least("id1", "id2").alias("src"),
            F.greatest("id1", "id2").alias("dst"),
        )
    )
    ea, eb, ec = e.alias("ea"), e.alias("eb"), e.alias("ec")
    tri = (
        ea.join(
            eb,
            (F.col("eb.src") == F.col("ea.src"))
            & (F.col("ea.dst") < F.col("eb.dst")),
        )
        .join(
            ec,
            (F.col("ec.src") == F.col("ea.dst"))
            & (F.col("ec.dst") == F.col("eb.dst")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.expr("cast(sum((deg * (deg - 1)) div 2) as bigint)").alias(
            "n_wedges"
        ),
    )
    n_edges = e0.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            F.col("t").cast("bigint").alias("n_triangles"),
            (
                (F.lit(3) * F.col("t")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("clustering_coeff"),
        )
    )


@register(
    "graph_triangle_count",
    _TRI_ORACLE,
    doc="Exact triangles/wedges/global clustering coefficient of the "
    "customer co-purchase projection via degree-oriented enumeration: "
    "two-pass exact rank assigns (degree, vertex)-ordered integer ids, "
    "edges orient low->high so each triangle is found exactly once and "
    "wedge-join fan-out is arboricity-bounded; all-integer counts plus "
    "one double division",
    tags=("graph", "triangle", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pc = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_partkey").alias("p"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    a = pc.alias("a")
    b = pc.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")),
        )
        .groupBy(
            F.col("a.c").alias("c1"), F.col("b.c").alias("c2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= TRI_MIN_W)
        .select("c1", "c2")
    )
    return triangle_stats(e0)


# ---------------------------------------------------------------------------
# Supplier-overlap link prediction
# ---------------------------------------------------------------------------
#
# Common-neighbors / Jaccard link prediction on the bipartite
# part-supplier graph: supplier pairs ranked by the Jaccard overlap of
# their part sets — "who could substitute for whom". Candidate pairs
# come from a PART-keyed self-join of the distinct edge list, the
# direction with the small fan-out (suppliers-per-part is bounded —
# ~41 at sf0.01 — while parts-per-supplier grows into the hundreds;
# joining on the low-degree side is the difference between deg^2 per
# part and deg^2 per supplier). A degree cap on the join key bounds
# the worst case the same way the DF cap bounds stop-shingles in
# ngram-jaccard: parts above the cap are excluded from the shared
# graph, and degrees are computed over that SAME capped edge set so
# the Jaccard stays well-defined on the filtered graph (documented
# trade, mirrored exactly by the oracle).

PAIR_DEG_CAP = 64
OVERLAP_TOP_K = 100


_OVERLAP_ORACLE = f"""
WITH e AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
pd AS (
  SELECT p, COUNT(*) AS dp FROM e GROUP BY 1
),
capped AS (
  SELECT e.p, e.s FROM e JOIN pd USING (p) WHERE pd.dp <= {PAIR_DEG_CAP}
),
deg AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY 1
),
pairs AS (
  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS common
  FROM capped a JOIN capped b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
),
scored AS (
  SELECT s1, s2, common,
         CAST(common AS DOUBLE) / (d1.d + d2.d - common) AS jaccard
  FROM pairs
  JOIN deg d1 ON d1.s = s1
  JOIN deg d2 ON d2.s = s2
)
SELECT rank, s1, s2, common, jaccard FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY jaccard DESC, s1, s2) AS BIGINT) AS rank,
         s1, s2, common, jaccard
  FROM scored
)
WHERE rank <= {OVERLAP_TOP_K}
"""


@register(
    "graph_supplier_overlap",
    _OVERLAP_ORACLE,
    doc="Jaccard link prediction over the bipartite part-supplier "
    f"graph: top-{OVERLAP_TOP_K} supplier pairs by part-set overlap. "
    "Pairs generate on the LOW-degree side (part-keyed self-join) "
    f"with a degree cap ({PAIR_DEG_CAP}) bounding hub fan-out — the "
    "DF-cap pattern from ngram-jaccard — and degrees computed over "
    "the same capped edge set keep the score well-defined",
    tags=("graph", "join", "similarity", "link-prediction"),
)
def graph_supplier_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    pd_ = e.groupBy("p").agg(F.count(F.lit(1)).alias("dp"))
    capped = e.join(pd_, "p").where(F.col("dp") <= PAIR_DEG_CAP).select("p", "s")
    deg = capped.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    a = capped.select("p", F.col("s").alias("s1"))
    b = capped.select("p", F.col("s").alias("s2"))
    pairs = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    scored = (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return global_topk(
        scored, [F.col("jaccard").desc(), "s1", "s2"], OVERLAP_TOP_K, "rank"
    ).select("rank", "s1", "s2", "common", "jaccard")


# ---------------------------------------------------------------------------
# k-core coreness by fixed-step h-index refinement.
#
# Coreness (the largest k such that a node survives iterated removal of
# all degree<k nodes) is the standard graph signal for "how deep in a
# dense community a node sits" — the peeling definition is inherently
# sequential, but Lü et al. (Nature Communications 2016) proved the
# h-index iteration converges to it: start from degree, repeatedly
# replace each node's value with the h-index of its neighbors' values
# (the largest h with >= h neighbors valued >= h). Each round is a
# pure join + per-node ranked window + aggregate — exactly this
# module's PageRank layout, so the same fixed-iteration certification
# form applies (open-ended convergence with checkpointed lineage is
# the dedup.doc_clusters pattern; the oracle unrolls the same
# KCORE_ITERS rounds as CTEs).
#
# Graph: supplier co-part pairs from the part-capped bipartite edge
# set (the graph_supplier_overlap projection with a tighter cap so the
# pair fan-out is bounded by KCORE_DEG_CAP^2 per part), symmetrized by
# generating both directions of each pair.
#
# Exactness: all-integer arithmetic end to end (degrees, ranks,
# least(rank, value), max) — nothing to quantize; the per-node window
# is partitioned (guardrail-clean) and ordered totally by
# (value DESC, neighbor).
#
# Scale: per round one shuffle on the neighbor join key and one on the
# node aggregate — the distributed h-index layout; the edge relation
# is checkpointed once so rounds do not re-derive the pair self-join,
# and values are lineage-truncated per round like PageRank's ranks.
# Output is the |distinct coreness| histogram — tens of rows at any
# scale.
# ---------------------------------------------------------------------------

KCORE_ITERS = 4
KCORE_DEG_CAP = 16


def kcore_coreness(edges: DataFrame, iters: int = KCORE_ITERS) -> DataFrame:
    """(u, h): the h-index refinement of degree after ``iters`` rounds
    over the symmetric distinct edge relation ``edges`` = (u, v) —
    equal to coreness once converged (monotone non-increasing toward
    it from above)."""
    from pyspark.sql import Window as W

    edges = edges.localCheckpoint(eager=False)
    vals = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("h")
    )
    for _ in range(iters):
        nb = edges.join(
            vals.select(F.col("u").alias("v"), F.col("h").alias("nh")), "v"
        ).select("u", "v", "nh")
        w = W.partitionBy("u").orderBy(F.col("nh").desc(), "v")
        vals = (
            nb.withColumn("r", F.row_number().over(w))
            .groupBy("u")
            .agg(
                F.max(F.least(F.col("r").cast("bigint"), F.col("nh")))
                .cast("bigint")
                .alias("h")
            )
            .localCheckpoint(eager=False)
        )
    return vals


def _kcore_oracle(iters: int = KCORE_ITERS, cap: int = KCORE_DEG_CAP) -> str:
    ctes = [
        "e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem)",
        "pd AS (SELECT p, COUNT(*) AS dp FROM e GROUP BY 1)",
        f"capped AS (SELECT e.p, e.s FROM e JOIN pd USING (p) WHERE pd.dp <= {cap})",
        "ed AS (SELECT DISTINCT a.s AS u, b.s AS v"
        " FROM capped a JOIN capped b ON a.p = b.p AND a.s <> b.s)",
        "h0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS h FROM ed GROUP BY 1)",
    ]
    for i in range(1, iters + 1):
        ctes += [
            f"nb{i} AS (SELECT ed.u, ed.v, p.h AS nh"
            f" FROM ed JOIN h{i - 1} p ON ed.v = p.u)",
            f"r{i} AS (SELECT u, nh, ROW_NUMBER() OVER ("
            f"PARTITION BY u ORDER BY nh DESC, v) AS r FROM nb{i})",
            f"h{i} AS (SELECT u, CAST(MAX(LEAST(CAST(r AS BIGINT), nh))"
            f" AS BIGINT) AS h FROM r{i} GROUP BY u)",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT h AS coreness, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM h{iters} GROUP BY h
"""
    )


@register(
    "graph_kcore_coreness",
    _kcore_oracle(),
    doc=f"{KCORE_ITERS}-round h-index refinement of the supplier "
    "co-part graph (Lu et al. Nature Comm'16) — an UPPER BOUND on "
    "coreness, equal once the monotone non-increasing iteration has "
    "converged (graphs with longer refinement chains need more "
    "rounds; the oracle unrolls the identical rounds, so the cert "
    "pins the refinement, not convergence) — join + "
    "partitioned-window + aggregate per round, all-integer "
    "arithmetic, checkpointed edges/values, histogram-sized output "
    "at any scale",
    tags=("graph", "iterative", "stats", "scale"),
)
def graph_kcore_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        read_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    pd_ = e.groupBy("p").agg(F.count(F.lit(1)).alias("dp"))
    capped = (
        e.join(pd_, "p").where(F.col("dp") <= KCORE_DEG_CAP).select("p", "s")
    )
    a = capped.select("p", F.col("s").alias("u"))
    b = capped.select("p", F.col("s").alias("v"))
    edges = (
        a.join(b, "p")
        .where(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return (
        kcore_coreness(edges)
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(F.col("h").alias("coreness"), "n_nodes")
    )
