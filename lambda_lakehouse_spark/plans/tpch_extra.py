"""Extended TPC-H-shape coverage on the driver's star schema.

Seven more canonical OLAP shapes (Q8/Q9/Q12/Q13/Q17/Q21/Q22) beyond
the eleven already registered, plus ADAPTED versions of the four
``partsupp``-dependent queries (Q2/Q11/Q16/Q20) — no ``partsupp``
table exists here, so those derive the part↔supplier supply relation
from ``lineitem`` history (``ps_supplycost`` ≈ min observed unit
price, ``ps_availqty`` ≈ all-time shipped quantity). The PLAN SHAPES
are faithful — decorrelated min-per-group join-back (Q2), scalar
subquery under HAVING (Q11), distinct-count with NOT-IN anti-join
(Q16), nested semi-join chain (Q20) — only the supply-side inputs are
proxied, noted per query. With these the full 22-query TPC-H suite is
covered.

Same exactness rules as ``plans/relational.py``: decimal-routed sums
(``dsum``/``davg``), explicit total orders under every top-k, column
names aliased identically in the Spark plan and the DuckDB oracle.

Scale posture per query is inline; the common theme: fact tables never
broadcast, bounded dims do, correlated subqueries are decorrelated to
one aggregation + join (never a per-row subquery), and top-k is always
``TakeOrderedAndProject``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.functions.scalar import davg, dsum
from lambda_lakehouse_spark.operators.ranking import (
    exact_global_ntile,
    exact_global_rank,
    global_topk,
    prefix_max_exclusive,
)
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# TPC-H Q8 shape — national market share within a region/product slice
# ---------------------------------------------------------------------------

_Q8_ORACLE = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_1'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN part     ON p_partkey  = l_partkey
JOIN customer ON c_custkey  = o_custkey
JOIN supplier ON s_suppkey  = l_suppkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n1.n_regionkey
WHERE r_name = 'ASIA'
  AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


@register(
    "q8_market_share",
    _Q8_ORACLE,
    doc="TPC-H Q8 shape: 7-way star join, conditional-sum market share "
    "per year (supplier-nation share of regional ECONOMY-part revenue)",
    tags=("join", "agg", "broadcast"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # part is filtered to one p_type before the join — at 100 TB the
    # filtered part side is still SF-proportional, so no hint: AQE
    # broadcasts it only while it actually fits. nation/region are
    # bounded (25/5 rows) and always broadcast.
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("c_nk") == F.col("c_nationkey"))
        .join(F.broadcast(n2), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("c_rk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0)))
                / dsum(vol)
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape — product-line profit by supplier nation and year
# ---------------------------------------------------------------------------

# Adapted: no partsupp table, so ps_supplycost is proxied by
# 0.1 × p_retailprice per unit — the plan shape (fact × part × supplier
# × orders × nation, profit expression, two-level group) is unchanged.
_Q9_ORACLE = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - 0.1 * p_retailprice * l_quantity
                     AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1, 2
"""


@register(
    "q9_product_profit",
    _Q9_ORACLE,
    doc="TPC-H Q9 shape (supply cost proxied by 0.1*p_retailprice — no "
    "partsupp table): profit rollup by supplier nation and order year",
    tags=("join", "agg"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape — priority class counts over a lateness join
# ---------------------------------------------------------------------------

# Adapted: the slim lineitem has no shipmode/commit/receipt dates, so
# the Q12 bucket is "shipped >30 days after order" and the grouping key
# is l_linestatus; the conditional-count shape is identical.
_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
"""


@register(
    "q12_priority_shipping",
    _Q12_ORACLE,
    doc="TPC-H Q12 shape (lateness = shipped >30d after order; slim "
    "schema has no shipmode): conditional counts by priority class",
    tags=("join", "agg", "conditional"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The lateness predicate references both sides, so it rides the
    # equi join on the order key as a join filter — one shuffle.
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape — customer order-count distribution
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey
                  AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@register(
    "q13_customer_distribution",
    _Q13_ORACLE,
    doc="TPC-H Q13 shape: left join with an ON-clause filter (keeps "
    "zero-order customers), two-level aggregation histogram",
    tags=("join", "agg", "outer"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The filter must live in the JOIN condition, not a WHERE — a WHERE
    # would drop the NULL-extended rows and lose the zero bucket. The
    # second agg's input is |customers| rows → the histogram shuffle is
    # tiny at any scale.
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — small-quantity revenue via correlated average
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND p_size < 15
  AND l_quantity < (
    SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(l_quantity))
    FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


@register(
    "q17_small_quantity",
    _Q17_ORACLE,
    doc="TPC-H Q17 shape (p_size<15 stands in for the absent "
    "p_container): correlated per-part average decorrelated to one "
    "aggregation + join",
    tags=("join", "agg", "subquery"),
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The correlated subquery runs ONCE as a per-part aggregate and
    # joins back on l_partkey — never per outer row. The aggregate is
    # over full lineitem (the subquery has no part filter), which is
    # exactly what the SQL semantics require.
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_cap")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("pk") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cap"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape — suppliers who kept multi-supplier orders waiting
# ---------------------------------------------------------------------------

# Adapted lateness (no commit/receipt dates): a line is late when it
# ships >60 days after the order date — same definition as q4.
_Q21_ORACLE = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
JOIN nation     ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_3'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register(
    "q21_waiting_supplier",
    _Q21_ORACLE,
    doc="TPC-H Q21 shape (late = shipped >60d after order date): the "
    "only supplier late on a multi-supplier finished order — EXISTS and "
    "NOT EXISTS decorrelated to a semi + anti join on the order key",
    tags=("join", "semi", "anti", "agg", "topk"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both correlated subqueries hit the same fact table; each becomes
    # one equi join on l_orderkey with the supplier inequality as a
    # join filter — 3 shuffles on the same key (co-partitioned under
    # AQE), no per-row probing. The final top-20 is TakeOrdered.
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_3"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late1 = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    waited = late1.join(
        l2,
        (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
        "left_semi",
    )
    l3 = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    )
    sole_late = waited.join(
        l3,
        (F.col("k3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        sole_late.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — idle high-balance customers by country code
# ---------------------------------------------------------------------------

# Adapted: no c_phone column, so the "country code" is
# c_custkey % 25 over a fixed 7-code set.
_Q22_ORACLE = """
WITH sel AS (
  SELECT c_custkey % 25 AS cntrycode, c_custkey, c_acctbal
  FROM customer
  WHERE c_custkey % 25 IN (1, 4, 9, 11, 15, 20, 23)
),
cap AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal)
           AS avg_bal
  FROM sel WHERE c_acctbal > 0.0
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS totacctbal
FROM sel, cap
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = sel.c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY cntrycode
"""


@register(
    "q22_idle_balance",
    _Q22_ORACLE,
    doc="TPC-H Q22 shape (country code = c_custkey % 25 — no phone "
    "column; idleness = no orders since 2000, since every customer has "
    "some order): high-balance idle customers, NOT EXISTS as an anti "
    "join, scalar subquery resolved control-plane (one-row collect)",
    tags=("join", "anti", "agg", "subquery"),
)
def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scalar average is resolved with a one-row control-plane
    # collect (a constant-key join constant-folds to a BroadcastNested-
    # LoopJoin, which the no-BNLJ guardrail forbids); davg is decimal-
    # exact, so the literal is bit-identical to the oracle's subquery.
    # The anti join shuffles on the customer key.
    cust = read_table(spark, sf_dir, "customer")
    sel = cust.select(
        F.pmod(F.col("c_custkey"), F.lit(25)).alias("cntrycode"),
        "c_custkey",
        "c_acctbal",
    ).where(F.pmod(F.col("c_custkey"), F.lit(25)).isin(1, 4, 9, 11, 15, 20, 23))
    avg_bal = (
        sel.where(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("avg_bal"))
        .first()
        .avg_bal
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        sel.where(F.col("c_acctbal") > F.lit(avg_bal))
        .join(orders, "c_custkey", "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Argmax family — max_by / min_by with a deterministic tie-break
# ---------------------------------------------------------------------------

# max_by/min_by tie behavior is engine-defined, so the ordering value is
# a lexicographic string key (zero-padded shifted balance || customer
# key) that is UNIQUE by construction — ties impossible, results
# deterministic on any engine. c_acctbal has 2 decimals and is
# > -1000, so round((bal+1000)*100) is an exact non-negative integer.
_ARGMAX_ORACLE = """
WITH keyed AS (
  SELECT c_mktsegment, c_name, c_acctbal,
         lpad(CAST(CAST(round((c_acctbal + 1000) * 100) AS BIGINT) AS VARCHAR), 12, '0')
           || lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS ord_key
  FROM customer
)
SELECT c_mktsegment,
       max_by(c_name, ord_key) AS richest_name,
       min_by(c_name, ord_key) AS poorest_name,
       MAX(c_acctbal) AS max_bal,
       MIN(c_acctbal) AS min_bal
FROM keyed
GROUP BY c_mktsegment
"""


@register(
    "agg_argmax_suite",
    _ARGMAX_ORACLE,
    doc="Argmax aggregates (max_by/min_by): richest/poorest customer "
    "name per segment over a unique lexicographic ordering key — "
    "tie-free by construction, so engine-defined tie behavior can't "
    "cause drift",
    tags=("agg", "argmax"),
)
def agg_argmax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    ord_key = F.concat(
        F.lpad(
            F.round((F.col("c_acctbal") + 1000) * 100).cast("bigint").cast("string"),
            12, "0",
        ),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
    )
    keyed = cust.select("c_mktsegment", "c_name", "c_acctbal", ord_key.alias("ord_key"))
    return keyed.groupBy("c_mktsegment").agg(
        F.max_by("c_name", F.col("ord_key")).alias("richest_name"),
        F.min_by("c_name", F.col("ord_key")).alias("poorest_name"),
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape (adapted) — minimum-cost supplier per part in a region
# ---------------------------------------------------------------------------

# Adapted: the supply relation is derived from lineitem history —
# supplier s "supplies" part p iff some lineitem (p, s) exists, and
# ps_supplycost is proxied by MIN(l_extendedprice / l_quantity). The
# Q2 plan shape is intact: a correlated MIN subquery decorrelated into
# a per-part aggregate joined back on (part, exact-min-cost) equality.
# The min is over an identical double set on both engines, so the
# equality join cannot drift.
_Q2_ORACLE = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem
  GROUP BY 1, 2
),
eu_supply AS (
  SELECT ps_partkey, ps_suppkey, ps_supplycost,
         s_name, s_acctbal, n_name
  FROM supply
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
min_cost AS (
  SELECT ps_partkey, MIN(ps_supplycost) AS min_supplycost
  FROM eu_supply
  GROUP BY 1
)
SELECT s_acctbal, s_name, n_name,
       p_partkey, p_brand, ps_supplycost
FROM eu_supply
JOIN min_cost ON min_cost.ps_partkey = eu_supply.ps_partkey
            AND ps_supplycost = min_supplycost
JOIN part ON p_partkey = eu_supply.ps_partkey
WHERE p_type = 'LARGE' AND p_size <= 10
"""


@register(
    "q2_min_cost_supplier",
    _Q2_ORACLE,
    doc="TPC-H Q2 shape (adapted — supply relation derived from "
    "lineitem, ps_supplycost = min unit price): correlated MIN "
    "subquery decorrelated to per-part aggregate + join-back on the "
    "exact min, region-filtered supplier side",
    tags=("join", "agg", "decorrelate"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: the supply aggregate is the one big shuffle (keyed on
    # (partkey, suppkey) — fine-grained, skew-free). The EUROPE
    # supplier slice is bounded by supplier count, and min_cost is a
    # re-aggregation of the already-reduced supply relation, not a
    # second fact scan. part is filtered before its join; AQE
    # broadcasts the filtered sides when they fit.
    li = read_table(spark, sf_dir, "lineitem")
    supply = (
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_supply = (
        supply.join(supp, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("ps_partkey", "ps_suppkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    min_cost = eu_supply.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_supplycost")
    ).withColumnRenamed("ps_partkey", "mc_partkey")
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    return (
        eu_supply.join(
            min_cost,
            (F.col("mc_partkey") == F.col("ps_partkey"))
            & (F.col("ps_supplycost") == F.col("min_supplycost")),
        )
        .join(part, F.col("p_partkey") == F.col("ps_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "ps_supplycost")
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape (adapted) — important stock: share-of-total HAVING
# ---------------------------------------------------------------------------

# Adapted: part "stock value" for one nation's suppliers is proxied by
# SUM(l_extendedprice) over that nation's lineitems. The Q11 shape —
# group per part, keep groups whose value exceeds a fixed fraction of
# the SAME aggregate computed globally (a scalar subquery under
# HAVING) — is intact. Decorrelated: the 1-row global total is
# broadcast-cross-joined, never recomputed per group.
_Q11_ORACLE = """
WITH nat_lines AS (
  SELECT l_partkey, l_extendedprice
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
),
per_part AS (
  SELECT l_partkey AS p_key,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS part_value
  FROM nat_lines
  GROUP BY 1
),
total AS (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS total_value
  FROM nat_lines
)
SELECT p_key, part_value
FROM per_part, total
WHERE part_value > 0.002 * total_value
"""


@register(
    "q11_important_stock",
    _Q11_ORACLE,
    doc="TPC-H Q11 shape (adapted — stock value proxied by national "
    "lineitem revenue): per-part aggregate filtered against a scalar "
    "global-total subquery (share-of-total HAVING), decorrelated to "
    "a broadcast 1-row cross join",
    tags=("agg", "scalar-subquery", "broadcast"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: nat_lines is computed once and feeds BOTH aggregates
    # (Spark reuses the subplan across the two branches or re-reads
    # the pruned scan — either way only (l_partkey, l_extendedprice,
    # l_suppkey) columns move). The global total is 1 row, broadcast;
    # the threshold comparison is map-side. One shuffle on l_partkey.
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    nat_lines = (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("l_partkey", "l_extendedprice")
    )
    per_part = nat_lines.groupBy(F.col("l_partkey").alias("p_key")).agg(
        dsum("l_extendedprice").alias("part_value")
    )
    total = nat_lines.agg(dsum("l_extendedprice").alias("total_value"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > 0.002 * F.col("total_value"))
        .select("p_key", "part_value")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape (adapted) — supplier count by part attribute group
# ---------------------------------------------------------------------------

# Adapted: the supply relation is DISTINCT (l_partkey, l_suppkey) from
# lineitem; the classic "complaints" NOT-IN supplier exclusion (comment
# LIKE '%Customer%Complaints%') is proxied by s_acctbal < 0. The shape
# — attribute-sliced parts × supply, minus an excluded-supplier set
# (anti-join), COUNT(DISTINCT supplier) per (brand, type, size) — is
# intact.
_Q16_ORACLE = """
WITH supply AS (
  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
  FROM lineitem
),
complaint AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM supply
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'ECONOMY'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM complaint)
GROUP BY 1, 2, 3
"""


@register(
    "q16_parts_supplier_count",
    _Q16_ORACLE,
    doc="TPC-H Q16 shape (adapted — supply relation from DISTINCT "
    "lineitem pairs, complaints proxied by negative balance): "
    "NOT-IN decorrelated to a broadcast anti-join, then "
    "COUNT(DISTINCT supplier) per (brand, type, size)",
    tags=("agg", "anti-join", "distinct"),
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: DISTINCT (part, supp) is the one fact shuffle and is also
    # the partial-agg-friendly kind (map-side combine collapses
    # repeats before the exchange). The complaint set is bounded by
    # supplier count, so AQE broadcasts the LEFT ANTI side while it
    # fits (no hint: supplier grows with SF — the guardrail forbids
    # forcing it) (NOT IN with non-nullable keys ≡ anti-join). part is filtered before joining.
    li = read_table(spark, sf_dir, "lineitem")
    supply = li.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    complaint = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    return (
        supply.join(
            complaint,
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape (adapted) — excess-inventory suppliers in a region
# ---------------------------------------------------------------------------

# Adapted: ps_availqty is proxied by the supplier's ALL-TIME shipped
# quantity of the part, compared against their 1996 shipments — the
# classic predicate availqty > 0.5 * yearly-shipped becomes
# alltime > 4 × y1996 ("holding far more history than recent flow").
# The nested semi-join chain — parts by name prefix → qualifying
# (part, supplier) pairs → DISTINCT suppliers → nation/region slice —
# is intact, decorrelated to ONE conditional aggregate (no second
# fact scan for the yearly sum).
_Q20_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS qty_alltime,
         CAST(SUM(CAST(CASE WHEN year(l_shipdate) = 1996 THEN l_quantity
                            ELSE 0 END AS DECIMAL(28,6))) AS DOUBLE) AS qty_1996
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
  GROUP BY 1, 2
),
excess AS (
  SELECT DISTINCT l_suppkey FROM ps WHERE qty_alltime > 4 * qty_1996
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT l_suppkey FROM excess)
"""


@register(
    "q20_excess_inventory",
    _Q20_ORACLE,
    doc="TPC-H Q20 shape (adapted — availqty proxied by all-time "
    "shipped quantity vs 4x the 1996 flow): nested IN-subquery chain "
    "decorrelated to one conditional aggregate + DISTINCT semi-join "
    "into the region-sliced supplier dim",
    tags=("join", "semi-join", "decorrelate"),
)
def q20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale: the name-prefix part filter prunes the fact join before
    # the (part, supp) aggregate — one shuffle, map-side combined.
    # Both the yearly and all-time sums come from the SAME aggregate
    # via conditional sum (classic Q20 runs a second correlated scan).
    # The qualifying-supplier set is bounded by supplier count; the
    # LEFT SEMI into the dim side is unhinted — supplier grows with
    # SF, so AQE decides broadcast vs shuffle at runtime.
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    ps = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            dsum("l_quantity").alias("qty_alltime"),
            dsum(
                F.when(F.year("l_shipdate") == 1996, F.col("l_quantity")).otherwise(
                    F.lit(0.0)
                )
            ).alias("qty_1996"),
        )
    )
    excess = (
        ps.where(F.col("qty_alltime") > 4 * F.col("qty_1996"))
        .select("l_suppkey")
        .distinct()
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(
            excess,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier (beyond TPC-H: multi-criteria dominance)
# ---------------------------------------------------------------------------
#
# Parts on the (cheap price, large size) Pareto frontier: p survives
# unless some q has price <= p's AND size >= p's with at least one
# strict. The textbook formulation is a quadratic NOT EXISTS self-join
# (the oracle below — fine for DuckDB at test scale, catastrophic at
# 100 TB). The engine plan is the O(n log n) sort+prefix-max
# decomposition instead: collapse to one row per distinct price level
# (max size at that price), take the running max of size over all
# STRICTLY cheaper levels, and keep rows whose size beats that prefix
# max and equals their own level's max. No self-join anywhere.
#
# Scale: the level table is |distinct prices| — usually orders smaller
# than the fact, but still data-sized, so the prefix max runs as the
# distributed prefix-scan decomposition (operators/ranking.py
# prefix_max_exclusive): range-partitioned local prefix maxima merged
# with broadcast per-partition boundary maxima — no single-partition
# ordered scan anywhere.

_SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@register(
    "skyline_pareto_parts",
    _SKYLINE_ORACLE,
    doc="2-D skyline (Pareto frontier on cheap-price x large-size): "
    "the quadratic NOT-EXISTS dominance check decomposed into one "
    "per-price-level aggregate + a prefix-max window — O(n log n), "
    "no self-join; oracle keeps the NOT EXISTS form",
    tags=("skyline", "window", "dominance"),
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    levels = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("_mx"))
    # distributed prefix max over the price levels (range-partitioned,
    # never a single-partition sort — see operators/ranking.py)
    levels = prefix_max_exclusive(levels, ["p_retailprice"], "_mx", "_prev_mx")
    return (
        parts.join(levels, "p_retailprice")
        .where(
            (F.col("_prev_mx").isNull() | (F.col("_prev_mx") < F.col("p_size")))
            & (F.col("_mx") == F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 2
_BASKET_TOP_K = 100

_BASKET_ORACLE = f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM b
),
ic AS (
  SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS p1, b2.l_partkey AS p2, COUNT(*) AS c_xy
  FROM b a
  JOIN b b2 ON a.l_orderkey = b2.l_orderkey
           AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
),
scored AS (
  SELECT p.p1, p.p2, p.c_xy,
         (CAST(p.c_xy AS DOUBLE) * n.n_baskets)
           / (CAST(i1.c AS DOUBLE) * i2.c) AS lift,
         CAST(p.c_xy AS DOUBLE) / i1.c AS conf_1_to_2,
         CAST(p.c_xy AS DOUBLE) / i2.c AS conf_2_to_1
  FROM pairs p
  JOIN ic i1 ON i1.l_partkey = p.p1
  JOIN ic i2 ON i2.l_partkey = p.p2
  CROSS JOIN n
)
SELECT rank, p1, p2, c_xy, lift, conf_1_to_2, conf_2_to_1
FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, p1, p2) AS INTEGER)
           AS rank, *
  FROM scored
)
WHERE rank <= {_BASKET_TOP_K}
"""


@register(
    "basket_association_rules",
    _BASKET_ORACLE,
    doc="Market-basket pair mining over order baskets: per-order "
    "self-join (fan-out bounded by basket size, never corpus-wide), "
    "min-support prune BEFORE the item-frequency joins, rational "
    "lift/confidence (no log), top-k by lift. The a-priori candidate "
    "step of association-rule mining as one declarative plan.",
    tags=("basket", "association", "join", "topk"),
    bench=True,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the distinct basket relation feeds four consumers (basket count,
    # item counts, both sides of the pair self-join) — lazy-checkpoint
    # so the distinct computes once (chained-call note, ranking.py);
    # item counts likewise feed both association directions
    b = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = b.agg(F.count_distinct("l_orderkey").alias("n_baskets"))
    ic = b.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    b2 = b.select(
        F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        b.join(
            b2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= _BASKET_MIN_SUPPORT)
    )
    scored = (
        pairs.join(
            ic.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1")),
            "p1",
        )
        .join(
            ic.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2")),
            "p2",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "c_xy",
            (
                (F.col("c_xy").cast("double") * F.col("n_baskets"))
                / (F.col("c1").cast("double") * F.col("c2"))
            ).alias("lift"),
            (F.col("c_xy").cast("double") / F.col("c1")).alias("conf_1_to_2"),
            (F.col("c_xy").cast("double") / F.col("c2")).alias("conf_2_to_1"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), never a global sort of
    # the full pair relation — see operators/ranking.py
    top = global_topk(
        scored, [F.col("lift").desc(), "p1", "p2"], _BASKET_TOP_K, "rank"
    )
    return top.select(F.col("rank").cast("int").alias("rank"), "p1", "p2",
                      "c_xy", "lift", "conf_1_to_2", "conf_2_to_1")


# ---------------------------------------------------------------------------
# 2-D grid-bucketed proximity self-join
# ---------------------------------------------------------------------------
#
# The spatial-join pattern generalized from operators/temporal.py's
# 1-D band join: pairs of parts within BOTH a size tolerance and a
# price tolerance. A bare conjunction of two non-equi predicates plans
# as a nested-loop self-join (quadratic); the scale formulation
# buckets each dimension by its tolerance, explodes the LEFT side into
# the 3x3 neighborhood of its home cell, keeps the RIGHT side in its
# single home cell, equi-joins on the cell id, and applies the exact
# band predicates as a post-filter. Any qualifying pair differs by at
# most one bucket per dimension, and the right side living in exactly
# one cell means no pair can match twice — no dedup pass. Candidate
# count is bounded by per-cell density (the data's local crowding),
# not by table size.

_GRID_SIZE_TOL = 1        # |size delta| bound; also the size bucket width
_GRID_PRICE_TOL = 2.0     # |price delta| bound; also the price bucket width

_GRID_ORACLE = f"""
SELECT a.p_partkey AS p1, b.p_partkey AS p2,
       abs(a.p_size - b.p_size) AS dsize,
       abs(a.p_retailprice - b.p_retailprice) AS dprice
FROM part a
JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(a.p_size - b.p_size) <= {_GRID_SIZE_TOL}
 AND abs(a.p_retailprice - b.p_retailprice) <= {_GRID_PRICE_TOL}
"""


@register(
    "grid_join_similar_parts",
    _GRID_ORACLE,
    doc="2-D proximity self-join via tolerance-width grid cells: left "
    "explodes to its 3x3 cell neighborhood, right stays in its home "
    "cell, equi-join on cell id + exact band post-filter — the "
    "spatial-join shape that replaces a quadratic nested loop with "
    "per-cell-density-bounded candidates (oracle is the brute force)",
    tags=("join", "grid", "band", "spatial"),
)
def grid_join_similar_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    sb = F.expr(f"p_size div {_GRID_SIZE_TOL}")
    pb = F.expr(
        f"cast(floor(p_retailprice / {_GRID_PRICE_TOL}) as bigint)"
    )
    left = (
        part.withColumn("_sb", F.explode(F.array(sb - 1, sb, sb + 1)))
        .withColumn("_pb", F.explode(F.array(pb - 1, pb, pb + 1)))
        .select(
            F.col("p_partkey").alias("p1"),
            F.col("p_size").alias("s1"),
            F.col("p_retailprice").alias("r1"),
            "_sb", "_pb",
        )
    )
    right = part.select(
        F.col("p_partkey").alias("p2"),
        F.col("p_size").alias("s2"),
        F.col("p_retailprice").alias("r2"),
        sb.alias("_sb"),
        pb.alias("_pb"),
    )
    return (
        left.join(right, ["_sb", "_pb"])
        .where(
            (F.col("p1") < F.col("p2"))
            & (F.abs(F.col("s1") - F.col("s2")) <= _GRID_SIZE_TOL)
            & (F.abs(F.col("r1") - F.col("r2")) <= _GRID_PRICE_TOL)
        )
        .select(
            "p1",
            "p2",
            F.abs(F.col("s1") - F.col("s2")).alias("dsize"),
            F.abs(F.col("r1") - F.col("r2")).alias("dprice"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH rfm AS (
  SELECT o_custkey AS c_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
           AS monetary
  FROM orders
  GROUP BY 1
),
scored AS (
  SELECT c_custkey, last_order, frequency, monetary,
         CAST(NTILE(5) OVER (ORDER BY last_order DESC, c_custkey)
              AS INTEGER) AS r_score,
         CAST(NTILE(5) OVER (ORDER BY frequency DESC, c_custkey)
              AS INTEGER) AS f_score,
         CAST(NTILE(5) OVER (ORDER BY monetary DESC, c_custkey)
              AS INTEGER) AS m_score
  FROM rfm
)
SELECT c_custkey, last_order, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2
              THEN 'champion'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk'
            WHEN r_score >= 4 AND f_score >= 4 THEN 'lost'
            ELSE 'regular' END AS segment
FROM scored
"""


@register(
    "rfm_customer_segments",
    _RFM_ORACLE,
    doc="RFM segmentation: one aggregate over orders (decimal-routed "
    "monetary sum), three exact NTILE(5) quintiles with explicit "
    "(metric DESC, key) total orders so bucket boundaries are "
    "deterministic on any engine, and a rule-based segment label. "
    "Quintiles use the two-pass range-partitioned exact rank "
    "(operators/ranking.py) + the integer ntile formula — identical "
    "buckets to a global-sort NTILE with no single-partition sort of "
    "the customer-sized aggregate.",
    tags=("agg", "window", "ntile", "segmentation"),
    bench=True,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    rfm = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    # exact NTILE(5) per metric via the two-pass range-partitioned rank
    # (operators/ranking.py) — identical buckets to a global-sort
    # NTILE, but the customer-sized relation is never single-sorted.
    # Lazy checkpoints between the three chained passes stop the
    # two-branch lineage of each pass from compounding (without them
    # the base aggregate re-evaluates ~8x — 27 parquet scans; with
    # them, once per pass: 2.43s -> 1.42s at sf0.1, identical output).
    rfm = rfm.localCheckpoint(eager=False)
    scored = exact_global_ntile(
        rfm, [F.col("last_order").desc(), "c_custkey"], 5, "r_score"
    ).localCheckpoint(eager=False)
    scored = exact_global_ntile(
        scored, [F.col("frequency").desc(), "c_custkey"], 5, "f_score"
    ).localCheckpoint(eager=False)
    scored = exact_global_ntile(
        scored, [F.col("monetary").desc(), "c_custkey"], 5, "m_score"
    )
    scored = scored.select(
        "c_custkey", "last_order", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )
    segment = (
        F.when(
            (F.col("r_score") == 1)
            & (F.col("f_score") <= 2)
            & (F.col("m_score") <= 2),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "lost")
        .otherwise("regular")
    )
    return scored.withColumn("segment", segment)


# ---------------------------------------------------------------------------
# Sweep-line interval counting
# ---------------------------------------------------------------------------
#
# "How many orders were open on each day?" — the interval-stabbing
# aggregate. The naive plan joins a date spine against the interval
# table (spine × intervals candidate pairs); the sweep-line
# formulation emits +1 at each interval's start and -1 the day after
# its end, aggregates deltas per day, and takes a running sum over
# the (bounded, one-row-per-active-day) delta relation — O(intervals)
# shuffled once on the date key, never a spine×intervals join. The
# running sum is the range-partitioned prefix-sum decomposition
# (operators/ranking.py), so the |distinct days| relation is never
# moved to a single partition either.
#
# An order's open interval: o_orderdate .. max(l_shipdate) of its
# line items (orders with no line items never open).

_BACKLOG_ORACLE = """
WITH iv AS (
  SELECT o.o_orderkey, o.o_orderdate AS start_day,
         MAX(l.l_shipdate) AS end_day
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
deltas AS (
  SELECT start_day AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT end_day + INTERVAL 1 DAY AS day, -1 AS delta FROM iv
),
per_day AS (
  SELECT CAST(day AS DATE) AS day, SUM(delta) AS delta FROM deltas GROUP BY 1
)
SELECT day,
       CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS open_orders
FROM per_day
"""


@register(
    "interval_open_orders_sweep",
    _BACKLOG_ORACLE,
    doc="Sweep-line interval counting: open-order backlog per day via "
    "+1/-1 boundary deltas + one running sum over the per-day delta "
    "relation — O(intervals) with no date-spine×interval join; the "
    "running sum uses the distributed prefix-sum decomposition, so "
    "even the spine-sized relation never single-partitions",
    tags=("interval", "sweep", "window", "agg"),
)
def interval_open_orders_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    iv = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_day"))
    )
    deltas = iv.select(
        F.to_date("o_orderdate").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            F.date_add(F.to_date("end_day"), 1).alias("day"),
            F.lit(-1).alias("delta"),
        )
    )
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    # running sum via the distributed prefix-sum decomposition — the
    # delta relation is spine-sized, but even that no longer funnels
    # through one task (operators/ranking.py)
    from lambda_lakehouse_spark.operators.ranking import (
        prefix_sums_inclusive,
    )

    return prefix_sums_inclusive(
        per_day, ["day"], ["delta"], ["open_orders"]
    ).select("day", F.col("open_orders").cast("bigint").alias("open_orders"))


# ---------------------------------------------------------------------------
# Seasonal index decomposition
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH monthly AS (
  SELECT CAST(month(o_orderdate) AS INTEGER) AS month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
  FROM orders
  GROUP BY 1
),
base AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
           / COUNT(DISTINCT month(o_orderdate)) AS mean_monthly_revenue
  FROM orders
)
SELECT m.month, m.n_orders, m.revenue,
       m.revenue / b.mean_monthly_revenue AS seasonal_index
FROM monthly m CROSS JOIN base b
"""


@register(
    "seasonal_index_monthly",
    _SEASONAL_ORACLE,
    doc="Classical multiplicative seasonal index: month-of-year "
    "revenue over the mean monthly revenue — decimal-routed sums, one "
    "division, 12 output rows at any scale; the 1-row base aggregate "
    "broadcasts",
    tags=("agg", "timeseries", "seasonal"),
)
def seasonal_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    monthly = orders.groupBy(
        F.month("o_orderdate").cast("int").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )
    base = orders.agg(
        (
            dsum("o_totalprice")
            / F.count_distinct(F.month("o_orderdate"))
        ).alias("mean_monthly_revenue")
    )
    return monthly.crossJoin(F.broadcast(base)).select(
        "month",
        "n_orders",
        "revenue",
        (F.col("revenue") / F.col("mean_monthly_revenue")).alias(
            "seasonal_index"
        ),
    )


# ---------------------------------------------------------------------------
# Market-concentration index
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
           AS supp_rev
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
),
tot AS (
  SELECT nationkey,
         CAST(SUM(CAST(supp_rev AS DECIMAL(28,6))) AS DOUBLE) AS nation_rev,
         COUNT(*) AS n_suppliers
  FROM rev GROUP BY 1
)
SELECT r.nationkey, t.n_suppliers, t.nation_rev,
       CAST(SUM(CAST((r.supp_rev / t.nation_rev)
                     * (r.supp_rev / t.nation_rev)
                     AS DECIMAL(28,6))) AS DOUBLE) AS hhi
FROM rev r JOIN tot t USING (nationkey)
GROUP BY r.nationkey, t.n_suppliers, t.nation_rev
"""


@register(
    "market_concentration_hhi",
    _HHI_ORACLE,
    doc="Herfindahl–Hirschman concentration per nation: supplier "
    "revenue shares squared and exactly summed (decimal-quantized) — "
    "two decimal-routed aggregates + one share computation, monopoly "
    "markets score 1.0; the antitrust-grade concentration metric as "
    "a certified plan",
    tags=("agg", "economics", "share"),
)
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(dsum("l_extendedprice").alias("supp_rev"))
    )
    tot = rev.groupBy("nationkey").agg(
        dsum("supp_rev").alias("nation_rev"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    share = F.col("supp_rev") / F.col("nation_rev")
    return (
        rev.join(tot, "nationkey")
        .groupBy("nationkey", "n_suppliers", "nation_rev")
        .agg(
            F.sum((share * share).cast("decimal(28,6)"))
            .cast("double")
            .alias("hhi")
        )
        .select("nationkey", "n_suppliers", "nation_rev", "hhi")
    )


# ---------------------------------------------------------------------------
# Gini coefficient
# ---------------------------------------------------------------------------
#
# Inequality of customer spend via the rank formula
#   G = 2 * Σ(i * y_i) / (n * Σ y_i) - (n + 1) / n
# over ascending-sorted per-customer totals — entirely rational
# arithmetic: ranks are integers, spend totals stay DECIMAL end to
# end, and the one order-sensitive reduction (Σ i*y_i) is an exact
# integer-scaled decimal product-sum (never a double->decimal cast,
# whose rounding is engine-specific). Companion to the HHI query
# (concentration measures the top; Gini the whole curve).
#
# Scale: per-customer totals reduce the fact N:1 first; the exact
# rank comes from the two-pass range-partitioned decomposition in
# operators/ranking.py, so the customer-sized relation is range-
# sharded and locally ranked — never moved to one partition.

_GINI_ORACLE = """
WITH y AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(20,6))
           AS spend_dec
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT spend_dec,
         ROW_NUMBER() OVER (ORDER BY spend_dec, o_custkey) AS i,
         COUNT(*) OVER () AS n
  FROM y
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(CAST(SUM(spend_dec) AS VARCHAR) AS DOUBLE) AS total_spend,
       2.0 * CAST(CAST(SUM(CAST(i AS DECIMAL(18,0)) * spend_dec)
                       AS VARCHAR) AS DOUBLE)
         / (MAX(n) * CAST(CAST(SUM(spend_dec) AS VARCHAR) AS DOUBLE))
         - (CAST(MAX(n) AS DOUBLE) + 1.0) / MAX(n) AS gini
FROM ranked
"""


@register(
    "customer_spend_gini",
    _GINI_ORACLE,
    doc="Gini coefficient of per-customer spend by the rank formula — "
    "integer ranks, decimal-routed sums, exact decimal rank-weighted "
    "product-sum: fully rational, hash-certifiable "
    "inequality measurement; fact reduces N:1, then ranks come from "
    "the two-pass range-partitioned exact rank (no global sort)",
    tags=("agg", "window", "economics", "gini"),
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spend stays DECIMAL end-to-end: a double spend would force a
    # double->decimal cast of the i*spend product, and Spark rounds
    # that cast via the double's shortest decimal repr while DuckDB
    # rounds the exact binary value — they disagree in the 6th decimal
    # on some rows (caught by the sf0.01 driver simulation). With
    # i:DECIMAL(18,0) * spend:DECIMAL(20,6) the product is exact
    # DECIMAL(38,6) on both engines and the sums match bit-for-bit.
    y = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("decimal(20,6)")
            .alias("spend_dec")
        )
    )
    # exact global rank i via the two-pass range-partitioned rank
    # (operators/ranking.py) — no customer-sized single-partition sort;
    # n falls out of the final one-row aggregate as a plain count
    ranked = exact_global_rank(y, ["spend_dec", "o_custkey"], rank_col="i")
    # decimal -> STRING -> double: a scaled decimal whose integer form
    # exceeds 2^53 is double-rounded by DuckDB's direct decimal->double
    # cast (int128 -> double, then /10^scale), off the correctly-rounded
    # value by 1 ulp; both engines parse the exact decimal STRING
    # correctly rounded, so the string hop makes the conversion
    # bit-identical at any magnitude.
    s_y = F.sum(F.col("spend_dec")).cast("string").cast("double")
    s_iy = (
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("spend_dec"))
        .cast("string")
        .cast("double")
    )
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("bigint").alias("n_customers"),
        s_y.alias("total_spend"),
        (
            F.lit(2.0) * s_iy / (n * s_y)
            - (n.cast("double") + F.lit(1.0)) / n
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Global percent_rank / cume_dist without a global sort
# ---------------------------------------------------------------------------
#
# The remaining ANSI ranking functions at GLOBAL scope: percent_rank =
# (rank-1)/(N-1) and cume_dist = peers_through_row/N. An unpartitioned
# PERCENT_RANK() OVER (ORDER BY ...) single-tasks the relation; here
# both fall out of the two-pass exact rank (operators/ranking.py) plus
# a 1-row count broadcast. Ties: the order carries a unique key, so
# row_number == rank == dense position and cume_dist's peer group is
# the single row — the oracle mirrors the same total order, making the
# outputs well-defined doubles with identical division trees.

_PCTRANK_ORACLE = """
WITH y AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS spend
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT o_custkey, spend,
         ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS rk,
         COUNT(*) OVER () AS n
  FROM y
)
SELECT o_custkey, spend,
       CASE WHEN n > 1
            THEN CAST(rk - 1 AS DOUBLE) / (n - 1)
            ELSE 0.0 END AS pct_rank,
       CAST(rk AS DOUBLE) / n AS cume_dist
FROM ranked
"""


@register(
    "window_global_pctrank",
    _PCTRANK_ORACLE,
    doc="Global percent_rank + cume_dist of per-customer spend under a "
    "(spend, custkey) total order — exact two-pass distributed rank + "
    "1-row count broadcast instead of an unpartitioned ranking window; "
    "identical division trees on both engines",
    tags=("window", "rank", "percentile"),
)
def window_global_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    y = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .groupBy("o_custkey")
        .agg(dsum("o_totalprice").alias("spend"))
    )
    ranked = exact_global_rank(y, ["spend", "o_custkey"], rank_col="rk")
    n = y.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "o_custkey",
            "spend",
            # n=1 guard: 0/0 is NaN in Spark but NULL-vs-Inf territory
            # in DuckDB (engines disagree on double division by zero —
            # see curation_pipeline's note); ANSI percent_rank of a
            # single row is 0, mirrored by the oracle's CASE.
            F.when(
                F.col("n") > 1,
                (F.col("rk") - 1).cast("double") / (F.col("n") - 1),
            )
            .otherwise(F.lit(0.0))
            .alias("pct_rank"),
            (F.col("rk").cast("double") / F.col("n")).alias("cume_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Exact interpolated global percentiles without a global sort
# ---------------------------------------------------------------------------
#
# PERCENTILE_CONT(p) WITHIN GROUP (ORDER BY ...) at GLOBAL scope is the
# canonical order statistic: position pos = (n-1)*p, linear
# interpolation between the two bracketing values. A naive plan sorts
# the whole relation (or windows it unpartitioned); here the two
# bracketing ranks are picked out of the two-pass range-partitioned
# exact rank (operators/ranking.py) via a broadcast 2*|p|-row rank
# spec — the relation is range-sharded and locally ranked, never
# single-partitioned. Determinism: all interpolation arithmetic is
# IEEE double with an identical expression tree on both engines
# (value = v_lo + frac * (v_hi - v_lo); frac = pos - floor(pos)); the
# bracketing VALUES are selected, not aggregated, so no sum-ordering
# concern exists.

_PCTL_PS = (0.25, 0.5, 0.75, 0.9, 0.99)

_PCTL_ORACLE = f"""
WITH v AS (
  SELECT o_totalprice AS price, o_orderkey AS k FROM orders
),
n AS (SELECT COUNT(*) AS n FROM v),
spec AS (
  SELECT CAST(pct AS DOUBLE) AS pct,
         CAST(n - 1 AS DOUBLE) * CAST(pct AS DOUBLE) AS pos
  FROM n, (SELECT UNNEST([{", ".join(str(p) for p in _PCTL_PS)}]) AS pct)
),
spec2 AS (
  SELECT pct,
         CAST(FLOOR(pos) AS BIGINT) + 1 AS lo_rk,
         CAST(CEIL(pos)  AS BIGINT) + 1 AS hi_rk,
         pos - CAST(FLOOR(pos) AS DOUBLE) AS frac
  FROM spec
),
melt AS (
  SELECT pct, frac, lo_rk AS rk, 'lo' AS which FROM spec2
  UNION ALL
  SELECT pct, frac, hi_rk AS rk, 'hi' AS which FROM spec2
),
ranked AS (
  SELECT price, ROW_NUMBER() OVER (ORDER BY price, k) AS rk FROM v
),
picked AS (
  SELECT m.pct, m.frac,
         MAX(CASE WHEN m.which = 'lo' THEN r.price END) AS v_lo,
         MAX(CASE WHEN m.which = 'hi' THEN r.price END) AS v_hi
  FROM melt m JOIN ranked r ON r.rk = m.rk
  GROUP BY m.pct, m.frac
)
SELECT pct, v_lo + frac * (v_hi - v_lo) AS value
FROM picked
"""


@register(
    "agg_percentile_cont_global",
    _PCTL_ORACLE,
    doc="Exact PERCENTILE_CONT at global scope (p25/p50/p75/p90/p99 of "
    "order totalprice) — two-pass range-partitioned exact rank plus a "
    "broadcast 2x|p|-row bracketing-rank spec instead of a global "
    "sort; interpolation arithmetic has an identical IEEE expression "
    "tree on both engines",
    tags=("agg", "percentile", "order-statistics"),
)
def agg_percentile_cont_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = read_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("price"), F.col("o_orderkey").alias("k")
    )
    n_df = v.agg(F.count(F.lit(1)).alias("n"))
    spec = (
        n_df.select(
            F.explode(
                F.array(*[F.lit(float(p)) for p in _PCTL_PS])
            ).alias("pct"),
            "n",
        )
        .withColumn("pos", (F.col("n") - 1).cast("double") * F.col("pct"))
        .withColumn("lo_rk", F.expr("cast(floor(pos) as bigint) + 1"))
        .withColumn("hi_rk", F.expr("cast(ceil(pos) as bigint) + 1"))
        .withColumn("frac", F.col("pos") - F.expr("cast(floor(pos) as double)"))
    )
    melt = spec.selectExpr(
        "pct", "frac", "stack(2, 'lo', lo_rk, 'hi', hi_rk) as (which, rk)"
    )
    ranked = exact_global_rank(v, ["price", "k"], rank_col="rk")
    picked = (
        ranked.join(F.broadcast(melt), "rk")
        .groupBy("pct", "frac")
        .agg(
            F.max(F.when(F.col("which") == "lo", F.col("price"))).alias("v_lo"),
            F.max(F.when(F.col("which") == "hi", F.col("price"))).alias("v_hi"),
        )
    )
    return picked.select(
        "pct",
        (F.col("v_lo") + F.col("frac") * (F.col("v_hi") - F.col("v_lo"))).alias(
            "value"
        ),
    )
