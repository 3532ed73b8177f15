"""Extended relational surface — operators the reference lacks but a
complete engine needs (SURVEY §2.3 'not present' list + §2.4/§2.6):
semi/anti joins, intersect/except, rollup & cube, exact + approximate
distinct counting, pivot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.functions.scalar import dsum
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import local_rows, read_table


_SEMI_ANTI_ORACLE = """
SELECT c_custkey, c_name, 'has_urgent_order' AS cohort
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
UNION ALL
SELECT c_custkey, c_name, 'no_orders_at_all' AS cohort
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@register(
    "join_semi_anti",
    _SEMI_ANTI_ORACLE,
    doc="Left-semi (EXISTS) and left-anti (NOT EXISTS) joins — beyond the "
    "reference's join census (§2.3 notes neither exists there)",
    tags=("join", "semi", "anti"),
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name", F.lit("has_urgent_order").alias("cohort"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.lit("no_orders_at_all").alias("cohort"))
    )
    return semi.unionByName(anti)


_SETOP_ORACLE = """
SELECT c_nationkey AS nationkey, 'both_segments' AS tag FROM (
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
)
UNION ALL
SELECT c_nationkey, 'building_only' FROM (
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
)
"""


@register(
    "setops_intersect_except",
    _SETOP_ORACLE,
    doc="INTERSECT / EXCEPT set operations (§2.6: absent in the reference)",
    tags=("setop",),
)
def setops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    machinery = cust.where(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    both = building.intersect(machinery).select(
        F.col("c_nationkey").alias("nationkey"), F.lit("both_segments").alias("tag")
    )
    only = building.subtract(machinery).select(
        F.col("c_nationkey").alias("nationkey"), F.lit("building_only").alias("tag")
    )
    return both.unionByName(only)


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register(
    "agg_rollup",
    _ROLLUP_ORACLE,
    doc="ROLLUP hierarchy totals with GROUPING() markers (§2.4: grouping "
    "sets absent in the reference; free in Catalyst)",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "n", "g_flag", "g_status"
        )
    )


_DISTINCT_ORACLE = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


@register(
    "agg_count_distinct",
    _DISTINCT_ORACLE,
    doc="Exact multi-column COUNT(DISTINCT) per group (expand + two-phase "
    "agg under the hood); approx_count_distinct is the sketch variant "
    "(tested rows-only in pytest — not hash-comparable across engines)",
    tags=("agg", "distinct"),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("n_days"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_PIVOT_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register(
    "pivot_status_by_segment",
    _PIVOT_ORACLE,
    doc="Pivot (orderstatus → columns) over a join — §2.6 extension; "
    "fixed pivot values keep the schema static for the planner",
    tags=("pivot", "agg", "join"),
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "q6_selective_filter",
    _Q6_ORACLE,
    doc="TPC-H Q6 shape: highly-selective conjunctive filter → global agg. "
    "Pushdown showcase — all four predicates reach the parquet scan "
    "(PushedFilters), scan reads 4 columns, shuffle carries one row",
    tags=("agg", "filter", "pushdown"),
)
def q6_selective_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register(
    "agg_cube",
    _CUBE_ORACLE,
    doc="CUBE over (status, priority) — all 4 grouping-set combinations in "
    "one pass (Catalyst expands to Expand + single hash agg)",
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            dsum("o_totalprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "sum_price", "n",
            "g_status", "g_priority",
        )
    )


_HAVING_ORACLE = """
SELECT p_brand,
       COUNT(*) AS n_parts,
       COUNT(*) FILTER (WHERE p_size > 25) AS n_large,
       CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%' THEN p_retailprice ELSE 0 END
                 AS DECIMAL(28,6))) AS DOUBLE) AS promo_price
FROM part
GROUP BY p_brand
HAVING COUNT(*) > 10 AND COUNT(*) FILTER (WHERE p_size > 25) >= 1
"""


@register(
    "agg_having_conditional",
    _HAVING_ORACLE,
    doc="Conditional aggregation (CASE/FILTER inside agg, LIKE predicate) "
    "+ HAVING — post-aggregation filter runs on |groups| rows only",
    tags=("agg", "having", "filter"),
)
def agg_having_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.count(F.when(F.col("p_size") > 25, 1)).alias("n_large"),
            dsum(
                F.when(F.col("p_type").like("PROMO%"), F.col("p_retailprice"))
                .otherwise(F.lit(0.0))
            ).alias("promo_price"),
        )
        .where((F.col("n_parts") > 10) & (F.col("n_large") >= 1))
    )


_SKETCH_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       TRUE AS sketch_agree_ok,
       TRUE AS quantile_bounds_ok,
       TRUE AS hll_merge_ok
FROM orders
GROUP BY o_orderstatus
"""


@register(
    "agg_approx_sketches",
    _SKETCH_ORACLE,
    doc="Mergeable approximate aggregates — HyperLogLog distinct counts "
    "(both the classic approx_count_distinct and a DataSketches HLL "
    "sketch agg+estimate pair) and t-digest-style percentile_approx. "
    "The 100 TB path for distinct/quantile: map-side sketches merge in "
    "O(sketch) instead of shuffling the value domain. Raw estimates are "
    "engine-specific, so the certified output carries exact row counts "
    "plus deterministic sketch-only contract booleans: the two "
    "independent HLL-family estimators agree within their combined "
    "error envelopes, approx quantiles respect min/max bounds and "
    "monotonicity, and the union of per-group sketches is "
    "estimate-consistent with one global sketch (the mergeability "
    "property that makes map-side combine correct). The exact "
    "countDistinct / exact-percentile tolerance audits — the profiled "
    "cost of the pre-round-11 plan (~16.5 s at sf0.1, the rank sweep's "
    "top entry two rounds running) — moved to a pytest property at "
    "small SF where exactness is cheap "
    "(tests/test_properties.py::test_sketch_estimates_within_tolerance_of_exact)",
    tags=("agg", "sketch", "approx"),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    q = F.percentile_approx(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
    )
    per = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # rsd 0.01: the default 0.05 deviates up to ~5.7% on this data —
        # measured, not assumed — which leaves no headroom under the
        # cross-estimator agreement gate
        F.approx_count_distinct("o_custkey", 0.01).alias("_acd"),
        F.hll_sketch_agg("o_custkey").alias("_sk"),
        q.alias("_q"),
        F.min("o_totalprice").alias("_lo"),
        F.max("o_totalprice").alias("_hi"),
    )
    # mergeability: the union of per-group sketches must estimate the
    # same cardinality as one sketch built over all rows. The union path
    # re-estimates through a different DataSketches target mode, so the
    # two estimates agree within HLL error (measured ≤0.65% at sf0.1),
    # not bit-for-bit — the gate asserts ≤2%.
    # The merge identity compares two single-row aggregates, joined in
    # as a 1-row broadcast cross join. That plans a
    # BroadcastNestedLoopJoin — deliberately allowlisted in the plan
    # guardrail (like simhash's reference-signature join): a 1-row
    # build side is harmless at any scale, and keeping the flag IN the
    # plan means it is lazy (no job at plan-build time) and describes
    # the data as of execution, not of query construction.
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_union_est")
    )
    global_ = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("_glob_est")
    )
    merge_flag = merged.crossJoin(F.broadcast(global_)).select(
        # empty input → both estimates 0 → identity trivially holds
        F.when(F.col("_glob_est") == 0, F.lit(True))
        .otherwise(
            F.abs(F.col("_union_est") - F.col("_glob_est")) / F.col("_glob_est")
            <= 0.02
        )
        .alias("hll_merge_ok")
    )
    return per.crossJoin(F.broadcast(merge_flag)).select(
        "o_orderstatus",
        "n_orders",
        # cross-estimator agreement: approx_count_distinct (Spark's
        # native HLL++, rsd 0.01 → ≤~3% envelope) vs the DataSketches
        # HLL estimate (default lgK → ~1.6% envelope) over the SAME
        # observation set. Gate at the sum of envelopes plus slack
        # (8%); the tight exact-anchored 5%/2% tolerances live in the
        # pytest property at small SF.
        (
            F.abs(F.hll_sketch_estimate(F.col("_sk")) - F.col("_acd"))
            / F.greatest(F.hll_sketch_estimate(F.col("_sk")), F.lit(1).cast("double"))
            <= 0.08
        ).alias("sketch_agree_ok"),
        # approx quantiles must respect the group's exact min/max
        # bounds (cheap single-pass aggregates) and be monotone
        (
            (F.col("_lo") <= F.col("_q")[0])
            & (F.col("_q")[0] <= F.col("_q")[1])
            & (F.col("_q")[1] <= F.col("_hi"))
        ).alias("quantile_bounds_ok"),
        "hll_merge_ok",
    )


_RANKING_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CAST(ROW_NUMBER()   OVER w AS INTEGER) AS rn,
       CAST(RANK()         OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK()   OVER w AS INTEGER) AS drnk,
       PERCENT_RANK()      OVER w AS prnk,
       CAST(NTILE(4)       OVER w AS INTEGER) AS quartile
FROM orders
WHERE o_orderkey < 2000
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
"""


@register(
    "window_ranking_suite",
    _RANKING_ORACLE,
    doc="Ranking family (row_number/rank/dense_rank/percent_rank/ntile) "
    "over a deterministic total order — SURVEY §2.5 notes the reference "
    "has no ranking functions; a complete engine does",
    tags=("window", "ranking"),
)
def window_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


_ROLLING_ORACLE = """
SELECT user_id, event_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(28,6)))
            OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                  RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS rolling_6h_value,
       CAST(COUNT(*)
            OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                  RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS rolling_6h_events
FROM events
"""


@register(
    "window_rolling_range",
    _ROLLING_ORACLE,
    doc="Time-based rolling aggregates: rangeBetween over event-time "
    "seconds (6h trailing window per user) — the frame is a range on the "
    "ORDER BY value, so ties collapse identically in any engine",
    tags=("window", "range", "rolling"),
)
def window_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-21600, 0)
    )
    return ev.select(
        "user_id", "event_id", "ts",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double")
        .alias("rolling_6h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_6h_events"),
    )


_STRING_ORACLE = """
SELECT p_partkey,
       substr(p_name, 1, 12) AS name_prefix,
       upper(p_brand) AS brand_uc,
       CAST(length(p_name) AS INTEGER) AS name_len,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       replace(p_type, ' ', '_') AS type_snake,
       reverse(p_brand) AS brand_rev,
       CAST(strpos(p_type, 'BRUSHED') AS INTEGER) AS brushed_pos,
       split_part(p_type, ' ', 1) AS type_head,
       concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size
FROM part
WHERE p_partkey < 1000
"""


@register(
    "scalar_string_suite",
    _STRING_ORACLE,
    doc="String-function census beyond the reference's upper/trim/"
    "regexp_replace/concat_ws: substr, lpad, replace, reverse, "
    "position, split_part — all JVM-side, codegen'd",
    tags=("scalar", "string"),
)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_partkey") < 1000)
    return part.select(
        "p_partkey",
        F.substring("p_name", 1, 12).alias("name_prefix"),
        F.upper("p_brand").alias("brand_uc"),
        F.length("p_name").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr(F.col("p_type"), "BRUSHED").alias("brushed_pos"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.concat_ws("-", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
    )


_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
       CAST(month(o_orderdate) AS INTEGER) AS mth,
       CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate AS DATE) + 90 AS due_date,
       CAST(date_diff('day', CAST(o_orderdate AS TIMESTAMP),
                      TIMESTAMP '1998-12-01 00:00:00') AS INTEGER) AS days_to_cutoff
FROM orders
WHERE o_orderkey < 1000
"""


@register(
    "scalar_date_suite",
    _DATE_ORACLE,
    doc="Date/time census extending the reference's calendar kit: "
    "trunc, last_day, date arithmetic, ISO week, day deltas",
    tags=("scalar", "date"),
)
def scalar_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mth"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 90).alias("due_date"),
        F.datediff(F.lit("1998-12-01").cast("date"), d).alias("days_to_cutoff"),
    )


_ABOVE_AVG_ORACLE = """
SELECT p.p_partkey, p.p_brand, p.p_retailprice,
       p.p_retailprice - brand_avg AS premium
FROM (
  SELECT p_partkey, p_brand, p_retailprice,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(28,6))) OVER (PARTITION BY p_brand) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY p_brand) AS brand_avg
  FROM part
) p
WHERE p.p_retailprice > brand_avg
"""


@register(
    "correlated_above_avg",
    _ABOVE_AVG_ORACLE,
    doc="Correlated-subquery pattern (parts priced above their brand "
    "average), decorrelated to a window aggregate — one shuffle on the "
    "correlation key instead of a per-row subquery",
    tags=("window", "subquery", "agg"),
)
def correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    part = read_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand")
    brand_avg = (
        F.sum(F.col("p_retailprice").cast("decimal(28,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        part.withColumn("brand_avg", brand_avg)
        .where(F.col("p_retailprice") > F.col("brand_avg"))
        .select(
            "p_partkey", "p_brand", "p_retailprice",
            (F.col("p_retailprice") - F.col("brand_avg")).alias("premium"),
        )
    )


_JSON_ORACLE = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       json_extract_string(props, '$.missing') IS NULL AS missing_is_null,
       CAST(event_type = 'purchase' AND CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
            AS BOOLEAN) AS big_purchase
FROM events
WHERE event_id < 2000
"""


@register(
    "scalar_json_suite",
    _JSON_ORACLE,
    doc="Semi-structured kit: JSON-path extraction from the events.props "
    "payload column (string + typed), missing-path NULL semantics, and a "
    "predicate over extracted values — all JVM-side (get_json_object)",
    tags=("scalar", "json"),
)
def scalar_json_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_num"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
        ((F.col("event_type") == "purchase") & (k.cast("bigint") > 50)).alias(
            "big_purchase"
        ),
    )


_ARRAY_ORACLE = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types,
       CAST(len(list(DISTINCT event_type)) AS INTEGER) AS n_types,
       list_contains(list(DISTINCT event_type), 'purchase') AS has_purchase,
       list_sort(list(DISTINCT event_type))[1] AS first_type
FROM events
GROUP BY user_id
"""


@register(
    "array_agg_suite",
    _ARRAY_ORACLE,
    doc="Array functions over grouped collection: collect_set → "
    "deterministic array_sort (collection order is engine/partitioning "
    "dependent — sorting makes it comparable), size, membership, "
    "element access. The sorted array is serialized with array_join so "
    "the output schema is all-scalar (comparable by any canonicalizer).",
    tags=("agg", "array"),
)
def array_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.array_join(types, "|").alias("types"),
        F.size(F.collect_set("event_type")).alias("n_types"),
        F.array_contains(F.collect_set("event_type"), "purchase").alias("has_purchase"),
        types.getItem(0).alias("first_type"),
    )


_GSETS_ORACLE = """
SELECT c_mktsegment, c_nationkey,
       COUNT(*) AS n,
       CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
       CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
"""


@register(
    "agg_grouping_sets",
    _GSETS_ORACLE,
    doc="Explicit GROUPING SETS — two independent groupings in ONE scan "
    "+ one Expand, instead of two aggregations unioned (half the reads "
    "at any scale)",
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.groupingSets(
            [[F.col("c_mktsegment")], [F.col("c_nationkey")]],
            F.col("c_mktsegment"), F.col("c_nationkey"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("c_mktsegment").cast("int").alias("g_seg"),
            F.grouping("c_nationkey").cast("int").alias("g_nat"),
        )
        .select("c_mktsegment", "c_nationkey", "n", "g_seg", "g_nat")
    )


_MOVAVG_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS moving_avg_3
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@register(
    "window_moving_avg_rows",
    _MOVAVG_ORACLE,
    doc="Explicit ROWS frame: trailing 3-row moving average per customer "
    "over a deterministic total order (date + key tiebreak). Decimal avg "
    "keeps the value engine-exact",
    tags=("window", "rows-frame"),
)
def window_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    avg3 = (
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return orders.select("o_custkey", "o_orderkey", avg3.alias("moving_avg_3"))


_EXPLODE_ORACLE = """
SELECT vec_id, CAST(pos AS INTEGER) AS pos, CAST(val AS DOUBLE) AS val
FROM (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS val
  FROM embeddings WHERE vec_id < 5
)
"""


@register(
    "explode_positional",
    _EXPLODE_ORACLE,
    doc="Positional array explode (LATERAL VIEW posexplode) — the "
    "row-per-element operator under every vector computation here",
    tags=("array", "explode"),
)
def explode_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "valf")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("valf").cast("double").alias("val"),
    )


_SAMPLE_ORACLE = """
WITH hashed AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT doc_id, lang, 'uniform_10pct' AS stratum FROM hashed WHERE h % 100 < 10
UNION ALL
SELECT doc_id, lang, 'per_lang_top5' FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM hashed
) WHERE rn <= 5
"""


@register(
    "sample_deterministic",
    _SAMPLE_ORACLE,
    doc="Reproducible sampling for training-data pipelines: uniform "
    "10% via seeded hash-mod (stable under re-runs, engine-portable — "
    "unlike TABLESAMPLE/rand) + stratified per-language top-5 by hash "
    "order. At scale both are one narrow pass (+ one shuffle for the "
    "stratified window)",
    tags=("sample", "window", "hash"),
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents")
    h = F.expr(
        "cast(conv(substr(md5(concat('sample:', cast(doc_id as string))), 1, 15),"
        " 16, 10) as bigint)"
    )
    # one scan: both strata derived in a single pass (the window is
    # the only shuffle), then exploded into membership rows — a
    # two-branch union would scan and hash the corpus twice
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    strata = F.array_compact(
        F.array(
            F.when(F.pmod(F.col("h"), F.lit(100)) < 10, F.lit("uniform_10pct")),
            F.when(F.col("rn") <= 5, F.lit("per_lang_top5")),
        )
    )
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", "lang", F.explode(strata).alias("stratum"))
    )


_UNPIVOT_ORACLE = """
SELECT p_partkey, 'retailprice' AS measure, CAST(p_retailprice AS DOUBLE) AS amount
FROM part WHERE p_partkey < 500
UNION ALL
SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part WHERE p_partkey < 500
"""


@register(
    "unpivot_measures",
    _UNPIVOT_ORACLE,
    doc="Unpivot/melt (wide → long): measure columns become rows — the "
    "inverse of pivot, one narrow Expand, no shuffle",
    tags=("unpivot", "project"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    return part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    ).unpivot("p_partkey", ["retailprice", "size"], "measure", "amount")


_NULLSAFE_ORACLE = """
WITH o AS (
  SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status_key FROM orders
),
d AS (
  SELECT * FROM (VALUES ('F', 'finished'), ('O', 'open'), (NULL, 'pending-null'))
           AS t(status_key, status_name)
)
SELECT status_name, COUNT(*) AS n
FROM o JOIN d ON o.status_key IS NOT DISTINCT FROM d.status_key
GROUP BY status_name
"""


@register(
    "join_null_safe_eq",
    _NULLSAFE_ORACLE,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match NULL dim rows — the complement of J4's SQL semantics where "
    "NULL never matches. Planned as a hash join on the null-safe key",
    tags=("join", "null-safe"),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_key")
    )
    dim = local_rows(
        spark,
        [("F", "finished"), ("O", "open"), (None, "pending-null")],
        "status_key string, status_name string",
    )
    return (
        orders.join(
            F.broadcast(dim), orders.status_key.eqNullSafe(dim.status_key), "inner"
        )
        .groupBy("status_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_CDC_ORACLE = """
WITH old_v AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
new_v AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 100 < 5 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE o_orderkey % 100 < 95
  UNION ALL
  SELECT o_orderkey + 100000000, 'N', 1.0 FROM orders WHERE o_orderkey % 100 = 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type
FROM old_v o
FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_orderstatus <> n.o_orderstatus OR o.o_totalprice <> n.o_totalprice
"""


@register(
    "cdc_table_diff",
    _CDC_ORACLE,
    doc="CDC change feed between two table versions via ONE full-outer "
    "join + row fingerprints (insert/update/delete classification) — "
    "the full/right-outer join family the reference lacks (§2.3), doing "
    "real work. Old/new versions synthesized deterministically from "
    "orders: 5% price-bumped, 5% deleted, 1% inserted",
    tags=("join", "full-outer", "cdc"),
)
def cdc_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.sources.maintenance import table_diff

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old_v = orders
    new_v = orders.where(F.col("o_orderkey") % 100 < 95).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 100 < 5, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        orders.where(F.col("o_orderkey") % 100 == 0).select(
            (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
    )
    return table_diff(old_v, new_v, keys=["o_orderkey"])


_LAMBDA_ORACLE = """
WITH batch AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         CAST('1998-01-01 00:00:00' AS TIMESTAMP) AS layer_ts, 'batch' AS layer
  FROM orders
),
speed AS (
  SELECT o_orderkey, 'S' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
         CAST('1998-01-02 00:00:00' AS TIMESTAMP) AS layer_ts, 'speed' AS layer
  FROM orders WHERE o_orderkey % 10 = 0
),
unioned AS (SELECT * FROM batch UNION ALL SELECT * FROM speed)
SELECT o_orderkey, o_orderstatus, o_totalprice, layer
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY layer_ts DESC, layer DESC) AS rn
  FROM unioned
)
WHERE rn = 1
"""


@register(
    "lambda_serving_merge",
    _LAMBDA_ORACLE,
    doc="The lambda architecture's serving-layer merge: batch layer "
    "unioned with speed-layer deltas, latest-wins per key via one "
    "window (deterministic tiebreak on layer). Speed rows synthesized "
    "for 10% of orders; this is the read-side reconciliation the "
    "reference's reserved-but-unbuilt speed layer would need",
    tags=("union", "window", "lambda"),
)
def lambda_serving_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    batch = orders.select(
        "*",
        F.lit("1998-01-01 00:00:00").cast("timestamp").alias("layer_ts"),
        F.lit("batch").alias("layer"),
    )
    speed = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("S").alias("o_orderstatus"),
            (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
            F.lit("1998-01-02 00:00:00").cast("timestamp").alias("layer_ts"),
            F.lit("speed").alias("layer"),
        )
    )
    w = W.partitionBy("o_orderkey").orderBy(
        F.col("layer_ts").desc(), F.col("layer").desc()
    )
    return (
        batch.unionByName(speed)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "layer")
    )


_WINDOW_VALUE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       CUME_DIST() OVER w AS cdist,
       FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
       LAST_VALUE(o_orderkey)
         OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS priciest_key,
       NTH_VALUE(o_orderkey, 2)
         OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_cheapest_key
FROM orders
WHERE o_custkey < 300
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
"""


@register(
    "window_value_functions",
    _WINDOW_VALUE_ORACLE,
    doc="Value window functions: cume_dist, first/last/nth_value — "
    "last/nth need the full-partition ROWS frame (the default frame "
    "stops at CURRENT ROW, a classic correctness trap both engines "
    "share)",
    tags=("window", "value-functions"),
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 300)
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return orders.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.cume_dist().over(w).alias("cdist"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_cheapest_key"),
    )


_Q10_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "q10_returned_items",
    _Q10_ORACLE,
    doc="TPC-H Q10 shape: returned-item revenue per customer, quarter "
    "window, deterministic top-20 — selective filters on both fact "
    "scans, dims broadcast",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_SQL_FILES_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "sql_over_files",
    _SQL_FILES_ORACLE,
    doc="Ad-hoc SQL directly over storage (SURVEY §3 E2/E3 — the "
    "notebook and Trino/Superset serving paths): a plain SQL string "
    "against parquet.`path`, no registration, no side effects — the "
    "interactive surface a BI tool gets from this engine",
    tags=("sql", "source", "agg"),
)
def sql_over_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 AS total_price
        FROM parquet.`{sf_dir}/orders.parquet`
        GROUP BY o_orderpriority
        """
    )


_SHARE_ORACLE = """
WITH nation_rev AS (
  SELECT n_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
  FROM orders
  JOIN customer ON c_custkey = o_custkey
  JOIN nation   ON n_nationkey = c_nationkey
  GROUP BY n_name
)
SELECT n_name, revenue,
       revenue / CAST(SUM(CAST(revenue AS DECIMAL(28,6))) OVER () AS DOUBLE)
         AS share_of_total,
       CAST(RANK() OVER (ORDER BY revenue DESC, n_name) AS INTEGER) AS rev_rank
FROM nation_rev
"""


@register(
    "window_share_of_total",
    _SHARE_ORACLE,
    doc="Ratio-to-report: per-nation revenue share via an unpartitioned "
    "window over the aggregated (|nations|-row) result — the global "
    "window runs on the tiny aggregate, never on the fact table",
    tags=("window", "agg", "join"),
)
def window_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    return rev.select(
        "n_name", "revenue",
        (
            F.col("revenue")
            / F.sum(F.col("revenue").cast("decimal(28,6)"))
            .over(W.partitionBy())
            .cast("double")
        ).alias("share_of_total"),
        F.rank().over(W.orderBy(F.col("revenue").desc(), "n_name")).alias("rev_rank"),
    )


_SPINE_ORACLE = """
SELECT CAST(d AS DATE) AS date,
       CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_sk,
       CAST(month(d) AS INTEGER) AS month,
       CAST(isodow(d) AS INTEGER) AS iso_dow,
       isodow(d) IN (6, 7) AS is_weekend
FROM generate_series(DATE '1997-01-01', DATE '1997-12-31', INTERVAL 1 DAY) AS t(d)
"""


@register(
    "date_spine_generate",
    _SPINE_ORACLE,
    doc="Generated date spine (full 1997 calendar) — the reference's "
    "dim_date only contains OBSERVED dates (gaps on holidays); a "
    "complete calendar comes from sequence+explode, no source table. "
    "ISO day-of-week used for engine-portable weekend flags",
    tags=("source", "date", "generate"),
)
def date_spine_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1997-01-01").cast("date"),
                F.lit("1997-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("date")
    )
    iso_dow = F.when(
        F.dayofweek("date") == 1, F.lit(7)
    ).otherwise(F.dayofweek("date") - 1)
    from lambda_lakehouse_spark.functions.scalar import date_sk as _date_sk

    return spine.select(
        "date",
        _date_sk("date").alias("date_sk"),
        F.month("date").alias("month"),
        iso_dow.cast("int").alias("iso_dow"),
        iso_dow.isin(6, 7).alias("is_weekend"),
    )


# ---------------------------------------------------------------------------
# One-pass column profiling (ANALYZE-style table stats)
# ---------------------------------------------------------------------------
#
# The stats pass every lakehouse runs before planning/layout decisions:
# per-column null counts, exact distincts, min/max — computed in ONE
# aggregation over the table (map-side partials for everything except
# the exact distincts, which Catalyst expands), then unpivoted to the
# long (column_name, stats...) shape via stack. Min/max are taken in
# the column's native type and cast to string AFTER aggregating (a
# lexicographic min of pre-cast strings would be wrong for numerics);
# doubles go through decimal(18,2) so Spark and DuckDB render the
# identical literal.

_PROFILE_COLS: list[tuple[str, str]] = [
    # (column, render) — render decides the engine-portable string form
    ("o_orderstatus", "string"),
    ("o_orderpriority", "string"),
    ("o_custkey", "bigint"),
    ("o_totalprice", "decimal"),
    ("o_orderdate", "timestamp"),
]


def _profile_oracle() -> str:
    parts = []
    for col, render in _PROFILE_COLS:
        if render == "decimal":
            mn = f"CAST(CAST(MIN({col}) AS DECIMAL(18,2)) AS VARCHAR)"
            mx = f"CAST(CAST(MAX({col}) AS DECIMAL(18,2)) AS VARCHAR)"
        else:
            mn, mx = f"CAST(MIN({col}) AS VARCHAR)", f"CAST(MAX({col}) AS VARCHAR)"
        parts.append(f"""
SELECT '{col}' AS column_name,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT {col}) AS n_distinct,
       {mn} AS min_value,
       {mx} AS max_value
FROM orders""")
    return " UNION ALL ".join(parts)


@register(
    "profile_column_stats",
    _profile_oracle(),
    doc="ANALYZE-style one-pass column profiling: per-column null count, "
    "exact distinct count, min/max (native-typed agg, then portable "
    "string render) unpivoted to long form with stack — the stats scan "
    "behind partition-layout and join-strategy decisions",
    tags=("profile", "agg", "stats"),
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, render in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(col).isNull().cast("long")).alias(f"{col}__nulls"),
            F.countDistinct(col).alias(f"{col}__distinct"),
        ]
        if render == "decimal":
            aggs += [
                F.min(col).cast("decimal(18,2)").cast("string").alias(f"{col}__min"),
                F.max(col).cast("decimal(18,2)").cast("string").alias(f"{col}__max"),
            ]
        else:
            aggs += [
                F.min(col).cast("string").alias(f"{col}__min"),
                F.max(col).cast("string").alias(f"{col}__max"),
            ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{col}', {col}__nulls, {col}__distinct, {col}__min, {col}__max"
        for col, _ in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    )


# ---------------------------------------------------------------------------
# Exact distributed percentiles (percentile_disc semantics)
# ---------------------------------------------------------------------------
#
# approx_percentile is engine-specific (t-digest/KLL parameters differ
# across engines and releases), so SLA reporting that must be
# reproducible uses DISCRETE percentiles: the value at rank
# ceil(p * n) in sort order — a member of the data set, rank computed
# in exact integer arithmetic (floor((k*n + (d-1)) / d) = ceil(k*n/d)
# stays below 2^53 for any realistic n, so the double division is
# exact on every engine). Ranks come from the grouped two-pass
# decomposition (operators/ranking.py grouped_rank): l_returnflag has
# 3 values, so a group-partitioned rank window would run 3 sort tasks
# regardless of data size — instead each flag's rows span many range
# partitions with per-group boundary offsets added back, and
# parallelism follows data volume, not group count. Same exact
# integer ranks; the conditional aggregate picks the hit rows.

_PCTL_ORACLE = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
  FROM lineitem
)
SELECT l_returnflag,
       CAST(MAX(cnt) AS BIGINT) AS n_rows,
       MAX(CASE WHEN rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)
                THEN l_extendedprice END) AS p50,
       MAX(CASE WHEN rn = CAST(floor((9 * cnt + 9) / 10.0) AS BIGINT)
                THEN l_extendedprice END) AS p90,
       MAX(CASE WHEN rn = CAST(floor((99 * cnt + 99) / 100.0) AS BIGINT)
                THEN l_extendedprice END) AS p99,
       MAX(CASE WHEN rn = cnt THEN l_extendedprice END) AS p100
FROM ranked
GROUP BY l_returnflag
"""


@register(
    "agg_exact_percentiles",
    _PCTL_ORACLE,
    doc="Exact distributed percentiles (percentile_disc semantics — "
    "value at rank ceil(p*n), not interpolated): p50/p90/p99/max of "
    "lineitem price per returnflag via the rank-window + conditional-"
    "aggregate shape; integer-exact rank arithmetic, engine-portable "
    "where approx_percentile sketches are not",
    tags=("agg", "window", "percentile"),
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.ranking import grouped_rank

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    cnts = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = grouped_rank(
        li,
        keys=["l_returnflag"],
        order=["l_extendedprice", "l_orderkey", "l_linenumber"],
        pos_col="rn",
    ).join(cnts, "l_returnflag")

    def at_rank(rank_expr):
        return F.max(
            F.when(F.col("rn") == rank_expr.cast("bigint"), F.col("l_extendedprice"))
        )

    cnt = F.col("cnt")
    return ranked.groupBy("l_returnflag").agg(
        F.max("cnt").cast("bigint").alias("n_rows"),
        at_rank(F.floor((cnt + 1) / F.lit(2.0))).alias("p50"),
        at_rank(F.floor((9 * cnt + 9) / F.lit(10.0))).alias("p90"),
        at_rank(F.floor((99 * cnt + 99) / F.lit(100.0))).alias("p99"),
        at_rank(cnt).alias("p100"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill over a generated spine
# ---------------------------------------------------------------------------
#
# The hypertable/"dense calendar" operator the reference's stock
# pipeline implies but never builds: its dim_date holds only OBSERVED
# dates (holiday gaps — see date_spine_generate), so any daily series
# read off the fact table has holes. This closes them: per-entity
# daily grain, missing days materialized from an inline-generated
# spine, values forward-filled with observation-age tracking.
#
# Scale shape: the spine is EXPLODED PER ENTITY KEY (no cross join —
# a generator per key row, so no CartesianProduct and no extra
# shuffle); the observed aggregate is one shuffle on (entity, day);
# the fill window repartitions on entity only. Entity here is
# (event_type, user-bucket) — at 100 TB the same plan holds with
# (symbol, exchange)-grain keys, and a years-long spine per entity is
# still just thousands of generated rows per key. Low-cardinality
# entity sets (this one is 100) rely on AQE to coalesce; genuinely hot
# single entities would take the salted two-pass fill (carry the last
# observed value across salt boundaries), not needed at this grain.

_GAP_FILL_ORACLE = """
WITH ev AS (
  SELECT event_type, user_id % 20 AS bucket, CAST(ts AS DATE) AS day, value
  FROM events
),
obs AS (
  SELECT event_type, bucket, day,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS obs_value
  FROM ev GROUP BY 1, 2, 3
),
keys AS (SELECT DISTINCT event_type, bucket FROM ev),
grid AS (
  SELECT event_type, bucket,
         CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM keys
),
j AS (
  SELECT g.event_type, g.bucket, g.day, o.obs_value
  FROM grid g
  LEFT JOIN obs o ON o.event_type = g.event_type
                 AND o.bucket = g.bucket AND o.day = g.day
)
SELECT event_type, bucket, day, obs_value,
       last_value(obs_value IGNORE NULLS) OVER w AS filled_value,
       obs_value IS NOT NULL AS is_observed,
       CAST(day - last_value(CASE WHEN obs_value IS NOT NULL THEN day END
                             IGNORE NULLS) OVER w AS INTEGER) AS days_since_obs
FROM j
WINDOW w AS (PARTITION BY event_type, bucket ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "timeseries_gap_fill",
    _GAP_FILL_ORACLE,
    doc="Dense-calendar gap fill with forward fill (the hypertable "
    "operator the reference's holiday-gapped dim_date implies): "
    "per-entity daily series over an inline-exploded spine (no cross "
    "join), last-observation-carried-forward + observation age via "
    "ignore-nulls windows",
    tags=("timeseries", "window", "generate", "join"),
    bench=True,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 20).alias("bucket"),
        F.to_date("ts").alias("day"),
        "value",
    )
    obs = ev.groupBy("event_type", "bucket", "day").agg(
        dsum("value").alias("obs_value")
    )
    grid = (
        ev.select("event_type", "bucket")
        .distinct()
        .select(
            "event_type",
            "bucket",
            F.explode(
                F.sequence(
                    F.lit("2024-01-01").cast("date"),
                    F.lit("2024-01-30").cast("date"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("day"),
        )
    )
    j = grid.join(obs, ["event_type", "bucket", "day"], "left")
    w = (
        W.partitionBy("event_type", "bucket")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_obs_day = F.last(
        F.when(F.col("obs_value").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w)
    return j.select(
        "event_type",
        "bucket",
        "day",
        "obs_value",
        F.last("obs_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("obs_value").isNotNull().alias("is_observed"),
        F.datediff(F.col("day"), last_obs_day).cast("int").alias("days_since_obs"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering keys
# ---------------------------------------------------------------------------
#
# The computable core of sources.maintenance.zorder_write (the
# OPTIMIZE ZORDER capability): per-row Morton values interleaving two
# min/max-normalized key columns. Pure integer bit arithmetic after
# one 1-row bounds aggregate — exact on any engine, so the layout
# decision itself is driver-gradable; the file-locality effect of the
# clustered write is asserted separately in
# tests/test_maintenance.py::test_zorder_write_improves_file_locality.


def _zorder_oracle() -> str:
    from lambda_lakehouse_spark.sources.maintenance import (
        _zvalue_expr,
        zbucket_sql,
    )

    # the SAME bucket expression text the Spark side uses (engine-
    # portable SQL subset), with buckets computed once in a subquery
    # exactly as with_zvalue computes them once as columns
    return f"""
WITH bounds AS (
  SELECT MIN(l_partkey) AS amin, MAX(l_partkey) AS amax,
         MIN(l_suppkey) AS bmin, MAX(l_suppkey) AS bmax
  FROM lineitem
),
bucketed AS (
  SELECT l_orderkey, l_linenumber,
         {zbucket_sql('l_partkey', 'amin', 'amax')} AS ba,
         {zbucket_sql('l_suppkey', 'bmin', 'bmax')} AS bb
  FROM lineitem, bounds
)
SELECT l_orderkey, l_linenumber,
       {_zvalue_expr('ba', 'bb')} AS zval
FROM bucketed
"""


@register(
    "zorder_layout_keys",
    _zorder_oracle(),
    doc="Z-order (Morton) clustering keys for the OPTIMIZE-ZORDER "
    "write path: interleave min/max-normalized (l_partkey, l_suppkey) "
    "bits into a 32-bit z-value — exact integer arithmetic after a "
    "1-row bounds aggregate (broadcast, control-plane)",
    tags=("maintenance", "layout", "zorder"),
)
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.sources.maintenance import with_zvalue

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return with_zvalue(li, "l_partkey", "l_suppkey").select(
        "l_orderkey", "l_linenumber", "zval"
    )


# ---------------------------------------------------------------------------
# Salted hot-key join — driver-certified result parity
# ---------------------------------------------------------------------------
#
# operators/skew.py::salted_join has plan/property tests; this gives
# the skew path a DRIVER row: a deliberately skewed key (3/4 of all
# lineitems collapse onto key 1) joined to its dim through the salted
# formulation, hash-matched against the plain SQL join — salting must
# be invisible in the result. The 16x dim inflation is the documented
# cost; the dim here is distinct-key-derived and bounded by the key
# domain.

_SALTED_ORACLE = """
WITH skewed AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 4 <> 0 THEN 1 ELSE l_orderkey END AS join_key
  FROM lineitem
),
dim AS (
  SELECT DISTINCT join_key, join_key * 10 AS dim_val FROM skewed
)
SELECT s.l_orderkey, s.l_linenumber, s.join_key, d.dim_val
FROM skewed s
JOIN dim d ON d.join_key = s.join_key
"""


@register(
    "join_salted_hot_key",
    _SALTED_ORACLE,
    doc="Salted hot-key join (operators/skew.py): a key holding 3/4 of "
    "all rows is joined through 16-way salting — composite (key, salt) "
    "spreads the hot key across tasks; result hash-matched against the "
    "plain join, so the mitigation is certifiably invisible",
    tags=("join", "skew", "salt"),
)
def join_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    skewed = li.withColumn(
        "join_key",
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(1)).otherwise(
            F.col("l_orderkey")
        ).cast("bigint"),
    )
    dim = skewed.select("join_key").distinct().withColumn(
        "dim_val", F.col("join_key") * 10
    )
    return salted_join(skewed, dim, ["join_key"]).select(
        "l_orderkey", "l_linenumber", "join_key", "dim_val"
    )


# ---------------------------------------------------------------------------
# Weighted aggregate statistics
# ---------------------------------------------------------------------------

# Quantity-weighted mean price per returnflag plus the largest single
# line's share of the weighted total — the standard weighted-mean
# shape with both sums decimal-routed (order-independent) and the
# final divisions in IEEE double, so any engine computes identical
# bits. One map-side-combined aggregate, no window.
_WEIGHTED_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty,
       CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
         AS weighted_avg_price,
       MAX(l_extendedprice * l_quantity)
         / CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,6))) AS DOUBLE)
         AS max_line_share
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "agg_weighted_stats",
    _WEIGHTED_ORACLE,
    doc="Weighted aggregate statistics: quantity-weighted mean price "
    "and max-line contribution share per returnflag — decimal-routed "
    "sums, IEEE-double final ratios, single map-side-combined pass",
    tags=("agg", "weighted"),
)
def agg_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    wx = F.col("l_extendedprice") * F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("total_qty"),
        (dsum(wx) / dsum("l_quantity")).alias("weighted_avg_price"),
        (F.max(wx) / dsum(wx)).alias("max_line_share"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS regression (closed form, decimal-routed moments)
# ---------------------------------------------------------------------------
#
# Grouped model fitting without MLlib or Python: the OLS slope/
# intercept closed form needs only five sufficient statistics per
# group (n, Sx, Sxx, Sy, Sxy) — one map-side-combined aggregation
# pass. Integer moments sum exactly; double moments route through
# decimal(28,6) (order-independent); the final ratios are IEEE double
# with the SAME expression shape on both engines, so the driver hash
# matches bit-for-bit. At 100 TB this is the pattern for any
# closed-form grouped fit: shuffle the tiny moment vector, never rows.

_REGRESSION_ORACLE = """
WITH s AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(event_id) AS sx,
         SUM(event_id * event_id) AS sxx,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(value * event_id AS DECIMAL(28,6))) AS DOUBLE) AS sxy
  FROM events GROUP BY event_type
),
fit AS (
  SELECT event_type, n, sx, sy,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
  FROM s
)
SELECT event_type, n AS n_points, slope,
       (sy - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
FROM fit
"""


@register(
    "stats_group_regression",
    _REGRESSION_ORACLE,
    doc="Per-group OLS fit (value ~ event_id) from five sufficient "
    "statistics in ONE aggregation pass — exact integer/decimal "
    "moments, IEEE-double closed-form ratios identical across engines",
    tags=("agg", "regression", "stats"),
)
def stats_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sx"),
        F.sum(F.col("event_id") * F.col("event_id")).alias("sxx"),
        dsum("value").alias("sy"),
        dsum(F.col("value") * F.col("event_id")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )
    fit = s.select(
        "event_type", "n", "sx", "sy", slope.alias("slope")
    )
    return fit.select(
        "event_type",
        F.col("n").alias("n_points"),
        "slope",
        ((F.col("sy") - F.col("slope") * F.col("sx").cast("double"))
         / F.col("n").cast("double")).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram profiling
# ---------------------------------------------------------------------------

_HIST_N_BUCKETS = 20

_HIST_ORACLE = f"""
WITH bounds AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
),
bucketed AS (
  SELECT CAST(least(floor((o.o_totalprice - b.lo)
                          / ((b.hi - b.lo) / {_HIST_N_BUCKETS})),
                    {_HIST_N_BUCKETS} - 1) AS INTEGER) AS bucket,
         o.o_totalprice
  FROM orders o CROSS JOIN bounds b
)
SELECT bucket,
       COUNT(*) AS n_rows,
       MIN(o_totalprice) AS bucket_min,
       MAX(o_totalprice) AS bucket_max
FROM bucketed
GROUP BY bucket
"""


@register(
    "profile_histogram_equiwidth",
    _HIST_ORACLE,
    doc=f"Equi-width histogram ({_HIST_N_BUCKETS} buckets) of order "
    "totals: 1-row min/max bounds broadcast, fixed-shape double bucket "
    "arithmetic mirrored verbatim in the oracle (top edge clamped into "
    "the last bucket), one map-side-combined aggregate — the "
    "distribution profile a data catalog renders, bounded output at "
    "any scale",
    tags=("profile", "histogram", "agg"),
)
def profile_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    n = _HIST_N_BUCKETS
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / F.lit(n))
        ),
        F.lit(n - 1),
    ).cast("int")
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("bucket_min"),
            F.max("o_totalprice").alias("bucket_max"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-DEPTH histogram profiling
# ---------------------------------------------------------------------------
#
# The quantile companion to the equi-width profile above: buckets hold
# (near-)equal ROW COUNTS instead of equal value ranges, i.e. the
# bucket edges ARE the exact 5%-quantiles — what an optimizer's
# histogram statistics or a data catalog's distribution sketch wants
# for skewed columns, where equi-width piles everything into two bars.
# Bucketing is exact NTILE semantics computed by the two-pass
# range-partitioned rank in operators/ranking.py (no single-partition
# sort of the fact), with the (value, key) total order making bucket
# boundaries deterministic on any engine.

_HIST_EQ_DEPTH_BUCKETS = 20

_HIST_DEPTH_ORACLE = f"""
WITH t AS (
  SELECT o_totalprice,
         CAST(NTILE({_HIST_EQ_DEPTH_BUCKETS})
              OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS bucket
  FROM orders
)
SELECT bucket,
       COUNT(*) AS n_rows,
       MIN(o_totalprice) AS bucket_min,
       MAX(o_totalprice) AS bucket_max
FROM t
GROUP BY bucket
"""


@register(
    "profile_histogram_equidepth",
    _HIST_DEPTH_ORACLE,
    doc=f"Equi-depth histogram ({_HIST_EQ_DEPTH_BUCKETS} buckets) of "
    "order totals: exact NTILE bucketing via the two-pass "
    "range-partitioned rank (operators/ranking.py — no global sort), "
    "per-bucket count/min/max; the bucket edges are exact quantiles, "
    "the skew-robust profile equi-width can't give",
    tags=("profile", "histogram", "ntile", "agg"),
)
def profile_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.ranking import exact_global_ntile

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    bucketed = exact_global_ntile(
        orders, ["o_totalprice", "o_orderkey"], _HIST_EQ_DEPTH_BUCKETS,
        "bucket",
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("bucket_min"),
        F.max("o_totalprice").alias("bucket_max"),
    )


# ---------------------------------------------------------------------------
# Two-sample experiment comparison
# ---------------------------------------------------------------------------
#
# The experimentation primitive: compare a metric between two cohorts
# with exact decimal-routed sums — n / mean / sample variance per arm
# and the mean lift. Variance uses the sum-of-squares identity
# (Q - S*S/n) / (n - 1) over EXACT decimal sums converted once to
# double, so both engines compute identical bits without a second
# data pass (no sqrt/t-stat here: those are monotone post-transforms
# of these sufficient statistics and bit-fragile across engines —
# callers apply them client-side).

_AB_ORACLE = """
WITH arms AS (
  SELECT CASE WHEN l_discount <= 0.02 THEN 'control'
              WHEN l_discount >= 0.08 THEN 'treatment' END AS arm,
         CAST(l_quantity AS DOUBLE) AS metric
  FROM lineitem
  WHERE l_discount <= 0.02 OR l_discount >= 0.08
)
SELECT arm,
       COUNT(*) AS n,
       CAST(SUM(CAST(metric AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS mean_metric,
       (CAST(SUM(CAST(metric * metric AS DECIMAL(28,6))) AS DOUBLE)
        - CAST(SUM(CAST(metric AS DECIMAL(28,6))) AS DOUBLE)
          * CAST(SUM(CAST(metric AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*))
       / (COUNT(*) - 1) AS var_metric
FROM arms
GROUP BY arm
"""


@register(
    "ab_arm_statistics",
    _AB_ORACLE,
    doc="Two-sample experiment readout (discount arms over lineitem): "
    "n / mean / sample variance per arm from ONE aggregate pass via "
    "the sum-of-squares identity over exact decimal sums — the "
    "sufficient statistics for any t-test, computed bit-identically "
    "on any engine; sqrt/t-stat left to the client (bit-fragile)",
    tags=("agg", "stats", "experiment"),
)
def ab_arm_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_discount", "l_quantity")
    arms = li.where(
        (F.col("l_discount") <= 0.02) | (F.col("l_discount") >= 0.08)
    ).select(
        F.when(F.col("l_discount") <= 0.02, "control")
        .when(F.col("l_discount") >= 0.08, "treatment")
        .alias("arm"),
        F.col("l_quantity").cast("double").alias("metric"),
    )
    dec = "decimal(28,6)"
    s = F.sum(F.col("metric").cast(dec)).cast("double")
    q = F.sum((F.col("metric") * F.col("metric")).cast(dec)).cast("double")
    n = F.count(F.lit(1))
    return arms.groupBy("arm").agg(
        n.alias("n"),
        (s / n).alias("mean_metric"),
        ((q - s * s / n) / (n - F.lit(1))).alias("var_metric"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing
# ---------------------------------------------------------------------------
#
# Exponentially-weighted moving average of daily revenue per event
# type — the classic monitoring smoother (s_t = a*x_t + (1-a)*s_t-1)
# that no window frame can express (each output depends on ALL prior
# inputs through the recurrence). Spark-first shape: the daily series
# per key collects into ONE array (bounded by the calendar span, not
# by sf — more data widens the daily sums, not the array), array_sort
# fixes the fold order, and a single aggregate() lambda runs the
# recurrence left-to-right, exploding back to rows. Determinism
# across engines: the fold applies the identical sequence of IEEE
# double ops (a*x + (1-a)*s, literals cast to double on both sides),
# and sequential evaluation means no reduction-order ambiguity — the
# oracle's recursive CTE replays the exact same chain.

EWMA_ALPHA = 0.3

_EWMA_ORACLE = f"""
WITH RECURSIVE d AS (
  SELECT event_type,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, day, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
              AS INTEGER) AS i
  FROM d
),
ew AS (
  SELECT event_type, day, x, i, x AS ewma FROM r WHERE i = 1
  UNION ALL
  SELECT r.event_type, r.day, r.x, r.i,
         CAST({EWMA_ALPHA} AS DOUBLE) * r.x
           + CAST({1 - EWMA_ALPHA} AS DOUBLE) * ew.ewma
  FROM r JOIN ew ON r.event_type = ew.event_type AND r.i = ew.i + 1
)
SELECT event_type, day, x, ewma FROM ew
"""


@register(
    "timeseries_ewma_smoothing",
    _EWMA_ORACLE,
    doc=f"EWMA (alpha={EWMA_ALPHA}) of daily revenue per event type — "
    "the recurrence no window frame expresses: per-key daily series "
    "collected into one calendar-bounded array, array_sort fixes the "
    "fold order, a single aggregate() lambda runs s=a*x+(1-a)*s "
    "left-to-right and explodes back; the oracle's recursive CTE "
    "replays the identical IEEE chain",
    tags=("timeseries", "events", "smoothing", "hof"),
)
def timeseries_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts").cast("timestamp"))
            .cast("date")
            .alias("day"),
        )
        .agg(dsum("value").cast("double").alias("x"))
    )
    arr = d.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("_a")
    )
    a, b = float(EWMA_ALPHA), float(1 - EWMA_ALPHA)
    folded = arr.select(
        "event_type",
        F.explode(
            F.expr(
                f"aggregate(_a,"
                f" struct(cast(null as double) as prev,"
                f"   cast(array() as array<struct<day:date,x:double,ewma:double>>) as out),"
                f" (s, e) -> struct("
                f"   CASE WHEN s.prev IS NULL THEN e.x"
                f"        ELSE cast({a} as double) * e.x + cast({b} as double) * s.prev END,"
                f"   array_append(s.out, named_struct('day', e.day, 'x', e.x,"
                f"     'ewma', CASE WHEN s.prev IS NULL THEN e.x"
                f"       ELSE cast({a} as double) * e.x + cast({b} as double) * s.prev END))),"
                f" s -> s.out)"
            )
        ).alias("_o"),
    )
    return folded.select(
        "event_type",
        F.col("_o.day").alias("day"),
        F.col("_o.x").alias("x"),
        F.col("_o.ewma").alias("ewma"),
    )
