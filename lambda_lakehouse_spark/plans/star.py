"""Star-schema pipeline semantics on the test tables (SURVEY §2 core).

The reference's curated zone is a 5-dim + 1-fact star built from
daily snapshots (``curated/*.py``). These queries re-express its
signature semantics on the driver's tables:

- ``scd2_user_dim`` — the SCD2-from-snapshots builder
  (dim_company.py, the reference's hardest query) over event-derived
  daily snapshots.
- ``pit_join_fact_dim`` — the point-in-time interval join J5
  (fact_stock_daily.py:107-114) of facts onto those versions,
  closed-boundary parity (SURVEY G3).
- ``asof_join_daily_score`` — nearest-previous as-of join (beyond
  reference; §2.3 notes the reference has no true as-of).
- ``seed_lookup_fx`` — S4 local-collection seed + J7 broadcast
  lookup + G9 hard-coded FX rates (dim_currency.py:59-91).
- ``fact_assembly_star`` — the 5-join fact build
  (fact_stock_daily.py:56-137): date smart key, surrogate keys,
  guarded measures, left joins that never fan out on null keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.functions.scalar import date_sk, dsum, sk_sha256
from lambda_lakehouse_spark.operators.scd2 import build_scd2
from lambda_lakehouse_spark.operators.temporal import as_of_join, pit_join
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import local_rows, read_table

# Shared CTE text for the SCD2 dim — the PIT oracle reuses it.
_SCD2_CTES = """
WITH snap AS (
  SELECT user_id,
         CAST(ts AS DATE) AS snap_date,
         MIN(event_type) AS plan_tier,
         CASE WHEN MIN(value) >= 50.0 THEN 'hi' ELSE 'lo' END AS band
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
),
fp AS (
  SELECT *,
         sha256(COALESCE(CAST(plan_tier AS VARCHAR), '~') || '||' ||
                COALESCE(CAST(band AS VARCHAR), '~')) AS attr_fp
  FROM snap
),
flagged AS (
  SELECT *,
         CASE WHEN LAG(attr_fp) OVER w IS NULL
                OR attr_fp <> LAG(attr_fp) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM fp
  WINDOW w AS (PARTITION BY user_id ORDER BY snap_date)
),
grped AS (
  SELECT *,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY snap_date
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
),
versions AS (
  SELECT user_id, grp,
         MIN(snap_date) AS effective_from,
         MIN(attr_fp)   AS attr_fp,
         MIN(plan_tier) AS plan_tier,
         MIN(band)      AS band
  FROM grped
  GROUP BY user_id, grp
),
scd2_dim AS (
  SELECT user_id, plan_tier, band, attr_fp, effective_from,
         COALESCE(LEAD(effective_from) OVER wv, DATE '9999-12-31') AS effective_to,
         COALESCE(LEAD(effective_from) OVER wv, DATE '9999-12-31') = DATE '9999-12-31'
           AS is_current,
         CAST(ROW_NUMBER() OVER wv AS INTEGER) AS version
  FROM versions
  WINDOW wv AS (PARTITION BY user_id ORDER BY effective_from)
)
"""


def _user_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user attribute snapshots derived from events."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("snap_date"))
        .agg(F.min("event_type").alias("plan_tier"), F.min("value").alias("__minv"))
        .withColumn("band", F.when(F.col("__minv") >= 50.0, "hi").otherwise("lo"))
        .drop("__minv")
    )


def _user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_scd2(
        _user_snapshots(spark, sf_dir),
        keys=["user_id"],
        attrs=["plan_tier", "band"],
        snapshot_col="snap_date",
    ).select(
        "user_id", "plan_tier", "band", "attr_fp",
        "effective_from", "effective_to", "is_current", "version",
    )


@register(
    "scd2_user_dim",
    _SCD2_CTES + "SELECT * FROM scd2_dim",
    doc="W1-W3+A1+J6: SCD2 builder from snapshots — fingerprint, lag change "
    "flag, cumsum version groups, min/lead interval assembly "
    "(dim_company.py:57-110)",
    tags=("scd2", "window", "agg"),
    bench=True,
)
def scd2_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _user_dim(spark, sf_dir)


@register(
    "pit_join_fact_dim",
    _SCD2_CTES
    + """
SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date, e.value,
       d.plan_tier, d.band, d.version
FROM events e
LEFT JOIN scd2_dim d
  ON e.user_id = d.user_id
 AND CAST(e.ts AS DATE) BETWEEN d.effective_from AND d.effective_to
""",
    doc="J5: point-in-time interval join of facts onto SCD2 versions, "
    "closed-boundary parity with fan-out on boundary days "
    "(fact_stock_daily.py:107-114, SURVEY G3)",
    tags=("join", "pit", "scd2"),
    bench=True,
)
def pit_join_fact_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_date"), "value"
    )
    dim = _user_dim(spark, sf_dir).select(
        "user_id", "plan_tier", "band", "version", "effective_from", "effective_to"
    )
    return pit_join(ev, dim, keys=["user_id"], time_col="event_date").select(
        "event_id", "user_id", "event_date", "value", "plan_tier", "band", "version"
    )


@register(
    "asof_join_daily_score",
    """
WITH snap2 AS (
  SELECT user_id, CAST(ts AS DATE) AS snap_date,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS daily_score
  FROM events
  WHERE CAST(ts AS DATE) <= DATE '2024-01-10'
  GROUP BY user_id, CAST(ts AS DATE)
)
SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date, e.value,
       s.daily_score AS asof_daily_score
FROM events e
ASOF LEFT JOIN snap2 s
  ON e.user_id = s.user_id AND CAST(e.ts AS DATE) >= s.snap_date
""",
    doc="As-of (nearest previous) join — no native Spark op; expressed as "
    "union + last(ignorenulls) window, one shuffle, no UDF. Oracle uses "
    "DuckDB's native ASOF JOIN. Beyond-reference (§2.3).",
    tags=("join", "asof", "window"),
)
def asof_join_daily_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_date"), "value"
    )
    snap = (
        read_table(spark, sf_dir, "events")
        .where(F.to_date("ts") <= F.lit("2024-01-10").cast("date"))
        .groupBy("user_id", F.to_date("ts").alias("snap_date"))
        .agg(dsum("value").alias("daily_score"))
    )
    return as_of_join(
        ev, snap,
        keys=["user_id"], left_time="event_date", right_time="snap_date",
        value_cols=["daily_score"],
    ).withColumnRenamed("daily_score", "asof_daily_score")


@register(
    "seed_lookup_fx",
    """
SELECT fx.currency_code,
       CAST(SUM(CAST(c_acctbal * fx.rate AS DECIMAL(28,6))) AS DOUBLE) AS total_local,
       COUNT(*) AS n_customers
FROM customer
JOIN (VALUES (0, 'VND', 1.0), (1, 'USD', 25000.0), (2, 'JPY', 170.0))
     AS fx(bucket, currency_code, rate)
  ON c_nationkey % 3 = fx.bucket
GROUP BY fx.currency_code
""",
    doc="S4+J7+G9: local-collection seed lookup (hard-coded FX rates, "
    "dim_currency.py:59-91) broadcast-joined and rolled up",
    tags=("source", "join", "broadcast"),
)
def seed_lookup_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = local_rows(
        spark,
        [(0, "VND", 1.0), (1, "USD", 25000.0), (2, "JPY", 170.0)],
        "bucket int, currency_code string, rate double",
    )
    cust = read_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(fx), cust.c_nationkey % 3 == fx.bucket)
        .groupBy("currency_code")
        .agg(
            dsum(F.col("c_acctbal") * F.col("rate")).alias("total_local"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


_FACT_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  CAST(STRFTIME(l_shipdate, '%Y%m%d') AS INTEGER) AS date_sk,
  sha256(CAST(o_custkey AS VARCHAR)) AS customer_sk,
  sha256(CAST(l_suppkey AS VARCHAR)) AS supplier_sk,
  o_orderstatus,
  cn.n_name AS cust_nation,
  sn.n_name AS supp_nation,
  l_quantity,
  l_extendedprice,
  l_extendedprice * l_discount AS disc_amount,
  l_extendedprice * (1 - l_discount) AS net_price,
  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
  CASE WHEN l_quantity <> 0 THEN l_extendedprice / l_quantity END AS unit_price,
  l_discount >= 0.06 AS is_high_discount
FROM lineitem
LEFT JOIN orders    ON l_orderkey = o_orderkey
LEFT JOIN customer  ON o_custkey = c_custkey
LEFT JOIN nation cn ON c_nationkey = cn.n_nationkey
LEFT JOIN supplier  ON l_suppkey = s_suppkey
LEFT JOIN nation sn ON s_nationkey = sn.n_nationkey
"""


@register(
    "fact_assembly_star",
    _FACT_ORACLE,
    doc="The fact build (fact_stock_daily.py:56-137): 5 left joins, smart "
    "date key, sha-256 surrogate keys, guarded measures, boolean flags. "
    "Bounded dims (nation) broadcast; customer/supplier grow with SF so "
    "AQE decides BHJ vs shuffle join for them at runtime.",
    tags=("join", "fact", "scalar"),
    bench=True,
)
def fact_assembly_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(cust, orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(cn), cust.c_nationkey == cn.cn_key, "left")
        .join(supp, li.l_suppkey == supp.s_suppkey, "left")
        .join(F.broadcast(sn), supp.s_nationkey == sn.sn_key, "left")
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.select(
        "l_orderkey",
        "l_linenumber",
        date_sk("l_shipdate").alias("date_sk"),
        # sha2 directly (not sk_sha256/concat_ws) so a NULL key yields a
        # NULL surrogate, matching SQL semantics on left-join misses.
        F.sha2(F.col("o_custkey").cast("string"), 256).alias("customer_sk"),
        F.sha2(F.col("l_suppkey").cast("string"), 256).alias("supplier_sk"),
        "o_orderstatus",
        "cust_nation",
        "supp_nation",
        "l_quantity",
        "l_extendedprice",
        (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amount"),
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charge"),
        F.when(F.col("l_quantity") != 0, F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        (F.col("l_discount") >= 0.06).alias("is_high_discount"),
    )


# ---------------------------------------------------------------------------
# Incremental SCD2 fold — driver-certified against the full rebuild
# ---------------------------------------------------------------------------

# The incremental path's oracle IS the full-rebuild SQL: folding daily
# snapshots through apply_scd2_increment must produce the identical
# dimension (the hypothesis property test asserts it on arbitrary
# histories; this query lets the DRIVER hash-match it on real data).
# Sliced to the first 5 snapshot days: each fold step localCheckpoints
# (a real pipeline writes the dim between days — unbounded lineage
# otherwise), so plan construction runs 5 small eager jobs;
# control-plane, bounded by the day count, never by data volume.

_FOLD_LAST_DAY = "2024-01-05"

_SCD2_FOLD_CTES = _SCD2_CTES.replace(
    "  FROM events\n  GROUP BY",
    f"  FROM events\n  WHERE CAST(ts AS DATE) <= DATE '{_FOLD_LAST_DAY}'\n  GROUP BY",
)


@register(
    "scd2_incremental_fold",
    _SCD2_FOLD_CTES + "SELECT * FROM scd2_dim",
    doc="Incremental SCD2 maintenance (apply_scd2_increment folded "
    "day-by-day over the first 5 snapshot days) hash-matched against "
    "the full-rebuild SQL oracle — certifies the O(current+delta) "
    "daily-merge path produces the identical dimension to the "
    "O(history) rebuild the reference runs (dim_company.py:57)",
    tags=("scd2", "incremental", "merge"),
)
def scd2_incremental_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.scd2 import apply_scd2_increment

    snaps = _user_snapshots(spark, sf_dir).where(
        F.col("snap_date") <= F.lit(_FOLD_LAST_DAY).cast("date")
    )
    days = [
        r.snap_date
        for r in snaps.select("snap_date").distinct().orderBy("snap_date").collect()
    ]
    dim = None
    for day in days:
        snap = snaps.where(F.col("snap_date") == F.lit(day))
        dim = apply_scd2_increment(
            dim, snap, keys=("user_id",), attrs=("plan_tier", "band"),
            snapshot_date_col="snap_date",
        ).localCheckpoint()
    return dim.select(
        "user_id", "plan_tier", "band", "attr_fp",
        "effective_from", "effective_to", "is_current", "version",
    )


# ---------------------------------------------------------------------------
# Band (interval) join — purchases to clicks within a time tolerance
# ---------------------------------------------------------------------------

_INTERVAL_ORACLE = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP))
         AS delta_us
FROM events p
JOIN events c ON p.user_id = c.user_id
WHERE p.event_type = 'purchase'
  AND c.event_type = 'click'
  AND abs(epoch_us(CAST(c.ts AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP)))
      <= 1800000000
"""


@register(
    "interval_join_events",
    _INTERVAL_ORACLE,
    doc="Band join (|t_left - t_right| <= 30 min on a shared key) via "
    "tolerance-bucketed equi join: left explodes into home+neighbor "
    "buckets, right keeps its single home bucket, exact band predicate "
    "as post-filter — no nested-loop plan, no duplicate pairs, zero "
    "false negatives; integer-microsecond time math on both engines "
    "(operators/temporal.py::interval_join)",
    tags=("join", "interval", "band", "events"),
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lambda_lakehouse_spark.operators.temporal import interval_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    return interval_join(
        purchases, clicks, keys=("user_id",), left_ts="pts", right_ts="cts",
        tolerance_s=1800,
    ).select("user_id", "purchase_id", "click_id", "delta_us")


@register(
    "scd2_type6_dim",
    _SCD2_CTES
    + """
SELECT d.user_id, d.version, d.effective_from, d.effective_to,
       d.is_current, d.plan_tier, d.band,
       cur.plan_tier AS current_plan_tier,
       cur.band AS current_band
FROM scd2_dim d
JOIN scd2_dim cur ON cur.user_id = d.user_id AND cur.is_current
""",
    doc="Kimball Type-6 hybrid dimension: every SCD2 history row also "
    "carries the entity's CURRENT attribute values (type-1 columns on "
    "type-2 rows), so as-was and as-is reporting come from one dim "
    "without a second join at query time. One self-join of the built "
    "dim against its is_current slice — keyed on the entity, version "
    "fan-out only (bounded per entity), AQE-skew-safe.",
    tags=("scd2", "type6", "join"),
)
def scd2_type6_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = _user_dim(spark, sf_dir)
    cur = dim.where(F.col("is_current")).select(
        "user_id",
        F.col("plan_tier").alias("current_plan_tier"),
        F.col("band").alias("current_band"),
    )
    return dim.join(cur, "user_id").select(
        "user_id", "version", "effective_from", "effective_to",
        "is_current", "plan_tier", "band",
        "current_plan_tier", "current_band",
    )
