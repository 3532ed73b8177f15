"""Sessionization (batch formulation; the streaming variant lives in
streaming/jobs.py via ``session_window``).

Classic gap-based sessionization: order events per user, open a new
session whenever the gap to the previous event exceeds the threshold,
assign session ids with a running sum — the same lag→flag→cumsum
pattern as the SCD2 builder (SURVEY §2.5), applied to time gaps.
One shuffle on user_id; windows share the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lambda_lakehouse_spark.functions.scalar import dsum
from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table

GAP_MINUTES = 30


def sessionize(
    events: DataFrame, key: str, ts_col: str, gap_minutes: int = GAP_MINUTES
) -> DataFrame:
    """Assign ``session_seq`` (1-based per key) by the gap rule."""
    w = W.partitionBy(key).orderBy(ts_col, "event_id")
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(
        F.lag(ts_col).over(w)
    )
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).cast("int"),
    )


_SESSION_ORACLE = f"""
WITH flagged AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(CAST(ts AS TIMESTAMP)) AS session_start,
       MAX(CAST(ts AS TIMESTAMP)) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_seq
"""


@register(
    "sessionize_events",
    _SESSION_ORACLE,
    doc=f"Gap-based sessionization ({GAP_MINUTES}-min inactivity): "
    "lag→flag→cumsum session ids + per-session rollup",
    tags=("window", "sessionize", "agg"),
    bench=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    sess = sessionize(ev, "user_id", "ts")
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


_TUMBLING_SECONDS = 6 * 3600

_TUMBLING_ORACLE = f"""
SELECT
  make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / {_TUMBLING_SECONDS})
                      * {_TUMBLING_SECONDS} AS BIGINT) * 1000000) AS window_start,
  make_timestamp((CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / {_TUMBLING_SECONDS})
                       * {_TUMBLING_SECONDS} AS BIGINT) + {_TUMBLING_SECONDS})
                 * 1000000) AS window_end,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@register(
    "window_tumbling_agg",
    _TUMBLING_ORACLE,
    doc="Tumbling event-time windows (batch formulation of the streaming "
    "job streaming/jobs.py:tumbling_counts — F.window epoch-aligned "
    "6h buckets) with exact value sums",
    tags=("window", "streaming", "agg"),
)
def window_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Funnel analysis: ordered stage conversion (view → click → purchase)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after_view,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after_click
"""


@register(
    "funnel_conversion",
    _FUNNEL_ORACLE,
    doc="Ordered funnel (view → click-after-view → purchase-after-click): "
    "each stage is one per-user MIN-aggregate joined to the previous "
    "stage's timestamp — stage k costs one shuffle on user_id (shared "
    "partitioning), never a per-user sequence scan",
    tags=("events", "funnel", "agg", "join"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All three stage aggregates cluster on user_id, so AQE reuses one
    # exchange layout; the final counts are three scalar aggregates
    # unioned into a single row (matching the oracle's scalar selects).
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # Single-row combine WITHOUT a constant-key join (which would
    # constant-fold into a BroadcastNestedLoopJoin): tag each stage's
    # per-user rows and take one global aggregate.
    stages = (
        v.select(F.lit(1).alias("sv"), F.lit(0).alias("sc"), F.lit(0).alias("sp"))
        .unionAll(c.select(F.lit(0), F.lit(1), F.lit(0)))
        .unionAll(p.select(F.lit(0), F.lit(0), F.lit(1)))
    )
    # coalesce to 0: an empty union yields NULL sums, but the oracle's
    # scalar COUNT(*) subqueries yield 0
    return stages.agg(
        F.coalesce(F.sum("sv"), F.lit(0)).alias("n_viewed"),
        F.coalesce(F.sum("sc"), F.lit(0)).alias("n_clicked_after_view"),
        F.coalesce(F.sum("sp"), F.lit(0)).alias("n_purchased_after_click"),
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users — first-seen + cumsum formulation
# ---------------------------------------------------------------------------

_CUM_DISTINCT_ORACLE = """
WITH days AS (
  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
),
firsts AS (
  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
  FROM events GROUP BY 1, 2
),
news AS (
  SELECT event_type, day, COUNT(*) AS n_new FROM firsts GROUP BY 1, 2
)
SELECT d.event_type, d.day,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (
              PARTITION BY d.event_type ORDER BY d.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS cum_distinct_users
FROM days d
LEFT JOIN news n ON n.event_type = d.event_type AND n.day = d.day
"""


@register(
    "window_cumulative_distinct",
    _CUM_DISTINCT_ORACLE,
    doc="Cumulative distinct users per event_type by day. Spark has no "
    "COUNT(DISTINCT) OVER; the scalable formulation is first-seen date "
    "per (type, user) -> new-user counts per day -> running sum. State "
    "is one row per user (one shuffle), never a growing distinct set "
    "per window row - the 100 TB shape a collect_set window would break",
    tags=("window", "distinct", "agg", "events"),
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    days = ev.select("event_type", "day").distinct()
    firsts = ev.groupBy("event_type", "user_id").agg(F.min("day").alias("day"))
    news = firsts.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        days.join(news, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.sum(F.coalesce(F.col("n_new"), F.lit(0)))
            .over(w)
            .alias("cum_distinct_users"),
        )
    )


# ---------------------------------------------------------------------------
# Retention cohorts
# ---------------------------------------------------------------------------
#
# The standard product-analytics rollup: cohort users by first-seen
# day, then count how many are still active N days later. Decorrelated
# to two aggregates — first-seen per user (one shuffle on user_id),
# then distinct users per (cohort_day, day_offset) — never a per-user
# subquery. All counts are exact integers: engine-portable with no
# float drift. At 100 TB both shuffles are fine-grained (user_id, then
# (cohort, offset)); the first-seen aggregate is the only pass over
# the raw events and is map-side combined.

_RETENTION_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first_seen AS (
  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY 1
)
SELECT f.cohort_day,
       CAST(a.day - f.cohort_day AS INTEGER) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM activity a
JOIN first_seen f ON f.user_id = a.user_id
WHERE CAST(a.day - f.cohort_day AS INTEGER) IN (0, 1, 3, 7, 14)
GROUP BY 1, 2
"""


@register(
    "retention_cohorts",
    _RETENTION_ORACLE,
    doc="Retention-cohort analysis: users cohorted by first-seen day, "
    "distinct-active counts at day offsets 0/1/3/7/14 — decorrelated "
    "to first-seen aggregate + self-join, exact integer counts",
    tags=("events", "agg", "cohort", "join"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first_seen = activity.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    offset = F.datediff(F.col("day"), F.col("cohort_day")).cast("int")
    return (
        activity.join(first_seen, "user_id")
        .select("user_id", "cohort_day", offset.alias("day_offset"))
        .where(F.col("day_offset").isin(0, 1, 3, 7, 14))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Gaps and islands — longest consecutive-day streak per user
# ---------------------------------------------------------------------------
#
# The calendar-grain twin of sessionize (which islands on timestamp
# gaps): group each user's distinct activity DAYS into consecutive
# runs with the classic day-minus-row_number anchor (consecutive days
# share an anchor date because both advance by 1), then keep the
# longest run with a deterministic (length DESC, start ASC) tie-break.
# One shuffle on user_id serves the ranking window and the run
# aggregate; run counts are bounded by days-per-user, not event
# volume.

_STREAK_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
anchored AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS anchor
  FROM activity
),
runs AS (
  SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS streak_len
  FROM anchored
  GROUP BY user_id, anchor
),
best AS (
  SELECT user_id, streak_start, streak_len,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak_len DESC, streak_start) AS rk
  FROM runs
)
SELECT user_id, streak_start, CAST(streak_len AS BIGINT) AS streak_len
FROM best WHERE rk = 1
"""


@register(
    "window_gap_islands",
    _STREAK_ORACLE,
    doc="Gaps-and-islands: longest consecutive-day activity streak per "
    "user via the day-minus-row_number anchor idiom, deterministic "
    "(length DESC, start ASC) tie-break — the calendar-grain twin of "
    "sessionize",
    tags=("window", "islands", "events"),
)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    anchored = activity.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = anchored.groupBy("user_id", "anchor").agg(
        F.min("day").alias("streak_start"),
        F.count(F.lit(1)).alias("streak_len"),
    )
    best = runs.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(
                F.col("streak_len").desc(), F.col("streak_start")
            )
        ),
    )
    return best.where(F.col("rk") == 1).select(
        "user_id", "streak_start", F.col("streak_len").cast("bigint").alias("streak_len")
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------
#
# The journey-analysis / next-event-model input: for each user, order
# events in time and count (event_type -> next event_type) transitions.
# One lead() over the per-user window (shuffle key = user_id, shared
# with every other per-user window op) + one hash-groupBy of a tiny
# (|types|^2)-row domain. The (ts, event_id) compound order makes the
# sequence deterministic under same-timestamp ties on both engines.

_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         ) AS next_type
  FROM events
)
SELECT event_type, next_type, COUNT(*) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register(
    "event_transition_matrix",
    _TRANSITION_ORACLE,
    doc="First-order Markov transition counts between consecutive "
    "events per user (lead over the per-user time order, "
    "deterministic (ts, event_id) tie-break) — the journey/"
    "next-event-model aggregate",
    tags=("events", "window", "markov"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# Session path extraction (ordered aggregation)
# ---------------------------------------------------------------------------
#
# The clickstream-journey primitive: each session becomes its ordered
# event-type path string ("view>view>click>purchase"). Spark has no
# ordered string_agg — the deterministic formulation is collect structs,
# array_sort (by ts then event_id: total order), project types, join.
# Same shuffle key as sessionization (user_id) so the whole query is
# one exchange.

_PATHS_ORACLE = f"""
WITH flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
       COUNT(*) AS path_len
FROM sess
GROUP BY user_id, session_seq
"""


@register(
    "sessionize_paths",
    _PATHS_ORACLE,
    doc="Per-session ordered event-type path strings — ordered "
    "aggregation via collect+array_sort on a (ts, event_id) total "
    "order (Spark's deterministic stand-in for ORDER BY inside "
    "string_agg); one shuffle shared with sessionization",
    tags=("window", "sessionize", "paths"),
)
def sessionize_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    sess = sessionize(ev, "user_id", "ts")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(ordered, lambda x: x["event_type"]), ">"
        ).alias("path"),
        F.count(F.lit(1)).alias("path_len"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection: median/MAD outlier flags
# ---------------------------------------------------------------------------
#
# The classic robust outlier rule — |x - median| > 3 * MAD — with BOTH
# statistics computed as EXACT rank-based lower medians (the
# percentile_disc shape agg_exact_percentiles documents: one sort
# window per group, conditional aggregate at rank floor((n+1)/2)).
# Mean/stddev outlier flags break down exactly when outliers exist
# (the outliers inflate the stddev); median/MAD is the standard
# robust replacement, and rank-based medians keep every comparison in
# exact arithmetic — no interpolation, no engine-specific
# approx-percentile sketch — so the flagged set hash-certifies.
#
# Scale: two sort-window + aggregate passes over the same (group)
# partitioning; parallelism equals group count (see the
# agg_exact_percentiles caveat and its two-phase histogram refinement
# for few-huge-group shapes).

_MAD_FACTOR = 3.0


def mad_anomalies(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    factor: float = _MAD_FACTOR,
) -> DataFrame:
    """Rows whose |value - group_median| exceeds ``factor`` * group
    MAD (groups with MAD = 0 flag nothing — a degenerate spread makes
    every deviation 'infinite sigmas', the standard guard).

    Both rank-based medians use the grouped two-pass decomposition
    (operators/ranking.py grouped_prefix_sum_rank) rather than
    group-partitioned windows: ``group_col`` is low-cardinality, so a
    plain window would funnel each group's full history through one
    task — the same skew shape fixed in the CUSUM query."""
    from lambda_lakehouse_spark.operators.ranking import (
        grouped_prefix_sum_rank,
    )

    # base feeds the count, the first median, and the deviation join;
    # dev feeds the second median and the final filter — two chained
    # grouped-rank passes over multi-use inputs compound to ~13
    # re-derivations without lineage truncation (chained-call note in
    # operators/ranking.py). Lazy checkpoints run each once.
    base = events.select(id_col, group_col, value_col).localCheckpoint(
        eager=False
    )
    cnt = base.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt"))

    def _grouped_median(df, val_col, out_col):
        ranked = grouped_prefix_sum_rank(
            df.select(group_col, val_col, id_col),
            keys=[group_col],
            order=[val_col, id_col],
            value=F.lit(0),
            sum_col="_z",
            pos_col="_rn",
        )
        return (
            ranked.join(cnt, group_col)
            .where(
                F.col("_rn")
                == F.expr("cast(floor((_cnt + 1) / 2.0) as bigint)")
            )
            .select(group_col, F.col(val_col).alias(out_col))
        )

    med = _grouped_median(base, value_col, "med")
    dev = (
        base.join(med, group_col)
        .withColumn("dev", F.abs(F.col(value_col) - F.col("med")))
        .localCheckpoint(eager=False)
    )
    mad = _grouped_median(dev, "dev", "mad")
    return (
        dev.join(mad, group_col)
        .where(
            (F.col("mad") > 0) & (F.col("dev") > F.lit(factor) * F.col("mad"))
        )
        .select(id_col, group_col, value_col, "med", "mad", "dev")
    )


_MAD_ORACLE = f"""
WITH base AS (
  SELECT event_id, event_type, value FROM events
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM base
),
med AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)
                  THEN value END) AS med
  FROM ranked GROUP BY 1
),
dev AS (
  SELECT b.event_id, b.event_type, b.value, m.med,
         abs(b.value - m.med) AS dev
  FROM base b JOIN med m USING (event_type)
),
ranked2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY dev, event_id) AS rn2,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt2
  FROM dev
),
mad AS (
  SELECT event_type,
         MAX(CASE WHEN rn2 = CAST(floor((cnt2 + 1) / 2.0) AS BIGINT)
                  THEN dev END) AS mad
  FROM ranked2 GROUP BY 1
)
SELECT d.event_id, d.event_type, d.value, d.med, a.mad, d.dev
FROM dev d JOIN mad a USING (event_type)
WHERE a.mad > 0 AND d.dev > CAST({_MAD_FACTOR} AS DOUBLE) * a.mad
"""


@register(
    "events_anomaly_mad",
    _MAD_ORACLE,
    doc="Robust outlier flags per event type: |value - median| > "
    "3 * MAD with both statistics as exact rank-based lower medians "
    "(no approx sketch, no interpolation) — two sort-window passes on "
    "the same group partitioning, flagged set hash-certifies",
    tags=("events", "anomaly", "robust", "window"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return mad_anomalies(ev)


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles
# ---------------------------------------------------------------------------

_TTC_STEP_A = "signup"
_TTC_STEP_B = "purchase"


def time_to_convert(
    events: DataFrame, step_a: str = _TTC_STEP_A, step_b: str = _TTC_STEP_B
) -> DataFrame:
    """(user_id, delay_us): first ``step_a`` per user → first ``step_b``
    at-or-after it. Users who never convert are absent (funnel
    semantics; the companion funnel_conversion query counts them)."""
    a = (
        events.where(F.col("event_type") == step_a)
        .groupBy("user_id")
        .agg(F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("a_us"))
    )
    b = events.where(F.col("event_type") == step_b).select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("b_us")
    )
    return (
        a.join(b, "user_id")
        .where(F.col("b_us") >= F.col("a_us"))
        .groupBy("user_id", "a_us")
        .agg(F.min("b_us").alias("first_b_us"))
        .select(
            "user_id", (F.col("first_b_us") - F.col("a_us")).alias("delay_us")
        )
    )


_TTC_ORACLE = f"""
WITH a AS (
  SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS a_us
  FROM events WHERE event_type = '{_TTC_STEP_A}' GROUP BY 1
),
d AS (
  SELECT a.user_id,
         MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) - a.a_us AS delay_us
  FROM a
  JOIN events e ON e.user_id = a.user_id
              AND e.event_type = '{_TTC_STEP_B}'
              AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= a.a_us
  GROUP BY a.user_id, a.a_us
),
ranked AS (
  SELECT delay_us,
         ROW_NUMBER() OVER (ORDER BY delay_us, user_id) AS rn,
         COUNT(*) OVER () AS cnt
  FROM d
)
SELECT CAST(MAX(cnt) AS BIGINT) AS n_converted,
       MAX(CASE WHEN rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)
                THEN delay_us END) AS p50_us,
       MAX(CASE WHEN rn = CAST(floor((9 * cnt + 9) / 10.0) AS BIGINT)
                THEN delay_us END) AS p90_us,
       MAX(CASE WHEN rn = cnt THEN delay_us END) AS max_us
FROM ranked
"""


@register(
    "funnel_time_to_convert",
    _TTC_ORACLE,
    doc="Funnel latency: first signup → first subsequent purchase per "
    "user, p50/p90/max of the delay as exact rank-based discrete "
    "percentiles (agg_exact_percentiles shape) — per-user min-join "
    "keeps the join output one row per (user, signup), never a "
    "per-pair explosion",
    tags=("events", "funnel", "percentile", "window"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    from lambda_lakehouse_spark.operators.ranking import exact_global_rank

    d = time_to_convert(ev)
    # exact global rank via the two-pass range-partitioned decomposition
    # (operators/ranking.py) — no single-partition sort of the converted-
    # user relation; the total count rides in as a 1-row broadcast
    ranked = exact_global_rank(
        d, ["delay_us", "user_id"], rank_col="rn"
    ).crossJoin(F.broadcast(d.agg(F.count(F.lit(1)).alias("cnt"))))
    return ranked.agg(
        F.max("cnt").cast("bigint").alias("n_converted"),
        F.max(
            F.when(
                F.col("rn") == F.expr("cast(floor((cnt + 1) / 2.0) as bigint)"),
                F.col("delay_us"),
            )
        ).alias("p50_us"),
        F.max(
            F.when(
                F.col("rn")
                == F.expr("cast(floor((9 * cnt + 9) / 10.0) as bigint)"),
                F.col("delay_us"),
            )
        ).alias("p90_us"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("delay_us"))).alias(
            "max_us"
        ),
    )


# ---------------------------------------------------------------------------
# Bounce rate per day
# ---------------------------------------------------------------------------

_BOUNCE_ORACLE = f"""
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS INTEGER)
              AS session_seq
  FROM flagged
),
per_session AS (
  SELECT user_id, session_seq,
         CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         COUNT(*) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS bounce_rate
FROM per_session
GROUP BY day
"""


@register(
    "sessionize_bounce_rate",
    _BOUNCE_ORACLE,
    doc="Daily bounce rate from gap-based sessions (a session is "
    "attributed to its START day): single-event-session share per "
    "day — the same one-shuffle sessionize plan feeding a second "
    "map-side-combined rollup",
    tags=("window", "sessionize", "agg", "events"),
)
def sessionize_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sess = sessionize(ev, key="user_id", ts_col="ts")
    per = sess.groupBy("user_id", "session_seq").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        (
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------

def cusum_changepoints(events: DataFrame) -> DataFrame:
    """Per event type: the time-ordered CUSUM of deviations from the
    group mean and its maximum-|CUSUM| position — the classical
    level-shift changepoint statistic (Page 1954). Deviations are
    decimal-quantized before the running sum, so the order-sensitive
    prefix reduction is exact and the argmax position hash-certifies.

    Skew shape: ``event_type`` is LOW cardinality, so a plain
    type-partitioned window would serialize each type's full history
    through one task. Instead the prefix sum and position come from
    the grouped two-pass decomposition
    (operators/ranking.py grouped_prefix_sum_rank — a hot type's
    history spans many range partitions; per-key boundary offsets are
    cluster-bounded), and the per-type argmax is a two-level
    aggregation on a lexicographic (|cusum|, -pos) struct max — no
    per-type single-task stage anywhere, parallelism follows data
    size, not |types|. Decimal addition is associative, so the split
    prefix sums are bit-identical to the one-task window."""
    from lambda_lakehouse_spark.functions.scalar import dsum
    from lambda_lakehouse_spark.operators.ranking import (
        grouped_prefix_sum_rank,
    )

    base = events.select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("v"),
    )
    m = base.groupBy("event_type").agg(
        (dsum("v") / F.count(F.lit(1))).alias("mean_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    dev = grouped_prefix_sum_rank(
        base.join(m, "event_type"),
        keys=["event_type"],
        order=["ts", "event_id"],
        value=(F.col("v") - F.col("mean_value")).cast("decimal(28,6)"),
        sum_col="_cusum",
        pos_col="_pos",
    )
    # per-type argmax of (|cusum| DESC, pos ASC) as a two-level struct
    # max: local per-partition candidates first, then one tiny reduce —
    # max(struct) compares fields lexicographically, and -pos turns the
    # ascending tie-break into a max
    best = dev.groupBy("event_type", "n_events", "mean_value").agg(
        F.max(
            F.struct(
                F.abs(F.col("_cusum")).alias("a"),
                (-F.col("_pos")).alias("np"),
            )
        ).alias("_best")
    )
    return best.select(
        "event_type",
        "n_events",
        "mean_value",
        (-F.col("_best.np")).cast("int").alias("cp_position"),
        F.col("_best.a").cast("double").alias("max_abs_cusum"),
    )


_CUSUM_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         CAST(value AS DOUBLE) AS v
  FROM events
),
m AS (
  SELECT event_type,
         CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           AS mean_value,
         COUNT(*) AS n_events
  FROM base GROUP BY 1
),
dev AS (
  SELECT b.event_type, m.n_events, m.mean_value,
         SUM(CAST(b.v - m.mean_value AS DECIMAL(28,6)))
           OVER (PARTITION BY b.event_type ORDER BY b.ts, b.event_id
                 ROWS UNBOUNDED PRECEDING) AS cusum,
         ROW_NUMBER() OVER (PARTITION BY b.event_type
                            ORDER BY b.ts, b.event_id) AS pos
  FROM base b JOIN m USING (event_type)
)
SELECT event_type, n_events, mean_value,
       CAST(pos AS INTEGER) AS cp_position,
       CAST(abs(cusum) AS DOUBLE) AS max_abs_cusum
FROM dev
QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY abs(cusum) DESC, pos) = 1
"""


@register(
    "events_cusum_changepoint",
    _CUSUM_ORACLE,
    doc="CUSUM changepoint per event type (Page 1954): decimal-exact "
    "running sum of mean deviations in time order, argmax-|CUSUM| "
    "position as the level-shift estimate — one group-key shuffle "
    "shared by the prefix sum and both ranking windows",
    tags=("events", "changepoint", "window", "stats"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    return cusum_changepoints(ev)


# ---------------------------------------------------------------------------
# Marketing-style conversion attribution
# ---------------------------------------------------------------------------
#
# First-touch / last-touch attribution: for every purchase, the
# earliest and the most recent touchpoint (view/click/signup) at or
# before it for the same user. The scalable formulation is the
# tag-union + running last/first trick the as-of join family uses
# (operators/temporal.py): union touches and conversions into one
# relation, sort per user by (ts, touch-before-conversion, event_id),
# and read the attribution off IGNORE NULLS last/first windows — one
# shuffle on user_id, no per-conversion probe join, no range join.
# Ties at the same timestamp resolve touch-first (a same-instant touch
# counts), then by event_id — total order, hash-certified.

_ATTR_TOUCHES = ("view", "click", "signup")
_ATTR_CONV = "purchase"


def conversion_attribution(events: DataFrame) -> DataFrame:
    """(conv_event_id, user_id, value, first_touch_type,
    last_touch_type, last_touch_delay_us) for every conversion;
    unattributed conversions keep NULL touch columns."""
    ev = events.select(
        "event_id", "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )
    touches = ev.where(F.col("event_type").isin(*_ATTR_TOUCHES)).select(
        "user_id", "ts_us", "event_id",
        F.lit(0).alias("is_conv"),
        F.col("event_type").alias("touch_type"),
        F.col("ts_us").alias("touch_ts_us"),
        F.lit(None).cast("double").alias("value"),
    )
    convs = ev.where(F.col("event_type") == _ATTR_CONV).select(
        "user_id", "ts_us", "event_id",
        F.lit(1).alias("is_conv"),
        F.lit(None).cast("string").alias("touch_type"),
        F.lit(None).cast("bigint").alias("touch_ts_us"),
        "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "is_conv", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = touches.unionByName(convs).select(
        "*",
        F.first("touch_type", ignorenulls=True).over(w).alias("_first_type"),
        F.last("touch_type", ignorenulls=True).over(w).alias("_last_type"),
        F.last("touch_ts_us", ignorenulls=True).over(w).alias("_last_ts_us"),
    )
    return tagged.where(F.col("is_conv") == 1).select(
        F.col("event_id").alias("conv_event_id"),
        "user_id",
        "value",
        F.col("_first_type").alias("first_touch_type"),
        F.col("_last_type").alias("last_touch_type"),
        (F.col("ts_us") - F.col("_last_ts_us")).alias("last_touch_delay_us"),
    )


_ATTR_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
  FROM events
),
tagged AS (
  SELECT user_id, ts_us, event_id, 0 AS is_conv,
         event_type AS touch_type, ts_us AS touch_ts_us,
         CAST(NULL AS DOUBLE) AS value
  FROM ev WHERE event_type IN ('view', 'click', 'signup')
  UNION ALL
  SELECT user_id, ts_us, event_id, 1 AS is_conv,
         NULL, NULL, value
  FROM ev WHERE event_type = '{_ATTR_CONV}'
),
attributed AS (
  SELECT *,
         FIRST_VALUE(touch_type IGNORE NULLS) OVER w AS first_type,
         LAST_VALUE(touch_type IGNORE NULLS) OVER w AS last_type,
         LAST_VALUE(touch_ts_us IGNORE NULLS) OVER w AS last_ts_us
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_conv, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS conv_event_id, user_id, value,
       first_type AS first_touch_type,
       last_type AS last_touch_type,
       ts_us - last_ts_us AS last_touch_delay_us
FROM attributed WHERE is_conv = 1
"""


@register(
    "attribution_touchpoints",
    _ATTR_ORACLE,
    doc="First-/last-touch conversion attribution: tag-union of "
    "touchpoints and purchases, one per-user sorted window with "
    "IGNORE NULLS first/last — the as-of-join trick that attributes "
    "every conversion in a single user-keyed shuffle (no probe join); "
    "same-instant touches count, unattributed conversions keep NULLs",
    tags=("events", "attribution", "window", "asof"),
)
def attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    return conversion_attribution(ev)
