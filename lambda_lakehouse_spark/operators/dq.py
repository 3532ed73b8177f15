"""Data-quality expectations (Delta-Live-Tables-style constraint
checking, engine-native): declare named boolean rules over a
DataFrame, get (a) the rows partitioned into pass/quarantine with the
list of failed rules attached, and (b) a per-rule violation metrics
table.

The reference enforces quality implicitly (G-series guards scattered
through ``stg``/``curated`` jobs — e.g. ``vn_stg_processing.py``'s
null/empty filters); this makes the same checks declarative and
reusable. The rule verdicts are a pure projection (every rule is a
Column expression — codegen'd, no Python); the metrics are a single
map-side-combined aggregate over that projection. The pass/quarantine
split is two narrow filters over the verdict projection — no shuffle,
but each leg re-reads the input unless the caller persists the
checked frame (the streaming gate accepts this: a micro-batch scan is
cheap; a huge batch caller should cache or write the checked frame
once and filter from there).
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lambda_lakehouse_spark.registry import register
from lambda_lakehouse_spark.sources.readers import read_table


_RULE_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_rule_names(rules: Mapping[str, Column]) -> None:
    """Rule names must be bare identifiers: metrics interpolates them
    into a generated ``stack(...)`` expression (as both a string
    literal and a column suffix), so a space or quote would otherwise
    surface as a ParseException far from the caller's mistake."""
    bad = [n for n in rules if not _RULE_NAME_RE.match(n)]
    if bad:
        raise ValueError(
            f"DQ rule names must match [A-Za-z_][A-Za-z0-9_]*: {bad}"
        )


def with_expectations(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """Attach ``failed_rules`` (sorted array of names of violated
    rules; empty = clean) and ``dq_pass``. A NULL rule verdict counts
    as a violation (SQL three-valued logic must not let unknowns
    through a quality gate)."""
    _check_rule_names(rules)
    failed = F.sort_array(
        F.filter(
            F.array(
                *[
                    F.when(cond.isNull() | ~cond, F.lit(name))
                    for name, cond in sorted(rules.items())
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return df.withColumn("failed_rules", failed).withColumn(
        "dq_pass", F.size("failed_rules") == 0
    )


def expectation_metrics(df: DataFrame, rules: Mapping[str, Column]) -> DataFrame:
    """Per-rule violation counts + rates from one aggregate pass."""
    _check_rule_names(rules)
    checked = with_expectations(df, rules)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name in sorted(rules):
        aggs.append(
            F.sum(
                F.when(F.array_contains("failed_rules", name), 1).otherwise(0)
            ).alias(f"viol_{name}")
        )
    wide = checked.agg(*aggs)
    names = sorted(rules)
    stack = ", ".join(f"'{n}', viol_{n}" for n in names)
    return wide.select(
        F.expr(f"stack({len(names)}, {stack}) AS (rule, n_violations)"),
        "n_rows",
    ).select(
        "rule",
        F.col("n_violations").cast("bigint").alias("n_violations"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        (F.col("n_violations").cast("double") / F.col("n_rows")).alias(
            "violation_rate"
        ),
    )


def _orders_rules() -> dict[str, Column]:
    return {
        "total_under_300k": F.col("o_totalprice") <= 300000,
        "known_status": F.col("o_orderstatus").isin("F", "O", "P"),
        "date_in_range": (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2002-01-01").cast("timestamp")),
        "priority_present": F.col("o_orderpriority").isNotNull()
        & (F.col("o_orderpriority") != ""),
    }


_DQ_ORACLE = """
WITH checked AS (
  SELECT
    CASE WHEN NOT COALESCE(o_totalprice <= 300000, FALSE) THEN 1 ELSE 0 END AS v_total_under_300k,
    CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O','P'), FALSE) THEN 1 ELSE 0 END AS v_known_status,
    CASE WHEN NOT COALESCE(o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
                       AND o_orderdate <  TIMESTAMP '2002-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END AS v_date_in_range,
    CASE WHEN NOT COALESCE(o_orderpriority IS NOT NULL AND o_orderpriority <> '', FALSE) THEN 1 ELSE 0 END AS v_priority_present
  FROM orders
),
wide AS (
  SELECT COUNT(*) AS n_rows,
         SUM(v_total_under_300k) AS viol_total_under_300k,
         SUM(v_known_status) AS viol_known_status,
         SUM(v_date_in_range) AS viol_date_in_range,
         SUM(v_priority_present) AS viol_priority_present
  FROM checked
)
SELECT * FROM (
  SELECT 'date_in_range' AS rule,
         CAST(viol_date_in_range AS BIGINT) AS n_violations,
         CAST(n_rows AS BIGINT) AS n_rows,
         CAST(viol_date_in_range AS DOUBLE) / n_rows AS violation_rate
  FROM wide
  UNION ALL
  SELECT 'known_status', CAST(viol_known_status AS BIGINT),
         CAST(n_rows AS BIGINT), CAST(viol_known_status AS DOUBLE) / n_rows
  FROM wide
  UNION ALL
  SELECT 'total_under_300k', CAST(viol_total_under_300k AS BIGINT),
         CAST(n_rows AS BIGINT), CAST(viol_total_under_300k AS DOUBLE) / n_rows
  FROM wide
  UNION ALL
  SELECT 'priority_present', CAST(viol_priority_present AS BIGINT),
         CAST(n_rows AS BIGINT), CAST(viol_priority_present AS DOUBLE) / n_rows
  FROM wide
)
"""


@register(
    "dq_expectation_metrics",
    _DQ_ORACLE,
    doc="Declarative data-quality expectations (DLT-style): named "
    "boolean rules → per-rule violation counts/rates in one codegen'd "
    "pass (verdicts are a projection, metrics one map-side-combined "
    "aggregate); NULL verdicts count as violations. Row-level "
    "partitioning behavior pinned by test_dq_expectations_partition",
    tags=("quality", "agg", "expectations"),
)
def dq_expectation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return expectation_metrics(orders, _orders_rules())


# ---------------------------------------------------------------------------
# Freshness-lag monitoring
# ---------------------------------------------------------------------------

_FRESH_SLA_US = 24 * 3600 * 1_000_000  # 24h


def freshness_lag(events: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Per-group data freshness: each group's newest event vs the
    table's newest event, with an SLA breach flag. The operational
    check that catches one silent upstream (a stalled source keeps
    the table 'fresh' overall while its slice ages out). Integer
    microsecond arithmetic throughout; the global max is a 1-row
    broadcast."""
    tu = F.unix_micros(F.col("ts").cast("timestamp"))
    per = events.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"), F.max(tu).alias("max_us")
    )
    glob = events.agg(F.max(tu).alias("global_max_us"))
    return per.crossJoin(F.broadcast(glob)).select(
        group_col,
        "n_rows",
        "max_us",
        (F.col("global_max_us") - F.col("max_us")).alias("lag_us"),
        (
            (F.col("global_max_us") - F.col("max_us")) > F.lit(_FRESH_SLA_US)
        ).alias("sla_breached"),
    )


_FRESH_ORACLE = f"""
WITH per AS (
  SELECT event_type, COUNT(*) AS n_rows,
         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us
  FROM events GROUP BY 1
),
gmax AS (
  SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS global_max_us FROM events
)
SELECT p.event_type, p.n_rows, p.max_us,
       g.global_max_us - p.max_us AS lag_us,
       (g.global_max_us - p.max_us) > {_FRESH_SLA_US} AS sla_breached
FROM per p CROSS JOIN gmax g
"""


@register(
    "dq_freshness_lag",
    _FRESH_ORACLE,
    doc="Per-source freshness lag vs the table's newest event with a "
    "24h SLA breach flag — catches a single stalled upstream behind a "
    "globally-fresh table; one map-side-combined aggregate + 1-row "
    "global-max broadcast, integer microsecond arithmetic",
    tags=("quality", "freshness", "agg"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("event_type", "ts")
    return freshness_lag(ev)


# ---------------------------------------------------------------------------
# Referential-integrity audit across the foreign-key graph
# ---------------------------------------------------------------------------
#
# The cross-TABLE complement of with_expectations (which checks rows
# against rules inside one table): for every declared FK edge, count
# orphan children (FK value with no parent — a broken ingest or a
# too-early child load), NULL FKs (three-valued logic hides these
# from a plain anti-join), and unreferenced parents (dimension rows
# no fact ever touches — retention/archival candidates and a join-
# explosion early warning). This is the audit a warehouse runs after
# every load batch; the reference enforces the same edges implicitly
# by joining stg tables and silently dropping mismatches
# (vn_stg_processing.py's inner joins) — here the mismatch COUNTS are
# the product.
#
# Plan shape per edge: the child side reduces to its distinct FK
# domain FIRST (map-side-combined aggregate, so the anti-joins run
# on |domain| not |fact| rows), then two anti-joins (child-not-in-
# parent, parent-not-in-child) and three 1-row count aggregates
# combine via broadcast cross joins. At 100 TB every anti-join
# shuffles on the key domain — bounded by dimension cardinality, not
# fact row count; nothing sf-proportional is ever hint-broadcast.
# Output is |edges| rows.

_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_edge_audit(
    child: DataFrame, ck: str, parent: DataFrame, pk: str, edge: str
) -> DataFrame:
    """One audit row for FK edge ``child.ck -> parent.pk``:
    (edge, n_child_rows, n_null_fk, n_fk_values, n_orphan_values,
    n_parent_keys, n_unreferenced_parents)."""
    c = child.select(F.col(ck).alias("k"))
    # NULL parent keys are excluded (mirrors the oracle's
    # COUNT(DISTINCT pk), which skips NULLs) — without the filter a
    # NULL-keyed parent row would inflate n_parent_keys by one.
    p = parent.select(F.col(pk).alias("k")).where(F.col(pk).isNotNull()).distinct()
    base = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_child_rows"),
        # F.sum over zero rows is NULL; the oracle's COUNT(*) FILTER
        # yields 0 for an empty child — coalesce keeps them aligned.
        F.coalesce(
            F.sum(F.col("k").isNull().cast("int")).cast("bigint"), F.lit(0)
        )
        .cast("bigint")
        .alias("n_null_fk"),
    )
    dom = c.where(F.col("k").isNotNull()).distinct()
    nfk = dom.agg(F.count(F.lit(1)).cast("bigint").alias("n_fk_values"))
    orph = dom.join(p, "k", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orphan_values")
    )
    npar = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_parent_keys"))
    unref = p.join(dom, "k", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unreferenced_parents")
    )
    return (
        base.crossJoin(F.broadcast(nfk))
        .crossJoin(F.broadcast(orph))
        .crossJoin(F.broadcast(npar))
        .crossJoin(F.broadcast(unref))
        .select(
            F.lit(edge).alias("edge"),
            "n_child_rows",
            "n_null_fk",
            "n_fk_values",
            "n_orphan_values",
            "n_parent_keys",
            "n_unreferenced_parents",
        )
    )


def _fk_edge_oracle(ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""
SELECT '{ct}.{ck}->{pt}.{pk}' AS edge,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {ct}) AS n_child_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {ct} WHERE {ck} IS NULL)
         AS n_null_fk,
       (SELECT CAST(COUNT(DISTINCT {ck}) AS BIGINT) FROM {ct})
         AS n_fk_values,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT DISTINCT {ck} AS k FROM {ct} WHERE {ck} IS NOT NULL) d
          WHERE NOT EXISTS (SELECT 1 FROM {pt} WHERE {pk} = d.k))
         AS n_orphan_values,
       (SELECT CAST(COUNT(DISTINCT {pk}) AS BIGINT) FROM {pt})
         AS n_parent_keys,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT DISTINCT {pk} AS k FROM {pt}) p
          WHERE NOT EXISTS (SELECT 1 FROM {ct} WHERE {ck} = p.k))
         AS n_unreferenced_parents
"""


_FK_ORACLE = "\nUNION ALL\n".join(
    _fk_edge_oracle(ct, ck, pt, pk) for ct, ck, pt, pk in _FK_EDGES
)


@register(
    "dq_referential_integrity",
    _FK_ORACLE,
    doc="Post-load referential-integrity audit of the full FK graph: "
    "per edge, orphan FK values (anti-join on the distinct key "
    "domain, not the fact), NULL FKs, and unreferenced parents — "
    "anti-joins shuffle on dimension-bounded key domains; output is "
    "|edges| rows",
    tags=("quality", "dq", "join", "anti"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        t: read_table(spark, sf_dir, t)
        for t in {e[0] for e in _FK_EDGES} | {e[2] for e in _FK_EDGES}
    }
    parts = [
        fk_edge_audit(
            tables[ct], ck, tables[pt], pk, f"{ct}.{ck}->{pt}.{pk}"
        )
        for ct, ck, pt, pk in _FK_EDGES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Column profiling
# ---------------------------------------------------------------------------
#
# The dataset-card relation: per configured column, row/null/distinct
# counts and the modal value with its frequency — what a data catalog
# shows next to every table and what a curation run diffs before/after
# a transform. ONE scan: the configured columns unpivot to
# (column, value) rows via a generated stack() projection, counts
# aggregate on the (column, value) key, and the per-column rollup +
# mode (rank 1 by count DESC, value) ride a column-partitioned window
# over the already-aggregated counts — |columns| output rows at any
# scale. Values travel as strings; only string and integer columns
# are profiled here (double→string formatting is engine-specific).

_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey")


def column_profile(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, mode_value, mode_freq) per
    profiled column, in one scan of ``df``."""
    pairs = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in cols)
    kv = df.select(
        F.expr(f"stack({len(cols)}, {pairs}) AS (col, val)")
    )
    counts = kv.groupBy("col", "val").agg(F.count(F.lit(1)).alias("c"))
    per_col = counts.groupBy("col").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_null"),
        F.count(F.when(F.col("val").isNotNull(), 1))
        .cast("bigint")
        .alias("n_distinct"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("col").orderBy(F.col("c").desc(), "val")
    mode = (
        counts.where(F.col("val").isNotNull())
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "col",
            F.col("val").alias("mode_value"),
            F.col("c").cast("bigint").alias("mode_freq"),
        )
    )
    return per_col.join(mode, "col", "left").select(
        F.col("col").alias("column"),
        "n_rows",
        "n_null",
        "n_distinct",
        "mode_value",
        "mode_freq",
    )


def _profile_oracle(cols: tuple[str, ...]) -> str:
    branches = "\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM orders"
        for c in cols
    )
    return f"""
WITH kv AS (
  {branches}
),
counts AS (
  SELECT col, val, COUNT(*) AS c FROM kv GROUP BY 1, 2
),
per_col AS (
  SELECT col,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(CASE WHEN val IS NULL THEN c END), 0) AS BIGINT) AS n_null,
         CAST(COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct
  FROM counts GROUP BY 1
),
mode AS (
  SELECT col, val AS mode_value, CAST(c AS BIGINT) AS mode_freq FROM (
    SELECT col, val, c,
           ROW_NUMBER() OVER (PARTITION BY col ORDER BY c DESC, val) AS rk
    FROM counts WHERE val IS NOT NULL
  ) WHERE rk = 1
)
SELECT p.col AS "column", p.n_rows, p.n_null, p.n_distinct,
       m.mode_value, m.mode_freq
FROM per_col p LEFT JOIN mode m USING (col)
"""


@register(
    "dq_column_profile",
    _profile_oracle(_PROFILE_COLS),
    doc="Dataset-card column profiling of orders in ONE scan: the "
    "configured columns unpivot via stack(), counts key on "
    "(column, value), and null/distinct/mode roll up from the "
    "aggregated counts (mode = rank 1 by freq DESC, value) — "
    "|columns| output rows at any scale; string/integer columns only "
    "(double→string formatting is engine-specific)",
    tags=("quality", "profile", "agg"),
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return column_profile(orders, _PROFILE_COLS)
