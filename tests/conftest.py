"""Shared test fixtures: one SparkSession per test run + the
DuckDB-oracle comparator that mirrors the driver's correctness gate
(row-count + column-name-sorted, order-insensitive value comparison).

Native-typed rows (Spark ``collect()``, DuckDB ``fetchall()``) are
compared for value exactness (date/timestamp/decimal coercions can't
mask a mismatch), PLUS a pandas-path dtype-kind check that mirrors the
driver's comparison: the driver fetches the oracle via
``duckdb.execute(...).df()``, where DuckDB widens integer ``SUM``s to
HUGEINT and pandas renders HUGEINT as float64 — so an uncast integer
SUM hashes ``123.0`` against Spark's ``123`` and fails at the driver
even though ``fetchall()`` round-trips it as an exact Python int.
(Round-6 post-mortem: ``multimodal_audio_envelope`` and
``dedup_paragraph_fraction`` sailed through the fetchall-only gate and
died at the driver for exactly this reason.)  DECIMAL also lands as
float64 in ``.df()`` but the driver normalizes decimals (every
``dsum``-based query is driver-green), so the kind check only flags
integral-vs-float drift, the one class the driver punishes.
"""

from __future__ import annotations

import datetime as dt
import gc
import math
import os

import duckdb
import pytest

from lambda_lakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    yield get_spark(app_name="lakehouse-tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def built_queries(spark):
    """One built DataFrame per registered query, shared by
    the all-registry plan-guardrail sweeps (pathological joins,
    unpartitioned windows, unique output columns). Construction pays
    Catalyst analysis — and, for the trained-quantizer queries, the
    training jobs an eager checkpoint runs at build time; with AQE on,
    even a lazy checkpoint runs its child's shuffle stages — so paying
    it once per suite instead of once per sweep cut the three sweeps
    from 135/120/114 s to one shared build (round-13 suite-runtime
    fix; the driver's verify window was truncating the suite). The
    forced-broadcast guardrail deliberately does NOT use this cache:
    it must plan under its own session confs."""
    from lambda_lakehouse_spark.registry import load_all

    return {name: q.spark(spark, SF_DIR) for name, q in sorted(load_all().items())}


@pytest.fixture(scope="session")
def ducks():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def jobs_launched_by(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and
    the number of Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-launched-by-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(columns, rows):
    """Column-name-sorted, canonicalized, row-sorted representation."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(_canon_cell(row[i]) for i in order) for row in rows]
    out.sort()
    return cols, out


_INTEGRAL_SPARK_TYPES = ("byte", "short", "integer", "long")


def assert_pandas_dtype_kinds_match(sdf, oracle_pdf, name: str):
    """Driver-path dtype guard: Spark integral column vs oracle float64
    (DuckDB HUGEINT/uncast-SUM widening) hash-mismatches at the driver
    even when every value is numerically identical.  Schema-only on the
    Spark side — no extra job."""
    spark_kinds = {f.name: f.dataType.typeName() for f in sdf.schema.fields}
    for col in oracle_pdf.columns:
        o_kind = oracle_pdf[col].dtype.kind
        s_type = spark_kinds.get(col)
        if (
            s_type in _INTEGRAL_SPARK_TYPES
            and o_kind == "f"
            # NULL-containing int columns legitimately land as float64
            # (NaN masking) on BOTH engines' pandas paths, so the
            # driver hash still matches; only a NaN-free float column
            # against a Spark integral is the HUGEINT-widening bug.
            and not oracle_pdf[col].isna().any()
        ):
            raise AssertionError(
                f"{name}: column {col!r} is Spark {s_type} but the oracle's "
                f"pandas dtype is float ({oracle_pdf[col].dtype}) — DuckDB "
                "widened an integer aggregate (HUGEINT -> float64); wrap the "
                "oracle expression in CAST(... AS BIGINT) or the driver's "
                "pandas-path hash will diverge"
            )
        if s_type in ("float", "double") and o_kind == "i":
            raise AssertionError(
                f"{name}: column {col!r} is Spark {s_type} but the oracle's "
                f"pandas dtype is integer ({oracle_pdf[col].dtype}) — cast "
                "the oracle side to DOUBLE"
            )


def assert_query_matches_oracle(spark, ducks, query, sf_dir: str = SF_DIR):
    """Run the Spark query and its DuckDB oracle; assert identical
    column sets, identical sorted canonical rows, and driver-compatible
    pandas dtype kinds (see module docstring)."""
    sdf = query.spark(spark, sf_dir)
    s_cols, s_rows = canonical_rows(sdf.columns, [tuple(r) for r in sdf.collect()])

    # Execute the (possibly expensive) oracle ONCE into a temp table —
    # column types (incl. HUGEINT) are preserved — then take the two
    # views the gate needs as trivial scans: the pandas ``.df()`` form
    # for the driver-path dtype-kind guard (HUGEINT -> float64 widening
    # only surfaces there) and ``fetchall()`` for exact native values
    # (ints/Decimals stay exact there, unlike the pandas form).
    ducks.execute(
        "CREATE OR REPLACE TEMP TABLE __oracle_result AS "
        + query.oracle.rstrip().rstrip(";")
    )
    try:
        opdf = ducks.execute("SELECT * FROM __oracle_result").df()
        assert_pandas_dtype_kinds_match(sdf, opdf, query.name)

        cur = ducks.execute("SELECT * FROM __oracle_result")
        o_columns = [d[0] for d in cur.description]
        o_cols, o_rows = canonical_rows(o_columns, cur.fetchall())
    finally:
        ducks.execute("DROP TABLE IF EXISTS __oracle_result")

    assert s_cols == o_cols, f"{query.name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{query.name}: row count {len(s_rows)} vs oracle {len(o_rows)}"
    )
    if s_rows != o_rows:
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b][:5]
        raise AssertionError(
            f"{query.name}: value mismatch; first diffs (spark vs oracle): {diffs}"
        )
    # Release this query's DataFrame graph promptly: py4j objects form
    # reference cycles, so without an explicit pass each compared
    # query's plan — and its localCheckpoint blocks, JVM-side — lives
    # until a generational GC runs; across 250 oracle compares in one
    # session the accumulated blocks slow later queries (the round-11
    # bench/rank-sweep finding, applied to the suite).
    del sdf
    gc.collect()
