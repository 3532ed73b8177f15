"""Shared test fixtures: one SparkSession per test run, the
DuckDB-oracle comparator that mirrors the driver's correctness gate
(row-count + column-name-sorted, order-insensitive value comparison),
and ``oracle_runs``, the one pass that builds and runs every registered
query: it feeds both the oracle gate and the plan guardrails, which
read the static and executed plans it recorded (``plan_nodes``).

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
import re
import uuid
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

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
def ducks():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job and SQL execution this thread starts inside
    the block with ``group`` (as job group and as description)."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def jobs_launched_by(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and
    the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-launched-by-{uuid.uuid4().hex}"
    with job_group(sc, group):
        out = fn()
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


def assert_matches_oracle(ducks, query, sdf, rows):
    """Compare a collected Spark result (``sdf`` and its ``rows``) with
    the query's DuckDB oracle: identical column sets, identical sorted
    canonical rows, and driver-compatible pandas dtype kinds (see module
    docstring)."""
    s_cols, s_rows = canonical_rows(sdf.columns, rows)

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


@dataclass
class QueryRun:
    """What one recorded query run built and ran.

    ``columns`` and ``static_plan`` (the formatted explain) come from the
    built DataFrame before its action. ``executed_plans`` holds the
    formatted plan of every SQL execution the run launched, as the SQL
    status store recorded it: the action's, and those a query runs while
    it is built — an eager checkpoint, a driver-side ``collect``, and,
    under AQE, the child of a lazy ``localCheckpoint``, whose subtree the
    static plan only shows as ``Scan ExistingRDD``. ``spark_error`` is
    set when the build, the action or the plan read raised, so the plans
    are incomplete; ``error`` is the run's outcome, the oracle compare's
    included."""

    columns: list[str] | None = None
    static_plan: str | None = None
    executed_plans: list[str] = field(default_factory=list)
    spark_error: Exception | None = None
    error: Exception | None = None

    def plans(self) -> list[tuple[str, str]]:
        """[(view, formatted plan)]: the static plan, then each executed one."""
        static = [("static", self.static_plan)] if self.static_plan else []
        return static + [("executed", p) for p in self.executed_plans]


def _newest_execution_id(store) -> int:
    """Id of the newest SQL execution in the status store, -1 if none.
    Executions are kept in id order."""
    while True:
        n = store.executionsCount()
        if n == 0:
            return -1
        newest = store.executionsList(n - 1, 1)
        if newest.size():  # else the store evicted old ones meanwhile
            return newest.apply(0).executionId()


def _executed_plans(sc, store, group: str, after: int) -> list[str]:
    """Formatted plans of the SQL executions described as ``group`` with
    an id above ``after``. Only ids started since then are read, not the
    whole store."""
    # execution events reach the store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    plans = []
    for eid in range(after + 1, _newest_execution_id(store) + 1):
        e = store.execution(eid)
        if not e.isDefined():
            continue
        e = e.get()
        if e.description() == group:
            plans.append(e.physicalPlanDescription())
    return plans


def run_recorded(spark, build, check=None) -> QueryRun:
    """Build ``build()``, record its columns and static plan, collect
    it, then ``check(sdf, rows)`` it, all under a job group of its own;
    record the executed plan of every SQL execution that launched.
    Nothing raises: the outcome is in the returned run."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    formatted = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    run = QueryRun()
    group = f"run-recorded-{uuid.uuid4().hex}"
    after = _newest_execution_id(store)
    with job_group(sc, group):
        try:
            sdf = build()
            run.columns = sdf.columns
            run.static_plan = sdf._jdf.queryExecution().explainString(formatted)
            rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            run.spark_error = run.error = e
        else:
            try:
                if check is not None:
                    check(sdf, rows)
            except Exception as e:
                run.error = e
    try:
        run.executed_plans = _executed_plans(sc, store, group, after)
    except Exception as e:
        run.spark_error = run.spark_error or e
    return run


ORACLE_POOL_SIZE = 6


@pytest.fixture(scope="session")
def oracle_runs(spark):
    """{query name: QueryRun} for every registered query: each query
    built, run and compared with its DuckDB oracle (if it has one) once
    per session, ORACLE_POOL_SIZE runs in flight.

    The correctness gate (``test_oracle_queries.py``) re-raises each
    outcome in its query's own test. The registry-wide plan guardrails
    (``test_scale.py``, ``test_registry_contract.py``) read the columns
    and plans the same runs recorded, so no query is built twice.

    The compares are independent, and at sf0.001 each is mostly Spark
    scheduling latency and a DuckDB execution, so the pool overlaps
    them. Each compare gets its own DuckDB connection (connections are
    not thread-safe; parquet views are cheap to register) and its own
    job group, which the SQL executions it launches carry as their
    description."""
    from lambda_lakehouse_spark.registry import load_all

    def one(q):
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                p = os.path.join(SF_DIR, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

            def check(sdf, rows):
                assert_matches_oracle(con, q, sdf, rows)

            return q.name, run_recorded(
                spark,
                lambda: q.spark(spark, SF_DIR),
                check if q.oracle is not None else None,
            )
        finally:
            con.close()
            # Release this query's DataFrame graph promptly: py4j objects
            # form reference cycles, so without an explicit pass each
            # compared query's plan — and its localCheckpoint blocks,
            # JVM-side — lives until a generational GC runs, and the
            # accumulated blocks slow later queries.
            gc.collect()

    with ThreadPoolExecutor(max_workers=ORACLE_POOL_SIZE) as pool:
        return dict(pool.map(one, load_all().values()))


# A formatted explain prints each plan tree as one line per operator,
# ``<indent><+- or :- ><"* " if codegen><label> (<operator id>)``, with
# a trailing ``, Statistics(...)`` on AQE query stages; then one
# ``(<id>) <operator>`` block per operator, holding its ``Arguments:``.
_TREE_LINE = re.compile(r"^(?P<indent>[ :+\-]*)(?:\* )?(?P<label>.+?) \((?P<id>\d+)\)(?:, .*)?$")
_DETAIL_HEAD = re.compile(r"^\((?P<id>\d+)\) ")


@dataclass(frozen=True)
class PlanNode:
    name: str  # operator name: "Window", "BroadcastNestedLoopJoin", ...
    args: str  # the operator's "Arguments:" text, "" if it has none
    below: frozenset[str]  # names of the operators in its subtree


def plan_nodes(formatted: str) -> list[PlanNode]:
    """Every operator of a formatted explain, the form both
    ``explainString("formatted")`` and an SQL execution's
    ``physicalPlanDescription`` take: the main tree (under AQE, its
    current and initial plans) and each subquery's tree."""
    tree, args, in_tree, op = [], {}, False, None
    for line in formatted.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")):
            in_tree = True  # a tree follows, up to the next blank line
        elif not line.strip():
            in_tree, op = False, None
        elif in_tree:
            m = _TREE_LINE.match(line)
            if m:
                tree.append((len(m["indent"]), m["label"].split()[0], m["id"]))
        elif m := _DETAIL_HEAD.match(line):
            op = m["id"]
        elif op is not None and line.startswith("Arguments: "):
            args[op] = line[len("Arguments: "):]
    nodes = []
    for i, (depth, name, op) in enumerate(tree):
        below = []
        for sub_depth, sub_name, _ in tree[i + 1:]:
            if sub_depth <= depth:
                break
            below.append(sub_name)
        nodes.append(PlanNode(name, args.get(op, ""), frozenset(below)))
    return nodes
