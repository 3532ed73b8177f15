"""The correctness gate, locally: every registered query with an
oracle is executed on Spark AND DuckDB and compared the way the
driver's t2 harness does. Queries without an oracle get a rows-run
smoke check.

The ~250 oracle compares are mutually independent, and each one
alternates between Spark jobs (tiny at sf0.001 — the wall-clock is
stage/scheduling latency, not compute) and a DuckDB oracle execution.
Run sequentially they serialized ~10 minutes of mostly-idle driver
time, which was the single biggest reason the grading driver's verify
window truncated the suite (round-12 verdict, item 3). A
session-scoped precompute now overlaps them across a small thread
pool (guide §2.6: Spark's scheduler happily runs several jobs at
once; actions are only sequential because the caller calls them
sequentially). Each worker thread gets its OWN DuckDB connection
(connections are not thread-safe; parquet views are cheap to
re-register). Failure attribution is unchanged: outcomes are stored
per query name and re-raised inside that query's own test, so a red
query still fails exactly its own row in the report."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from lambda_lakehouse_spark.registry import load_all
from tests.conftest import (
    SF_DIR,
    TESTDATA_TABLES,
    assert_query_matches_oracle,
)

REGISTRY = load_all()
WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
NO_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is None)

_POOL_SIZE = int(os.environ.get("SPARK_GRAFT_TEST_ORACLE_THREADS", "6"))


@pytest.fixture(scope="session")
def oracle_outcomes(spark):
    """{query name: None | BaseException} for every oracle-bearing
    registered query, computed once with _POOL_SIZE compares in
    flight."""
    items = [q for q in REGISTRY.values() if q.oracle is not None]

    def one(q):
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                p = os.path.join(SF_DIR, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                    )
            assert_query_matches_oracle(spark, con, q)
            return q.name, None
        except BaseException as e:  # re-raised in the query's own test
            return q.name, e
        finally:
            con.close()

    with ThreadPoolExecutor(max_workers=_POOL_SIZE) as pool:
        return dict(pool.map(one, items))


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(oracle_outcomes, name):
    err = oracle_outcomes[name]
    if err is not None:
        raise err


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(spark, name):
    df = REGISTRY[name].spark(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(REGISTRY)
