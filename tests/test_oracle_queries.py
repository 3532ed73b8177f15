"""The correctness gate, locally: every registered query with an
oracle is executed on Spark AND DuckDB and compared the way the
driver's t2 harness does. Queries without an oracle get a smoke check:
they build, run and have columns.

The compares themselves run once per session in the ``oracle_runs``
pool (tests/conftest.py), which overlaps them across a few threads.
Failure attribution is per query: each outcome is re-raised inside
that query's own test, so a red query fails exactly its own row in
the report."""

from __future__ import annotations

import pytest

from lambda_lakehouse_spark.registry import load_all

REGISTRY = load_all()
WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
NO_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(oracle_runs, name):
    err = oracle_runs[name].error
    if err is not None:
        raise err


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(oracle_runs, name):
    run = oracle_runs[name]
    if run.error is not None:
        raise run.error
    assert run.columns


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) == len(REGISTRY)
