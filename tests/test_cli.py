"""The __main__ CLI: list/run/explain/oracle/verify over the registry."""

from __future__ import annotations

import pytest

from lambda_lakehouse_spark.__main__ import main

SF = "/root/testdata/sf0.001"


def test_cli_list_includes_registry_and_staged(spark, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "dedup_minhash_calibration" in out
    assert main(["list", "--tag", "dedup"]) == 0
    out = capsys.readouterr().out
    assert "dedup_minhash_calibration" in out and "q1_pricing_summary" not in out


def test_cli_oracle_prints_sql(spark, capsys):
    assert main(["oracle", "q6_selective_filter"]) == 0
    assert "SELECT" in capsys.readouterr().out.upper()


def test_cli_unknown_query_suggests(spark, capsys):
    with pytest.raises(SystemExit) as e:
        main(["run", "pricing_summary"])
    assert e.value.code == 2
    assert "q1_pricing_summary" in capsys.readouterr().err


def test_cli_run_and_verify_roundtrip(spark, capsys):
    assert main(["--sf-dir", SF, "run", "agg_group_min", "--limit", "3"]) == 0
    assert "only showing top 3 rows" in capsys.readouterr().out
    assert main(["--sf-dir", SF, "verify", "agg_group_min"]) == 0
    assert "MATCH" in capsys.readouterr().out


def test_cli_explain_prints_physical_plan(spark, capsys):
    assert main(["--sf-dir", SF, "explain", "q6_selective_filter"]) == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_cli_verify_mismatch_prints_multiset_diff(spark, capsys):
    """A MISMATCH must print rows from each side's multiset difference
    (positional zipping can print nothing when counts differ) and exit
    nonzero."""
    from lambda_lakehouse_spark.registry import REGISTRY, Query

    def fake(spark, sf_dir):
        return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    name = "_test_mismatch_probe"
    REGISTRY[name] = Query(
        name, fake, "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a')) t(id, v)"
    )
    try:
        rc = main(["--sf-dir", SF, "verify", name])
    finally:
        del REGISTRY[name]
    assert rc == 1
    out = capsys.readouterr().out
    assert "MISMATCH" in out and "2 spark rows vs 1 oracle rows" in out
    assert "spark-only" in out and "'b'" in out
