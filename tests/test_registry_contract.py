"""Registry / driver-contract invariants: the grading driver evaluates
the first 50 queries in iteration order, so the stalest-first order
registry.load_all() computes from the round artifacts must stay
correct as queries are added."""

from __future__ import annotations

import glob
import json
import os

from lambda_lakehouse_spark.registry import (
    REGISTRY,
    Query,
    load_all,
    newest_green_rounds,
)

GRADED_WINDOW = 50
_REPO = os.path.join(os.path.dirname(__file__), "..")
_ROUNDS = sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))


def test_never_graded_queries_fit_in_driver_window():
    """Every query without a prior GREEN driver row must sit inside the
    first GRADED_WINDOW slots; queries rotated out must all hold a
    prior green row (union coverage across rounds). A row counts as
    green only when its hash matched — or, for oracle-less (rows-only
    by design) queries, when it ran without error — so an error row
    can't satisfy the invariant."""
    if not _ROUNDS:
        return  # fresh clone without round artifacts
    reg = load_all()
    certified = set()
    for path in _ROUNDS:
        for name, row in json.load(open(path)).items():
            if name not in reg:
                continue
            if row.get("hash_match") is True:
                certified.add(name)
            elif reg[name].oracle is None and row.get("spark_rows") is not None:
                # rows-only by design: ran and produced rows, and the
                # recorded err (if any) is the expected no_oracle marker
                if row.get("err") in (None, "no_oracle"):
                    certified.add(name)
    names = list(reg)
    window = set(names[:GRADED_WINDOW])
    uncertified = [n for n in names if n not in certified]
    outside = [n for n in uncertified if n not in window]
    assert not outside, (
        f"{len(outside)} uncertified queries sit beyond slot "
        f"{GRADED_WINDOW} and would stay uncertified: {outside}"
    )
    no_row_ever = [n for n in names[GRADED_WINDOW:] if n not in certified]
    assert not no_row_ever


def test_every_query_has_unique_output_columns(oracle_runs):
    """Duplicate output column names would silently corrupt the
    driver's sort-by-name value compare — check every query's analyzed
    schema for column-name uniqueness. Reads the columns the oracle
    compare recorded from each built query (``oracle_runs``); a query
    that did not build is reported too."""
    offenders = []
    for name, run in sorted(oracle_runs.items()):
        cols = run.columns
        if cols is None:
            offenders.append((name, f"not built: {run.spark_error!r}"[:300]))
        elif len(set(cols)) != len(cols):
            offenders.append((name, cols))
    assert not offenders, offenders


def test_iteration_order_is_stalest_green_first():
    """With the committed artifacts: never-green queries first, then
    the rest by ascending newest green round, ties in registration
    order, and the query set is exactly the registry."""
    assert _ROUNDS, "the committed CORRECTNESS_r*.json artifacts are missing"
    names = list(load_all())
    assert sorted(names) == sorted(REGISTRY)
    rounds = newest_green_rounds(_REPO, REGISTRY)
    assert rounds
    reg_index = {n: i for i, n in enumerate(REGISTRY)}
    keys = [(rounds.get(n, 0), reg_index[n]) for n in names]
    assert keys == sorted(keys)
    never = [n for n in names if n not in rounds]
    assert names[: len(never)] == never


def test_iteration_order_without_artifacts_is_registration_order(
    tmp_path, monkeypatch
):
    load_all()
    assert newest_green_rounds(str(tmp_path), REGISTRY) == {}
    monkeypatch.setattr("lambda_lakehouse_spark.registry._REPO_DIR", str(tmp_path))
    assert list(load_all()) == list(REGISTRY)


def test_green_rule_on_crafted_artifacts(tmp_path):
    """hash_match true is green; an oracle-less query is green when it
    produced rows with no error beyond no_oracle; the newest green
    round wins and unregistered names are ignored."""
    a, b, c, d = "with_oracle_a", "with_oracle_b", "rows_only_c", "rows_only_d"
    reg = {
        n: Query(n, spark=None, oracle=None if n.startswith("rows") else "SELECT 1")
        for n in (a, b, c, d)
    }
    r01 = {
        a: {"hash_match": True},
        b: {"hash_match": True},
        c: {"spark_rows": 3, "err": "no_oracle"},
        d: {"spark_rows": 3, "err": None},
        "not_a_query": {"hash_match": True},
    }
    r03 = {
        a: {"hash_match": True},
        b: {"hash_match": False, "spark_rows": 3, "err": None},
        c: {"spark_rows": None, "err": "no_oracle"},
        d: {"spark_rows": 3, "err": "Py4JJavaError"},
    }
    for rnd, rows in (("01", r01), ("03", r03)):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
    assert newest_green_rounds(str(tmp_path), reg) == {a: 3, b: 1, c: 1, d: 1}


def test_bench_band_table_matches_headline_set():
    """Every headline query carries an accepted band (the self-defense
    retry is disarmed for a query without one) and no stale band
    entries outlive their headline registration — adding bench=True
    anywhere forces a conscious band choice here."""
    import bench

    names = set(bench.headline_names())
    bands = set(bench.BAND_MAX)
    assert bands == names, (
        f"missing bands: {sorted(names - bands)}; "
        f"stale bands: {sorted(bands - names)}"
    )
    assert all(v > 0 for v in bench.BAND_MAX.values())
