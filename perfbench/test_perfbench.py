"""Self-tests of the benchmark's Spark-free parts.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import core  # noqa: E402
import gen_stock  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402

SMALL = {"VN": 40, "US": 60, "JP": 50}


def _days(seed: int, n: int = 3) -> list[bytes]:
    m = gen_stock.Market(seed, rows=SMALL)
    dates = gen_stock.trading_days(n)
    return [m.day_csv(c, i, dates[i]) for i in range(n) for c in gen_stock.COUNTRIES]


def test_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = _days(7), _days(7), _days(8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_raw_csv_carries_the_reference_edge_cases():
    day = _days(3, 1)
    vn, us = day[0].decode("utf-8"), day[1].decode("utf-8")
    assert vn.startswith("\ufeffsymbol,")
    assert '""' in us and "\n" in us.split("\n", 1)[1]  # quoted multiline
    assert "Not found" in us or "Not found" in vn or "Not found" in day[2].decode()
    # rows without a symbol are generated and staging must drop them
    assert any(line.startswith(",") or line.startswith(" ,") for line in vn.splitlines())


def test_days_must_be_generated_in_order():
    m = gen_stock.Market(1, rows=SMALL)
    with pytest.raises(ValueError):
        m.day_csv("VN", 1, "2025-01-03")


def test_expected_fact_rows_adds_one_row_per_version_change():
    m = gen_stock.Market(5, rows=SMALL)
    dates = gen_stock.trading_days(4)
    for i, d in enumerate(dates):
        for c in gen_stock.COUNTRIES:
            m.day_csv(c, i, d)
    assert gen_stock.expected_fact_rows(m, 0) == sum(SMALL.values())
    for i in range(1, 4):
        changes = sum(m.changes[(c, i)] for c in gen_stock.COUNTRIES)
        assert gen_stock.expected_fact_rows(m, i) == sum(SMALL.values()) + changes


@pytest.mark.parametrize("n, p", [
    (1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert core.tail_percentile(n) == p


def test_percentile_is_nearest_rank_and_median_at_50():
    xs = [float(i) for i in range(1, 41)]  # 1..40
    assert core.percentile(xs, 75.0) == 30.0  # 10 samples (31..40) beyond
    assert core.percentile([3.0, 1.0, 2.0, 4.0], 50.0) == 2.5


def test_traced_passes_interleave_with_untraced_ones():
    assert core.pass_plan(3, False) == [False] * 3
    assert core.pass_plan(2, True) == [False, True, True, False]
    plan = core.pass_plan(3, True)
    assert plan.count(True) == plan.count(False) == 3
    assert plan[:4] == [False, True, True, False]


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_nested_children():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("op", "op") as op:
        clock.t = 1.0
        with tr.span("build", "plans.star") as build:
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("exec", "plans.star") as ex:
            with tr.span("inner", "sources.writer") as inner:
                clock.t = 5.5
            clock.t = 6.0
        clock.t = 10.0
    st = self_times(tr.spans)
    assert op.duration == 10.0
    assert st[op.id] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st[build.id] == pytest.approx(3.0)
    assert st[ex.id] == pytest.approx(0.5)
    assert st[inner.id] == pytest.approx(0.5)
    assert inner.parent == ex.id and ex.parent == op.id


def test_stage_spans_stay_open_until_the_next_stage():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("run_pipeline", "plans.stock_pipeline") as root:
        a = tr.stage("stg_vn", "plans.stock_pipeline")
        clock.t = 1.0
        with tr.span("write_partitioned", "sources.writer") as w:
            clock.t = 3.0
        b = tr.stage("dim_date", "plans.stock_pipeline")
        clock.t = 4.0
        tr.end_stages()
        clock.t = 4.5
    assert (a.start, a.end) == (0.0, 3.0)
    assert w.parent == a.id and b.parent == root.id
    assert (b.start, b.end) == (3.0, 4.0)
    assert self_times(tr.spans)[root.id] == pytest.approx(0.5)


def test_failures_count_raised_ops_and_ops_with_wrong_output():
    def boom():
        raise RuntimeError("no")

    results = [
        core.run_op("q_ok", lambda: None),
        core.run_op("q_raise", boom),
        core.run_op("q_wrong", lambda: None),
        core.run_op("q_wrong", lambda: None),
    ]
    assert [r.ok for r in results] == [True, False, True, True]
    assert "RuntimeError" in results[1].error
    assert core.count_failures(results, wrong=set()) == 1
    assert core.count_failures(results, wrong={"q_wrong"}) == 3


def test_canonical_hash_of_a_tiny_table():
    import datetime as dt

    cols = ["b", "a", "c"]
    rows = [(2.5, "x", dt.date(2024, 1, 2)), (1, None, True)]
    # columns sorted by name (a, b, c), cells stringified, rows sorted
    canon = [("NULL", "1", "true"), ("x", "2.5", "2024-01-02")]
    want = hashlib.sha256(
        b"".join("\x1f".join(r).encode() + b"\x1e" for r in canon)
    ).hexdigest()
    assert core.canon_hash(cols, rows) == want
    shuffled = [(None, 1, True), ("x", 2.5, dt.date(2024, 1, 2))]
    assert core.canon_hash(["a", "b", "c"], list(reversed(shuffled))) == want
    assert core.canon_hash(cols, [(2.5, "y", dt.date(2024, 1, 2)), (1, None, True)]) != want
