"""get_spark() sizing and the SQL mode the oracle arithmetic relies on."""

from __future__ import annotations

import io
import os
from types import SimpleNamespace

import pytest

from lambda_lakehouse_spark import session


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records every conf, starts
    no JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda lvl: None))


@pytest.fixture
def recorded_conf(monkeypatch):
    for var in (
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_MASTER",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_DRIVER_JVM_OPTS",
    ):
        monkeypatch.delenv(var, raising=False)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    return builder.conf


def test_driver_heap_is_read_once(monkeypatch, recorded_conf):
    """-Xms must equal spark.driver.memory even when MemAvailable moves
    across the 20 GiB line between two reads of /proc/meminfo."""
    avail_gib = iter([30, 10, 30, 10])

    def fake_open(path, *a, **k):
        assert path == "/proc/meminfo"
        return io.StringIO(f"MemAvailable: {next(avail_gib) * 1024 * 1024} kB\n")

    monkeypatch.setattr(session, "open", fake_open, raising=False)
    session.get_spark()
    mem = recorded_conf["spark.driver.memory"]
    assert mem == "16g"
    assert recorded_conf["spark.driver.extraJavaOptions"].split()[0] == f"-Xms{mem}"


def test_default_cpus_follow_affinity_unless_overridden(monkeypatch, recorded_conf):
    n = len(os.sched_getaffinity(0))
    session.get_spark()
    assert recorded_conf["master"] == f"local[{n}]"
    assert recorded_conf["spark.sql.shuffle.partitions"] == str(n)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert recorded_conf["master"] == "local[3]"
    assert recorded_conf["spark.sql.shuffle.partitions"] == "3"


def test_bigint_sum_overflow_raises_under_ansi(spark):
    """The floor-scaled oracle sums (similarity._ssum_sql) rely on Spark
    raising, not wrapping, when SUM(BIGINT) passes 2^63. If the ANSI
    default ever flips, this turns red instead of the failure mode
    changing silently."""
    assert spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    big = 2**62
    df = spark.range(3).selectExpr(f"CAST({big} AS BIGINT) AS v").selectExpr("SUM(v)")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.collect()
