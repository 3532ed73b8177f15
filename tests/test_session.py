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


def test_column_calls_capture_no_call_site(recorded_conf):
    """The factory turns off PySpark's per-Column call-site capture
    (a static conf, so it must be set on the builder)."""
    session.get_spark()
    assert recorded_conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"


def test_runtime_error_keeps_its_error_class(spark):
    """Without call-site capture an ANSI runtime error still raises with
    its error class and message."""
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(1).select((F.lit(1) / F.col("id")).alias("q"))
    with pytest.raises(ArithmeticException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "Division by zero" in str(err.value)


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


# perfbench's query_mix: one registry query per plans.* and operators.*
# module
QUERY_MIX = (
    "q3_shipping_priority", "fact_assembly_star", "basket_association_rules",
    "timeseries_gap_fill",
    "ann_cosine_topk_brute", "dedup_minhash_lsh", "eval_source_contamination",
    "search_bm25_topk",
)


def test_repeated_query_mix_reuses_generated_code(spark):
    """A session that repeats its queries must not recompile them: the
    codegen cache has to hold a whole pass of the mix (~200 generated
    classes), which the 100-entry default does not.

    AQE is off for the two rounds: it numbers whole-stage codegen
    stages as its query stages materialize, so sibling stages finishing
    in another order give differently named classes (0-12 recompiles
    per repeat, varying run to run). Without AQE the count measures
    cache misses alone."""
    from lambda_lakehouse_spark.registry import load_all
    from tests.conftest import SF_DIR

    reg = load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round():
        n = compiles.getCount()
        for name in QUERY_MIX:
            reg[name].spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - n

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = one_round()
        second = one_round()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert second <= max(5, 0.05 * first), (first, second)


def test_read_table_reads_nanos_without_touching_conf(spark, tmp_path):
    """read_table reads timestamp[ns] as microsecond TIMESTAMP (truncated)
    and leaves spark.conf unchanged, on the factory session and on a
    session that never enabled nanosAsLong (a plain driver session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lambda_lakehouse_spark.sources.readers import read_table

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "ts_us": pa.array([v // 1000 for v in ns], pa.timestamp("us")),
        }),
        str(tmp_path / "t.parquet"),
    )
    plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    for s in (spark, plain):
        conf = dict(s.conf.getAll)
        df = read_table(s, str(tmp_path), "t")
        assert df.schema["ts"].dataType == T.TimestampType()
        got = df.select("id", F.unix_micros("ts").alias("us")).orderBy("id").collect()
        assert [r.us for r in got] == [v // 1000 for v in ns]
        assert dict(s.conf.getAll) == conf
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_read_table_uses_footer_schema_without_a_job(spark, tmp_path):
    """read_table builds its scan with the footer's schema: it is the
    schema Spark's inference gives, and building the scan launches no
    job. Files the footer cannot type still read as inference reads
    them: an unsigned column, and a Spark-written directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from lambda_lakehouse_spark.sources.readers import _footer_schema, read_table
    from tests.conftest import SF_DIR, TESTDATA_TABLES, jobs_launched_by

    for name in TESTDATA_TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        inferred = spark.read.parquet(path).schema
        # the scan before the ns → timestamp rewrite (this session reads
        # timestamp[ns] as int64, as the footer schema types it)
        footer, ns_cols = _footer_schema(spark, path)
        assert spark.read.schema(footer).parquet(path).schema == inferred, name
        df, jobs = jobs_launched_by(spark, lambda: read_table(spark, SF_DIR, name))
        assert jobs == 0, name
        if not ns_cols:
            assert df.schema == inferred, name

    pq.write_table(
        pa.table({"u": pa.array([1, 4_000_000_000], pa.uint32())}),
        str(tmp_path / "u.parquet"),
    )
    assert _footer_schema(spark, str(tmp_path / "u.parquet")) == (None, [])
    u = read_table(spark, str(tmp_path), "u")
    assert u.schema["u"].dataType == T.LongType()
    assert sorted(r.u for r in u.collect()) == [1, 4_000_000_000]

    spark.range(3).write.parquet(str(tmp_path / "d.parquet"))
    d = read_table(spark, str(tmp_path), "d")
    assert d.schema == spark.read.parquet(str(tmp_path / "d.parquet")).schema
    assert d.count() == 3


def test_read_table_reads_int96_timestamps_as_inference_does(spark, tmp_path):
    """INT96 timestamps (the deprecated nanosecond encoding that older
    writers produce) read as Spark's inference reads them: same schema,
    same rows, and still no job to build the scan. pyarrow reports them
    as ``timestamp[ns]``, which must not be taken for int64 nanos."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lambda_lakehouse_spark.sources.readers import read_table
    from tests.conftest import jobs_launched_by

    pq.write_table(
        pa.table({
            "id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), None,
                 dt.datetime(1969, 12, 31, 23, 59, 59)],
                pa.timestamp("us"),
            ),
        }),
        str(tmp_path / "t96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    inferred = spark.read.parquet(str(tmp_path / "t96.parquet"))
    df, jobs = jobs_launched_by(spark, lambda: read_table(spark, str(tmp_path), "t96"))
    assert jobs == 0
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())
