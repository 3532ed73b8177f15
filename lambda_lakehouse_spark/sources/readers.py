"""Batch sources.

Covers SURVEY §2.1:
- S1 CSV scan with the reference's load-bearing reader options
  (``utils/init_spark.py:22-36``): header, multiLine, quote/escape
  ``"``, UTF-8, PERMISSIVE. Unlike the reference we prefer an explicit
  schema (no ``inferSchema`` extra pass over 100 TB of input).
- S2/S3 table scans: ``read_table`` takes each table's schema from
  its parquet footer (no schema-inference job, as the reference's
  catalog tables carry theirs in metadata); ``tables()`` registers
  the standard test tables as temp views so ``spark.sql`` works
  identically to the reference's
  ``spark.sql("select * from nessie.stg.stg_stock")``.
- S4 local-collection source: ``local_rows`` turns Python rows and a
  DDL schema into a JVM ``LocalRelation`` (through a pyarrow table),
  so a seed lookup plans no Python-row RDD and runs no Python worker.
  Every seed table goes through it (the stock pipeline's currency
  names and FX rates, plans/star.py's FX lookup, and others).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def spread_if_narrow(df: DataFrame, key: str | None) -> DataFrame:
    """Spread a CPU-bound per-row map across all cores when the scan
    would arrive in fewer splits than ``defaultParallelism`` — WITHOUT
    touching ``.rdd`` (which forces a Python-side RDD conversion of
    the plan on every invocation).

    The decision uses only public plan inputs: ``df.inputFiles()``.
    Fewer files than cores → repartition by ``key``; the shuffle moves
    at most that handful of files' worth of bytes and is dwarfed by
    the per-character hashing / array work it unlocks. At real scale
    (thousands of files) the condition is false and the plan is
    untouched — no shuffle. Non-file relations (in-memory test
    fixtures, upstream shuffles) report no input files and pass
    through unchanged: they either already carry shuffle parallelism
    or are tiny.

    ``key=None`` spreads round-robin (keyless ``repartition(n)``):
    use it when no downstream grouping relies on the distribution AND
    the natural key can collide — e.g. exact-duplicate document texts
    (the very case source_contamination targets) all hash one text key
    to a single partition, re-creating the hot spot the spread exists
    to remove (round-12 advice). Keyless repartition pays the
    sort-before-repartition pass (SPARK-23207) but only inside this
    small-input guard, never at real scale.

    Lives here (not operators/dedup) so every operator module can use
    it without import cycles; dedup re-exports the historical
    ``_spread_if_narrow`` name.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < n_parts:
        return df.repartition(n_parts) if key is None else df.repartition(n_parts, key)
    return df


def local_rows(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A small in-memory table (S4) with the schema ``ddl`` (for
    example ``"code string, rate double"``), planned as a JVM
    ``LocalRelation``.

    ``spark.createDataFrame`` of a Python list plans a Python-row RDD,
    so every job that reads it (a broadcast of a seed lookup, say)
    runs its tasks on Python workers. A pyarrow table built to the DDL
    types goes to the JVM as Arrow data instead; NULLs and the declared
    types survive as given."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def read_csv_raw(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """CSV scan with the reference raw-zone contract (S1).

    Reference: ``utils/init_spark.py:22-36`` (multiline quoted
    ``business_summary`` fields, UTF-8 incl. BOM from utf-8-sig
    ingest, PERMISSIVE recovery). ``inferSchema`` only when no schema
    is given — at scale always pass one.
    """
    reader = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", "UTF-8")
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one lakehouse table (S2/S3) from a scale-factor directory.

    The schema comes from the file's parquet footer (read with pyarrow
    on the driver), so building the scan launches no Spark job: a
    schema-less ``spark.read.parquet`` runs one job per read only to
    read that same footer. Timestamps without a zone follow the
    session's ``inferTimestampNTZ`` preference, as inference would.

    Parquet ``timestamp[ns]`` columns (which Spark's reader rejects —
    TimestampType is microsecond-precision) are read as raw int64
    nanos and truncated to microsecond timestamps. Truncation (not
    rounding) matches how columnar engines cast ns→us, so oracle
    comparisons stay exact. The read leaves ``spark.conf`` as it found
    it (no ``spark.sql.legacy.parquet.nanosAsLong``), and works the
    same on a session that never set that conf.

    Spark infers the schema only when the footer cannot be read (a
    directory, a missing file) or a column has no Spark mapping in
    ``from_arrow_schema`` (unsigned integers, half floats).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, ns_cols = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    df = spark.read.schema(schema).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _footer_schema(
    spark: SparkSession, path: str
) -> tuple[T.StructType | None, list[str]]:
    """The Spark schema of the parquet file at ``path`` with its
    ``timestamp[ns]`` columns typed int64, and those columns' names;
    ``(None, [])`` when the footer gives no schema Spark can read.

    pyarrow also reports INT96 columns (the deprecated nanosecond
    timestamp encoding) as ``timestamp[ns]``; the physical types from
    the same footer tell them apart. Spark reads INT96 as TimestampType
    itself, so those keep a timestamp type (zone-aware, which maps to
    TimestampType whatever the NTZ preference, as inference does)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        with pq.ParquetFile(path) as pf:
            footer = pf.schema_arrow
            int96 = {c.path for c in pf.schema if c.physical_type == "INT96"}
    except (OSError, pa.ArrowException):
        return None, []
    ns_cols = [
        f.name
        for f in footer
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        and f.name not in int96
    ]
    raw = pa.schema([
        f.with_type(pa.timestamp("us", tz="UTC")) if f.name in int96
        else f.with_type(pa.int64()) if f.name in ns_cols
        else f
        for f in footer
    ])
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    try:
        return from_arrow_schema(raw, prefer_timestamp_ntz=ntz), ns_cols
    except TypeError:
        return None, []


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every standard table and register each as a temp view.

    Gives the SQL entry point (reference E2: ad-hoc ``spark.sql``)
    the same names the DuckDB oracle uses.
    """
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


# ---------------------------------------------------------------------------
# JSON-lines source round trip (S-family widening)
# ---------------------------------------------------------------------------
#
# The reference ingests CSV only; real lakehouse feeds are routinely
# JSON-lines (API exports, event streams). This query certifies the
# JSON source path end-to-end: write a typed subset of events as
# newline-delimited JSON, read it back with an EXPLICIT schema (never
# inferSchema on a 100 TB feed — one malformed line would silently
# stringify a column), and aggregate; the oracle computes the same
# aggregate from the original parquet, so serialization round-trip
# fidelity is part of what's certified.

_JSON_ROUNDTRIP_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


def _register_json_roundtrip() -> None:
    from lambda_lakehouse_spark.functions.scalar import dsum
    from lambda_lakehouse_spark.registry import register

    @register(
        "source_json_roundtrip",
        _JSON_ROUNDTRIP_ORACLE,
        doc="JSON-lines source certified end-to-end: events written as "
        "NDJSON, read back with an explicit schema (no inference), "
        "aggregated — round-trip fidelity checked against the "
        "original parquet by the oracle",
        tags=("source", "json"),
    )
    def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os
        import shutil
        import tempfile

        base = _os.path.join(
            tempfile.gettempdir(),
            f"llh_json_src_{_os.path.basename(sf_dir.rstrip('/'))}",
        )
        shutil.rmtree(base, ignore_errors=True)
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        ev.write.json(base)
        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        back = spark.read.schema(schema).json(base)
        return back.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )


_register_json_roundtrip()
