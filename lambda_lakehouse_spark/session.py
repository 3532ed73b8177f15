"""SparkSession factory.

Local-first (tests/bench run on ``local[N]``) but every knob here is
chosen for cluster scale: AQE with partition coalescing and skew-join
handling, Arrow for any pandas interchange, UTC session timezone so
timestamp semantics match columnar engines (DuckDB oracle, Parquet
UTC-normalized instants).

Reference parity: the reference builds its session in each job module
(e.g. ``airflow/dags/spark_code/stg/vn_stg_processing.py:28-44``) with
Iceberg/Nessie extensions; here catalog extras are pluggable via
``extra_conf`` and gated behind availability (the test image ships
plain Spark + Parquet).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cpus() -> int:
    """Local core count: ``$SPARK_GRAFT_CPUS`` if set, else the CPUs this
    process may run on. Sets both ``local[N]`` and the default shuffle
    partition count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """Default driver heap: 16g pre-touched — but never more than the
    host can actually commit (round-12 advice: the pre-touch turned
    the old lazy-overcommit failure mode into a hard JVM start
    failure/thrash on hosts with < ~16 GiB free). On a small host the
    default degrades to roughly half of MemAvailable; the env override
    always wins, and note the 48g -> 16g default means plans that
    relied on the old lazy 48g headroom now need the override."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
            )
        avail_g = avail_kb // (1024 * 1024)
    except Exception:
        return "16g"
    if avail_g >= 20:
        return "16g"
    return f"{max(avail_g // 2, 1)}g"


def get_spark(
    app_name: str = "lambda_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    At 100 TB the same configs hold: AQE re-plans post-shuffle
    partition counts so ``shuffle_partitions`` is a ceiling, not a
    tuning trap; skew-join splitting handles hot keys without manual
    salting in the common case.
    """
    cpus = _default_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or cpus
    # read once: two reads of MemAvailable could disagree and put -Xms
    # above -Xmx
    driver_mem = _default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark 4 infers parquet timestamps as TIMESTAMP_NTZ by default;
        # watermarking rejects NTZ event time
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and the DuckDB oracle
        # compares against UTC-normalized instants. Keep the Spark-3
        # behavior: parquet timestamps read as TIMESTAMP (with local
        # timezone, session tz pinned to UTC above).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # parquet timestamp[ns] columns (which Spark's TimestampType
        # cannot hold) infer as raw int64 nanos instead of failing the
        # read. Set here, once per session: flipping a session-global
        # conf inside a read races with jobs on other threads.
        # ``readers.read_table`` does not depend on it.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Whole-stage codegen cache, a static conf (builder only). The
        # default of 100 entries is a 4-segment Guava LRU, ~25 per
        # segment, and a repeated pass larger than that never hits: one
        # daily stock-pipeline run generates ~89 distinct classes and
        # an 8-query mix of the registry ~190-200, so at 100 every
        # repeat recompiled all of them in Janino (and threw away their
        # JIT work). At 1000 a repeat recompiles 0 (pipeline) and 0-12
        # (query mix; AQE names codegen stages in the order its stages
        # materialize, so a few classes vary) classes; 400 still left
        # 2-8. Metaspace stayed at ~160 MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # No Python call-site capture per Column, a static conf. PySpark
        # 4.1 wraps every ``F.*`` / ``Column`` call in ``_with_origin``,
        # which costs py4j round trips (active session, a conf read, an
        # origin set and clear) plus a failing ``import IPython`` per
        # call: 3.6-4.0 ms per ``F.col(..).cast(..).alias(..)`` with it,
        # 1.1 ms without, and about half the py4j calls of building the
        # stock pipeline or the query mix. Trade-off: an analysis or
        # runtime error no longer names the Python line that built the
        # failing expression; its error class and message are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # split files finer than the 128 MB default: single-file tables
        # otherwise scan on one core; at cluster scale smaller splits
        # just mean more (cheap) tasks and better core utilization.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 16g, pre-touched (round 12): the old 48g heap was grown ON
        # DEMAND by the JVM — allocation-heavy plans (per-position
        # hashing, array_intersect verifies) triggered multi-GB heap
        # expansion MID-QUERY, and the kernel's page faulting/zeroing of
        # tens of GB made identical fresh-JVM runs wildly bimodal
        # (measured: dedup_ngram_jaccard 1.7 s .. 31.9 s across four
        # idle-host runs at 48g; 1.6 s stable at 16g pre-touched).
        # -Xms=-Xmx + AlwaysPreTouch moves every page fault to JVM
        # startup, OUTSIDE any timed window, so steady-state timings
        # measure the plan, not the allocator. This was the root cause
        # of the r9-r11 "phantom mover" bench artifacts (e.g. the
        # 29.45 s dedup_jaccard_prefix_filter reading vs its 6.16 s
        # floor). Cluster deployments size executors explicitly; this
        # is local-harness provisioning, overridable via env.
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JVM_OPTS",
                "-Xms" + driver_mem + " -XX:+AlwaysPreTouch",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
