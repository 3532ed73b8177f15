#!/usr/bin/env python3
"""Benchmark of the lakehouse engine: two workloads, one JVM each.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Each run starts one SparkSession on ``local[<nproc>]`` from the package
in this checkout, builds its inputs from ``--seed`` under
``.perfbench_work/``, warms up (a cold pass, then one untimed pass),
checks the outputs, and then runs a single closed-loop client for about
``--seconds`` seconds. The last
line of standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The exit code
is nonzero when an output check fails, and 2 when the package is
missing. Workloads, metrics and the layer map are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(HERE))

import core  # noqa: E402
import gen_stock  # noqa: E402
import gen_tables  # noqa: E402
import numpy as np  # noqa: E402
import tracing  # noqa: E402

# One query per plans module (the dashboard read path) and one per
# operator module (the training-data kernels): 48 runs of one JVM each
# must fit the benchmark's time budget on a 4-CPU host.
QUERY_MIX = (
    "q3_shipping_priority", "fact_assembly_star", "basket_association_rules",
    "timeseries_gap_fill",
    "ann_cosine_topk_brute", "dedup_minhash_lsh", "eval_source_contamination",
    "search_bm25_topk",
)
WORKLOADS = ("etl_daily", "query_mix")
TABLE_SCALE = 0.01  # 60k lineitems, 500 documents, 200 embeddings
HISTORY_DAYS = 1
GEN_REPEATS = 3
DRIVER_HEAP = "2g"
# Wall seconds of one warm pass on a 4-CPU host; sizes the pass count so
# a run measures about --seconds while every run does the same work.
NOMINAL_PASS_S = {"etl_daily": 7.0, "query_mix": 7.0}
MIN_PASSES = 2
# The JIT is still compiling through the first pass after the cold one
# (its JVM CPU time is 20-40% above the next passes'), so that pass is
# untimed and ends the warm-up.
WARM_PASSES = 1

QUERY_LAYERS = (
    "plans.relational", "plans.star", "plans.tpch_extra", "plans.extended",
)
OPERATOR_LAYERS = (
    "operators.similarity", "operators.dedup", "operators.search",
    "operators.text",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- session -----------------------------------------------------------


def start_session(work: Path, cpus: int):
    from lambda_lakehouse_spark import session

    return session.get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def fingerprint(spark, cpus: int, heap_max_mb: float) -> dict:
    import pyspark

    sc = spark.sparkContext
    conf = spark.conf
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    commit = dirty = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
        r = subprocess.run(["git", "-C", str(ROOT), "status", "--porcelain",
                            "--untracked-files=no"], capture_output=True, text=True)
        dirty = bool(r.stdout.strip())
    src = hashlib.sha256()
    for p in sorted((ROOT / "lambda_lakehouse_spark").rglob("*.py")):
        src.update(p.read_bytes())
    return {
        "nproc": cpus,
        "master": sc.master,
        "mem_available_mb": None if mem_kb is None else mem_kb // 1024,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "heap_max_mb": round(heap_max_mb, 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "ansi": conf.get("spark.sql.ansi.enabled"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "aqe_coalesce": conf.get("spark.sql.adaptive.coalescePartitions.enabled"),
        "aqe_skew_join": conf.get("spark.sql.adaptive.skewJoin.enabled"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "git_commit": commit,
        "git_dirty": dirty,
        "package_sha256": src.hexdigest()[:16],
    }


# --- helpers -------------------------------------------------------------


def tree_digest(path: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(path.rglob("*")):
        if p.is_file():
            h.update(p.relative_to(path).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def data_files(path: Path) -> dict[str, int]:
    """Data file → mtime_ns under ``path``, skipping checksums and markers."""
    out = {}
    for p in path.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")) and "_pipeline_state" not in p.parts:
            out[str(p)] = p.stat().st_mtime_ns
    return out


def pass_order(mix, seed: int, i: int) -> list[str]:
    rng = np.random.default_rng([seed, 1000 + i])
    return [mix[k] for k in rng.permutation(len(mix))]


class Run:
    """State of one benchmark run: timings, checks and trace records."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.cpus = nproc()
        self.phases: dict[str, float] = {}
        self.setup_parts: dict[str, float] = {}
        self.checks: list[str] = []  # failed check descriptions
        self.wrong: set[str] = set()  # op names whose output check failed
        self.results: list[core.OpResult] = []
        self.pass_s: dict[bool, list[float]] = {False: [], True: []}
        self.tracer = None
        self.reader = None
        self.op_records: list[dict] = []
        self.stored_per_raw = 0.0  # etl_daily: lake bytes per raw CSV byte
        self.mem = None
        self.peak_heap_mb = 0.0
        self.traced_wall = 0.0
        self.gc_traced = 0.0

    def passes(self) -> int:
        return max(MIN_PASSES, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))

    # -- traced op bookkeeping --
    def record(self, name: str, layer: str, rows_out: int = 0, files=None) -> None:
        n_jobs, stages, scans = self.reader.read()
        self.op_records.append({
            "op": name, "layer": layer, "jobs": n_jobs, "stages": stages,
            "scans": scans, "rows_out": rows_out, "files": files,
        })


# --- query_mix -----------------------------------------------------------------


def oracle_hashes(tables_dir: Path, reg, mix) -> dict[str, str | Exception]:
    import duckdb

    from lambda_lakehouse_spark.__main__ import TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {nproc()}")
        for t in TABLES:
            p = tables_dir / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in mix:
            try:
                cur = con.execute(reg[name].oracle)
                cols = [d[0] for d in cur.description]
                out[name] = core.canon_hash(cols, cur.fetchall())
            except Exception as e:  # a broken oracle fails the check, not the run
                out[name] = e
        return out
    finally:
        con.close()


def run_queries(run: Run, spark) -> None:
    from lambda_lakehouse_spark import registry

    args = run.args
    mix = QUERY_MIX
    t = time.perf_counter()
    reg = registry.load_all()
    run.setup_parts["registry_s"] = time.perf_counter() - t
    missing = [m for m in mix if m not in reg or reg[m].oracle is None]
    if missing:
        raise SystemExit(f"queries missing from the registry or oracle-less: {missing}")

    gen_s, digests = [], set()
    for k in range(GEN_REPEATS):
        d = run.work / f"tables-{k}"
        t = time.perf_counter()
        sizes = gen_tables.generate(str(d), args.seed, TABLE_SCALE)
        gen_s.append(time.perf_counter() - t)
        digests.add(tree_digest(d))
        if k < GEN_REPEATS - 1:
            shutil.rmtree(d)
    tables = str(run.work / f"tables-{GEN_REPEATS - 1}")
    run.setup_parts["input_gen_s"] = statistics.median(gen_s)
    if len(digests) != 1:
        run.checks.append("table generator is not deterministic for one seed")
    log(f"tables {sizes}")

    # the cold pass collects every result for the output check
    t = time.perf_counter()
    got, rows_out = {}, {}
    for name in pass_order(mix, args.seed, -1):
        t1 = time.perf_counter()
        try:
            df = reg[name].spark(spark, tables)
            rows = df.collect()
            t2 = time.perf_counter()
            got[name] = core.canon_hash(df.columns, rows)
            rows_out[name] = len(rows)
            log(f"warm-up {name}: {t2 - t1:.2f} s, {len(rows)} rows")
        except Exception as e:
            got[name] = e
    run.setup_parts["warmup_s"] = time.perf_counter() - t

    t = time.perf_counter()
    want = oracle_hashes(Path(tables), reg, mix)
    run.phases["check"] = time.perf_counter() - t
    for name in mix:
        if isinstance(got[name], Exception) or got[name] != want[name]:
            run.wrong.add(name)
            run.checks.append(f"{name}: spark={_short(got[name])} oracle={_short(want[name])}")

    def op(name: str, traced: bool):
        q = reg[name]
        layer = q.spark.__module__.removeprefix("lambda_lakehouse_spark.")

        def go():
            if not traced:
                q.spark(spark, tables).write.format("noop").mode("overwrite").save()
                return
            tr = run.tracer
            with tr.span(name, "op"):
                with tr.span(f"{name}.build", layer):
                    df = q.spark(spark, tables)
                with tr.span(f"{name}.exec", layer):
                    df.write.format("noop").mode("overwrite").save()

        res = core.run_op(name, go)
        if traced:
            run.record(name, layer, rows_out.get(name, 0))
        return res

    timed_loop(run, spark, lambda i, traced: [
        op(n, traced) for n in pass_order(mix, args.seed, i)
    ])


def _short(v) -> str:
    return type(v).__name__ if isinstance(v, Exception) else str(v)[:12]


# --- etl_daily ---------------------------------------------------------------


def run_etl(run: Run, spark) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lambda_lakehouse_spark.plans import stock_pipeline
    from lambda_lakehouse_spark.sources import readers

    args = run.args
    raw_dir, base, out = run.work / "raw", run.work / "lake-history", run.work / "lake"
    schemas = {
        c: T.StructType([T.StructField(h, T.StringType()) for h in gen_stock.HEADERS[c]])
        for c in gen_stock.COUNTRIES
    }
    # the history days, then the day every timed op loads
    day = HISTORY_DAYS
    dates = gen_stock.trading_days(day + 1)

    t = time.perf_counter()
    market = gen_stock.Market(args.seed)
    day_paths = {i: gen_stock.write_day(market, i, dates[i], str(raw_dir)) for i in range(day + 1)}
    raw_bytes = sum(os.path.getsize(p) for paths in day_paths.values() for p in paths.values())
    run.setup_parts["input_gen_s"] = time.perf_counter() - t

    def batches(days):
        return [
            (c, readers.read_csv_raw(spark, day_paths[i][c], schemas[c]), dates[i])
            for i in days for c in gen_stock.COUNTRIES
        ]

    # the history load runs the whole pipeline once: it is the cold pass
    t = time.perf_counter()
    stock_pipeline.run_pipeline(spark, batches(range(day)), str(base))
    run.setup_parts["warmup_s"] = time.perf_counter() - t

    def restore() -> None:
        """Put the lake back to the history alone (untimed), so that every
        timed op, traced or not, loads the same day into the same lake."""
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(base, out)

    name = f"day {dates[day]}"

    def one_pass(_, traced: bool) -> list[core.OpResult]:
        before = data_files(out) if traced else None

        def go():
            if not traced:
                stock_pipeline.run_pipeline(spark, batches([day]), str(out))
                return
            with run.tracer.span(name, "op"):
                with run.tracer.span("run_pipeline", "plans.stock_pipeline"):
                    stock_pipeline.run_pipeline(spark, batches([day]), str(out))
                    run.tracer.end_stages()

        res = core.run_op(name, go)
        if traced:
            after = data_files(out)
            written = [p for p, m in after.items() if before.get(p) != m]
            parts = {os.path.dirname(p) for p in written
                     if "=" in os.path.basename(os.path.dirname(p))}
            run.record(res.name, "plans.stock_pipeline", files=(len(written), len(parts)))
        return [res]

    timed_loop(run, spark, one_pass, prepare=restore)

    # invariants derived from the generator, checked once on the lake the
    # last op left, untimed
    t = time.perf_counter()
    stg = {
        (r["country"], r["datadate"].isoformat()): r["count"]
        for r in spark.read.parquet(str(out / "stg_stock"))
        .groupBy("country", "datadate").count().collect()
    }
    fact = {
        r["date_sk"]: r["count"]
        for r in spark.read.parquet(str(out / "fact_stock_daily"))
        .groupBy("date_sk").count().collect()
    }
    dim = spark.read.parquet(str(out / "dim_company"))
    bad_current = (
        dim.groupBy("symbol", "country")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n"))
        .where("n != 1").count()
    )
    n_keys = dim.select("symbol", "country").distinct().count()
    for i in range(day + 1):
        for c in gen_stock.COUNTRIES:
            if stg.get((c, dates[i])) != market.valid[(c, i)]:
                run.checks.append(f"stg rows {c} {dates[i]}: {stg.get((c, dates[i]))} != {market.valid[(c, i)]}")
        want = gen_stock.expected_fact_rows(market, i)
        got = fact.get(int(dates[i].replace("-", "")))
        if got != want:
            run.checks.append(f"fact rows {dates[i]}: {got} != {want}")
    if bad_current or n_keys != sum(market.rows.values()):
        run.checks.append(f"dim_company: {bad_current} keys without exactly one is_current, {n_keys} keys")
    if run.checks:
        run.wrong.add(name)  # every timed op loaded this day into this lake
    stored = sum(os.path.getsize(p) for p in data_files(out))
    run.stored_per_raw = stored / raw_bytes
    run.phases["check"] = time.perf_counter() - t


# --- timed loop and metrics ----------------------------------------------------


def timed_loop(run: Run, spark, one_pass, prepare=None) -> None:
    """Closed loop, one client: ``WARM_PASSES`` passes that end the
    warm-up, then ``passes()`` untraced passes, interleaved with as many
    traced passes when tracing. ``one_pass(i, traced)`` returns its ops;
    ``prepare()``, when given, runs untimed before each pass."""
    t0 = time.perf_counter()
    if run.tracer:
        run.tracer.end_stages()  # left open by a traced set-up
        run.tracer.enabled = False
    for i in range(WARM_PASSES):
        if prepare:
            prepare()
        t = time.perf_counter()
        for r in one_pass(-2 - i, False):
            if not r.ok:
                log(f"warm-up op {r.name} failed:\n{r.error}")
        log(f"warm-up pass {i}: {time.perf_counter() - t:.2f} s wall")
    run.setup_parts["warmup_s"] += time.perf_counter() - t0
    run.phases["warmup"] = run.setup_parts["warmup_s"]

    run.mem.reset_peak()
    n = run.passes()
    t0 = time.perf_counter()
    for i, traced in enumerate(core.pass_plan(n, bool(run.args.trace))):
        if run.tracer:
            run.tracer.enabled = traced
        if prepare:
            prepare()
        if traced and run.reader is None:
            run.reader = tracing.StoreReader(spark)  # skips all earlier jobs
        t, cpu, gc = time.perf_counter(), run.mem.cpu_s(), run.mem.gc_s()
        res = one_pass(i, traced)
        run.pass_s[traced].append(time.perf_counter() - t)
        if traced:
            run.gc_traced += run.mem.gc_s() - gc
        elif run.reader:
            run.reader.read()  # keeps this pass's jobs out of the next traced op
        log(f"pass {i}{' traced' if traced else ''}: {run.pass_s[traced][-1]:.2f} s wall, "
            f"{run.mem.cpu_s() - cpu:.2f} s JVM CPU")
        run.results.extend(res)
        for r in res:
            if not r.ok:
                log(f"op {r.name} failed:\n{r.error}")
    run.phases["timed"] = time.perf_counter() - t0
    run.traced_wall = sum(run.pass_s[True])
    run.peak_heap_mb = run.mem.peak_mb()


def end_to_end(run: Run) -> dict:
    lat = [r.seconds for r in run.results]
    p = core.tail_percentile(len(lat))
    setup_s = sum(run.setup_parts.values())
    log(f"op_tail_s is p{p:g} of {len(lat)} ops")
    log("ops " + ", ".join(f"{r.name}={r.seconds:.2f}" for r in run.results))
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(run.pass_s[False]),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": core.percentile(lat, p),
    }


def per_layer(run: Run) -> dict:
    tr = run.tracer
    spans = {s.id: s for s in tr.spans}
    selfs = tracing.self_times(tr.spans)
    n = max(1, len(run.pass_s[True]))

    def span_of(group):
        if group and group.startswith("span-"):
            return spans.get(int(group[5:]))
        return None

    def chain(s):
        while s is not None:
            yield s
            s = spans.get(s.parent) if s.parent is not None else None

    m: dict[str, float] = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    # set-up (history load, warm-up) also ran traced; count timed ops only
    timed = [s for s in tr.spans if any(a.layer == "op" for a in chain(s))]

    def dur(pred):
        return sum(s.duration for s in timed if pred(s)) / n

    by_layer: dict[str, list] = {}
    total = {"jobs": 0, "tasks": 0, "cpu_ns": 0.0, "spill": 0, "failed": 0,
             "input": 0, "scans": 0, "tables": 0}
    pipeline_jobs = 0
    rows_out: dict[str, int] = {}
    for rec in run.op_records:
        total["jobs"] += rec["jobs"]
        if rec["layer"] == "plans.stock_pipeline":
            pipeline_jobs += rec["jobs"]
            if rec["files"]:
                add("sources.writer.output_files", rec["files"][0] / n)
                add("sources.writer.partitions_written", rec["files"][1] / n)
        rows_out[rec["layer"]] = rows_out.get(rec["layer"], 0) + rec["rows_out"]
        for scans, tables in rec["scans"]:
            total["scans"] += scans
            total["tables"] += tables
        for st in rec["stages"]:
            total["tasks"] += st.tasks
            total["cpu_ns"] += st.cpu_ns
            total["spill"] += st.spill_bytes
            total["failed"] += st.failed_tasks
            total["input"] += st.input_bytes
            owners = list(chain(span_of(st.group)))
            layers = {s.layer for s in owners}
            names = [s.name for s in owners]
            for layer in layers:
                by_layer.setdefault(layer, []).append(st)
            if any(nm.startswith("stg_") for nm in names):
                add("sources.readers.csv_s", st.run_ms / 1000.0 / n)
            if "sources.writer" in layers:
                add("sources.writer.output_bytes", st.output_bytes / n)

    def first(layer):
        return next((s.duration for s in tr.spans if s.layer == layer), 0.0)

    m["session.start_s"] = first("session")
    m["session.heap_mb"] = run.mem.max_mb
    m["session.peak_heap_mb"] = run.peak_heap_mb
    m["registry.load_s"] = first("registry")
    add("sources.readers.csv_s", sum(selfs[s.id] for s in timed if s.name == "read_csv_raw") / n)
    m["sources.readers.input_bytes"] = total["input"] / n
    m["sources.readers.scan_amplification"] = (
        total["scans"] / total["tables"] if total["tables"] else 0.0
    )
    m["sources.writer.write_s"] = dur(lambda s: s.name == "write_partitioned")
    for k in ("output_bytes", "output_files", "partitions_written"):
        m.setdefault(f"sources.writer.{k}", 0.0)
    m["sources.writer.stored_bytes_per_raw_byte"] = run.stored_per_raw
    for part, prefix in (("stg", "stg_"), ("dims", "dim_"), ("fact", "fact_")):
        m[f"plans.stock_pipeline.{part}_s"] = dur(
            lambda s, p=prefix: s.stage and s.name.startswith(p))
    m["plans.stock_pipeline.jobs"] = pipeline_jobs / n

    for layer in QUERY_LAYERS + OPERATOR_LAYERS:
        sts = by_layer.get(layer, [])
        m[f"{layer}.build_s"] = dur(lambda s, L=layer: s.layer == L and s.name.endswith(".build"))
        m[f"{layer}.exec_s"] = dur(lambda s, L=layer: s.layer == L and s.name.endswith(".exec"))
        m[f"{layer}.stages"] = len(sts) / n
        m[f"{layer}.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in sts) / n
        if layer in OPERATOR_LAYERS:
            recs = sum(s.shuffle_write_records for s in sts)
            m[f"{layer}.shuffle_records"] = recs / n
            m[f"{layer}.rows_out_per_shuffle_record"] = (
                rows_out.get(layer, 0) / recs if recs else 0.0)
            multi = [s.skew for s in sts if s.tasks > 1]
            m[f"{layer}.task_skew"] = max(multi) if multi else 0.0

    m["spark.jobs"] = total["jobs"] / n
    m["spark.tasks"] = total["tasks"] / n
    m["spark.cpu_util"] = total["cpu_ns"] / 1e9 / (run.traced_wall * run.cpus)
    m["spark.gc_s"] = run.gc_traced / n
    m["spark.spill_bytes"] = total["spill"] / n
    m["spark.failed_tasks"] = total["failed"] / n
    m["bench.trace_overhead_s"] = (
        statistics.median(run.pass_s[True]) - statistics.median(run.pass_s[False]))
    return m


def with_units(metrics: dict[str, float], trace: int) -> dict:
    """Attach the units ``BENCHMARK.json`` declares; the metric names must
    match the declared set exactly."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    if set(declared) != set(metrics):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(declared) ^ set(metrics))}")
    return {k: {"value": v, "unit": declared[k]} for k, v in sorted(metrics.items())}


# --- main ------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "lambda_lakehouse_spark" / "__init__.py").is_file():
        log(f"lambda_lakehouse_spark not found under {ROOT}; nothing to benchmark")
        return 2
    sys.path.insert(0, str(ROOT))
    wall0 = time.perf_counter()
    work = WORK / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = nproc()
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_GRAFT_DRIVER_JVM_OPTS": (
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work / 'tmp'}"
        ),
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "PYSPARK_PYTHON": sys.executable,
    })
    run = Run(args, work)
    if args.trace:
        run.tracer = tracing.Tracer()
        tracing.install_session(run.tracer)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, cpus)
        run.setup_parts["session_s"] = time.perf_counter() - t
        if run.tracer:
            run.tracer.sc = spark.sparkContext
            tracing.install_pipeline(run.tracer)
        run.mem = tracing.JvmMemory(spark)
        fp = fingerprint(spark, cpus, run.mem.max_mb)
        if args.workload == "etl_daily":
            run_etl(run, spark)
        else:
            run_queries(run, spark)
        metrics = per_layer(run) if args.trace else end_to_end(run)
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_session(spark)
            run.phases["teardown"] = time.perf_counter() - t
        shutil.rmtree(work, ignore_errors=True)

    run.phases["setup"] = sum(v for k, v in run.setup_parts.items() if k != "warmup_s")
    run.phases["wall"] = time.perf_counter() - wall0
    failed = core.count_failures(run.results, run.wrong)
    correct = failed == 0 and not run.checks
    for c in run.checks:
        log(f"CHECK FAILED: {c}")
    if args.trace:
        WORK.mkdir(exist_ok=True)
        selfs = tracing.self_times(run.tracer.spans)
        trace_file = WORK / f"trace-{args.workload}-seed{args.seed}.json"
        trace_file.write_text(json.dumps({
            "fingerprint": fp,
            "layers": metrics,
            "spans": [
                {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": selfs[s.id]}
                for s in run.tracer.spans
            ],
        }, indent=1))
        log(f"trace written to {trace_file}")
    result = {
        "correct": correct,
        "attempted": len(run.results),
        "failed": failed,
        "metrics": with_units(metrics, args.trace),
    }
    print(json.dumps({"fingerprint": fp, "setup_parts_s": run.setup_parts,
                      "phases_s": run.phases, "passes": run.passes()}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
