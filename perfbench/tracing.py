"""Spans around layer calls and readers of Spark's status stores.

Spans are recorded from the benchmark process only: ``install_*``
rebind public functions of the package's modules to wrappers that open
a span, set the Spark job group to the span's id and restore the
parent's group on exit. Jobs therefore carry the span that launched
them, and stage metrics read back from the status store are charged to
that span's layer.

A *stage* span (``Tracer.stage``) stays open after the wrapped call
returns, until the next stage starts or ``end_stages`` runs. The stock
pipeline's stg/dim/fact functions only build lazy plans; the work they
describe runs in the writes that follow them, which a sticky stage span
covers.
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    end: float | None = None
    stage: bool = False

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it that children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cursor = 0.0, s.start
        for k in sorted(kids.get(s.id, []), key=lambda k: k.start):
            lo = max(k.start, cursor)
            hi = min(k.end if k.end is not None else k.start, end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder for one single-threaded client."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.enabled = True  # wrappers pass straight through when False

    def _open(self, name: str, layer: str, stage: bool = False) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, self.clock(), parent, stage=stage)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        return s

    def _close(self, s: Span) -> None:
        while self._stack:
            top = self._stack.pop()
            top.end = self.clock()
            if top is s:
                break
        self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{s.id}", s.name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    def stage(self, name: str, layer: str) -> Span:
        """Close the open stage span (and anything inside it) and open a
        new one that outlives the caller."""
        self.end_stages()
        return self._open(name, layer, stage=True)

    def end_stages(self) -> None:
        while self._stack and self._stack[-1].stage:
            self._close(self._stack[-1])

    def wrap(self, fn, name: str, layer: str, stage: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if stage:
                self.stage(name, layer)
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def install_session(tracer: Tracer) -> None:
    """Trace ``get_spark`` and ``load_all`` (before set-up runs)."""
    from lambda_lakehouse_spark import registry, session

    session.get_spark = tracer.wrap(session.get_spark, "get_spark", "session")
    registry.load_all = tracer.wrap(registry.load_all, "load_all", "registry")


def install_pipeline(tracer: Tracer) -> None:
    """Trace the readers, the writer and the stock pipeline's stages."""
    from lambda_lakehouse_spark.plans import stock_pipeline as sp
    from lambda_lakehouse_spark.sources import readers, writer

    readers.read_csv_raw = tracer.wrap(
        readers.read_csv_raw, "read_csv_raw", "sources.readers"
    )
    wp = tracer.wrap(writer.write_partitioned, "write_partitioned", "sources.writer")
    writer.write_partitioned = wp
    sp.write_partitioned = wp
    layer = "plans.stock_pipeline"
    for name in ("stg_vn", "stg_us", "stg_jp"):
        setattr(sp, name, tracer.wrap(getattr(sp, name), name, layer, stage=True))
    # run_pipeline dispatches staging through this dict, not module globals
    for country, fn in list(sp.STG_JOBS.items()):
        sp.STG_JOBS[country] = getattr(sp, fn.__name__)
    for name in ("dim_date", "dim_exchange", "dim_currency",
                 "dim_trading_status", "dim_company", "fact_stock_daily"):
        setattr(sp, name, tracer.wrap(getattr(sp, name), name, layer, stage=True))


# --- status stores ------------------------------------------------------


@dataclass
class StageStats:
    stage_id: int
    group: str | None
    tasks: int
    failed_tasks: int
    run_ms: float
    cpu_ns: float
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    shuffle_write_records: int
    spill_bytes: int
    skew: float


_LOCATION = re.compile(r"Location: \w+ \[([^\]]+)\]")


class StoreReader:
    """Reads what Spark recorded since the previous ``read`` call.

    The status stores keep about the last thousand jobs and stages, so
    the benchmark reads them after every operation.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.gw = self.sc._gateway
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = -1
        self.last_stage = -1
        self.last_exec = -1
        self.read()  # skip whatever set-up ran

    def _seq(self, seq):
        return [seq.apply(i) for i in range(seq.size())]

    def read(self) -> tuple[int, list[StageStats], list[tuple[int, int]]]:
        """Returns (new jobs, new stages, [(scan nodes, distinct tables)]
        per new SQL execution)."""
        # events reach the stores through the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jl = self.jvm.java.util.ArrayList
        group_of: dict[int, str | None] = {}
        n_jobs, newest = 0, self.last_job
        for j in self._seq(self.store.jobsList(jl())):
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            n_jobs += 1
            newest = max(newest, jid)
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            for sid in self._seq(j.stageIds()):
                group_of[sid] = group
        self.last_job = newest
        stages = []
        empty = self.gw.new_array(self.jvm.double, 0)
        quant = self.gw.new_array(self.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        newest = self.last_stage
        for s in self._seq(self.store.stageList(jl(), False, False, empty, jl())):
            sid = s.stageId()
            if sid <= self.last_stage:
                continue
            newest = max(newest, sid)
            if str(s.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped stages reuse an earlier shuffle
            skew = 1.0
            if s.numTasks() > 1:
                dist = self.store.taskSummary(sid, s.attemptId(), quant)
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    skew = mx / med if med > 0 else 1.0
            stages.append(StageStats(
                sid, group_of.get(sid), s.numTasks(), s.numFailedTasks(),
                s.executorRunTime(), s.executorCpuTime(), s.inputBytes(),
                s.outputBytes(), s.shuffleWriteBytes(), s.shuffleWriteRecords(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(), skew,
            ))
        self.last_stage = newest
        scans = []
        newest = self.last_exec
        for e in self._seq(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            n_scan, tables = 0, set()
            for node in self._seq(self.sql.planGraph(eid).allNodes()):
                if node.name().startswith("Scan "):
                    n_scan += 1
                    m = _LOCATION.search(node.desc())
                    tables.add(m.group(1) if m else node.desc())
            scans.append((n_scan, len(tables)))
        self.last_exec = newest
        return n_jobs, stages, scans


class JvmMemory:
    """Heap and GC counters of the driver JVM (which runs every task in
    local mode)."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._pools = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
        self.max_mb = mf.getMemoryMXBean().getHeapMemoryUsage().getMax() / 2**20
        self._stat = f"/proc/{spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()}/stat"

    def cpu_s(self) -> float:
        """CPU seconds (user + system) the JVM process has used so far."""
        with open(self._stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._gcs) / 1000.0

    def reset_peak(self) -> None:
        for p in self._pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._pools) / 2**20
