#!/usr/bin/env python
"""Benchmark harness: runs the headline queries (registry entries with
``bench=True``) at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on ``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines:

1. a ``"detail"`` record FIRST — per-query samples, wall-clock spans,
   full control sample lists, loadavg readings — everything needed to
   separate noise from regression when reading round-over-round diffs;
2. a compact headline record LAST (kept well under the driver's
   2000-char stdout tail window):

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>,
     "control": s, "control_end": s,          # no-op probe minima
     "load": [l1, l5, l15], "load_end": [...]}  # /proc/loadavg brackets

``queries`` carries the per-query minimum (the round-over-round
headline); the detail record carries every timing sample so dispersion
is visible, and ``control`` is a fixed trivial plan whose movement
calibrates host load for the round (round-8 verdict, demand 3).

WHY two lines (round-9 verdict, demand 1): the grading driver captures
only the LAST ~2000 chars of stdout, and round 9's single inflated line
(samples + spans ≈ 3.5 kB) pushed the front-of-object ``metric`` /
``value`` keys out of the tail — BENCH_r09.json recorded ``parsed:
null``. The headline record now goes LAST and stays compact so any tail
window ≥ ~1.5 kB always contains a parseable artifact; the detail line
precedes it and is recoverable from full stdout / local runs.

Loadavg telemetry (round-9 verdict, demand 7): the control probes catch
steady host load, but round 9's driver sweep had a floor-level LEADING
control while bursty load inflated mid-sweep spans 5-8x. ``load`` /
``load_end`` record /proc/loadavg at the two control points (and the
detail record keeps a per-query reading) so a contaminated sweep is
flagged by the host itself. Reading rule: on a 32-cpu host, loadavg-1m
materially above the sweep's own steady-state (one saturated JVM)
marks external load; spans localize WHICH queries it covered.

Each query executes end-to-end into the noop sink (full computation,
no driver collect). One tiny warmup query first so JVM/codegen startup
isn't attributed to the first headline query.

Execution order: the round-3 legacy set runs FIRST, in its historical
order, so round-over-round like-for-like comparisons are never
perturbed by queries added later (round 4 showed a 4.2x swing on
``dedup_minhash_lsh`` — 1.20s → 5.08s — after two heavyweight
additions started running before it alphabetically; the round-5
isolated re-measure in a fresh JVM came back at 1.47s, inside the r3
noise envelope: session-accumulated state, not a code regression).
New headline queries append after the legacy set.

Isolation (DEFAULT since round 7): every query runs in its own
subprocess/JVM — one query per session, best-of-3 after an in-process
warmup. Shared-session mode kept growing forensic footnotes (round-4's
4.2x ``dedup_minhash_lsh`` swing, round-6's ``search_bm25_topk`` and
``dedup_incremental_batch`` drifts — all session-accumulated state,
none code regressions), and with 22+ headline queries the
interference surface only grows. Isolated numbers are
session-state-free and comparable round-over-round by construction;
the wall-clock cost (one JVM start per query) is not part of any
reported timing. Set ``SPARK_GRAFT_BENCH_ISOLATE=0`` to opt back into
the legacy shared-session sweep (kept for quick iteration loops).
NOTE: BENCH_r07 is the first isolated-mode artifact — compare it to
r06 per-query with that mode change in mind (isolated ≈ the isolated
re-measures earlier READMEs recorded, not the shared-session column).

Idle-wait gate (round-10 verdict, demand 2; round 11): isolated mode
sleep-polls /proc/loadavg before EACH query subprocess until 1-min
load < 2.0 (bounded at 120 s, then proceeds with that query's
``gate_timeout`` flagged). The headline line carries a
``gate_timeouts`` name list (normally empty); the detail line carries
per-query ``gates`` {waited, timeout}. Env overrides:
SPARK_GRAFT_BENCH_GATE_LOAD / SPARK_GRAFT_BENCH_GATE_TIMEOUT.

Band-aware per-query retry (round-11 verdict, demand 2): the gate
checks load once BEFORE each query, so load arriving mid-query still
contaminated one reading per driver sweep three rounds running (r11:
``dedup_jaccard_prefix_filter`` recorded 29.45 s vs a 6.16 s verified
idle floor). BAND_MAX records each headline query's accepted ceiling
(~2x its newest verified idle-gated floor). When a query's best
sample exceeds its band AND the host shows load (its gate timed out,
or the loadavg read right after the subprocess is above the gate
threshold), the sweep re-gates (a fresh ``wait_for_idle``) and
re-runs that ONE query once, records BOTH readings in the detail
line's ``retries`` map, takes the better reading as the headline
number, and names the query in the headline's ``retried`` list. An
out-of-band reading on a quiet host is NOT retried — that is a real
regression and must stay visible. Every retry attempt is re-gated
and every attempt's gate is recorded (``gates[name]["attempts"]``) —
including the transient-failure retry, which previously re-ran
ungated under the very load condition the gate exists to avoid
(round-11 advice).
"""

from __future__ import annotations

import gc
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lambda_lakehouse_spark.registry import load_all  # noqa: E402
from lambda_lakehouse_spark.session import get_spark  # noqa: E402

# Queries whose timing includes one-time model TRAINING (k-means Lloyd
# iterations), not just query serving. Kept in the headline set because
# the training path itself must stay fast, but the JSON names them so
# the number is never read as pure query cost; the twin in
# SERVE_HEADLINE is the serve-path (pretrained-model) signal.
TRAIN_INCLUSIVE = (
    "ann_cosine_topk_ivf",
    # round-13 bench additions (r12 verdict demands 4+6): each of these
    # trains the coarse quantizer (and, for IVF-PQ, the PQ codebook)
    # inside the timed query.
    "ann_cosine_topk_ivfpq",
    "dedup_semdedup_cells",
    "eval_cluster_balance_audit",
)
SERVE_HEADLINE = {
    "ann_cosine_topk_ivf": "ann_cosine_topk_ivf_pretrained",
    "dedup_semdedup_cells": "dedup_semdedup_cells_pretrained",
}

# Historical (round-3) headline order — keep stable, append new queries
# only after this prefix.
LEGACY_ORDER = (
    "ann_cosine_topk_brute",
    "dedup_minhash_lsh",
    "fact_assembly_star",
    "pit_join_fact_dim",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "scd2_user_dim",
    "sessionize_events",
)


# Accepted per-query ceilings, seconds at sf0.1 (local[32], isolated
# JVM, best-of-3 on an idle host): ~2x the newest VERIFIED idle-gated
# floor for each query — wide enough that codegen/JIT jitter and
# ordinary host noise never trip a retry, tight enough that the 4-6x
# phantom movers the last three driver artifacts recorded always do.
# Floors: the round-13 final sweep (one contiguous idle-gated isolated
# run, controls 0.114/0.149 s, zero retries — per-query minima in its
# detail line), with extra headroom on the train-inclusive and
# known-wide-dispersion entries (pagerank, IVF) where the A/B rounds
# showed honest spread above the floor. Update a query's entry
# whenever its plan change ships with a new measured floor; a missing
# entry simply disables band-defense for that query (and the registry
# contract test pins BAND_MAX == headline set, so adding bench=True
# forces a conscious band choice here).
BAND_MAX: dict[str, float] = {
    "ann_cosine_topk_brute": 2.0,  # r13 floor 0.70
    "ann_cosine_topk_hyperlsh": 3.0,  # r13 floor 1.12
    "ann_cosine_topk_ivf": 6.0,  # r13 floor 2.35 (train-inclusive; JIT dispersion to ~4.4 in A/B rounds)
    "ann_cosine_topk_ivf_pretrained": 3.0,  # r13 floor 0.99
    "ann_cosine_topk_ivfpq": 11.0,  # r13 floor 5.21 (train-inclusive)
    "basket_association_rules": 3.5,  # r13 floor 1.57
    "corpus_token_spectrum": 1.5,  # r13 floor 0.54
    "corpus_top_ngrams": 2.0,  # r13 floor 0.69
    "dedup_incremental_batch": 3.0,  # r13 floor 1.15
    "dedup_minhash_lsh": 2.5,  # r13 floor 0.93
    "dedup_ngram_jaccard": 8.0,  # r13 floor 3.91
    "dedup_semdedup_cells": 10.0,  # r13 floor 4.88 (train-inclusive)
    "dedup_semdedup_cells_pretrained": 5.5,  # r13 serve floor 2.32
    "dedup_simhash64_hamming_pairs": 3.0,  # r13 floor 1.27
    "dedup_winnowing_pairs": 10.5,  # r13 floor 5.21
    "eval_cluster_balance_audit": 5.5,  # r13 floor 2.32 (train-inclusive)
    "eval_source_contamination": 3.0,  # r13 floor 1.30
    "fact_assembly_star": 4.0,  # r13 floor 1.69
    "fuzzy_pairs_edit1": 1.5,  # r13 floor 0.51
    "graph_pagerank_supply": 7.0,  # r13 floor 2.73 (widest honest dispersion: 2.7-3.9 across A/B rounds)
    "pack_sequences_nextfit": 1.5,  # r13 floor 0.38
    "pit_join_fact_dim": 3.0,  # r13 floor 1.05
    "q1_pricing_summary": 3.0,  # r13 floor 1.14
    "q3_shipping_priority": 2.0,  # r13 floor 0.69
    "q5_nation_revenue": 2.5,  # r13 floor 0.89
    "quality_lm_surprisal": 2.5,  # r13 floor 0.87
    "rfm_customer_segments": 4.0,  # r13 floor 1.75
    "scd2_user_dim": 2.5,  # r13 floor 0.88
    "search_bm25_topk": 3.0,  # r13 floor 1.10
    "search_hybrid_rrf": 5.5,  # r13 floor 2.66
    "sessionize_events": 1.5,  # r13 floor 0.46
    "snapshot_wap_publish": 4.5,  # r13 floor 1.96
    "timeseries_gap_fill": 2.0,  # r13 floor 0.70
}


def headline_names() -> list[str]:
    flagged = sorted(n for n, q in load_all().items() if q.bench)
    ordered = [n for n in LEGACY_ORDER if n in flagged]
    ordered += [n for n in flagged if n not in ordered]
    return ordered


def time_query(spark, q, sf_dir: str, repeats: int = 3) -> list[float]:
    # All samples are recorded (round-8 verdict demand 3): the min is
    # the headline (first pass pays codegen compilation; the min strips
    # transient host noise, which varies up to 2x run-to-run on this
    # shared host), and the full sample list makes noise mechanically
    # separable from regression when reading round-over-round diffs.
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 3))
        # Collect BETWEEN samples, outside the timed window: py4j
        # objects form reference cycles, so without an explicit pass
        # each sample's DataFrame graph (and its localCheckpoint
        # blocks, JVM-side) survives until a generational GC happens
        # to run — checkpoint-heavy plans then degrade progressively
        # across repeats as storage memory fills (measured round 11:
        # prefix-filter samples 14/26/130 s in one JVM without this,
        # 8.7/8.3/7.4 s stable at 80 MiB cached with it).
        gc.collect()
    return samples


# Sentinel for the no-op control: a fixed trivial plan (5-row region
# scan into the noop sink) timed EXACTLY like a headline query — own
# JVM, warmup, best-of-3. Its compute is constant across rounds, so
# its movement measures host load / scheduler overhead, calibrating
# whether a round's sub-2s movers are noise or regression.
CONTROL = "__control__"
# Trailing-control sentinel: same plan as CONTROL, re-run AFTER the
# last headline query so load arriving mid-sweep is visible in the
# artifact (control vs control_end disagreement = contaminated sweep).
CONTROL_END = "__control_end__"


# Idle-wait gate (round-10 verdict, demand 2): two consecutive driver
# sweeps were load-contaminated (r9 unparseable + noisy; r10 parseable
# but taken under loadavg 2.8-6.0 with phantom movers up to 6x that
# floor singles refuted). The telemetry made contamination READABLE;
# this gate makes the unattended artifact CLEAN: before each query
# subprocess, sleep-poll until 1-min loadavg drops below the
# threshold, bounded so a persistently-busy host still produces an
# artifact (with that query's ``gate_timeout`` flagged) instead of
# hanging the sweep. Threshold 2.0 per the verdict: between isolated
# subprocesses the host's steady state is ~0; anything materially
# above means the previous JVM's load is still decaying or external
# work is running — both contaminate the next measurement.
GATE_LOAD_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_LOAD", "2.0"))
GATE_TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_TIMEOUT", "120"))


def wait_for_idle(
    threshold: float = GATE_LOAD_MAX, timeout_s: float = GATE_TIMEOUT_S
) -> dict:
    """Sleep-poll /proc/loadavg until 1-min load < threshold or the
    bound expires. Returns {"waited": sec, "timeout": bool} for the
    artifact; on hosts without /proc the gate is a no-op."""
    t0 = time.time()
    while True:
        load = read_loadavg()
        if load is None or load[0] < threshold:
            return {"waited": round(time.time() - t0, 1), "timeout": False}
        if time.time() - t0 >= timeout_s:
            return {"waited": round(time.time() - t0, 1), "timeout": True}
        time.sleep(5)


def read_loadavg() -> list[float] | None:
    """Host load telemetry (1/5/15-min loadavg). Returns None where
    /proc is unavailable so the artifact stays portable."""
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        return [float(parts[0]), float(parts[1]), float(parts[2])]
    except Exception:
        return None


def run_single(name: str, sf_dir: str) -> None:
    """Subprocess entry (isolate mode): time ONE query in a fresh JVM.
    One tiny JVM warmup only — the query itself runs exactly the
    best-of-3 of shared mode (the first, codegen-cold pass is
    discarded by the min), keeping per-query subprocess cost at three
    executions."""
    spark = get_spark(app_name=f"lakehouse-bench-{name}")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Round-12 measurement fix (guide §1: time the computation, not
    # the JVM): the range-sum warmup above compiles almost none of
    # the Catalyst/codegen paths a real plan exercises, so the first
    # timed sample carried 2-4x of one-time JIT cost and even the
    # best-of-3 often sat well above steady state (measured:
    # dedup_ngram_jaccard samples 16.6/8.7/7.5 with the old warmup vs
    # 8.3/5.0/5.4 with this one — identical query, identical JVM).
    # This warmup runs join + window + aggregate + lazy localCheckpoint
    # over SYNTHETIC range data — it never touches the bench tables,
    # caches no query result, and is excluded from timing exactly like
    # the old warmup; all three timed samples still execute the full
    # query (construction included) from the parquet inputs.
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F
    _base = spark.range(100_000).select(
        "id", (_F.col("id") % 97).alias("k"),
        _F.md5(_F.col("id").cast("string")).alias("h"),
    )
    _j = _base.join(_base.groupBy("k").agg(_F.count(_F.lit(1)).alias("c")), "k")
    _w = _j.withColumn("rn", _F.row_number().over(_W.partitionBy("k").orderBy("h")))
    _ck = _w.where(_F.col("rn") <= 5).localCheckpoint(eager=False)
    _ck.groupBy("k").agg(_F.sum("c").alias("s")).write.format("noop").mode(
        "overwrite"
    ).save()
    if name in (CONTROL, CONTROL_END):
        class _ControlQ:  # same timing path as a registry query
            @staticmethod
            def spark(spark, sf_dir):
                return spark.read.parquet(
                    os.path.join(sf_dir, "region.parquet")
                )
        q = _ControlQ
    else:
        q = load_all()[name]
    samples = time_query(spark, q, sf_dir)
    print(json.dumps(
        {"query": name, "sec": min(samples), "samples": samples}
    ))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    if len(sys.argv) == 3 and sys.argv[1] == "--single":
        run_single(sys.argv[2], sf_dir)
        return

    names = headline_names()
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    spans: dict[str, list[float]] = {}
    loads: dict[str, list[float] | None] = {}

    gates: dict[str, dict] = {}
    retries: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0":

        def gated_attempt(name: str) -> dict:
            """One fully-gated subprocess attempt: idle-wait, run the
            --single subprocess, parse its timing line. EVERY attempt
            — first, transient-failure retry, band retry — goes
            through here, so no attempt ever starts ungated (round-11
            advice: the old retry re-ran immediately under the very
            load condition the gate exists to avoid)."""
            gate = wait_for_idle()
            t_wall = time.time()
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single", name],
                capture_output=True,
                text=True,
            )
            lines = [
                l for l in out.stdout.splitlines() if l.startswith('{"query"')
            ]
            row = None
            reason = None
            if out.returncode != 0 or not lines:
                reason = (
                    out.stderr.strip().splitlines()[-1][:300]
                    if out.stderr.strip()
                    else "no output"
                )
                reason = f"rc={out.returncode}: {reason}"
            else:
                row = json.loads(lines[-1])
            return {
                "gate": gate,
                "row": row,
                "reason": reason,
                "span": [round(t_wall, 1), round(time.time(), 1)],
                # loadavg read RIGHT AFTER the subprocess: the gate
                # proves the host was idle at start; this reading is
                # the trailing bracket that shows whether load arrived
                # DURING the query (the r9-r11 contamination mode)
                "load_after": read_loadavg(),
            }

        # control first AND last: the leading run calibrates the host
        # before any headline runs; the trailing run catches load that
        # arrives MID-sweep, which a clean leading control cannot (seen
        # round 9: control 0.159 s at start, an external load spike
        # later tripled the late-running queries — only a bracketing
        # control makes that visible from the artifact alone)
        for name in [CONTROL] + names + [CONTROL_END]:
            a1 = gated_attempt(name)
            attempts = [a1]
            # one retry: a transient subprocess failure (host pressure,
            # torn environment) must not leave a null in the artifact
            if a1["row"] is None:
                attempts.append(gated_attempt(name))
            best = next((a for a in attempts if a["row"] is not None), None)
            if best is None:
                # keep the sweep alive: report the failure, emit null
                # for this query, and preserve every timing already
                # measured instead of losing the whole run. Record the
                # span/samples/load keys too (empty, not absent) so
                # artifact readers iterating any one map see the same
                # key set — round-9 advice flagged the asymmetry.
                print(
                    f"bench isolate: {name} failed ({a1['reason']})",
                    file=sys.stderr,
                )
                gates[name] = dict(
                    a1["gate"], attempts=[a["gate"] for a in attempts],
                    fail=[a["reason"] for a in attempts],
                )
                timings[name] = None
                samples[name] = []
                spans[name] = [a1["span"][0], attempts[-1]["span"][1]]
                loads[name] = attempts[-1]["load_after"]
                continue
            sec = best["row"]["sec"]
            # band defense (round-11 verdict, demand 2): out-of-band
            # reading + evidence of host load => one re-gated re-run;
            # out-of-band on a QUIET host is a real regression and is
            # recorded as-is, never retried away.
            band = BAND_MAX.get(name)
            load_after = best["load_after"]
            loaded = best["gate"]["timeout"] or (
                load_after is not None and load_after[0] > GATE_LOAD_MAX
            )
            if band is not None and sec > band and loaded:
                a2 = gated_attempt(name)
                attempts.append(a2)
                if a2["row"] is not None:
                    retries[name] = {
                        "first_sec": sec,
                        "retry_sec": a2["row"]["sec"],
                        "band_max": band,
                        "load_after_first": load_after,
                        "load_after_retry": a2["load_after"],
                    }
                    print(
                        f"bench isolate: {name} out of band "
                        f"({sec} s > {band} s) under load "
                        f"{load_after} — retried: {a2['row']['sec']} s",
                        file=sys.stderr,
                    )
                    if a2["row"]["sec"] < sec:
                        best = a2
                        sec = a2["row"]["sec"]
                else:
                    retries[name] = {
                        "first_sec": sec,
                        "retry_sec": None,
                        "band_max": band,
                        "load_after_first": load_after,
                        "fail": a2["reason"],
                    }
            gates[name] = dict(
                best["gate"], attempts=[a["gate"] for a in attempts]
            ) if len(attempts) > 1 else best["gate"]
            timings[name] = sec
            samples[name] = best["row"].get("samples", [])
            # wall-clock span of this query's whole subprocess (epoch
            # seconds, JVM start included): round 9 saw sweeps whose
            # leading AND trailing controls sat at the idle floor while
            # a bursty external load inflated only the queries that ran
            # during its window — spans localize WHICH queries a
            # contamination window covered, from the artifact alone
            spans[name] = [best["span"][0], attempts[-1]["span"][1]]
            loads[name] = best["load_after"]
    else:
        spark = get_spark(app_name="lakehouse-bench")
        registry = load_all()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        registry[names[0]].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        for name in names:
            samples[name] = time_query(spark, registry[name], sf_dir)
            timings[name] = min(samples[name])

    # Pop the control sentinels out of every per-query map so readers
    # iterating queries/samples/spans/loads see an identical key set
    # (round-9 advice: spans kept the sentinels queries popped).
    control = {
        "sec": timings.pop(CONTROL, None),
        "samples": samples.pop(CONTROL, []),
        "span": spans.pop(CONTROL, []),
        "load": loads.pop(CONTROL, None),
    }
    control_end = {
        "sec": timings.pop(CONTROL_END, None),
        "samples": samples.pop(CONTROL_END, []),
        "span": spans.pop(CONTROL_END, []),
        "load": loads.pop(CONTROL_END, None),
    }
    total = round(sum(t for t in timings.values() if t is not None), 3)

    # Line 1 (FIRST): full dispersion/forensics detail. May be long;
    # the driver's stdout tail may truncate it — that is by design,
    # the headline line below is the artifact of record.
    print(
        json.dumps(
            {
                "detail": "bench-dispersion-record",
                "samples": samples,
                "spans": spans,
                "loads": loads,
                "control": control,
                "control_end": control_end,
                "gates": gates,
                "retries": retries,
                "band_max": BAND_MAX,
                "train_inclusive": list(TRAIN_INCLUSIVE),
                "serve_headline": SERVE_HEADLINE,
            }
        )
    )
    # gate-timeout flags surface in the compact headline too (normally
    # an empty list): a named query here means its timing was taken on
    # a host that never went idle within the gate bound — read that
    # query's number with the per-query `loads` entry in the detail line
    gate_timeouts = [n for n, g in gates.items() if g.get("timeout")]
    # a name in `retried` means that query's headline number is the
    # better of two fully-gated runs because the first read out of
    # band under observed load — both readings live in the detail
    # line's `retries` map, so the artifact is self-interpreting with
    # zero post-hoc singles (round-11 verdict, demand 2)
    retried = sorted(retries)
    # Line 2 (LAST): the compact headline artifact — metric, value,
    # per-query minima, control minima, loadavg brackets. Kept small
    # so the driver's 2000-char stdout tail always parses it.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "control": control["sec"],
                "control_end": control_end["sec"],
                "load": control["load"],
                "load_end": control_end["load"],
                "gate_timeouts": gate_timeouts,
                "retried": retried,
            }
        )
    )


if __name__ == "__main__":
    main()
