#!/usr/bin/env python
"""Full-registry wall-clock ranking sweep — the hidden-hotspot finder.

The bench headline set only protects its own members: round 9 found
dedup_lsh_eval at **455 s** and dedup_simhash_hamming_pairs at
**138 s** at sf0.1 — both driver-green (the sf0.01 gate structurally
cannot see quadratic-at-scale shapes) and both invisible to
BENCH_r*.json because they carried ``bench=False``. This sweep times
EVERY registry + staged + queue query once at the bench scale factor
in one shared session and prints the slowest tail.

This is a RANKING instrument, not a disposition instrument: shared-
session numbers carry JIT/cache cross-talk (~20% observed vs isolated
runs). Disposition of anything suspicious goes through
``python bench.py --single <name>`` (fresh JVM, best-of-3) bracketed
by the ``__control__`` probe, per the round-8 bench methodology.

    python tools/rank_sweep.py [--sf-dir /root/testdata/sf0.1] [--top 30]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("--json-out", default=None,
                    help="optional path for the full name->seconds map")
    args = ap.parse_args()

    from lambda_lakehouse_spark.session import get_spark
    from lambda_lakehouse_spark.registry import load_all

    spark = get_spark(app_name="rank-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, object] = {}
    queries = load_all()
    for name, q in sorted(queries.items()):
        try:
            # One untimed warmup pass for ITERATIVE plans (round-11
            # verdict, demand 5): a k-round loop launches k jobs over
            # near-identical subtrees, so its first execution is
            # dominated by C2 compilation of the same generated code k
            # times over — the graph family ranked top-of-sweep on
            # compile time two rounds running (triangle 22.7 s cold vs
            # 6.0-6.4 s steady) and needed per-round disposition each
            # time. Warmed, the sweep ranks steady-state plan cost.
            # Non-iterative plans run cold on purpose: one-shot cost
            # IS their steady state, and warming all ~240 would double
            # the sweep's wall-clock for no ranking signal.
            if "iterative" in q.tags or name.startswith("graph_"):
                q.spark(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                gc.collect()
            t0 = time.time()
            q.spark(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name] = round(time.time() - t0, 2)
        except Exception as e:  # keep sweeping; report at the end
            out[name] = f"ERR {str(e).splitlines()[0][:100]}"
        print(f"{name}: {out[name]}", flush=True)
        # py4j reference cycles keep each plan's DataFrame graph (and
        # its localCheckpoint blocks) alive until a generational GC
        # runs; across 240+ plans in ONE session the accumulated
        # blocks inflate later queries' readings (round 11: measured
        # progressive 8 -> 44 s degradation on checkpoint-heavy plans
        # without this). Collect outside the timed window.
        gc.collect()

    errs = {k: v for k, v in out.items() if isinstance(v, str)}
    ranked = sorted((v, k) for k, v in out.items() if isinstance(v, float))
    print(f"\n== SLOWEST {args.top} (shared-session ranking; disposition "
          "via bench.py --single) ==")
    for v, k in ranked[-args.top:][::-1]:
        print(f"{v:8.2f}  {k}")
    if errs:
        print(f"\nERRORS: {len(errs)}")
        for k, v in sorted(errs.items()):
            print(f"  {k}: {v}")
    if args.json_out:
        json.dump(out, open(args.json_out, "w"), indent=0, sort_keys=True)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
