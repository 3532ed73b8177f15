"""Dump .explain("formatted") for named queries (or every bench=True
headline query) to plans/<tag>/<query>_<suffix>.txt.

Usage:
    python tools/explain_dump.py <tag> <suffix> [query ...]

With no query names, dumps the whole bench headline set. Mostly
plan-only — each DataFrame is built and its physical plan formatted —
but NOT job-free (round-12 advice): trained-quantizer queries execute
their training jobs during construction (train_ivf_cells ends in an
eager localCheckpoint; the pretrained paths populate the session
centroid cache at build time), and with AQE even a lazy
localCheckpoint materializes its subtree's shuffle stages at
construction. Plans ending in a lazy checkpoint therefore show only
the post-checkpoint tail. Uses private DataFrame internals
(_sc/_jdf), which do not exist under Spark Connect.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambda_lakehouse_spark.registry import load_all  # noqa: E402
from lambda_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    registry = load_all()
    if not names:
        names = sorted(n for n, q in registry.items() if q.bench)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-dump")
    for name in names:
        df = registry[name].spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
