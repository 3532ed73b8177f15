#!/usr/bin/env python
"""Regenerate COVERAGE.md's "Appendix: full registry inventory" from the
live registry, so the appendix can never drift from the code. Run from
the repo root: python tools/gen_coverage_appendix.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambda_lakehouse_spark.registry import load_all  # noqa: E402

MARKER = "## Appendix: full registry inventory"


def main() -> None:
    reg = load_all()
    text = open("COVERAGE.md").read()
    if MARKER not in text:
        raise SystemExit(f"COVERAGE.md is missing the marker line: {MARKER!r}")
    head = text.split(MARKER)[0]
    rows = []
    for name in sorted(reg):
        q = reg[name]
        oracle = "yes" if q.oracle else "rows-only"
        doc = " ".join(q.doc.split())
        if len(doc) > 110:
            doc = doc[:107] + "..."
        doc = doc.replace("|", "\\|")  # keep markdown table cells intact
        rows.append(f"| `{name}` | {oracle} | {', '.join(q.tags)} | {doc} |")
    appendix = (
        MARKER + "\n\n"
        + f"{len(reg)} registered queries (generated — run "
        "`python tools/gen_coverage_appendix.py` after registry changes).\n\n"
        "| Query | Oracle | Tags | Description |\n|---|---|---|---|\n"
        + "\n".join(rows) + "\n"
    )
    open("COVERAGE.md", "w").write(head + appendix)
    print(f"COVERAGE.md appendix regenerated: {len(rows)} rows")


if __name__ == "__main__":
    main()
