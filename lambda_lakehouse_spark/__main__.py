"""Command-line front end: the engine as a standalone tool.

Every registered query is runnable, explainable, and oracle-verifiable
from the shell — the same three surfaces the grading driver exercises
through ``__spark_entry__``:

    python -m lambda_lakehouse_spark list [--tag dedup]
    python -m lambda_lakehouse_spark run q1_pricing_summary [--limit 20]
    python -m lambda_lakehouse_spark explain dedup_minhash_lsh
    python -m lambda_lakehouse_spark oracle q1_pricing_summary
    python -m lambda_lakehouse_spark verify text_lang_id

The data directory comes from ``--sf-dir`` or ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``). ``verify`` runs the query on
Spark AND its ANSI-SQL oracle on DuckDB over the same parquet files,
canonicalizes both result sets the way the driver does (columns
sorted by name, stringified cells, rows sorted), and exits nonzero
on any mismatch.
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _spark():
    from lambda_lakehouse_spark.session import get_spark

    return get_spark(app_name="lakehouse-cli")


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def cmd_list(args) -> int:
    from lambda_lakehouse_spark.registry import load_all

    for name, q in sorted(load_all().items()):
        if args.tag and args.tag not in q.tags:
            continue
        mark = "*" if q.bench else " "
        oracle = "sql" if q.oracle else "rows-only"
        print(f"{mark} {name:40s} [{oracle}] {', '.join(q.tags)}")
    return 0


def _get_query(args):
    from lambda_lakehouse_spark.registry import load_all

    reg = load_all()
    if args.query not in reg:
        near = [n for n in sorted(reg) if args.query in n]
        hint = f" (did you mean: {', '.join(near[:5])}?)" if near else ""
        print(f"unknown query: {args.query}{hint}", file=sys.stderr)
        raise SystemExit(2)
    return reg[args.query]


def cmd_run(args) -> int:
    q = _get_query(args)
    df = q.spark(_spark(), args.sf_dir)
    df.show(args.limit, truncate=not args.wide)
    return 0


def cmd_explain(args) -> int:
    q = _get_query(args)
    q.spark(_spark(), args.sf_dir).explain("formatted")
    return 0


def cmd_oracle(args) -> int:
    q = _get_query(args)
    if q.oracle is None:
        print(f"-- {args.query} is rows-only (no SQL-expressible oracle)")
        return 1
    print(q.oracle.strip())
    return 0


def cmd_verify(args) -> int:
    import duckdb

    q = _get_query(args)
    df = q.spark(_spark(), args.sf_dir)
    s_cols = df.columns
    s_rows = _canon_rows(s_cols, df.collect())
    if q.oracle is None:
        print(f"{args.query}: rows-only, {len(s_rows)} rows (no oracle)")
        return 0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )
    cur = con.execute(q.oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = _canon_rows(o_cols, cur.fetchall())
    ok = sorted(s_cols) == sorted(o_cols) and s_rows == o_rows
    print(
        f"{args.query}: {'MATCH' if ok else 'MISMATCH'} "
        f"({len(s_rows)} spark rows vs {len(o_rows)} oracle rows)"
    )
    if not ok:
        if sorted(s_cols) != sorted(o_cols):
            print(f"  spark cols : {sorted(s_cols)}")
            print(f"  oracle cols: {sorted(o_cols)}")
        # Diff the row multisets (not positionally-zipped pairs): with
        # differing row counts or late-sorting mismatches a pairwise zip
        # can print nothing at all.
        from collections import Counter

        s_only = Counter(s_rows) - Counter(o_rows)
        o_only = Counter(o_rows) - Counter(s_rows)
        for label, extra in (("spark-only", s_only), ("oracle-only", o_only)):
            shown = 0
            for row, n in sorted(extra.items()):
                if shown >= 5:
                    print(f"  ... {len(extra) - shown} more {label} rows")
                    break
                print(f"  {label}{f' x{n}' if n > 1 else ''}: {row}")
                shown += 1
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m lambda_lakehouse_spark")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="directory holding the parquet tables",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("list", help="list queries (* = bench headline)")
    sp.add_argument("--tag", help="filter by tag")
    sp.set_defaults(fn=cmd_list)

    for name, fn, hlp in (
        ("run", cmd_run, "run a query and show rows"),
        ("explain", cmd_explain, "print the formatted physical plan"),
        ("oracle", cmd_oracle, "print the DuckDB oracle SQL"),
        ("verify", cmd_verify, "run Spark vs DuckDB oracle and compare"),
    ):
        sp = sub.add_parser(name, help=hlp)
        sp.add_argument("query")
        if name == "run":
            sp.add_argument("--limit", type=int, default=20)
            sp.add_argument("--wide", action="store_true")
        sp.set_defaults(fn=fn)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
