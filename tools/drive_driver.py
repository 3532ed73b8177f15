"""Simulate the driver: plain SparkSession, import __spark_entry__,
smoke entry(), run every query vs its DuckDB oracle at sf0.01."""
import os
import sys

import duckdb
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
    .appName("driver-sim")
    # the floor-scaled oracle sums rely on ANSI overflow errors; pin the
    # mode rather than inherit the Spark default
    .config("spark.sql.ansi.enabled", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
print("session timezone conf:", spark.conf.get("spark.sql.session.timeZone"))
print("ansi conf:", spark.conf.get("spark.sql.ansi.enabled"))

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e  # noqa: E402
from lambda_lakehouse_spark.__main__ import TABLES, _canon_rows  # noqa: E402

df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema: {[f.name for f in df.schema.fields]}")
assert len(rows) > 0, "entry() returned no rows"

sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

qs, oracles = e.queries(), e.oracle_sql()
fails = 0
for name, fn in sorted(qs.items()):
    sdf = fn(spark, sf)
    cols = sdf.columns
    s_rows = _canon_rows(cols, sdf.collect())
    if name not in oracles:
        print(f"  {name}: rows-only, {len(s_rows)} rows")
        continue
    cur = con.execute(oracles[name])
    o_cols = [d[0] for d in cur.description]
    o_rows = _canon_rows(o_cols, cur.fetchall())
    ok = (sorted(cols) == sorted(o_cols)) and s_rows == o_rows
    print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} ({len(s_rows)} vs {len(o_rows)} rows)")
    if not ok:
        fails += 1
        for a, b in list(zip(s_rows, o_rows))[:3]:
            if a != b: print("    S", a, "\n    O", b)
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
