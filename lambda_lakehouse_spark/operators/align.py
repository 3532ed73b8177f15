"""Schema-contract alignment + union-by-name (SURVEY §2.2 P9, §2.6).

Re-expresses the reference's ``format_stg`` schema contract
(``utils/init_spark.py:115-143``): align any input DataFrame to a
fixed ordered column contract — add missing columns as typed nulls,
cast present ones, reorder — and the notebook's
``reduce(unionByName(allowMissingColumns=True))`` fold
(``preprocessing.ipynb cell 23``).

Scale note: alignment is pure projection (no shuffle); unioning N
aligned feeds is a zero-shuffle concatenation of partitions.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import DataFrame

# A contract is an ordered list of (column_name, spark_sql_type_string).
Contract = Sequence[tuple[str, str]]


def align_to_contract(df: DataFrame, contract: Contract) -> DataFrame:
    """Project ``df`` onto the contract: missing → typed NULL, present →
    cast, order → contract order. Extra columns are dropped (the
    reference drops e.g. ``price_source`` this way, SURVEY G4).

    The projection goes to the JVM as one ``selectExpr`` of SQL
    strings, which costs one py4j round trip per column: 31 for the
    26-column stock contract, where building it from ``Column`` objects
    cost 161 (941 with PySpark's per-Column call-site capture on)."""
    present = {c.lower(): c for c in df.columns}
    exprs = []
    for name, dtype in contract:
        src = present.get(name.lower())
        value = "NULL" if src is None else _quote(src)
        exprs.append(f"CAST({value} AS {dtype}) AS {_quote(name)}")
    return df.selectExpr(*exprs)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def union_by_name(dfs: Iterable[DataFrame]) -> DataFrame:
    """Fold unionByName(allowMissingColumns=True) over the feeds."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
