"""Order-insensitive fingerprints of query results.

A result is reduced to its lower-cased column names in sorted order plus
the multiset of its rows, each cell canonicalised with a type tag the way
`quarkus_etl_spark.verify` compares Spark against DuckDB (100 and 100.0
differ, -0.0 and 0.0 differ, lists compare element-wise, maps by sorted
key). The digest is a sha256 over the sorted row encodings, so two results
that hold the same rows in any order and any column order agree.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from typing import Any


def canon(v: Any) -> Any:
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", v, math.copysign(1.0, v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v).hex())
    return v


def digest(columns: list[str], rows: list[tuple]) -> str:
    """sha256 of (sorted column names, sorted canonical rows)."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=names.__getitem__)
    encoded = sorted(
        repr(tuple(canon(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr([names[i] for i in order]).encode())
    for line in encoded:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def spark_result(df) -> tuple[int, str]:
    rows = [tuple(r) for r in df.collect()]
    return len(rows), digest(list(df.columns), rows)


def duckdb_result(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return len(rows), digest(cols, rows)
