"""Write expected.json: the row count and content digest of every query
operation of the benchmark, over the fixtures in this directory.

    python3 perfbench/make_expected.py

Every fingerprint is the query's DuckDB oracle run over the committed
fixtures, so it shares no code with the Spark side it checks. A query
without an oracle is refused.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

from fingerprint import duckdb_result  # noqa: E402
from workloads import LLM_OPS, STREAM_OPS  # noqa: E402


def main() -> None:
    import duckdb

    cfg = json.loads((HERE / "config.json").read_text())
    sf_dir = HERE / cfg["fixtures"]
    from quarkus_etl_spark.queries import all_oracles

    oracles = all_oracles()
    missing = [op for op in LLM_OPS + STREAM_OPS if op not in oracles]
    if missing:
        sys.exit(f"no DuckDB oracle for {missing}")
    con = duckdb.connect()
    for f in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
    out = {}
    for op in LLM_OPS + STREAM_OPS:
        rows, dig = duckdb_result(con, oracles[op])
        out[op] = {"rows": rows, "digest": dig}
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
