"""Round-12 interleaved A/B harness (guide §1 + the host-noise discipline).

Runs the given queries in ONE Spark session, alternating the candidate
variant (gates ON) and the pre-change baseline (SPARK_GRAFT_OPT12_OFF=
<gates>) block-by-block for N pairs, and reports per-query and per-set
min/median for both sides. Only this same-session interleaving is
trustworthy on this host (documented 1.5-2.2x same-code cross-run swings).

NOTE: the r12 measurement gates were STRIPPED after the round's verdicts
settled (OPTIMIZATION_r12.md), so there are currently no opt12_off call
sites — a future round re-adds a gate per candidate (read a csv env var,
branch to the pre-change shape) and measures with this harness. Tokens
containing "=" are applied as env assignments on the variant side (e.g.
SPARK_GRAFT_STREAM_STATE_PROVIDER=rocksdb), which needs no code gate.

Usage:
    python -m tools.ab12 <gates-csv> <query> [<query> ...] [--pairs N]
"""

from __future__ import annotations

import argparse
import logging
import os
import statistics
import time

log = logging.getLogger("tools.ab12")


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("gates", help="comma-separated opt12 gate names to A/B")
    parser.add_argument("queries", nargs="+", metavar="query")
    parser.add_argument("--pairs", type=int, default=4)
    parser.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = parser.parse_args()

    from quarkus_etl_spark.queries import all_query_callables

    queries = all_query_callables()
    unknown = [name for name in args.queries if name not in queries]
    if unknown:
        parser.error(f"unknown queries: {', '.join(unknown)}")

    from quarkus_etl_spark.session import get_spark

    spark = get_spark("ab12")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    materialize(spark.range(1_000_000).selectExpr("sum(id) AS s"))
    from quarkus_etl_spark.catalog import TABLES, load_table

    for tbl in TABLES:
        materialize(load_table(spark, args.sf_dir, tbl))

    def _noop_pd(batches):
        yield from batches

    materialize(spark.range(1_000, numPartitions=32).mapInPandas(_noop_pd, "id long"))

    # Gate tokens containing "=" are env assignments applied on the VARIANT
    # side only (e.g. SPARK_GRAFT_STREAM_STATE_PROVIDER=rocksdb); plain
    # tokens ride SPARK_GRAFT_OPT12_OFF on the BASE side.
    off_gates = ",".join(g for g in args.gates.split(",") if "=" not in g)
    env_gates = [g.split("=", 1) for g in args.gates.split(",") if "=" in g]

    def set_side(side: str) -> None:
        os.environ["SPARK_GRAFT_OPT12_OFF"] = off_gates if side == "base" else ""
        for k, v in env_gates:
            if side == "var":
                os.environ[k] = v
            else:
                os.environ.pop(k, None)

    # codegen warm-up for BOTH shapes at the tiny SF, so neither side's
    # first timed pass pays first-compile. A failure here is logged, not
    # fatal: the timed pass at the real SF reports it if it persists.
    tiny = "/root/testdata/sf0.001"
    for side in ("base", "var"):
        set_side(side)
        for name in args.queries:
            try:
                materialize(queries[name](spark, tiny))
            except Exception:  # noqa: BLE001
                log.exception("warm-up of %s (%s side) failed", name, side)

    times: dict[tuple[str, str], list[float]] = {}
    for pair in range(args.pairs):
        for side in ("base", "var"):
            set_side(side)
            for name in args.queries:
                spark.sparkContext.setJobDescription(f"ab12:{side}:{name}")
                start = time.monotonic()
                materialize(queries[name](spark, args.sf_dir))
                secs = time.monotonic() - start
                times.setdefault((side, name), []).append(round(secs, 4))
                spark.sparkContext.setJobDescription(None)
        print(f"pair {pair + 1}/{args.pairs} done", flush=True)

    os.environ.pop("SPARK_GRAFT_OPT12_OFF", None)
    tot = {"base": [0.0] * args.pairs, "var": [0.0] * args.pairs}
    for name in args.queries:
        row = []
        for side in ("base", "var"):
            runs = times[(side, name)]
            for i, s in enumerate(runs):
                tot[side][i] += s
            row.append(
                f"{side} min={min(runs):.3f} med={statistics.median(runs):.3f}"
            )
        print(f"{name:32s} {row[0]} | {row[1]}", flush=True)
    for side in ("base", "var"):
        print(
            f"SET {side}: per-pass={['%.2f' % t for t in tot[side]]} "
            f"min={min(tot[side]):.3f} med={statistics.median(tot[side]):.3f}",
            flush=True,
        )
    print(
        f"RATIO var/base: min={min(tot['var']) / min(tot['base']):.4f} "
        f"med={statistics.median(tot['var']) / statistics.median(tot['base']):.4f}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
